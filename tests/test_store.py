"""Write-path guarantees: monotonic height guard, idempotent replay,
checkpoint advance, shard checkpoints (reference write.go / read.go)."""

from __future__ import annotations

import pytest

from fluxdb_spark.schema import CHANGELOG_SCHEMA, local_frame
from fluxdb_spark.store import (
    ChangelogStore,
    Checkpoint,
    WriteConsistencyError,
)
from fluxdb_spark.operators import state_at
from tests.conftest import make_changelog


@pytest.fixture()
def store(spark, tmp_path):
    return ChangelogStore(spark, str(tmp_path / "db"))


def batch(spark, heights, tablet="tbl", pk="001"):
    """Change-log rows as driver-held rows: a LocalRelation, as flushes
    build."""
    return local_frame(
        spark,
        [
            ("tst", tablet, h, pk, f"v{h}", False, f"{h:08x}aa", h)
            for h in heights
        ],
        CHANGELOG_SCHEMA,
    )


class TestWritePath:
    def test_write_then_read(self, spark, store):
        store.write_batch(batch(spark, [1, 2, 3]))
        ckpt = store.checkpoint()
        assert ckpt.height == 3 and ckpt.block_num == 3
        got = [
            (r.primary_key, r.height, r.value)
            for r in state_at(store.changelog(), "tbl", 3, collection="tst").collect()
        ]
        assert got == [("001", 3, "v3")]

    def test_monotonic_guard_rejects_hole(self, spark, store):
        # reference isNextBlock (write.go:331-347): last height must be
        # >= next write height - 1.
        store.write_batch(batch(spark, [1, 2]))
        with pytest.raises(WriteConsistencyError, match="hole"):
            store.write_batch(batch(spark, [5, 6]))

    def test_contiguous_batches_accepted(self, spark, store):
        store.write_batch(batch(spark, [1, 2]))
        store.write_batch(batch(spark, [3]))
        assert store.checkpoint().height == 3

    def test_idempotent_replay(self, spark, store):
        # reference shard injectors skip already-injected heights
        # (shardinject.go:153-155) — a replayed batch must not duplicate.
        store.write_batch(batch(spark, [1, 2, 3]))
        store.write_batch(batch(spark, [2, 3, 4]))
        assert store.checkpoint().height == 4
        assert store.changelog().filter("height = 3").count() == 1

    def test_empty_batch_noop(self, spark, store):
        store.write_batch(batch(spark, [1]))
        store.write_batch(batch(spark, []))
        assert store.checkpoint().height == 1

    def test_shard_checkpoints(self, spark, store):
        store.write_batch(batch(spark, [1, 2]), shard="0")
        store.write_batch(batch(spark, [1, 2, 3], pk="002"), shard="1")
        assert store.checkpoint("0").height == 2
        assert store.checkpoint("1").height == 3
        assert store.checkpoint() is None  # global untouched
        assert store.delete_shard_checkpoints() == 2
        assert store.checkpoint("0") is None

    def test_clean_db_precondition(self, spark, store):
        store.check_clean_for_sharding()  # empty: fine
        store.write_batch(batch(spark, [1]))
        with pytest.raises(WriteConsistencyError, match="non-clean"):
            store.check_clean_for_sharding()


class TestHeightBandPartitioning:
    """The band-partitioned layout: a height-bounded read must prune whole
    height_band partitions at plan time (the scan shape that keeps a read
    at height H independent of total history size)."""

    def test_layout_has_band_directories(self, spark, tmp_path):
        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)
        st.write_batch(batch(spark, list(range(1, 35))))
        bands = sorted(
            d.name
            for d in (tmp_path / "db" / "changelog" / "collection=tst").iterdir()
            if d.is_dir()
        )
        assert bands == [
            "height_band=0", "height_band=1", "height_band=2", "height_band=3"
        ]

    def test_bounded_read_returns_exact_rows(self, spark, tmp_path):
        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)
        st.write_batch(batch(spark, list(range(1, 35))))
        assert st.changelog().count() == 34
        got = sorted(r.height for r in st.changelog(max_height=17).collect())
        assert got == list(range(1, 18))
        assert st.changelog(max_height=17).columns == st.changelog().columns

    def test_bounded_read_partition_prunes(self, spark, tmp_path):
        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)
        st.write_batch(batch(spark, list(range(1, 35))))
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            st.changelog(max_height=17).explain(True)
        plan = buf.getvalue()
        assert "height_band" in plan and "PartitionFilters" in plan
        # the band predicate must sit in PartitionFilters, not the data filter
        part = plan[plan.index("PartitionFilters"):]
        assert "height_band" in part.split("]")[0]

    def test_engine_reads_are_height_bounded(self, spark, tmp_path):
        from fluxdb_spark.streaming.ingest import FluxEngine

        eng = FluxEngine(spark, str(tmp_path / "db"))
        eng.store.height_band = 10
        eng.store.write_batch(batch(spark, list(range(1, 25))))
        got = [
            (r.height, r.value)
            for r in eng.state_at("tbl", 13, collection="tst").collect()
        ]
        assert got == [(13, "v13")]


class TestIndexStore:
    """IndexStore.prune — the PHYSICAL index-prune maintenance job
    (reference PruneTabletIndexes, indexing.go:329-398): pruned snapshots
    are gone from storage, and indexed reads still succeed through the
    surviving snapshots."""

    def _seed(self, spark, tmp_path):
        from fluxdb_spark.operators.snapshot import build_tablet_index
        from fluxdb_spark.store import IndexStore

        rows = [("tst", "tbl", h, "a", f"v{h}") for h in range(1, 8)]
        log = make_changelog(spark, rows)
        ixs = IndexStore(spark, str(tmp_path / "ix"))
        for h in range(1, 8):
            ixs.write(build_tablet_index(log, "tbl", h, collection="tst"))
        return log, ixs

    def test_write_returns_the_rows_it_wrote(self, spark, tmp_path):
        from fluxdb_spark.operators.snapshot import build_tablet_index
        from fluxdb_spark.store import IndexStore

        log = make_changelog(
            spark, [("tst", "tbl", h, f"k{h % 3}", "v") for h in range(1, 8)]
        )
        ixs = IndexStore(spark, str(tmp_path / "ix"))
        idx = build_tablet_index(log, "tbl", 7, collection="tst")
        assert ixs.write(idx) == 3 == idx.count()
        assert ixs.write(idx.limit(0)) == 0
        assert ixs.read().count() == 3

    def test_write_of_a_zero_partition_frame_counts_zero(
        self, spark, tmp_path
    ):
        from fluxdb_spark.schema import TABLET_INDEX_SCHEMA
        from fluxdb_spark.store import IndexStore

        empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD(), TABLET_INDEX_SCHEMA
        )
        assert empty.rdd.getNumPartitions() == 0
        ixs = IndexStore(spark, str(tmp_path / "ix"))
        assert ixs.write(empty) == 0
        assert ixs.read().count() == 0

    def test_prune_physically_removes_snapshots(self, spark, tmp_path):
        log, ixs = self._seed(spark, tmp_path)
        removed = ixs.prune(prune_frequency=3)
        # keep oldest+newest; middles desc [6,5,4,3,2] -> delete every 3rd
        # position = h4
        assert removed == 1
        heights = sorted(
            r.snapshot_height
            for r in ixs.read().select("snapshot_height").distinct().collect()
        )
        assert heights == [1, 2, 3, 5, 6, 7]

    def test_reads_survive_pruning(self, spark, tmp_path):
        from fluxdb_spark.operators.snapshot import state_at_with_index

        log, ixs = self._seed(spark, tmp_path)
        ixs.prune(prune_frequency=3)
        # height 5's own snapshot was pruned: the read falls back to the
        # h=3 snapshot + delta and still matches the plain fold
        for h in (2, 4, 5, 7):
            got = sorted(
                (r.primary_key, r.height)
                for r in state_at_with_index(
                    log, ixs.read(), "tbl", h, collection="tst"
                ).collect()
            )
            want = sorted(
                (r.primary_key, r.height)
                for r in state_at(log, "tbl", h, collection="tst").collect()
            )
            assert got == want

    def test_repeated_prune_converges(self, spark, tmp_path):
        # each run reclaims ~1/freq of the middles until freq+2 remain
        log, ixs = self._seed(spark, tmp_path)
        assert ixs.prune(prune_frequency=3) == 1  # drops h4
        assert ixs.prune(prune_frequency=3) == 1  # drops h3
        assert ixs.prune(prune_frequency=3) == 0  # 5 left == freq+2: stop
        heights = sorted(
            r.snapshot_height
            for r in ixs.read().select("snapshot_height").distinct().collect()
        )
        assert heights == [1, 2, 5, 6, 7]

    def test_empty_store_reads_empty(self, spark, tmp_path):
        from fluxdb_spark.store import IndexStore

        ixs = IndexStore(spark, str(tmp_path / "fresh"))
        assert ixs.read().count() == 0
        assert ixs.prune(prune_frequency=2) == 0

    def test_corrupt_index_raises_not_empty(self, spark, tmp_path):
        """A corrupt index file fails the read loudly: read as an empty
        index, prune and reindex would silently do nothing and indexed
        reads would silently fall back to the full fold."""
        import os

        log, ixs = self._seed(spark, tmp_path)
        assert ixs.read().count() > 0
        for fn in os.listdir(ixs._dir):
            if fn.endswith(".parquet"):
                with open(os.path.join(ixs._dir, fn), "wb") as f:
                    f.write(b"not a parquet file")
        with pytest.raises(Exception, match="FAILED_READ_FILE"):
            ixs.read().count()
        with pytest.raises(Exception, match="FAILED_READ_FILE"):
            ixs.prune(prune_frequency=3)

    def test_reindex_dry_run_reports_without_writing(self, spark, tmp_path):
        log, ixs = self._seed(spark, tmp_path)
        before = sorted(map(tuple, ixs.read().collect()))
        r = ixs.reindex(log, height=5, dry_run=True)
        # reference ReindexTablets' two return values + the would-build
        # heights, nothing written (indexing.go:100-123 dry-run branch)
        assert r["tablet_count"] == 1 and r["index_count"] == 5
        assert r["entries"] == {"tst/tbl": [1, 2, 3, 4, 5]}
        assert r["dry_run"] is True
        assert sorted(map(tuple, ixs.read().collect())) == before

    def test_reindex_rebuilds_corrupt_snapshots(self, spark, tmp_path):
        log, ixs = self._seed(spark, tmp_path)
        good = sorted(map(tuple, ixs.read().collect()))
        # corrupt the stored rows out-of-band: point every snapshot at
        # height 0 (a wrong version a bug could have written)
        from pyspark.sql import functions as F

        broken = ixs.read().withColumn(
            "height", F.lit(0).cast("long")
        )
        ixs._rewrite_swap(broken)
        assert sorted(map(tuple, ixs.read().collect())) != good
        r = ixs.reindex(log, height=7)
        assert r["tablet_count"] == 1 and r["index_count"] == 7
        assert sorted(map(tuple, ixs.read().collect())) == good

    def test_reindex_lower_bound_and_height_scope(self, spark, tmp_path):
        from fluxdb_spark.operators.snapshot import build_tablet_index
        from fluxdb_spark.store import IndexStore

        rows = [
            ("tst", t, h, "a", f"v{h}")
            for t in ("aaa", "mmm", "zzz")
            for h in (1, 2, 3)
        ]
        log = make_changelog(spark, rows)
        ixs = IndexStore(spark, str(tmp_path / "ix"))
        for t in ("aaa", "mmm", "zzz"):
            for h in (1, 2, 3):
                ixs.write(build_tablet_index(log, t, h, collection="tst"))
        r = ixs.reindex(log, height=2, lower_bound="mmm", dry_run=True)
        # tablets below the cursor and snapshots above the height are out
        assert r["tablet_count"] == 2 and r["index_count"] == 4
        assert r["entries"] == {"tst/mmm": [1, 2], "tst/zzz": [1, 2]}

    def test_big_index_write_warns(self, spark, tmp_path, caplog):
        import logging as _logging

        from fluxdb_spark.operators.snapshot import build_tablet_index
        from fluxdb_spark.store import IndexStore

        rows = [("tst", "tbl", h, "a", f"v{h}") for h in (1, 2)]
        log = make_changelog(spark, rows)
        ixs = IndexStore(spark, str(tmp_path / "ix"))
        ixs.BIG_INDEX_BYTES = 1  # reference threshold is 25 MB; shrink
        with caplog.at_level(_logging.WARNING, logger="fluxdb_spark.store"):
            ixs.write(build_tablet_index(log, "tbl", 2, collection="tst"))
        assert any("pretty heavy" in m for m in caplog.messages)


def _parquet_files(root):
    import os

    out = []
    for dirpath, _d, files in os.walk(root):
        out += [
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet") and "_staging" not in dirpath
        ]
    return out


class TestExactlyOnceCommit:
    """The manifest commit protocol (reference writes the checkpoint in the
    same KV batch, store/kv/store.go:418-443): a crash ANYWHERE before the
    checkpoint advance must leave no orphan rows above the checkpoint after
    recover(), so the idempotent replay converges to exactly-once."""

    def test_crash_before_checkpoint_rolls_back(
        self, spark, tmp_path, monkeypatch
    ):
        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)
        st.write_batch(batch(spark, [1, 2]))

        def boom(*a, **k):
            raise RuntimeError("simulated crash before checkpoint")

        monkeypatch.setattr(st, "_write_checkpoint", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            st.write_batch(batch(spark, [3, 4]))
        monkeypatch.undo()
        # torn state on disk: files moved, manifest present, checkpoint old.
        # The raw directory holds the orphan rows — but the manifest-aware
        # read hides them (snapshot isolation): readers never see an
        # uncommitted batch, even before recover() runs.
        raw = spark.read.parquet(st._data_dir)
        assert raw.filter("height > 2").count() > 0
        assert st.changelog().filter("height > 2").count() == 0

        st2 = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)
        assert st2.checkpoint().height == 2
        assert st2.changelog().filter("height > 2").count() == 0
        st2.write_batch(batch(spark, [3, 4]))  # replay converges
        got = sorted(r.height for r in st2.changelog().collect())
        assert got == [1, 2, 3, 4]

    def test_crash_mid_move_rolls_back(self, spark, tmp_path, monkeypatch):
        import fluxdb_spark.store as store_mod

        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)
        st.write_batch(batch(spark, [1]))
        real_rename = store_mod.os.rename
        calls = {"n": 0}

        def flaky_rename(src, dst):
            # the batch below spans 3 height bands => >= 3 file moves;
            # die after the first, leaving a PARTIAL move
            calls["n"] += 1
            if calls["n"] >= 2:
                raise OSError("simulated crash mid-move")
            return real_rename(src, dst)

        monkeypatch.setattr(store_mod.os, "rename", flaky_rename)
        with pytest.raises(OSError, match="mid-move"):
            st.write_batch(batch(spark, list(range(2, 30))))
        monkeypatch.undo()

        st2 = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)
        assert st2.checkpoint().height == 1
        assert st2.changelog().filter("height > 1").count() == 0
        st2.write_batch(batch(spark, list(range(2, 30))))
        assert sorted(r.height for r in st2.changelog().collect()) == list(
            range(1, 30)
        )

    def test_committed_manifest_is_not_rolled_back(self, spark, tmp_path):
        """Crash AFTER the checkpoint but before manifest cleanup: the
        batch is committed, recover() must keep its files."""
        import json
        import os

        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)
        st.write_batch(batch(spark, [1, 2, 3]))
        files = _parquet_files(st._data_dir)
        stale = os.path.join(st._manifest_dir, "batch-stale.json")
        with open(stale, "w") as f:
            json.dump(
                {"hi": 3, "shard": None, "targets": files, "staging": ""}, f
            )
        assert st.recover() == 0
        assert not os.path.exists(stale)
        assert sorted(r.height for r in st.changelog().collect()) == [1, 2, 3]

    def test_recover_noop_on_clean_store(self, spark, tmp_path):
        st = ChangelogStore(spark, str(tmp_path / "db"))
        st.write_batch(batch(spark, [1]))
        assert st.recover() == 0
        assert st.checkpoint().height == 1


class TestCompaction:
    """compact() — the OPTIMIZE analog: many small streaming flushes
    coalesce into few height-sorted files per band, with identical reads
    and an untouched checkpoint protocol."""

    def _many_small_batches(self, spark, tmp_path, n=12, band=100):
        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=band)
        for h in range(1, n + 1):
            st.write_batch(batch(spark, [h]))
        return st

    def test_compact_reduces_files_identical_reads(self, spark, tmp_path):
        st = self._many_small_batches(spark, tmp_path)
        before_rows = sorted(
            (r.height, r.tablet_id, r.primary_key, r.value, r.is_deletion,
             r.block_id, r.block_num)
            for r in st.changelog().collect()
        )
        n_before = len(_parquet_files(st._data_dir))
        assert n_before >= 12
        stats = st.compact(min_files=2)
        assert stats["bands"] == 1
        assert stats["files_before"] == n_before
        assert stats["files_after"] == 1  # 12 rows << target_rows_per_file
        after_rows = sorted(
            (r.height, r.tablet_id, r.primary_key, r.value, r.is_deletion,
             r.block_id, r.block_num)
            for r in st.changelog().collect()
        )
        assert after_rows == before_rows
        assert st.checkpoint().height == 12

    def test_writes_continue_after_compaction(self, spark, tmp_path):
        st = self._many_small_batches(spark, tmp_path)
        st.compact(min_files=2)
        st.write_batch(batch(spark, [13]))
        assert sorted(r.height for r in st.changelog().collect()) == list(
            range(1, 14)
        )
        # and the bounded read still partition-prunes identically
        assert st.changelog(max_height=5).count() == 5

    def test_compact_spans_bands_independently(self, spark, tmp_path):
        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=5)
        for h in range(1, 11):
            st.write_batch(batch(spark, [h]))
        stats = st.compact(min_files=2)
        # bands 0 (h1-4, 4 files) and 1 (h5-9, 5 files) compact; band 2
        # (h10, single file) is under min_files and is left alone
        assert stats["bands"] == 2
        assert sorted(r.height for r in st.changelog().collect()) == list(
            range(1, 11)
        )

    def test_compact_refuses_pending_manifest(self, spark, tmp_path):
        import json
        import os

        st = self._many_small_batches(spark, tmp_path, n=4)
        with open(
            os.path.join(st._manifest_dir, "batch-x.json"), "w"
        ) as f:
            json.dump({"hi": 99, "shard": None, "targets": [], "staging": ""}, f)
        with pytest.raises(WriteConsistencyError, match="pending"):
            st.compact()


class TestWriteSizeStats:
    """Per-tablet write-size logging (reference write.go:274-329, gated by
    the same STATEDB_SIZE_STATS env var)."""

    def test_disabled_by_default(self, spark, store, monkeypatch):
        monkeypatch.delenv("STATEDB_SIZE_STATS", raising=False)
        store.write_batch(batch(spark, [1, 2]))
        assert store.last_write_stats is None

    def test_top_tablets_by_bytes(self, spark, tmp_path, monkeypatch):
        monkeypatch.setenv("STATEDB_SIZE_STATS", "1")
        st = ChangelogStore(spark, str(tmp_path / "db2"))
        rows = make_changelog(
            spark,
            [("tst", "big", 1, "k1", "x" * 100),
             ("tst", "big", 2, "k2", "x" * 100),
             ("tst", "small", 3, "k", "y")],
        )
        st.write_batch(rows)
        stats = st.last_write_stats
        assert [s["tablet_id"] for s in stats] == ["big", "small"]
        assert stats[0]["rows"] == 2
        assert stats[0]["bytes"] == 2 * (100 + 2)  # value + key octets
        assert stats[1] == {
            "collection": "tst", "tablet_id": "small", "rows": 1, "bytes": 2,
        }


class TestSnapshotIsolation:
    """The manifest doubles as a transaction log for readers: files of a
    batch whose checkpoint has not landed are invisible to changelog(),
    including from a CONCURRENT second store handle on the same root."""

    def test_concurrent_reader_never_sees_uncommitted(
        self, spark, tmp_path, monkeypatch
    ):
        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)
        st.write_batch(batch(spark, [1, 2]))
        # a second handle opened BEFORE the in-flight write (recover() at
        # its open sees a clean store, so it rolls nothing back)
        reader = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)

        observed = {}

        def spy_checkpoint(height, block_id, block_num, shard=None):
            # moment-in-time read WHILE the writer is between its file
            # moves and its commit point
            observed["mid_write"] = sorted(
                r.height for r in reader.changelog().collect()
            )
            return ChangelogStore._write_checkpoint(
                st, height, block_id, block_num, shard
            )

        monkeypatch.setattr(st, "_write_checkpoint", spy_checkpoint)
        st.write_batch(batch(spark, [3, 4]))
        monkeypatch.undo()

        assert observed["mid_write"] == [1, 2]  # isolation held mid-write
        assert sorted(r.height for r in reader.changelog().collect()) == [
            1, 2, 3, 4,
        ]  # and the commit made the batch visible

    def test_bounded_read_still_partition_prunes_with_pending(
        self, spark, tmp_path
    ):
        """The explicit-file-list fallback keeps partition columns (via
        basePath) so height_band pruning and bounded reads survive."""
        import json
        import os

        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)
        st.write_batch(batch(spark, list(range(1, 25))))
        # fake an in-flight manifest naming a nonexistent target
        with open(os.path.join(st._manifest_dir, "batch-x.json"), "w") as f:
            json.dump(
                {"hi": 99, "shard": None, "targets": ["/nope"], "staging": ""},
                f,
            )
        got = sorted(r.height for r in st.changelog(max_height=13).collect())
        assert got == list(range(1, 14))
        os.remove(os.path.join(st._manifest_dir, "batch-x.json"))


class TestRetention:
    """expire_bands — checkpoint-and-truncate retention: the doomed
    region's live tail (values included, original heights preserved) is
    rebased into the first retained band before the bands drop, so EVERY
    read at or above the horizon reconstructs exactly — plain state_at
    included, no index required. Time travel below the horizon raises."""

    def _seed(self, spark, tmp_path):
        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)
        rows = [("tst", "tbl", h, f"k{h % 4}", f"v{h}") for h in range(1, 31)]
        # k0..k3 rotate above the horizon too, but k_old is written ONCE
        # at h=2 and never again — the key naive truncation loses; and
        # k_del's only history is write-then-tombstone inside the doomed
        # region — its tail must NOT be resurrected
        rows.append(("tst", "tbl", 2, "k_old", "ancient"))
        rows.append(("tst", "tbl", 3, "k_del", "doomed"))
        rows.append(("tst", "tbl", 5, "k_del", None))  # tombstone
        st.write_batch(
            make_changelog(spark, sorted(rows, key=lambda r: r[2]))
        )
        return st

    def test_expire_then_plain_read_reconstructs(self, spark, tmp_path):
        st = self._seed(spark, tmp_path)
        want = sorted(
            (r.primary_key, r.height, r.value)
            for r in state_at(
                st.changelog(), "tbl", 25, collection="tst"
            ).collect()
        )
        stats = st.expire_bands(20)
        assert stats["bands_dropped"] == 2  # bands 0 and 1
        # live tail = latest doomed version of k0..k3 + k_old (k_del's
        # tail is a tombstone: dropped, not rebased)
        assert stats["rows_rebased"] == 5
        # h1..h19 history (19 rows) + k_old@2 + k_del@3 + tombstone@5 is
        # 22 doomed rows; 5 live-tail rows survive as the rebase
        assert stats["rows_dropped"] == 22 - 5
        got = sorted(
            (r.primary_key, r.height, r.value)
            for r in state_at(
                st.changelog(), "tbl", 25, collection="tst"
            ).collect()
        )
        assert got == want
        assert ("k_old", 2, "ancient") in got
        assert not any(pk == "k_del" for pk, _h, _v in got)

    def test_below_horizon_bounded_read_raises(self, spark, tmp_path):
        st = self._seed(spark, tmp_path)
        st.expire_bands(20)
        assert st.retention_horizon() == 20
        with pytest.raises(WriteConsistencyError, match="retention horizon"):
            st.changelog(max_height=15)
        # at the horizon and above: fine
        assert st.changelog(max_height=20).count() > 0

    def test_partial_band_never_dropped_and_idempotent(self, spark, tmp_path):
        st = self._seed(spark, tmp_path)
        # 25 is mid-band: only bands 0 and 1 (heights <= 19) may go
        stats = st.expire_bands(25)
        assert stats["bands_dropped"] == 2
        assert sorted(
            set(
                r.height
                for r in st.changelog().filter("height >= 20").collect()
            )
        ) == list(range(20, 31))
        # re-run: nothing left below the horizon band
        again = st.expire_bands(25)
        assert again == {
            "bands_dropped": 0, "rows_dropped": 0, "rows_rebased": 0,
        }

    def test_writes_continue_after_expiry(self, spark, tmp_path):
        st = self._seed(spark, tmp_path)
        st.expire_bands(20)
        st.write_batch(batch(spark, [31], tablet="tbl"))
        assert st.checkpoint().height == 31
        got = {
            r.primary_key: r.value
            for r in state_at(
                st.changelog(), "tbl", 31, collection="tst"
            ).collect()
        }
        assert got["001"] == "v31" and got["k_old"] == "ancient"


class TestStoreLifecycle:
    """End-to-end maintenance lifecycle on one store: streaming-style
    ingest -> adaptive index builds -> compaction -> retention, with the
    engine read exact after EVERY stage — the composition a long-running
    deployment actually executes, not just each job in isolation."""

    @pytest.mark.sweep
    def test_full_lifecycle_reads_stay_exact(self, spark, tmp_path):
        from fluxdb_spark.operators.snapshot import (
            build_tablet_index,
            state_at_with_index,
        )
        from fluxdb_spark.store import IndexStore

        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=20)
        ixs = IndexStore(spark, str(tmp_path / "ix"))

        # stage 1: 60 single-height flushes (many tiny files), an index
        # snapshot every 20 heights — k_rare is written once, early
        def rows_at(h):
            out = [("tst", "tbl", h, f"k{h % 5}", f"v{h}")]
            if h == 3:
                out.append(("tst", "tbl", 3, "k_rare", "early"))
            return out

        for h in range(1, 61):
            st.write_batch(make_changelog(spark, rows_at(h)))
            if h % 20 == 0:
                ixs.write(
                    build_tablet_index(
                        st.changelog(), "tbl", h, collection="tst"
                    )
                )

        def read_plain(h):
            return sorted(
                (r.primary_key, r.height, r.value)
                for r in state_at(
                    st.changelog(max_height=h), "tbl", h, collection="tst"
                ).collect()
            )

        def read_indexed(h):
            return sorted(
                (r.primary_key, r.height, r.value)
                for r in state_at_with_index(
                    st.changelog(), ixs.read(), "tbl", h, collection="tst"
                ).collect()
            )

        want_60 = read_plain(60)
        assert ("k_rare", 3, "early") in want_60

        # stage 2: compact — reads identical, fewer files
        stats = st.compact(min_files=2)
        assert stats["bands"] >= 3
        assert read_plain(60) == want_60
        assert read_indexed(60) == want_60

        # stage 3: prune superseded index snapshots — indexed reads survive
        ixs.prune(prune_frequency=2)
        assert read_indexed(60) == want_60

        # stage 4: expire history below 40 — both read paths still exact
        # (k_rare now lives only as a rebased tail row)
        r = st.expire_bands(40)
        assert r["bands_dropped"] == 2
        assert read_plain(60) == want_60
        assert read_indexed(60) == want_60
        with pytest.raises(WriteConsistencyError, match="retention horizon"):
            st.changelog(max_height=10)

        # stage 5: ingest continues on top of the maintained store
        st.write_batch(make_changelog(spark, rows_at(61)))
        got = read_plain(61)
        assert ("k1", 61, "v61") in got and ("k_rare", 3, "early") in got


class TestWriterLease:
    """Concurrent-writer safety: one writer per checkpoint stream, shard
    streams stay parallel, maintenance drains writers, stale leases from
    crashed holders are taken over."""

    def _lock(self, st, key, ts=None):
        import json
        import os
        import time as _t

        with open(st._lock_path(key), "w") as f:
            json.dump({"pid": 0, "ts": ts if ts is not None else _t.time()}, f)

    def test_second_writer_blocked_on_same_stream(self, spark, tmp_path):
        st = ChangelogStore(
            spark, str(tmp_path / "db"), lease_timeout_s=0.3
        )
        self._lock(st, "global")
        with pytest.raises(WriteConsistencyError, match="lease"):
            st.write_batch(batch(spark, [1]))

    def test_shard_streams_are_independent(self, spark, tmp_path):
        st = ChangelogStore(
            spark, str(tmp_path / "db"), lease_timeout_s=0.3
        )
        self._lock(st, "shard-0")  # shard 0's actual stream lease is held
        st.write_batch(batch(spark, [1, 2]), shard="1")  # shard 1 proceeds
        assert st.checkpoint("1").height == 2
        with pytest.raises(WriteConsistencyError, match="lease"):
            st.write_batch(batch(spark, [1, 2]), shard="0")  # shard 0 blocks

    def test_stale_lease_taken_over(self, spark, tmp_path):
        st = ChangelogStore(
            spark, str(tmp_path / "db"),
            lease_timeout_s=0.5, lease_stale_s=0.01,
        )
        self._lock(st, "global", ts=0)  # ancient: crashed holder
        st.write_batch(batch(spark, [1]))
        assert st.checkpoint().height == 1

    def test_maintenance_waits_out_active_writer(self, spark, tmp_path):
        import os

        st = ChangelogStore(
            spark, str(tmp_path / "db"), lease_timeout_s=0.3
        )
        st.write_batch(batch(spark, [1, 2]))
        self._lock(st, "global")  # an in-flight writer
        with pytest.raises(WriteConsistencyError, match="writers still"):
            st.compact(min_files=1)
        os.remove(st._lock_path("global"))
        st.compact(min_files=1)  # drains cleanly once the writer is gone

    def test_writer_yields_to_maintenance(self, spark, tmp_path):
        st = ChangelogStore(
            spark, str(tmp_path / "db"), lease_timeout_s=0.3
        )
        self._lock(st, "maintenance")
        with pytest.raises(WriteConsistencyError, match="maintenance"):
            st.write_batch(batch(spark, [1]))

    def test_leases_released_after_ops(self, spark, tmp_path):
        import os

        st = ChangelogStore(spark, str(tmp_path / "db"))
        st.write_batch(batch(spark, [1, 2, 3]))
        st.compact(min_files=1)
        st.expire_bands(1)
        assert not [
            f for f in os.listdir(st.root) if f.startswith("_writer-")
        ]


class TestRecoverRespectsLiveWriter:
    """recover() from a second process must not roll back an IN-FLIGHT
    batch whose writer lease is still fresh — only truly torn batches
    (no lease, or a stale one from a crashed holder) are rolled back."""

    def test_fresh_lease_shields_inflight_manifest(
        self, spark, tmp_path, monkeypatch
    ):
        import json
        import os
        import time as _t

        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=10)
        st.write_batch(batch(spark, [1, 2]))

        def boom(*a, **k):
            raise RuntimeError("crash before checkpoint")

        monkeypatch.setattr(st, "_write_checkpoint", boom)
        with pytest.raises(RuntimeError):
            st.write_batch(batch(spark, [3, 4]))
        monkeypatch.undo()
        # simulate the writer still being alive mid-commit
        with open(st._lock_path("global"), "w") as f:
            json.dump({"pid": 0, "ts": _t.time()}, f)
        assert st.recover() == 0  # shielded
        assert len(os.listdir(st._manifest_dir)) == 1
        # writer dies: lease goes stale -> the rollback happens
        with open(st._lock_path("global"), "w") as f:
            json.dump({"pid": 0, "ts": 0}, f)
        assert st.recover() == 1
        os.remove(st._lock_path("global"))
        assert st.changelog().filter("height > 2").count() == 0
        st.write_batch(batch(spark, [3, 4]))
        assert sorted(r.height for r in st.changelog().collect()) == [1, 2, 3, 4]


class TestWriterLeaseProtocol:
    """The WriterLease primitive itself: token-verified release,
    claim-then-verify stale takeover, heartbeat refresh, and — the
    property the whole design exists for — cross-process mutual
    exclusion under contended stale-lease takeover (two racers may NOT
    both win; remove-then-recreate had exactly that TOCTOU hole)."""

    def test_acquire_release_roundtrip(self, tmp_path):
        from fluxdb_spark.store import WriterLease

        path = str(tmp_path / "x.lock")
        lease = WriterLease(path, timeout_s=0.2, stale_s=5.0)
        lease.acquire()
        import json
        import os

        with open(path) as f:
            assert json.load(f)["token"] == lease.token
        lease.release()
        assert not os.path.exists(path)

    def test_release_never_deletes_successor_lock(self, tmp_path):
        """A holder that lost its lease (usurped after a stall) must not
        remove the usurper's lock on release."""
        import json
        import os

        from fluxdb_spark.store import WriterLease

        path = str(tmp_path / "x.lock")
        loser = WriterLease(path, timeout_s=0.2, stale_s=5.0, heartbeat=False)
        loser.acquire()
        # a usurper replaces the lock (as takeover does after staleness)
        with open(path, "w") as f:
            json.dump({"pid": 0, "ts": 9e12, "token": "usurper"}, f)
        loser.release()
        assert os.path.exists(path)
        with open(path) as f:
            assert json.load(f)["token"] == "usurper"

    def test_takeover_restores_fresh_lock_seen_late(self, tmp_path):
        """If the lock changes between the staleness read and the claim
        rename (a fresh holder re-created it), the claim is put back and
        the contender stands down."""
        import json
        import os
        import time

        from fluxdb_spark.store import WriterLease

        path = str(tmp_path / "x.lock")
        stale_payload = json.dumps({"pid": 0, "ts": 0, "token": "dead"}).encode()
        fresh_payload = json.dumps(
            {"pid": 1, "ts": time.time() + 9e9, "token": "alive"}
        ).encode()
        with open(path, "wb") as f:
            f.write(fresh_payload)
        contender = WriterLease(path, timeout_s=0.2, stale_s=5.0)
        # simulate: contender judged the OLD payload stale, but the file
        # now holds a fresh one
        contender._take_over(stale_payload)
        assert os.path.exists(path)
        with open(path, "rb") as f:
            assert f.read() == fresh_payload
        assert not [p for p in os.listdir(tmp_path) if ".claim-" in p]

    def test_heartbeat_keeps_lease_fresh(self, tmp_path):
        import json
        import time

        from fluxdb_spark.store import WriterLease

        path = str(tmp_path / "x.lock")
        lease = WriterLease(path, timeout_s=0.2, stale_s=0.15)
        lease.acquire()
        try:
            time.sleep(0.4)  # several staleness windows
            with open(path) as f:
                d = json.load(f)
            assert time.time() - d["ts"] <= 0.15
            assert d["token"] == lease.token
            assert not lease.lost
        finally:
            lease.release()

    def test_heartbeat_detects_loss(self, tmp_path):
        import json
        import time

        from fluxdb_spark.store import WriterLease

        path = str(tmp_path / "x.lock")
        lease = WriterLease(path, timeout_s=0.2, stale_s=0.15)
        lease.acquire()
        with open(path, "w") as f:
            json.dump({"pid": 0, "ts": 9e12, "token": "usurper"}, f)
        deadline = time.time() + 2.0
        while not lease.lost and time.time() < deadline:
            time.sleep(0.02)
        assert lease.lost
        lease.release()
        with open(path) as f:
            assert json.load(f)["token"] == "usurper"

    def test_contended_stale_takeover_cross_process(self, tmp_path):
        """Four processes race a manufactured stale lease, each cycling
        acquire -> critical section -> release. The critical section is
        guarded by an O_EXCL sentinel: any overlap (two holders at once)
        is recorded as a violation. Exactly zero violations allowed."""
        import json
        import os
        import subprocess
        import sys

        path = str(tmp_path / "x.lock")
        sentinel = str(tmp_path / "critical.sentinel")
        outdir = tmp_path / "out"
        outdir.mkdir()
        with open(path, "w") as f:
            json.dump({"pid": 0, "ts": 0, "token": "crashed"}, f)

        script = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[4])
from fluxdb_spark.store import WriterLease, WriteConsistencyError

path, sentinel, out = sys.argv[1], sys.argv[2], sys.argv[3]
wins = violations = 0
for _ in range(5):
    lease = WriterLease(path, timeout_s=8.0, stale_s=60.0)
    try:
        lease.acquire()
    except WriteConsistencyError:
        continue
    try:
        try:
            fd = os.open(sentinel, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
        except FileExistsError:
            violations += 1
        else:
            time.sleep(0.05)
            os.remove(sentinel)
        wins += 1
    finally:
        lease.release()
with open(out, "w") as f:
    json.dump({"wins": wins, "violations": violations}, f)
"""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        procs = [
            subprocess.Popen(
                [
                    sys.executable,
                    "-c",
                    script,
                    path,
                    sentinel,
                    str(outdir / f"p{i}.json"),
                    repo,
                ]
            )
            for i in range(4)
        ]
        for p in procs:
            assert p.wait(timeout=60) == 0
        results = [
            json.loads((outdir / f"p{i}.json").read_text()) for i in range(4)
        ]
        assert sum(r["violations"] for r in results) == 0
        assert sum(r["wins"] for r in results) >= 4  # real contention ran
        assert not os.path.exists(path)  # last holder released cleanly

    def test_writer_backs_off_never_deadlocks_maintenance(
        self, spark, tmp_path
    ):
        """A writer arriving DURING maintenance must not hold its own
        lock while waiting (the circular wait the old protocol allowed):
        maintenance drains, the writer waits, and once maintenance ends
        the writer proceeds."""
        import json
        import threading
        import time

        st = ChangelogStore(
            spark, str(tmp_path / "db"), lease_timeout_s=5.0
        )
        st.write_batch(batch(spark, [1]))
        # hold the maintenance lease by hand for 0.5 s, then release
        mpath = st._lock_path("maintenance")
        with open(mpath, "w") as f:
            json.dump({"pid": 0, "ts": time.time(), "token": "m"}, f)

        def end_maintenance():
            time.sleep(0.5)
            import os

            os.remove(mpath)

        t = threading.Thread(target=end_maintenance)
        t.start()
        st.write_batch(batch(spark, [2]))  # must not deadlock or raise
        t.join()
        assert st.checkpoint().height == 2


class TestCompactionCrashRecovery:
    """The compaction band swap is journaled: a crash at ANY point
    between (or around) the two renames is healed at the next open —
    completed if the staged replacement exists, rolled back otherwise.
    The old scheme left `.old-*` junk inside the partitioned data dir,
    which both broke concurrent partition discovery and stranded the
    band permanently on a mid-swap crash."""

    def _store_one_band(self, spark, tmp_path):
        import os

        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=100)
        for h in range(1, 5):
            st.write_batch(batch(spark, [h]))
        band = os.path.join(
            st._data_dir, "collection=tst", "height_band=0"
        )
        assert os.path.isdir(band)
        return st, band

    def _stage_swap(self, st, band, with_new=True):
        """Reproduce the compactor's state right before the swap."""
        import json
        import os
        import shutil

        swap_id = "deadbeef"
        new = os.path.join(st._staging_dir, f"compact-{swap_id}")
        old = os.path.join(st._staging_dir, f"compact-{swap_id}-old")
        if with_new:
            shutil.copytree(band, new)
        journal = os.path.join(st._manifest_dir, f"compact-{swap_id}.json")
        with open(journal, "w") as f:
            json.dump({"band": band, "new": new, "old": old}, f)
        return new, old, journal

    def _reopen(self, spark, tmp_path):
        return ChangelogStore(spark, str(tmp_path / "db"))

    def test_crash_mid_swap_completes_with_staged_band(
        self, spark, tmp_path
    ):
        import os

        st, band = self._store_one_band(spark, tmp_path)
        new, old, journal = self._stage_swap(st, band)
        os.rename(band, old)  # crash after the first rename
        st2 = self._reopen(spark, tmp_path)
        assert os.path.isdir(band)
        assert sorted(r.height for r in st2.changelog().collect()) == [1, 2, 3, 4]
        assert not os.path.exists(journal)
        assert not os.path.exists(old) and not os.path.exists(new)

    def test_crash_mid_swap_without_staged_band_rolls_back(
        self, spark, tmp_path
    ):
        import os

        st, band = self._store_one_band(spark, tmp_path)
        new, old, journal = self._stage_swap(st, band, with_new=False)
        os.rename(band, old)  # crash: replacement never finished staging
        st2 = self._reopen(spark, tmp_path)
        assert os.path.isdir(band)
        assert sorted(r.height for r in st2.changelog().collect()) == [1, 2, 3, 4]
        assert not os.path.exists(journal)

    def test_crash_after_swap_cleans_up(self, spark, tmp_path):
        import os
        import shutil

        st, band = self._store_one_band(spark, tmp_path)
        new, old, journal = self._stage_swap(st, band)
        os.rename(band, old)
        os.rename(new, band)  # crash after the second rename
        st2 = self._reopen(spark, tmp_path)
        assert sorted(r.height for r in st2.changelog().collect()) == [1, 2, 3, 4]
        assert not os.path.exists(journal)
        assert not os.path.exists(old)

    def test_crash_before_swap_discards_staged_output(
        self, spark, tmp_path
    ):
        import os

        st, band = self._store_one_band(spark, tmp_path)
        new, old, journal = self._stage_swap(st, band)
        # crash before the first rename: band untouched
        st2 = self._reopen(spark, tmp_path)
        assert sorted(r.height for r in st2.changelog().collect()) == [1, 2, 3, 4]
        assert not os.path.exists(journal)
        assert not os.path.exists(new)

    def test_live_compactor_shielded_from_recover(self, spark, tmp_path):
        import json
        import os
        import time

        st, band = self._store_one_band(spark, tmp_path)
        new, old, journal = self._stage_swap(st, band)
        os.rename(band, old)  # compactor is mid-swap...
        with open(st._lock_path("maintenance"), "w") as f:
            json.dump({"pid": 0, "ts": time.time(), "token": "m"}, f)
        assert st.recover() == 0
        assert os.path.exists(journal)  # untouched: compactor is live
        # compactor dies: lease goes stale, recover heals the swap
        with open(st._lock_path("maintenance"), "w") as f:
            json.dump({"pid": 0, "ts": 0, "token": "m"}, f)
        st.recover()
        os.remove(st._lock_path("maintenance"))
        assert os.path.isdir(band)
        assert not os.path.exists(journal)

    def test_no_swap_litter_inside_data_dir_during_compact(
        self, spark, tmp_path
    ):
        """While a compaction is writing, a concurrent reader's partition
        discovery over the data dir must only ever see height_band=N
        directories."""
        import os

        st, band = self._store_one_band(spark, tmp_path)
        orig_write = type(st.spark.read).parquet
        seen = []

        def snapshot_dirs():
            coll = os.path.dirname(band)
            return [
                d for d in os.listdir(coll)
                if not d.split("=", 1)[-1].isdigit()
            ]

        # run a real compact and snapshot the data dir right after it
        # finishes staging (cheap proxy: snapshot after compact returns
        # plus assert staging/journals are clean)
        st.compact(min_files=2)
        assert snapshot_dirs() == []
        assert [
            f for f in os.listdir(st._manifest_dir) if f.startswith("compact-")
        ] == []
        assert [
            f for f in os.listdir(st._staging_dir) if f.startswith("compact-")
        ] == []
        assert sorted(r.height for r in st.changelog().collect()) == [1, 2, 3, 4]


class TestChangelogErrorSurface:
    def test_empty_store_reads_empty(self, spark, tmp_path):
        st = ChangelogStore(spark, str(tmp_path / "db"))
        assert st.changelog().count() == 0
        assert st.is_empty()

    def test_corrupt_parquet_raises_not_empty(self, spark, tmp_path):
        """A broken file must surface as an error — the old blanket
        `except Exception` turned ANY read failure into a silently empty
        changelog."""
        import os

        st = ChangelogStore(spark, str(tmp_path / "db"), height_band=100)
        st.write_batch(batch(spark, [1, 2]))
        band = os.path.join(st._data_dir, "collection=tst", "height_band=0")
        victim = [f for f in os.listdir(band) if f.endswith(".parquet")][0]
        with open(os.path.join(band, victim), "wb") as f:
            f.write(b"this is not parquet")
        with pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
            st.changelog().collect()


class TestStoreBackendSeam:
    """The storage-format seam (reference DSN, store.go:31-39): semantics
    (guards, leases, checkpoints) live on ChangelogStore; the physical
    append/visibility/recovery protocol lives behind StoreBackend, with
    parquet as the only concrete backend in this image. A transactional
    format drops in by implementing the protocol methods (stage / commit /
    discard, committed_relation, recover)."""

    def test_append_flows_through_backend_with_commit_callback(
        self, spark, tmp_path, monkeypatch
    ):
        from fluxdb_spark.store import ParquetChangelogBackend

        st = ChangelogStore(spark, str(tmp_path / "db"))
        assert isinstance(st._backend, ParquetChangelogBackend)
        seen = {}
        orig = st._backend.commit

        def spy(staged, bounds, shard, advance):
            seen["hi"] = int(bounds.hi)
            seen["shard"] = shard

            def spy_advance():
                # the checkpoint must not have advanced before the
                # backend's commit point runs
                seen["ckpt_before"] = st.checkpoint()
                advance()

            return orig(staged, bounds, shard, spy_advance)

        monkeypatch.setattr(st._backend, "commit", spy)
        st.write_batch(batch(spark, [1, 2]))
        assert seen == {"hi": 2, "shard": None, "ckpt_before": None}
        assert st.checkpoint().height == 2

    def test_protocol_base_is_abstract(self):
        from fluxdb_spark.store import StoreBackend

        b = StoreBackend()
        for call in (
            lambda: b.stage(None, "x"),
            lambda: b.commit(None, None, None, lambda: None),
            lambda: b.discard(None),
            lambda: b.committed_relation(None, lambda s: None),
            lambda: b.recover(lambda s: None, lambda k: False),
        ):
            with pytest.raises(NotImplementedError):
                call()


def _band_files(root):
    """Data-file count per band directory of the store at `root`."""
    import os
    from collections import Counter

    return Counter(
        os.path.relpath(os.path.dirname(p), root)
        for p in _parquet_files(os.path.join(root, "changelog"))
    )


class TestObservedBounds:
    """write_batch reads its bounds (lo, hi, last block, n) from an
    Observation on the staged write itself: a driver-held flush is one
    Spark job, and the height guard runs after staging — so a rejected,
    replayed or empty batch must leave nothing behind."""

    def test_local_flush_is_one_spark_job(self, spark, tmp_path):
        sc = spark.sparkContext
        st = ChangelogStore(spark, str(tmp_path / "db"))
        st.write_batch(batch(spark, range(1, 51)))  # warm, ckpt 50
        df = batch(spark, range(51, 5_051))  # a 5,000-row flush
        sc.setJobGroup("one-job-flush", "flush")
        try:
            ckpt = st.write_batch(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup("one-job-flush")
        assert len(jobs) == 1, jobs
        assert ckpt == Checkpoint(5_050, f"{5_050:08x}aa", 5_050)
        assert st.changelog().filter("height > 50").count() == 5_000

    @pytest.mark.parametrize(
        "heights, raises",
        [([5, 6], True), ([1, 2, 3], False), ([], False)],
        ids=["hole", "full-replay", "empty"],
    )
    def test_rejected_or_empty_batch_leaves_nothing(
        self, spark, tmp_path, heights, raises
    ):
        import os

        st = ChangelogStore(spark, str(tmp_path / "db"))
        st.write_batch(batch(spark, [1, 2, 3]))
        files = _band_files(st.root)
        version = st.latest_commit_version()
        if raises:
            with pytest.raises(WriteConsistencyError, match="hole detected"):
                st.write_batch(batch(spark, heights))
        else:
            assert st.write_batch(batch(spark, heights)).height == 3
        assert not [
            d for d in os.listdir(st._staging_dir) if d.startswith("batch-")
        ]
        assert not os.listdir(st._manifest_dir)
        assert st.checkpoint().height == 3
        assert _band_files(st.root) == files
        assert st.latest_commit_version() == version

    def test_zero_partition_batch_leaves_nothing(self, spark, tmp_path):
        import os

        from fluxdb_spark.schema import CHANGELOG_SCHEMA

        empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD(), CHANGELOG_SCHEMA
        )
        assert empty.rdd.getNumPartitions() == 0
        st = ChangelogStore(spark, str(tmp_path / "db"))
        assert st.write_batch(empty) == Checkpoint(-1, None, None)
        st.write_batch(batch(spark, [1, 2, 3]))
        assert st.write_batch(empty).height == 3
        assert not [
            d for d in os.listdir(st._staging_dir) if d.startswith("batch-")
        ]
        assert not os.listdir(st._manifest_dir)
        assert st.changelog().count() == 3

    def test_local_and_distributed_input_store_the_same_rows(
        self, spark, tmp_path
    ):
        from fluxdb_spark.schema import CHANGELOG_SCHEMA, local_frame

        rows = [
            ("tst", f"t{h % 3}", h, f"k{h % 7}", f"v{h}", h % 5 == 0,
             f"{h:08x}aa", h)
            for h in range(1, 35)
        ]
        local = local_frame(spark, rows, CHANGELOG_SCHEMA)
        dist = spark.createDataFrame(rows, CHANGELOG_SCHEMA)
        assert local.isLocal() and not dist.isLocal()
        got = {}
        for name, df in (("local", local), ("dist", dist)):
            st = ChangelogStore(spark, str(tmp_path / name), height_band=10)
            assert st.write_batch(df).height == 34
            got[name] = (
                sorted(tuple(r) for r in st.changelog().collect()),
                _band_files(st.root),
            )
        assert got["local"] == got["dist"]
        assert len(got["local"][0]) == 34
        assert set(got["local"][1].values()) == {1}  # one file per band
        assert len(got["local"][1]) == 4

    def test_local_batch_over_target_splits_into_files(self, spark, tmp_path):
        from fluxdb_spark.schema import CHANGELOG_SCHEMA, local_frame
        from fluxdb_spark.store import TARGET_FILE_ROWS

        n = TARGET_FILE_ROWS + 1
        df = local_frame(
            spark,
            [
                ("tst", f"t{i % 5}", 1 + i // 100_000, str(i), None, True,
                 "b", 1)
                for i in range(n)
            ],
            CHANGELOG_SCHEMA,
        )
        st = ChangelogStore(spark, str(tmp_path / "db"))
        assert st.write_batch(df).height == 1 + (n - 1) // 100_000
        assert _band_files(st.root) == {
            "changelog/collection=tst/height_band=0": 2
        }
        assert st.changelog().count() == n


class TestStagingSweep:
    """recover() bounds _staging disk: directories no manifest references
    (writer crashed before its manifest landed; compactor crashed after
    journal removal) are swept — but never while their owner's lease is
    still fresh."""

    def test_orphan_batch_staging_swept_when_no_writer_live(
        self, spark, tmp_path
    ):
        import os

        st = ChangelogStore(spark, str(tmp_path / "db"))
        st.write_batch(batch(spark, [1]))
        orphan = os.path.join(st._staging_dir, "batch-deadbeef")
        os.makedirs(orphan)
        st.recover()
        assert os.path.exists(orphan)  # too young: could be a racer's
        os.utime(orphan, (0, 0))  # age past the sweep threshold
        st.recover()
        assert not os.path.exists(orphan)

    def test_orphan_staging_kept_while_writer_lease_fresh(
        self, spark, tmp_path
    ):
        import json
        import os
        import time

        st = ChangelogStore(spark, str(tmp_path / "db"))
        orphan = os.path.join(st._staging_dir, "batch-deadbeef")
        os.makedirs(orphan)
        os.utime(orphan, (0, 0))  # old enough to sweep...
        with open(st._lock_path("global"), "w") as f:
            json.dump({"pid": 0, "ts": time.time(), "token": "w"}, f)
        st.recover()
        assert os.path.exists(orphan)  # ...but a live writer may own it
        with open(st._lock_path("global"), "w") as f:
            json.dump({"pid": 0, "ts": 0, "token": "w"}, f)
        st.recover()
        os.remove(st._lock_path("global"))
        assert not os.path.exists(orphan)  # writer died: swept

    def test_live_writers_staging_survives_via_manifest_reference(
        self, spark, tmp_path, monkeypatch
    ):
        """A mid-commit writer (manifest present, lease fresh) keeps its
        staging dir through a concurrent recover()."""
        import json
        import os
        import time

        st = ChangelogStore(spark, str(tmp_path / "db"))
        st.write_batch(batch(spark, [1]))

        def boom(*a, **k):
            raise RuntimeError("crash before checkpoint")

        monkeypatch.setattr(st, "_write_checkpoint", boom)
        with pytest.raises(RuntimeError):
            st.write_batch(batch(spark, [2]))
        monkeypatch.undo()
        with open(st._lock_path("global"), "w") as f:
            json.dump({"pid": 0, "ts": time.time(), "token": "w"}, f)
        staged = [
            d for d in os.listdir(st._staging_dir) if d.startswith("batch-")
        ]
        assert len(staged) == 1
        st.recover()
        assert [
            d for d in os.listdir(st._staging_dir) if d.startswith("batch-")
        ] == staged
        os.remove(st._lock_path("global"))


class TestIndexStoreSwapRecovery:
    """IndexStore.prune's directory swap is journaled: a crash between
    the renames heals at the next open instead of silently dropping the
    whole index relation."""

    def _seeded(self, spark, tmp_path):
        from fluxdb_spark.operators.snapshot import build_tablet_index
        from fluxdb_spark.store import IndexStore

        rows = [("tst", "tbl", h, "a", f"v{h}") for h in range(1, 6)]
        log = make_changelog(spark, rows)
        ixs = IndexStore(spark, str(tmp_path / "ix"))
        for h in range(1, 6):
            ixs.write(build_tablet_index(log, "tbl", h, collection="tst"))
        return ixs

    def test_crash_mid_swap_completes_with_rewrite(self, spark, tmp_path):
        import json
        import os
        import shutil

        from fluxdb_spark.store import IndexStore

        ixs = self._seeded(spark, tmp_path)
        n = ixs.read().count()
        # reproduce prune's state after the first rename: index moved to
        # old, rewrite staged, journal present
        new = ixs._dir + ".rewrite-x"
        old = ixs._dir + ".old-x"
        shutil.copytree(ixs._dir, new)
        with open(ixs._journal, "w") as f:
            json.dump({"new": new, "old": old}, f)
        os.rename(ixs._dir, old)
        ix2 = IndexStore(spark, str(tmp_path / "ix"))
        assert ix2.read().count() == n
        assert not os.path.exists(ixs._journal)
        assert not os.path.exists(new) and not os.path.exists(old)

    def test_crash_before_rewrite_rolls_back(self, spark, tmp_path):
        import json
        import os

        from fluxdb_spark.store import IndexStore

        ixs = self._seeded(spark, tmp_path)
        n = ixs.read().count()
        new = ixs._dir + ".rewrite-x"  # never finished staging
        old = ixs._dir + ".old-x"
        with open(ixs._journal, "w") as f:
            json.dump({"new": new, "old": old}, f)
        os.rename(ixs._dir, old)
        ix2 = IndexStore(spark, str(tmp_path / "ix"))
        assert ix2.read().count() == n
        assert not os.path.exists(ixs._journal)


class _CrashHere(BaseException):
    """Injected crash: BaseException so no except Exception arm absorbs it."""


class _FileOpCrasher:
    """Raise _CrashHere on the n-th Python filesystem mutation inside the
    store's commit path (rename/replace/remove), simulating a process
    dying at that exact point. Spark's JVM-side writes are unaffected —
    which is the point: the manifest protocol's crash windows are exactly
    the Python-side op sequence."""

    def __init__(self, monkeypatch, crash_at: int):
        import os as _os

        self.remaining = crash_at
        for name in ("rename", "replace", "remove", "link"):
            real = getattr(_os, name)

            def wrapper(*a, _real=real, **kw):
                self.remaining -= 1
                if self.remaining < 0:
                    raise _CrashHere()
                return _real(*a, **kw)

            monkeypatch.setattr(_os, name, wrapper)


@pytest.mark.sweep
class TestCrashFuzzStore:
    """Crash-fuzz the exactly-once commit protocol (the storage analog of
    the fork-fuzz property test): inject a crash at EVERY possible
    Python-side filesystem op of a write_batch, reopen the store
    (recover), replay the batch, and require the exact committed state —
    each height exactly once, checkpoint at the max, no debris. Then the
    same for compact's journaled swap."""

    def _heights(self, st):
        return sorted(r.height for r in st.changelog().collect())

    @pytest.mark.parametrize("fmt", ["parquet", "orc"])
    def test_write_crash_at_every_fileop_then_replay(
        self, spark, tmp_path, monkeypatch, fmt
    ):
        """Runs over BOTH file backends: the commit protocol's crash
        windows are format-independent by construction, and this proves
        it."""
        import os

        crash_at = 0
        exhausted = False
        while not exhausted and crash_at < 30:
            root = str(tmp_path / f"db-{crash_at}")
            st = ChangelogStore(
                spark, root, height_band=5, data_format=fmt
            )
            st.write_batch(batch(spark, [1, 2, 3]))
            with monkeypatch.context() as mp:
                _FileOpCrasher(mp, crash_at)
                try:
                    st.write_batch(batch(spark, [4, 5, 6, 7]))
                    exhausted = True  # op count of the path: done fuzzing
                except _CrashHere:
                    pass
            # the writer process died; its lease heartbeat died with it —
            # simulate staleness so the next open may roll back
            lock = st._lock_path("global")
            if os.path.exists(lock):
                os.utime(lock, (0, 0))
                import json as _json

                with open(lock) as f:
                    d = _json.load(f)
                d["ts"] = 0
                with open(lock, "w") as f:
                    _json.dump(d, f)
            st2 = ChangelogStore(
                spark, root, height_band=5, data_format=fmt
            )
            if os.path.exists(lock):
                os.remove(lock)
            # replay is idempotent whether the crash landed before or
            # after the commit point
            st2.write_batch(batch(spark, [4, 5, 6, 7]))
            assert self._heights(st2) == [1, 2, 3, 4, 5, 6, 7], (
                f"crash_at={crash_at}"
            )
            assert st2.checkpoint().height == 7
            assert [
                f
                for f in os.listdir(st2._manifest_dir)
                if f.endswith(".json")
            ] == [], f"crash_at={crash_at}"
            # the commit log healed to exactly one append entry per batch
            # (crash before the claim -> recover heals it from the
            # committed manifest; crash after -> no duplicate), and time
            # travel at the newest version sees the full committed state
            entries = st2._backend.commit_log.entries()
            his = [e["hi"] for e in entries if e["action"] == "append"]
            assert sorted(his) == sorted(set(his)), f"crash_at={crash_at}"
            assert (
                st2.changelog(
                    at_version=st2.latest_commit_version()
                ).count()
                == st2.changelog().count()
            ), f"crash_at={crash_at}"
            crash_at += 1
        assert exhausted, "never exercised the full op sequence"
        assert crash_at >= 5  # the path really has multiple crash windows

    def test_compact_crash_at_every_fileop_reads_stay_exact(
        self, spark, tmp_path, monkeypatch
    ):
        import os

        crash_at = 0
        exhausted = False
        while not exhausted and crash_at < 30:
            root = str(tmp_path / f"cdb-{crash_at}")
            st = ChangelogStore(spark, root, height_band=100)
            for h in range(1, 5):
                st.write_batch(batch(spark, [h]))
            with monkeypatch.context() as mp:
                _FileOpCrasher(mp, crash_at)
                try:
                    st.compact(min_files=2)
                    exhausted = True
                except _CrashHere:
                    pass
            lock = st._lock_path("maintenance")
            if os.path.exists(lock):
                import json as _json

                with open(lock) as f:
                    d = _json.load(f)
                d["ts"] = 0
                with open(lock, "w") as f:
                    _json.dump(d, f)
            st2 = ChangelogStore(spark, root, height_band=100)
            if os.path.exists(lock):
                os.remove(lock)
            assert self._heights(st2) == [1, 2, 3, 4], f"crash_at={crash_at}"
            # the store stays fully operational: maintenance re-runs and
            # writes continue
            st2.compact(min_files=2)
            st2.write_batch(batch(spark, [5]))
            assert self._heights(st2) == [1, 2, 3, 4, 5], (
                f"crash_at={crash_at}"
            )
            # a completed swap is logged exactly once (live claim or
            # recovery healing, never both) and time travel at the
            # newest version resolves to the exact post-swap file set
            entries = st2._backend.commit_log.entries()
            sids = [e["swap_id"] for e in entries if "swap_id" in e]
            assert sorted(sids) == sorted(set(sids)), f"crash_at={crash_at}"
            assert sorted(
                r.height
                for r in st2.changelog(
                    at_version=st2.latest_commit_version()
                ).collect()
            ) == [1, 2, 3, 4, 5], f"crash_at={crash_at}"
            crash_at += 1
        assert exhausted
        assert crash_at >= 4


class TestIndexPruneCrash:
    """IndexStore.prune lands through the store's shared journaled swap:
    crashed at every Python-side file op, the next open leaves exactly
    the pre-prune or the post-prune index, with no side directory and no
    journal behind."""

    def _seed(self, spark, root):
        from fluxdb_spark.operators.snapshot import build_tablet_index
        from fluxdb_spark.store import IndexStore

        log = make_changelog(
            spark,
            [("tst", "tbl", h, f"k{h % 2}", f"v{h}") for h in range(1, 6)],
        )
        ixs = IndexStore(spark, root)
        for h in range(1, 6):
            ixs.write(build_tablet_index(log, "tbl", h, collection="tst"))
        return ixs

    @staticmethod
    def _rows(ixs):
        return sorted(map(tuple, ixs.read().collect()))

    def test_prune_crash_at_every_fileop(self, spark, tmp_path, monkeypatch):
        import os
        import shutil

        from fluxdb_spark.store import IndexStore

        seed = str(tmp_path / "seed")
        pre = self._rows(self._seed(spark, seed))
        clean = str(tmp_path / "clean")
        shutil.copytree(seed, clean)
        assert IndexStore(spark, clean).prune(prune_frequency=2) == 1
        post = self._rows(IndexStore(spark, clean))
        assert post != pre
        crash_at = 0
        exhausted = False
        outcomes = []
        while not exhausted and crash_at < 40:
            root = str(tmp_path / f"ix-{crash_at}")
            shutil.copytree(seed, root)
            ixs = IndexStore(spark, root)
            with monkeypatch.context() as mp:
                _FileOpCrasher(mp, crash_at)
                try:
                    ixs.prune(prune_frequency=2)
                    exhausted = True
                except _CrashHere:
                    pass
            got = self._rows(IndexStore(spark, root))
            assert got in (pre, post), f"crash_at={crash_at}"
            outcomes.append(got == post)
            # no tablet_index.rewrite-* / .old-* sibling, no journal
            assert os.listdir(root) == ["tablet_index"], f"crash_at={crash_at}"
            crash_at += 1
        assert exhausted
        # early crashes roll back, late ones complete: both were reached
        assert outcomes[0] is False and outcomes[-1] is True
        assert outcomes == sorted(outcomes)

    def test_crash_after_second_rename_keeps_the_rewrite(
        self, spark, tmp_path
    ):
        import json
        import os
        import shutil

        from fluxdb_spark.store import IndexStore

        root = str(tmp_path / "ix")
        ixs = self._seed(spark, root)
        pre = self._rows(ixs)
        # both renames done, journal not yet removed: the index is the
        # rewrite and `.old-*` still holds the replaced one
        old = ixs._dir + ".old-x"
        shutil.copytree(ixs._dir, old)
        ixs._rewrite_swap(ixs.read().filter("snapshot_height != 3"))
        post = self._rows(ixs)
        assert post != pre
        with open(ixs._journal, "w") as f:
            json.dump({"new": ixs._dir + ".rewrite-x", "old": old}, f)
        assert self._rows(IndexStore(spark, root)) == post
        assert os.listdir(root) == ["tablet_index"]


class TestOrcBackend:
    """The StoreBackend seam, proven with a second physical format: the
    full lifecycle — guarded writes, idempotent replay, compaction,
    retention, physical DML, time travel, outbound follower — runs
    unchanged over ORC (reference analog: the store-DSN choice,
    store.go:31-39)."""

    def _store(self, spark, tmp_path, name="odb"):
        return ChangelogStore(
            spark, str(tmp_path / name), height_band=10, data_format="orc"
        )

    def test_lifecycle_write_compact_expire_purge_timetravel(
        self, spark, tmp_path
    ):
        import os

        st = self._store(spark, tmp_path)
        for h in range(1, 5):
            st.write_batch(batch(spark, [h]))
        st.write_batch(batch(spark, range(5, 26)))
        st.write_batch(batch(spark, [9, 10, 26]))  # replay dedups
        assert sorted(r.height for r in st.changelog().collect()) == list(
            range(1, 27)
        )
        # the physical files really are ORC
        data_files = [
            fn
            for _d, _s, fns in os.walk(st._data_dir)
            for fn in fns
            if not fn.startswith(".")
        ]
        assert data_files and all(f.endswith(".orc") for f in data_files)
        # maintenance: compact, retention, physical DML
        c = st.compact(min_files=2)
        assert c["bands"] >= 1
        st.expire_bands(before_height=10)
        assert st.changelog(max_height=15).count() > 0
        p = st.purge_key("tst", "tbl", "001")
        assert p["rows_matched"] > 0
        assert st.changelog().count() == 0  # single-key fixture: all gone
        st.write_batch(batch(spark, [27], pk="002"))  # still writable
        # commit-level time travel resolves over ORC files
        assert (
            st.changelog(at_version=st.latest_commit_version()).count() == 1
        )

    def test_format_is_sticky_from_meta(self, spark, tmp_path):
        st = self._store(spark, tmp_path, "sticky")
        st.write_batch(batch(spark, [1]))
        # reopen with DEFAULT args: stored format wins
        st2 = ChangelogStore(spark, str(tmp_path / "sticky"))
        assert st2._backend.data_format == "orc"
        assert [r.height for r in st2.changelog().collect()] == [1]

    def test_unknown_format_rejected(self, spark, tmp_path):
        with pytest.raises(ValueError, match="unknown data_format"):
            ChangelogStore(
                spark, str(tmp_path / "bad"), data_format="avrooo"
            )

    def test_follower_reads_orc_store(self, spark, tmp_path):
        from fluxdb_spark.streaming.follow import follow_store

        st = self._store(spark, tmp_path, "fdb")
        st.write_batch(batch(spark, [1, 2]))
        seen: list = []
        q = follow_store(
            spark, str(tmp_path / "fdb"),
            lambda rows, bid: seen.extend(r.height for r in rows.collect()),
            str(tmp_path / "fck"), trigger_seconds=0.5,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert sorted(seen) == [1, 2]


class TestPointReadSkipping:
    """Membership filters on the point-read columns (tablet_id,
    primary_key): the columnar analog of the reference's KV prefix get
    (tablet.go:251-278 — the storage engine never touches bytes outside
    the probed prefix).  Appends cluster files by tablet/height so
    min/max statistics prune most files; the bloom filters written by
    the backend cover the straddling-file case that statistics cannot —
    high-cardinality hashed keys whose per-file min/max spans the whole
    key space."""

    N = 60_000  # enough distinct pks to overflow the dictionary page,
    # which is parquet-mr's (correct) condition for materializing the
    # bloom filter instead of relying on the exact dictionary page

    @staticmethod
    def _hashed_batch(spark):
        from pyspark.sql import functions as F

        return (
            spark.range(1, TestPointReadSkipping.N + 1)
            .select(
                F.lit("tst").alias("collection"),
                F.lit("tbl").alias("tablet_id"),
                F.col("id").alias("height"),
                F.md5(F.col("id").cast("string")).alias("primary_key"),
                F.concat(F.lit("v"), F.col("id")).alias("value"),
                F.lit(False).alias("is_deletion"),
                F.format_string("%08xaa", F.col("id")).alias("block_id"),
                F.col("id").alias("block_num"),
            )
        )

    @staticmethod
    def _bloom_offsets(spark, path):
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path), conf
        )
        rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
        try:
            rg = rdr.getFooter().getBlocks().get(0)
            return {
                rg.getColumns().get(i).getPath().toDotString():
                    rg.getColumns().get(i).getBloomFilterOffset()
                for i in range(rg.getColumns().size())
            }
        finally:
            rdr.close()

    @staticmethod
    def _scan_output_rows(df) -> int:
        """Sum of numOutputRows over the file-scan leaves of the EXECUTED
        plan — 0 means every row group was skipped at the reader level
        (the pushed filter never surfaced a row to Spark)."""
        df.collect()
        node = df._jdf.queryExecution().executedPlan()
        total = 0
        stack = [node]
        while stack:
            n = stack.pop()
            if "AdaptiveSparkPlan" in n.nodeName():
                stack.append(n.executedPlan())
                continue
            if n.nodeName().startswith("Scan "):
                m = n.metrics()
                if m.contains("numOutputRows"):
                    total += m.apply("numOutputRows").value()
            ch = n.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return total

    def _data_files(self, root):
        import os

        out = []
        for dirpath, _d, fnames in os.walk(os.path.join(root, "changelog")):
            out.extend(
                os.path.join(dirpath, f)
                for f in fnames
                if f.endswith(".parquet")
            )
        return out

    def test_bloom_filter_written_for_hashed_keys(self, spark, tmp_path):
        root = str(tmp_path / "db")
        st = ChangelogStore(spark, root)
        st.write_batch(self._hashed_batch(spark))
        files = self._data_files(root)
        assert files
        offsets = [self._bloom_offsets(spark, f) for f in files]
        # high-cardinality primary_key -> bloom present; single-valued
        # tablet_id stays dictionary-encoded -> parquet correctly skips
        # the redundant bloom (the dictionary page IS an exact filter)
        assert any(o.get("primary_key", -1) >= 0 for o in offsets)
        assert all(o.get("tablet_id", -1) == -1 for o in offsets)

    def test_absent_key_probe_skips_all_row_groups(self, spark, tmp_path):
        from pyspark.sql import functions as F

        root = str(tmp_path / "db")
        st = ChangelogStore(spark, root)
        st.write_batch(self._hashed_batch(spark))
        # absent key: min/max stats CANNOT exclude it (hashed keys span
        # the space) — only the bloom filter can skip the row group
        absent = st.changelog().filter(
            F.col("primary_key") == F.md5(F.lit("not-a-row"))
        )
        assert self._scan_output_rows(absent) == 0
        # present key still found, and the scan surfaced just its group
        present = st.changelog().filter(
            F.col("primary_key") == F.md5(F.lit("123"))
        )
        assert [r.value for r in present.collect()] == ["v123"]

    def test_compaction_rewrites_keep_bloom(self, spark, tmp_path):
        root = str(tmp_path / "db")
        st = ChangelogStore(spark, root)
        st.write_batch(self._hashed_batch(spark))
        st.compact(min_files=1, target_rows_per_file=self.N)
        files = self._data_files(root)
        assert files
        assert any(
            self._bloom_offsets(spark, f).get("primary_key", -1) >= 0
            for f in files
        )


class TestZorderCompact:
    """compact(zorder=True): Morton layout over (primary_key, height)."""

    def _store(self, spark, tmp_path, name):
        st = ChangelogStore(
            spark, str(tmp_path / name), height_band=1000
        )
        for h in range(1, 17):
            st.write_batch(
                make_changelog(
                    spark,
                    [
                        ("tst", "tbl", h, f"k{i:03d}", f"v{h}-{i}")
                        for i in range(64)
                    ],
                )
            )
        return st

    @staticmethod
    def _admitted_rows(stats, pk=None, max_height=None):
        total = 0
        for f in stats:
            s = f["stats"]
            if pk is not None:
                lo, hi = s["primary_key"]
                if not (lo <= pk <= hi):
                    continue
            if max_height is not None:
                lo, hi = s["height"]
                if lo > max_height:
                    continue
            total += f["rows"]
        return total

    def test_zorder_preserves_rows_and_reads(self, spark, tmp_path):
        st = self._store(spark, tmp_path, "zc")
        before = sorted(
            (r.height, r.primary_key, r.value)
            for r in st.changelog().collect()
        )
        stats = st.compact(
            target_rows_per_file=128, min_files=2, zorder=True
        )
        assert stats["bands"] == 1 and stats["files_after"] == 8
        after = sorted(
            (r.height, r.primary_key, r.value)
            for r in st.changelog().collect()
        )
        assert after == before
        # bounded read still partition/zone prunes correctly
        assert st.changelog(max_height=4).count() == 4 * 64

    def test_zorder_tightens_key_zone_maps(self, spark, tmp_path):
        st = self._store(spark, tmp_path, "zc2")
        # pre-compaction layout: one file per height batch — a key probe
        # admits EVERY file (each holds all 64 keys)
        pre = st.file_layout_stats("tst")
        total = sum(f["rows"] for f in pre)
        assert self._admitted_rows(pre, pk="k032") == total
        st.compact(target_rows_per_file=128, min_files=2, zorder=True)
        post = st.file_layout_stats("tst")
        assert sum(f["rows"] for f in post) == total
        # the Z-curve bounds BOTH dimensions per file: a key probe scans
        # about half the store (quarter-boundary overlap), the singlet
        # probe (key AND height) a quarter, and height scans stay
        # prunable — pre-compaction every key probe scanned 100%
        assert self._admitted_rows(post, pk="k032") <= total * 0.55
        assert (
            self._admitted_rows(post, pk="k032", max_height=4)
            <= total * 0.3
        )
        assert (
            self._admitted_rows(post, max_height=4) <= total * 0.6
        )

    def test_linear_compact_cannot_prune_key_probes(self, spark, tmp_path):
        st = self._store(spark, tmp_path, "lc")
        st.compact(target_rows_per_file=128, min_files=2, zorder=False)
        post = st.file_layout_stats("tst")
        total = sum(f["rows"] for f in post)
        # the linear (tablet, height) sort leaves primary_key wide in
        # every file — the gap zorder exists to close
        assert self._admitted_rows(post, pk="k032") == total
