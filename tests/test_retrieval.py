"""Materialized retrieval indexes (streaming/retrieval.py): row-wise IVM
over a ChangelogStore — MinHash signatures, LSH bucket tables, and
frozen-centroid k-means assignments maintained incrementally from the
commit log, with last-write-wins reads and rebuild-on-rewrite."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fluxdb_spark.functions import dedup as dd
from fluxdb_spark.functions import similarity as sim
from fluxdb_spark.store import ChangelogStore
from fluxdb_spark.streaming import retrieval as rt
from tests.conftest import make_changelog


@pytest.fixture()
def store(spark, tmp_path):
    return ChangelogStore(spark, str(tmp_path / "db"), height_band=100)


def doc_rows(spark, docs):
    """docs: {doc_id: text} -> changelog rows, height == doc_id + 1."""
    return make_changelog(
        spark,
        [("doc", "docs", i + 1, str(i), t) for i, t in sorted(docs.items())],
    )


def vec_rows(spark, vecs, h0=0):
    """vecs: {vec_id: [floats]} -> changelog rows with JSON double values."""
    return make_changelog(
        spark,
        [
            (
                "emb",
                "vecs",
                h0 + n + 1,
                str(i),
                json.dumps([float(x) for x in v]),
            )
            for n, (i, v) in enumerate(sorted(vecs.items()))
        ],
    )


DOCS1 = {
    0: "the quick brown fox jumps over the lazy dog again and again today",
    1: "the quick brown fox jumps over the lazy dog again and again tomorrow",
    2: "completely different text about spark and parquet and shuffles",
}
DOCS2 = {
    3: "the quick brown fox jumps over the lazy dog again and again today",
    4: "yet another unrelated document mentioning watermarks and state",
}


def _sig_recompute(spark, docs, k=dd.MINHASH_K):
    d = spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string"
    )
    return {
        tuple(r)
        for r in dd.minhash_signatures(d, k).collect()
    }


def _commit_dirs(dest):
    return sorted(
        n for n in os.listdir(dest) if n.startswith("commit_hi=")
    )


class TestRowwiseMaterializer:
    def _sigs(self, spark, dest):
        df = rt.read_derived(spark, dest)
        assert df is not None
        live = rt.lww_latest(df, ["doc_id"]).drop("height", "is_deletion")
        return {tuple(r) for r in live.collect()}

    def test_incremental_catchup_without_rebuild(
        self, spark, store, tmp_path
    ):
        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        got = rt.refresh(
            spark, str(store.root), dest, rt.minhash_transform(), ck
        )
        assert got is not None
        assert self._sigs(spark, dest) == _sig_recompute(spark, DOCS1)
        dirs_before = _commit_dirs(dest)
        # append more docs: the maintainer folds ONLY the delta — the
        # first batch's directory is byte-untouched, one new dir lands
        mtimes = {
            d: os.path.getmtime(os.path.join(dest, d)) for d in dirs_before
        }
        store.write_batch(doc_rows(spark, DOCS2))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        dirs_after = _commit_dirs(dest)
        assert set(dirs_before) < set(dirs_after)
        assert len(dirs_after) == len(dirs_before) + 1
        for d in dirs_before:
            assert os.path.getmtime(os.path.join(dest, d)) == mtimes[d]
        assert self._sigs(spark, dest) == _sig_recompute(
            spark, {**DOCS1, **DOCS2}
        )

    def test_lww_update_and_tombstone(self, spark, store, tmp_path):
        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        # doc 1 rewritten at a later height, doc 2 tombstoned
        new_text = "an entirely new body for document one after the edit"
        store.write_batch(
            make_changelog(
                spark,
                [
                    ("doc", "docs", 10, "1", new_text),
                    ("doc", "docs", 11, "2", None),
                ],
            ),
            force=True,
        )
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        want = _sig_recompute(spark, {0: DOCS1[0], 1: new_text})
        assert self._sigs(spark, dest) == want

    def test_rewrite_triggers_rebuild(self, spark, store, tmp_path):
        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        store.write_batch(doc_rows(spark, {9: DOCS2[4]}), force=True)
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        assert len(_commit_dirs(dest)) == 2
        # physical DML erases doc 0's history: derived rows computed from
        # the erased bytes must go too — the maintainer rebuilds
        store.delete_where("primary_key = '0'")
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        surviving = {1: DOCS1[1], 2: DOCS1[2], 9: DOCS2[4]}
        assert self._sigs(spark, dest) == _sig_recompute(spark, surviving)
        # the rebuild collapsed the directory set to one swap result
        assert len(_commit_dirs(dest)) == 1
        # and incremental maintenance continues on top of the rebuild
        store.write_batch(doc_rows(spark, {20: DOCS2[3]}), force=True)
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        assert self._sigs(spark, dest) == _sig_recompute(
            spark, {**surviving, 20: DOCS2[3]}
        )

    def test_catchup_lagging_behind_compaction_rebuilds(
        self, spark, store, tmp_path
    ):
        """A compaction that merged away append files the index has not
        folded yet forces a rebuild: the delta's source files are gone,
        so reading them would fail (PATH_NOT_FOUND). The rebuilt rows
        equal those of a fresh catch-up over the same store."""
        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        store.write_batch(doc_rows(spark, DOCS2))
        store.compact(min_files=1)
        got = rt.refresh(
            spark, str(store.root), dest, rt.minhash_transform(), ck
        )
        fresh = rt.refresh(
            spark,
            str(store.root),
            str(tmp_path / "fresh"),
            rt.minhash_transform(),
            str(tmp_path / "ck2"),
        )
        assert got.exceptAll(fresh).count() == 0
        assert fresh.exceptAll(got).count() == 0
        assert self._sigs(spark, dest) == _sig_recompute(
            spark, {**DOCS1, **DOCS2}
        )

    def test_compaction_of_applied_files_is_a_no_op(
        self, spark, store, tmp_path
    ):
        from fluxdb_spark.streaming.materialize import applied_version

        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        store.write_batch(doc_rows(spark, DOCS2))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        dirs, floor = _commit_dirs(dest), applied_version(dest)
        store.compact(min_files=1)
        assert store.latest_commit_version() > floor  # a compact commit
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        assert _commit_dirs(dest) == dirs
        assert applied_version(dest) == floor

    def test_crash_between_data_and_floor_replays_idempotently(
        self, spark, store, tmp_path
    ):
        """Simulate the maintainer dying AFTER landing a batch directory
        but BEFORE advancing the applied-version floor: the directory is
        unconfirmed (invisible to readers), and the replay drops and
        rewrites it — no duplicates, no loss."""
        import json as _json

        from fluxdb_spark.streaming.materialize import _state_path

        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        store.write_batch(doc_rows(spark, DOCS2))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        full = self._sigs(spark, dest)
        # roll the floor back below the second batch: its directory is
        # now exactly the crash leftover (data landed, floor not moved)
        with open(_state_path(dest)) as f:
            state = _json.load(f)
        with open(_state_path(dest), "w") as f:
            _json.dump({**state, "applied_version": 1}, f)
        # readers must not see the unconfirmed directory
        assert self._sigs(spark, dest) == _sig_recompute(spark, DOCS1)
        # a fresh checkpoint redelivers everything; the replay converges
        # to the same relation with no duplicate rows
        rt.refresh(
            spark, str(store.root), dest, rt.minhash_transform(),
            str(tmp_path / "ck2"),
        )
        assert self._sigs(spark, dest) == full == _sig_recompute(
            spark, {**DOCS1, **DOCS2}
        )
        df = rt.read_derived(spark, dest)
        assert df.count() == df.select("doc_id", "height").distinct().count()

    def test_checkpoint_loss_redelivery_changes_nothing(
        self, spark, store, tmp_path
    ):
        import shutil as sh

        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        before = self._sigs(spark, dest)
        # the one-shot refresh keeps no stream offsets at all (the floor
        # file is the resume point) — losing the checkpoint dir, or it
        # never existing, must not change the derived table on full
        # commit-log redelivery
        sh.rmtree(ck, ignore_errors=True)
        rt.refresh(
            spark, str(store.root), dest, rt.minhash_transform(),
            str(tmp_path / "ck2"),
        )
        assert self._sigs(spark, dest) == before
        assert len(_commit_dirs(dest)) == 1


    def test_compact_derived_collapses_dirs_reads_unchanged(
        self, spark, store, tmp_path
    ):
        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        store.write_batch(doc_rows(spark, DOCS2))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        before = self._sigs(spark, dest)
        assert len(_commit_dirs(dest)) == 2
        assert rt.compact_derived(spark, dest) == 1
        assert len(_commit_dirs(dest)) == 1
        assert self._sigs(spark, dest) == before
        # incremental maintenance continues on top of the compacted table
        store.write_batch(doc_rows(spark, {30: "fresh doc after compaction"}),
                          force=True)
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        assert self._sigs(spark, dest) == _sig_recompute(
            spark, {**DOCS1, **DOCS2, 30: "fresh doc after compaction"}
        )
        # already-compact table is a no-op
        rt.compact_derived(spark, dest)
        assert rt.compact_derived(spark, dest) == 0

    def test_legacy_format_refused_on_read_compact_and_append(
        self, spark, store, tmp_path
    ):
        """A derived dir stamped with an older on-disk format (or none
        at all — pre-stamp legacy) must be refused LOUDLY by every
        surface that would otherwise misread or silently fold it:
        read_derived, compact_derived, and the incremental maintainer
        (refresh)."""
        import json as _json

        from fluxdb_spark.streaming.materialize import _state_path

        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        with open(_state_path(dest)) as f:
            state = _json.load(f)
        assert state["format"] == rt.DERIVED_FORMAT
        # simulate a dir written before format stamping existed
        del state["format"]
        with open(_state_path(dest), "w") as f:
            _json.dump(state, f)
        with pytest.raises(ValueError, match="format 1"):
            rt.read_derived(spark, dest)
        with pytest.raises(ValueError, match="format 1"):
            rt.compact_derived(spark, dest)
        with pytest.raises(ValueError, match="format 1"):
            rt.refresh(
                spark, str(store.root), dest, rt.minhash_transform(), ck
            )
        # restoring the stamp restores service
        state["format"] = rt.DERIVED_FORMAT
        with open(_state_path(dest), "w") as f:
            _json.dump(state, f)
        assert rt.read_derived(spark, dest) is not None


    def test_corrupt_state_file_raises_not_empty(
        self, spark, store, tmp_path
    ):
        """An unreadable state file must not read as "no state yet":
        that would make read_derived return no rows at all."""
        from fluxdb_spark.streaming.materialize import _state_path

        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        with open(_state_path(dest), "w") as f:
            f.write('{"applied_version": 1, "form')
        with pytest.raises(ValueError, match="corrupt"):
            rt.read_derived(spark, dest)
        with pytest.raises(ValueError, match="corrupt"):
            rt.refresh(
                spark, str(store.root), dest, rt.minhash_transform(), ck
            )


class TestFoldCompaction:
    """compact_derived(fold_keys=...): the derived table is rewritten to
    ONE physical row per key, so a standing service's read-time LWW fold
    aggregates only the post-compaction delta — while staying exactly
    read-equivalent and resurrection-safe."""

    def test_fold_drops_superseded_versions_keeps_reads(
        self, spark, store, tmp_path
    ):
        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        new_text = "a fully rewritten body for document one"
        store.write_batch(
            make_changelog(
                spark,
                [
                    ("doc", "docs", 10, "1", new_text),
                    ("doc", "docs", 11, "2", None),
                ],
            ),
            force=True,
        )
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        live_before = {
            tuple(r)
            for r in rt.lww_latest(rt.read_derived(spark, dest), ["doc_id"])
            .drop("height", "is_deletion")
            .collect()
        }
        raw_rows = rt.read_derived(spark, dest).count()
        assert raw_rows == 5  # 3 originals + update + tombstone
        assert rt.compact_derived(spark, dest, fold_keys=["doc_id"]) == 1
        # physically folded: one row per key (doc 1's old version gone;
        # doc 2's TOMBSTONE kept against resurrection)
        folded = rt.read_derived(spark, dest)
        assert folded.count() == 3
        assert folded.filter("doc_id = 2").collect()[0].is_deletion is True
        live_after = {
            tuple(r)
            for r in rt.lww_latest(folded, ["doc_id"])
            .drop("height", "is_deletion")
            .collect()
        }
        assert live_after == live_before
        # maintainer continues incrementally on the folded table
        store.write_batch(doc_rows(spark, {30: DOCS2[4]}), force=True)
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        want = _sig_recompute(spark, {0: DOCS1[0], 1: new_text, 30: DOCS2[4]})
        got = {
            tuple(r)
            for r in rt.lww_latest(rt.read_derived(spark, dest), ["doc_id"])
            .drop("height", "is_deletion")
            .collect()
        }
        assert got == want

    def test_tombstone_survives_fold_blocking_resurrection(
        self, spark, store, tmp_path
    ):
        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        store.write_batch(
            make_changelog(spark, [("doc", "docs", 11, "2", None)]),
            force=True,
        )
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        rt.compact_derived(spark, dest, fold_keys=["doc_id"])
        # a LATE, forced, lower-height append for the tombstoned doc: the
        # kept tombstone (height 11) must still win the LWW fold
        store.write_batch(
            make_changelog(
                spark, [("doc", "docs", 5, "2", "zombie content")]
            ),
            force=True,
        )
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        live = rt.lww_latest(rt.read_derived(spark, dest), ["doc_id"])
        assert live.filter("doc_id = 2").count() == 0


VECS = {
    i: [((i * 31 + j * 7) % 13 - 6) / 7.0 for j in range(8)]
    for i in range(12)
}


class TestMaterializedAnn:
    def test_bucket_topk_matches_recompute(self, spark, store, tmp_path):
        dest, ck = str(tmp_path / "lsh"), str(tmp_path / "ck")
        store.write_batch(vec_rows(spark, VECS))
        rt.refresh(
            spark,
            str(store.root),
            dest,
            rt.lsh_bucket_transform(n_planes=4, n_tables=4, dim=8),
            ck,
        )
        buckets = rt.lsh_live_buckets(rt.read_derived(spark, dest))
        corpus = spark.createDataFrame(
            [(i, v) for i, v in sorted(VECS.items())],
            "vec_id long, embedding array<float>",
        )
        queries = corpus.filter(F.col("vec_id") < 3)
        got = sorted(
            map(
                tuple,
                sim.lsh_topk_from_buckets(
                    buckets, queries, k=5, n_planes=4, n_tables=4, dim=8
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                sim.lsh_topk(
                    corpus, queries, k=5, n_planes=4, n_tables=4, dim=8
                ).collect(),
            )
        )
        # the JSON double round trip is exact, so scores hash-match
        assert got == want and len(got) > 0


class TestMaterializedQuantized:
    def test_quantized_topk_matches_recompute(self, spark, store, tmp_path):
        """The materialized int8 table answers quantized top-k
        bit-identically to re-quantizing the float corpus (integer-exact
        quantization; probe q8 fetched from the same standing table)."""
        dest, ck = str(tmp_path / "q8"), str(tmp_path / "ck")
        store.write_batch(vec_rows(spark, VECS))
        rt.refresh(spark, str(store.root), dest, rt.quantize_transform(), ck)
        qz = rt.lww_latest(rt.read_derived(spark, dest), ["vec_id"]).select(
            "vec_id", "q8", "scale_e9"
        )
        got = sorted(
            map(
                tuple,
                sim.quantized_topk_from_table(
                    qz, qz.filter(F.col("vec_id") < 3).select("vec_id"), k=5
                ).collect(),
            )
        )
        corpus = spark.createDataFrame(
            [(i, v) for i, v in sorted(VECS.items())],
            "vec_id long, embedding array<float>",
        )
        want = sorted(
            map(
                tuple,
                sim.quantized_topk(
                    corpus,
                    corpus.filter(F.col("vec_id") < 3).select("vec_id"),
                    k=5,
                ).collect(),
            )
        )
        assert got == want and len(got) > 0


class TestMaterializedIvf:
    """The assignment table as the IVF inverted file: queries probe
    frozen cells and re-rank ONLY those cells' rows — the corpus is
    never touched at query time."""

    def _index(self, spark, store, tmp_path, k=3):
        dest, ck = str(tmp_path / "ivf"), str(tmp_path / "ck")
        store.write_batch(vec_rows(spark, VECS))
        live = rt.lww_latest(
            rt.vector_relation(store.changelog()), ["vec_id"]
        ).select("vec_id", "embedding")
        cents = sim.kmeans_centroids(live, k=k, iters=2)
        rt.refresh(
            spark, str(store.root), dest,
            rt.centroid_assign_transform(cents), ck,
        )
        return dest, cents

    def test_full_probe_matches_brute_force(self, spark, store, tmp_path):
        dest, cents = self._index(spark, store, tmp_path)
        asg = rt.lww_latest(rt.read_derived(spark, dest), ["vec_id"])
        got = sorted(
            map(
                tuple,
                sim.ivf_topk_from_assignments(
                    asg,
                    cents,
                    asg.filter(F.col("vec_id") < 3).select(
                        "vec_id", "embedding"
                    ),
                    k=4,
                    n_probe=len(cents),
                ).collect(),
            )
        )
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in sorted(VECS.items())],
            "vec_id long, embedding array<double>",
        )
        want = sorted(
            map(
                tuple,
                sim.brute_force_topk(
                    corpus, corpus.filter(F.col("vec_id") < 3), k=4
                ).collect(),
            )
        )
        assert got == want and len(got) > 0

    def test_reduced_probe_searches_only_probed_cells(
        self, spark, store, tmp_path
    ):
        dest, cents = self._index(spark, store, tmp_path)
        asg = rt.lww_latest(rt.read_derived(spark, dest), ["vec_id"])
        res = sim.ivf_topk_from_assignments(
            asg,
            cents,
            asg.filter(F.col("vec_id") == 0).select("vec_id", "embedding"),
            k=12,
            n_probe=1,
        ).collect()
        # every candidate comes from the probe's own (single) cell
        clusters = {
            r.cluster
            for r in asg.join(
                spark.createDataFrame(
                    [(r.match_id,) for r in res], "vec_id long"
                ),
                "vec_id",
            ).collect()
        }
        own = asg.filter(F.col("vec_id") == 0).collect()[0].cluster
        assert clusters <= {own}
        assert len(res) > 0

    def test_service_ivf_topk(self, spark, store, tmp_path):
        dest, cents = self._index(spark, store, tmp_path)
        rt.save_centroids(dest, cents)
        svc = rt.RetrievalService(spark, kmeans_dest=dest)
        res = svc.ivf_topk(VECS[0], k=3, n_probe=len(cents)).collect()
        # the probe equals vector 0, so vector 0 is its own top match
        assert res[0].match_id == 0 and res[0].score == 1.0
        assert [r.rank for r in res] == [1, 2, 3]


class TestNeardupProbe:
    def test_probe_finds_near_dup_then_tombstone_hides_it(
        self, spark, store, tmp_path
    ):
        """The ingestion-time admission check: an incoming text that
        near-duplicates a stored doc is flagged from the standing
        signature table; deleting that doc (tombstone flows through the
        maintainer) removes it from the answer with no rebuild."""
        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        svc = rt.RetrievalService(spark, minhash_dest=dest)
        # probe with doc 1's own text: docs 0 and 1 are near-dups of it
        hits = {
            r.doc_id: r.est_jaccard
            for r in svc.neardup(DOCS1[1], threshold=0.5).collect()
        }
        assert hits.get(1) == 1.0  # exact same text -> identical sigs
        assert 0 in hits
        assert 2 not in hits
        # tombstone doc 1; the probe must stop returning it
        store.write_batch(
            make_changelog(spark, [("doc", "docs", 10, "1", None)]),
            force=True,
        )
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        hits = {
            r.doc_id
            for r in svc.neardup(DOCS1[1], threshold=0.5).collect()
        }
        assert 1 not in hits and 0 in hits

    def test_unrelated_probe_clears_threshold_filter(
        self, spark, store, tmp_path
    ):
        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        svc = rt.RetrievalService(spark, minhash_dest=dest)
        out = svc.neardup(
            "entirely novel words nothing shares any shingle here",
            threshold=0.5,
        ).collect()
        assert out == []


class TestMaterializedKmeans:
    def test_assignments_match_whole_corpus_kmeans(
        self, spark, store, tmp_path
    ):
        dest, ck = str(tmp_path / "asg"), str(tmp_path / "ck")
        store.write_batch(vec_rows(spark, VECS))
        live = rt.lww_latest(
            rt.vector_relation(store.changelog()), ["vec_id"]
        ).select("vec_id", "embedding")
        cents = sim.kmeans_centroids(live, k=3, iters=2)
        rt.refresh(
            spark,
            str(store.root),
            dest,
            rt.centroid_assign_transform(cents),
            ck,
        )
        got = sorted(
            map(
                tuple,
                rt.lww_latest(rt.read_derived(spark, dest), ["vec_id"])
                .select("vec_id", "cluster", "dist")
                .collect(),
            )
        )
        corpus = spark.createDataFrame(
            [(i, v) for i, v in sorted(VECS.items())],
            "vec_id long, embedding array<float>",
        )
        want = sorted(
            map(tuple, sim.kmeans_clusters(corpus, k=3, iters=2).collect())
        )
        assert got == want

    def test_new_vectors_assigned_to_frozen_model(
        self, spark, store, tmp_path
    ):
        dest, ck = str(tmp_path / "asg"), str(tmp_path / "ck")
        store.write_batch(vec_rows(spark, VECS))
        live = rt.lww_latest(
            rt.vector_relation(store.changelog()), ["vec_id"]
        ).select("vec_id", "embedding")
        cents = sim.kmeans_centroids(live, k=3, iters=2)
        rt.refresh(
            spark, str(store.root), dest,
            rt.centroid_assign_transform(cents), ck,
        )
        dirs_before = _commit_dirs(dest)
        extra = {100 + i: [0.5 * i] * 8 for i in range(3)}
        store.write_batch(vec_rows(spark, extra, h0=50), force=True)
        rt.refresh(
            spark, str(store.root), dest,
            rt.centroid_assign_transform(cents), ck,
        )
        # incremental: one new directory, no retrain/rebuild
        assert len(_commit_dirs(dest)) == len(dirs_before) + 1
        got = {
            (r.vec_id, r.cluster, r.dist)
            for r in rt.lww_latest(rt.read_derived(spark, dest), ["vec_id"])
            .filter(F.col("vec_id") >= 100)
            .select("vec_id", "cluster", "dist")
            .collect()
        }
        newv = spark.createDataFrame(
            [(i, v) for i, v in sorted(extra.items())],
            "vec_id long, embedding array<float>",
        )
        want = {
            tuple(r)
            for r in sim.assign_to_centroids(newv, cents).collect()
        }
        assert got == want


class TestMaterializedBm25:
    """Standing BM25: postings + doclen tables maintained incrementally,
    corpus stats cached at refresh time, queries touching only
    term-filtered postings — and every answer hash-identical to the
    whole-corpus recompute."""

    QUERY = ["quick", "spark", "state"]

    def _rank(self, spark, p_dest, d_dest, stats):
        from fluxdb_spark.functions import text as tx

        return sorted(
            map(
                tuple,
                tx.bm25_from_postings(
                    rt.read_derived(spark, p_dest),
                    rt.read_derived(spark, d_dest),
                    self.QUERY,
                    10,
                    stats=stats,
                ).collect(),
            )
        )

    def _recompute(self, spark, docs):
        from fluxdb_spark.functions import text as tx

        d = spark.createDataFrame(
            sorted(docs.items()), "doc_id long, text string"
        )
        return sorted(map(tuple, tx.bm25_scores(d, self.QUERY, 10).collect()))

    def test_incremental_updates_match_recompute(
        self, spark, store, tmp_path
    ):
        p_dest = str(tmp_path / "postings")
        d_dest = str(tmp_path / "doclen")
        ck = str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        stats = rt.bm25_refresh(spark, str(store.root), p_dest, d_dest, ck)
        assert stats == (3, sum(len(t.split()) for t in DOCS1.values()))
        assert rt.load_bm25_stats(d_dest) == stats
        assert self._rank(spark, p_dest, d_dest, stats) == self._recompute(
            spark, DOCS1
        )
        # incremental append: only new commit dirs land, stats advance
        before = _commit_dirs(p_dest)
        store.write_batch(doc_rows(spark, DOCS2))
        stats = rt.bm25_refresh(spark, str(store.root), p_dest, d_dest, ck)
        assert set(before) < set(_commit_dirs(p_dest))
        both = {**DOCS1, **DOCS2}
        assert stats[0] == len(both)
        assert self._rank(spark, p_dest, d_dest, stats) == self._recompute(
            spark, both
        )

    def test_term_filter_pushes_to_postings_scan(
        self, spark, store, tmp_path
    ):
        """The whole point of the postings table: a query's term filter
        must reach the parquet scan (row-group skipping), so a standing
        query reads O(matching postings), not the table."""
        import contextlib
        import io

        from fluxdb_spark.functions import text as tx

        p_dest = str(tmp_path / "postings")
        d_dest = str(tmp_path / "doclen")
        store.write_batch(doc_rows(spark, DOCS1))
        stats = rt.bm25_refresh(
            spark, str(store.root), p_dest, d_dest, str(tmp_path / "ck")
        )
        df = tx.bm25_from_postings(
            rt.read_derived(spark, p_dest),
            rt.read_derived(spark, d_dest),
            self.QUERY,
            10,
            stats=stats,
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        pushed = [
            line
            for line in buf.getvalue().splitlines()
            if "PushedFilters" in line and "In(term" in line
        ]
        assert pushed, buf.getvalue()

    def test_update_and_tombstone_via_live_height_join(
        self, spark, store, tmp_path
    ):
        """An edit that REMOVES terms must not leave stale postings
        live (the per-(doc,term) LWW trap), and a tombstoned doc must
        drop out of df/N/avgdl entirely."""
        p_dest = str(tmp_path / "postings")
        d_dest = str(tmp_path / "doclen")
        ck = str(tmp_path / "ck")
        store.write_batch(doc_rows(spark, DOCS1))
        rt.bm25_refresh(spark, str(store.root), p_dest, d_dest, ck)
        # doc 0 edited: 'quick' no longer present; doc 2 tombstoned
        new0 = "totally rewritten body mentioning spark only"
        store.write_batch(
            make_changelog(
                spark,
                [
                    ("doc", "docs", 10, "0", new0),
                    ("doc", "docs", 11, "2", None),
                ],
            ),
            force=True,
        )
        stats = rt.bm25_refresh(spark, str(store.root), p_dest, d_dest, ck)
        live = {0: new0, 1: DOCS1[1]}
        assert stats[0] == 2
        assert self._rank(spark, p_dest, d_dest, stats) == self._recompute(
            spark, live
        )


class TestCentroidPersistence:
    """The frozen k-means model must survive every dest-directory swap:
    rebuild-on-rewrite and compaction replace `dest` wholesale, so the
    model lives at a SIBLING path (`<dest>._centroids.json`)."""

    def test_model_survives_rewrite_rebuild_via_cli(
        self, spark, store, tmp_path, capsys
    ):
        from fluxdb_spark.__main__ import main

        dest, ck = str(tmp_path / "asg"), str(tmp_path / "ck")
        store.write_batch(vec_rows(spark, VECS))
        args = ["index-retrieval", "--store", str(store.root),
                "--dest", dest, "--checkpoint", ck,
                "--kind", "kmeans", "--k", "3", "--iters", "2"]
        assert main(args, spark) == 0
        cents1 = rt.load_centroids(dest)
        assert cents1 is not None
        # a DML rewrite triggers rebuild-on-rewrite, which swaps the
        # entire dest directory — the model file must not be lost
        store.delete_where("primary_key = '0'")
        assert main(args, spark) == 0
        cents2 = rt.load_centroids(dest)
        assert cents2 == cents1, "rebuild swap dropped the frozen model"
        # and a further append assigns to the SAME model (no retrain)
        extra = {200: [1.0] * 8}
        store.write_batch(vec_rows(spark, extra, h0=90), force=True)
        assert main(args, spark) == 0
        assert rt.load_centroids(dest) == cents1
        got = {
            (r.vec_id, r.cluster)
            for r in rt.lww_latest(rt.read_derived(spark, dest), ["vec_id"])
            .filter(F.col("vec_id") == 200)
            .select("vec_id", "cluster")
            .collect()
        }
        newv = spark.createDataFrame(
            [(200, extra[200])], "vec_id long, embedding array<float>"
        )
        want = {
            (r.vec_id, r.cluster)
            for r in sim.assign_to_centroids(newv, cents1).collect()
        }
        assert got == want

    def test_model_survives_compaction(self, spark, tmp_path):
        dest = str(tmp_path / "asg")
        os.makedirs(os.path.join(dest, "commit_hi=1"))
        cents = [[1, 2], [3, 4]]
        rt.save_centroids(dest, cents)
        # compaction needs >1 confirmed dir to act; with <=1 it is a
        # no-op, but either way the sibling model file must remain
        assert rt.load_centroids(dest) == cents
        assert os.path.exists(rt.centroids_path(dest))

    def test_legacy_in_dir_model_migrates_to_sibling(self, tmp_path):
        dest = str(tmp_path / "asg")
        os.makedirs(dest)
        cents = [[5, 6], [7, 8]]
        with open(os.path.join(dest, "_centroids.json"), "w") as f:
            json.dump(cents, f)
        assert rt.load_centroids(dest) == cents
        assert os.path.exists(rt.centroids_path(dest))
        assert not os.path.exists(os.path.join(dest, "_centroids.json"))
        # subsequent loads read the sibling
        assert rt.load_centroids(dest) == cents


class TestCentroidDrift:
    def test_drift_flagged_on_distribution_shift(
        self, spark, store, tmp_path, capsys
    ):
        """A frozen model must not decay silently: in-distribution
        appends stay quiet, far-out-of-distribution appends raise the
        drift flag (persisted in the model sidecar, surfaced via
        RetrievalService.metrics)."""
        from fluxdb_spark.__main__ import main

        dest, ck = str(tmp_path / "asg"), str(tmp_path / "ck")
        args = ["index-retrieval", "--store", str(store.root),
                "--dest", dest, "--checkpoint", ck,
                "--kind", "kmeans", "--k", "3", "--iters", "2"]
        store.write_batch(vec_rows(spark, VECS))
        assert main(args, spark) == 0
        model = rt.load_centroid_model(dest)
        assert model["baseline_mean_dist"] is not None
        assert model["baseline_mean_dist"] > 0
        # in-distribution delta: copies of training vectors — no flag
        extra_ok = {50 + i: VECS[i] for i in range(3)}
        store.write_batch(vec_rows(spark, extra_ok, h0=40), force=True)
        assert main(args, spark) == 0
        assert "WARNING: centroid drift" not in capsys.readouterr().out
        assert rt.load_centroid_model(dest)["drift_flagged"] is False
        # drifted delta: vectors far outside the trained distribution
        drifted = {100 + i: [50.0 + i] * 8 for i in range(3)}
        store.write_batch(vec_rows(spark, drifted, h0=60), force=True)
        assert main(args, spark) == 0
        assert "WARNING: centroid drift" in capsys.readouterr().out
        model = rt.load_centroid_model(dest)
        assert model["drift_flagged"] is True
        assert model["last_delta_rows"] == 3
        svc = rt.RetrievalService(spark, kmeans_dest=dest)
        m = svc.metrics()
        assert m["fluxdb_centroid_drift_flagged"] == 1
        assert m["fluxdb_centroid_baseline_mean_dist"] > 0
        # and the flag reaches server mode's /metrics scrape
        assert main(
            ["server", "--store", str(store.root), "--tablet", "vecs",
             "--height", "100", "--metrics-port", "0",
             "--kmeans-index", dest],
            spark,
        ) == 0
        out = capsys.readouterr().out
        assert "fluxdb_centroid_drift_flagged 1" in out


class TestMaterializedMinhashDedup:
    def test_dedup_from_sigs_matches_recompute(self, spark, store, tmp_path):
        dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
        docs = {**DOCS1, **DOCS2}
        store.write_batch(doc_rows(spark, docs))
        rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
        sigs = rt.lww_latest(
            rt.read_derived(spark, dest), ["doc_id"]
        )
        d = spark.createDataFrame(
            sorted(docs.items()), "doc_id long, text string"
        )
        got = sorted(
            map(
                tuple,
                dd.minhash_lsh_dedup_from_sigs(sigs, d, 0.8).collect(),
            )
        )
        want = sorted(map(tuple, dd.minhash_lsh_dedup(d, 0.8).collect()))
        assert got == want and len(got) > 0


class TestMaterializedPq:
    def _index(self, spark, store, tmp_path):
        dest, ck = str(tmp_path / "pq"), str(tmp_path / "ck_pq")
        live = rt.lww_latest(
            rt.vector_relation(store.changelog()), ["vec_id"]
        ).select("vec_id", "embedding")
        books = sim.pq_codebooks(live, m=2, ks=3, iters=2, dim=8)
        rt.refresh(
            spark, str(store.root), dest,
            rt.pq_codes_transform(books, dim=8), ck,
        )
        rt.save_pq_books(dest, books)
        return dest, ck, books

    def test_codes_topk_matches_recompute(self, spark, store, tmp_path):
        """The standing codes table answers ADC top-k bit-identically to
        encoding the float corpus per query (same frozen books, same
        exact integer argmin on both paths)."""
        store.write_batch(vec_rows(spark, VECS))
        dest, _ck, books = self._index(spark, store, tmp_path)
        codes = rt.lww_latest(
            rt.read_derived(spark, dest), ["vec_id"]
        ).select("vec_id", "codes")
        corpus = spark.createDataFrame(
            [(i, v) for i, v in sorted(VECS.items())],
            "vec_id long, embedding array<float>",
        )
        queries = corpus.filter(F.col("vec_id") < 3)
        got = sorted(map(tuple, sim.pq_topk_from_codes(
            codes, queries, books, k=5, dim=8
        ).collect()))
        want = sorted(map(tuple, sim.pq_topk_with_books(
            corpus, queries, books, k=5, dim=8
        ).collect()))
        assert got == want and len(got) == 15

    def test_new_vectors_encoded_with_frozen_books(
        self, spark, store, tmp_path
    ):
        """Append-after-train: the maintainer encodes new vectors with
        the SAME frozen codebooks (train-once / encode-forever), so their
        codes equal a direct pq_encode with the sidecar model."""
        store.write_batch(vec_rows(spark, VECS))
        dest, ck, books = self._index(spark, store, tmp_path)
        extra = {100: [0.9] * 8, 101: [-0.4] * 8}
        store.write_batch(vec_rows(spark, extra, h0=len(VECS)))
        rt.refresh(
            spark, str(store.root), dest,
            rt.pq_codes_transform(rt.load_pq_books(dest), dim=8), ck,
        )
        codes = {
            r.vec_id: list(r.codes)
            for r in rt.lww_latest(
                rt.read_derived(spark, dest), ["vec_id"]
            ).collect()
        }
        assert set(codes) == set(VECS) | set(extra)
        direct = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in sorted(extra.items())],
            "vec_id long, embedding array<float>",
        )
        for r in sim.pq_encode(direct, books, dim=8).collect():
            assert codes[r.vec_id] == list(r.codes)

    def test_service_pq_topk_unseen_probe(self, spark, store, tmp_path):
        store.write_batch(vec_rows(spark, VECS))
        dest, _ck, _books = self._index(spark, store, tmp_path)
        svc = rt.RetrievalService(spark, pq_dest=dest, pq_dim=8)
        rows = svc.pq_topk([0.1] * 8, k=4).collect()
        assert len(rows) == 4
        dists = [r.adist for r in rows]
        assert dists == sorted(dists)
        assert all(isinstance(r.adist, int) for r in rows)


class TestMaterializedBinary:
    """The packed sign-bit table (candidate scan) + int8 table (rerank)
    compose into the standing form of binary_topk."""

    def _index(self, spark, store, tmp_path):
        bdest, ck1 = str(tmp_path / "bits"), str(tmp_path / "ck_b")
        qdest, ck2 = str(tmp_path / "q8b"), str(tmp_path / "ck_q")
        rt.refresh(
            spark, str(store.root), bdest, rt.binarize_transform(dim=8), ck1
        )
        rt.refresh(
            spark, str(store.root), qdest, rt.quantize_transform(), ck2
        )
        return bdest, qdest, ck1, ck2

    def test_matches_recompute(self, spark, store, tmp_path):
        store.write_batch(vec_rows(spark, VECS))
        bdest, qdest, _c1, _c2 = self._index(spark, store, tmp_path)
        bz = rt.lww_latest(rt.read_derived(spark, bdest), ["vec_id"]).select(
            "vec_id", "b0"
        )
        qz = rt.lww_latest(rt.read_derived(spark, qdest), ["vec_id"]).select(
            "vec_id", "q8"
        )
        corpus = spark.createDataFrame(
            [(i, v) for i, v in sorted(VECS.items())],
            "vec_id long, embedding array<float>",
        )
        queries = corpus.filter(F.col("vec_id") < 3).select("vec_id")
        got = sorted(map(tuple, sim.binary_topk_from_tables(
            bz, qz, queries, k=5, rerank=8, dim=8
        ).collect()))
        want = sorted(map(tuple, sim.binary_topk(
            corpus, queries, k=5, rerank=8, dim=8
        ).collect()))
        assert got == want and len(got) == 15

    def test_incremental_append_then_service(self, spark, store, tmp_path):
        store.write_batch(vec_rows(spark, VECS))
        bdest, qdest, ck1, ck2 = self._index(spark, store, tmp_path)
        extra = {100: [0.9] * 8, 101: [-0.4] * 8}
        store.write_batch(vec_rows(spark, extra, h0=len(VECS)))
        rt.refresh(
            spark, str(store.root), bdest, rt.binarize_transform(dim=8), ck1
        )
        rt.refresh(
            spark, str(store.root), qdest, rt.quantize_transform(), ck2
        )
        svc = rt.RetrievalService(
            spark, binary_dest=bdest, quantize_dest=qdest
        )
        rows = svc.binary_topk(100, k=3).collect()
        assert len(rows) == 3
        assert all(r.match_id != 100 for r in rows)
        # 101 is 100's antipode: under cosine it must rank last, and the
        # all-positive probe's best Hamming matches come first
        assert rows[0].score > rows[-1].score

    def test_requires_both_indexes(self, spark, store, tmp_path):
        store.write_batch(vec_rows(spark, VECS))
        bdest, qdest, _c1, _c2 = self._index(spark, store, tmp_path)
        with pytest.raises(ValueError, match="no binary index"):
            rt.RetrievalService(spark, quantize_dest=qdest).binary_topk(0)
        with pytest.raises(ValueError, match="quantize index too"):
            rt.RetrievalService(spark, binary_dest=bdest).binary_topk(0)


DOCS_BPE = {
    0: "low low lower",
    1: "lowest slow slower glow",
    2: "flow flows flowing",
}


class TestMaterializedBpe:
    """The BPE-encoded corpus as standing state: frozen merge-list
    sidecar + map-only encode transform."""

    def _index(self, spark, store, tmp_path):
        from fluxdb_spark.functions import bpe

        dest, ck = str(tmp_path / "toks"), str(tmp_path / "ck_bpe")
        live = rt.lww_latest(
            rt.doc_relation(store.changelog()), ["doc_id"]
        ).select("doc_id", "text")
        merges = bpe.train_merges(live, n_merges=4)
        rt.save_bpe_merges(dest, merges)
        rt.refresh(
            spark, str(store.root), dest,
            rt.bpe_encode_transform(merges), ck,
        )
        return dest, ck, merges

    def test_matches_recompute_encoder(self, spark, store, tmp_path):
        from fluxdb_spark.functions import bpe

        store.write_batch(doc_rows(spark, DOCS_BPE))
        dest, _ck, merges = self._index(spark, store, tmp_path)
        got = sorted(
            map(
                tuple,
                rt.lww_latest(rt.read_derived(spark, dest), ["doc_id"])
                .select("doc_id", "n_tokens", "tokens")
                .collect(),
            )
        )
        docs = spark.createDataFrame(
            sorted(DOCS_BPE.items()), "doc_id long, text string"
        )
        want = sorted(
            map(tuple, bpe.encode_documents(docs, merges).collect())
        )
        assert got == want and len(got) == 3

    def test_new_docs_encode_with_frozen_merges(
        self, spark, store, tmp_path
    ):
        from fluxdb_spark.functions import bpe

        store.write_batch(doc_rows(spark, DOCS_BPE))
        dest, ck, _m = self._index(spark, store, tmp_path)
        extra = {10: "low glow slow"}
        store.write_batch(
            make_changelog(
                spark,
                [("doc", "docs", 4, "10", extra[10])],
            )
        )
        merges = rt.load_bpe_merges(dest)
        rt.refresh(
            spark, str(store.root), dest,
            rt.bpe_encode_transform(merges), ck,
        )
        live = {
            r.doc_id: r.tokens
            for r in rt.lww_latest(
                rt.read_derived(spark, dest), ["doc_id"]
            ).collect()
        }
        assert set(live) == {0, 1, 2, 10}
        direct = bpe.encode_documents(
            spark.createDataFrame([(10, extra[10])], "doc_id long, text string"),
            merges,
        ).collect()[0]
        assert live[10] == direct.tokens

    def test_tokenize_service_consistent_with_corpus(
        self, spark, store, tmp_path
    ):
        store.write_batch(doc_rows(spark, DOCS_BPE))
        dest, _ck, _m = self._index(spark, store, tmp_path)
        svc = rt.RetrievalService(spark, bpe_dest=dest)
        probe = svc.tokenize(DOCS_BPE[0]).collect()[0]
        stored = (
            rt.lww_latest(rt.read_derived(spark, dest), ["doc_id"])
            .filter(F.col("doc_id") == 0)
            .collect()[0]
        )
        assert probe.tokens == stored.tokens
        assert probe.n_tokens == stored.n_tokens

    def test_unconfigured_service_raises(self, spark):
        with pytest.raises(ValueError, match="no BPE index"):
            rt.RetrievalService(spark).tokenize("hello")


class TestMaterializedSpans:
    """The standing span index + serving-side contamination screen:
    RetrievalService.spans answers 'which token ranges of this unseen
    text appear verbatim in the corpus' from the positional shingle-hash
    table, with liveness by latest height (the posting-table shape)."""

    def _svc(self, spark, store, tmp_path):
        dest, ck = str(tmp_path / "spans"), str(tmp_path / "ck_spans")
        rt.refresh(
            spark, str(store.root), dest, rt.span_hash_transform(4), ck
        )
        svc = rt.RetrievalService(spark, spans_dest=dest)
        return svc, dest, ck

    def _spans(self, svc, text):
        return sorted(
            (r.span_start, r.span_end, r.span_tokens)
            for r in svc.spans(text, width=4).collect()
        )

    def test_contaminated_probe_flagged_clean_probe_empty(
        self, spark, store, tmp_path
    ):
        store.write_batch(doc_rows(spark, DOCS1))
        svc, _d, _c = self._svc(spark, store, tmp_path)
        # probe embeds 6 corpus tokens at positions 4..9
        probe = "my own words the quick brown fox jumps over here now"
        assert self._spans(svc, probe) == [(4, 9, 6)]
        assert self._spans(svc, "nothing here matches the corpus") == []

    def test_update_moves_liveness_to_new_version(
        self, spark, store, tmp_path
    ):
        store.write_batch(doc_rows(spark, {0: "alpha beta gamma delta "
                                              "epsilon zeta"}))
        svc, dest, ck = self._svc(spark, store, tmp_path)
        assert self._spans(svc, "alpha beta gamma delta") == [(1, 4, 4)]
        # replace the doc wholesale at a later height
        store.write_batch(
            make_changelog(
                spark, [("doc", "docs", 50, "0", "one two three four five")]
            ),
            force=True,
        )
        rt.refresh(
            spark, str(store.root), dest, rt.span_hash_transform(4), ck
        )
        assert self._spans(svc, "alpha beta gamma delta") == []
        assert self._spans(svc, "one two three four") == [(1, 4, 4)]

    def test_shortened_doc_does_not_resurrect_old_version(
        self, spark, store, tmp_path
    ):
        store.write_batch(doc_rows(spark, {0: "alpha beta gamma delta "
                                              "epsilon zeta"}))
        svc, dest, ck = self._svc(spark, store, tmp_path)
        # new version SHORTER than the shingle width -> emits only the
        # null marker row; the old version must stop matching
        store.write_batch(
            make_changelog(spark, [("doc", "docs", 50, "0", "tiny doc")]),
            force=True,
        )
        rt.refresh(
            spark, str(store.root), dest, rt.span_hash_transform(4), ck
        )
        assert self._spans(svc, "alpha beta gamma delta") == []

    def test_tombstone_removes_doc_from_screen(self, spark, store, tmp_path):
        store.write_batch(doc_rows(spark, DOCS1))
        svc, dest, ck = self._svc(spark, store, tmp_path)
        probe = "the quick brown fox jumps over"
        assert self._spans(svc, probe) != []
        store.write_batch(
            make_changelog(
                spark,
                [("doc", "docs", 60, "0", None), ("doc", "docs", 61, "1", None)],
            ),
            force=True,
        )
        rt.refresh(
            spark, str(store.root), dest, rt.span_hash_transform(4), ck
        )
        # docs 0 and 1 carried the phrase; doc 2 does not
        assert self._spans(svc, probe) == []

    def test_unconfigured_and_empty_index_raise(self, spark, tmp_path):
        svc = rt.RetrievalService(spark)
        with pytest.raises(ValueError, match="no span index"):
            svc.spans("anything")
