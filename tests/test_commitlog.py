"""Commit-log protocol: optimistic version claims, history, commit-level
time travel, and the physical DML rewrites recorded through it.

The log is the transaction-log half of a transactional table format
(Delta's `_delta_log` put-if-absent commits) re-created on a plain
filesystem — see store.CommitLog. The reference has no analog (its KV
batches are opaque); the closest semantics are the checkpoint-as-commit
atomicity (store/kv/store.go:418-443) these entries trail, and
`Batch.PurgeRow` (store/store.go:40-45) which `delete_where` generalizes
to a user-level operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from fluxdb_spark.schema import CHANGELOG_SCHEMA, local_frame
from fluxdb_spark.store import ChangelogStore, CommitLog, WriteConsistencyError
from fluxdb_spark.operators import state_at
from tests.conftest import make_changelog


@pytest.fixture()
def store(spark, tmp_path):
    return ChangelogStore(spark, str(tmp_path / "db"), height_band=10)


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


class TestCommitLogClaims:
    def test_versions_are_dense_and_ordered(self, tmp_path):
        log = CommitLog(str(tmp_path))
        for i in range(5):
            v = log.claim({"action": "append", "kind": "write_batch", "i": i})
            assert v == i + 1
        entries = log.entries()
        assert [e["version"] for e in entries] == [1, 2, 3, 4, 5]
        assert [e["i"] for e in entries] == [0, 1, 2, 3, 4]

    def test_entries_up_to(self, tmp_path):
        log = CommitLog(str(tmp_path))
        for i in range(4):
            log.claim({"action": "append", "i": i})
        assert [e["i"] for e in log.entries(up_to=2)] == [0, 1]
        assert [e["i"] for e in log.entries(after=2)] == [2, 3]
        assert [e["i"] for e in log.entries(after=1, up_to=3)] == [1, 2]
        assert log.entries(after=4) == []

    def test_entries_after_never_opens_older_entries(self, tmp_path):
        """A reader that resumes at `after` opens only the entries above
        it: corrupt entries at or below `after` would fail the read if
        they were opened."""
        log = CommitLog(str(tmp_path))
        for i in range(4):
            log.claim({"action": "append", "i": i})
        for version in (1, 2):
            with open(os.path.join(log.dir, log._name(version)), "w") as f:
                f.write("{not json")
        with pytest.raises(ValueError):
            log.entries()
        assert [e["i"] for e in log.entries(after=2)] == [2, 3]

    def test_claim_leaves_no_temp_files(self, tmp_path):
        log = CommitLog(str(tmp_path))
        log.claim({"action": "append"})
        assert not [f for f in os.listdir(log.dir) if f.startswith(".claim-")]

    def test_sweep_claims_age_gated(self, tmp_path):
        log = CommitLog(str(tmp_path))
        stray = os.path.join(log.dir, ".claim-deadbeef")
        with open(stray, "w") as f:
            f.write("{}")
        log.sweep_claims(min_age_s=3600)  # too young: kept
        assert os.path.exists(stray)
        os.utime(stray, (0, 0))
        log.sweep_claims(min_age_s=3600)  # ancient: swept
        assert not os.path.exists(stray)

    def test_contended_claims_cross_process(self, tmp_path):
        """Four processes, five claims each, no locks — the put-if-absent
        link is the only arbiter. Every claim must win a UNIQUE version
        and the final log must be dense: 20 entries, versions 1..20,
        every (proc, seq) pair present exactly once. This is the
        optimistic-concurrency guarantee a Delta-style commit protocol
        provides across writers."""
        script = r"""
import json, sys
sys.path.insert(0, sys.argv[3])
from fluxdb_spark.store import CommitLog

log = CommitLog(sys.argv[1])
me = sys.argv[2]
won = [log.claim({"action": "append", "proc": me, "seq": i}) for i in range(5)]
print(json.dumps(won))
"""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", script, str(tmp_path), f"p{i}", repo],
                stdout=subprocess.PIPE,
            )
            for i in range(4)
        ]
        all_versions = []
        for p in procs:
            out, _ = p.communicate(timeout=60)
            assert p.returncode == 0
            all_versions.extend(json.loads(out))
        assert sorted(all_versions) == list(range(1, 21))
        log = CommitLog(str(tmp_path))
        entries = log.entries()
        assert [e["version"] for e in entries] == list(range(1, 21))
        assert sorted((e["proc"], e["seq"]) for e in entries) == sorted(
            (f"p{i}", s) for i in range(4) for s in range(5)
        )


class TestHistoryAndTimeTravel:
    def test_append_history_and_time_travel(self, spark, store):
        store.write_batch(batch(spark, [1, 2, 3]))
        v1 = store.latest_commit_version()
        store.write_batch(batch(spark, [4, 5]))
        v2 = store.latest_commit_version()
        assert (v1, v2) == (1, 2)
        hist = store.history().collect()
        assert [(r.version, r.action, r.kind, r.hi) for r in hist] == [
            (1, "append", "write_batch", 3),
            (2, "append", "write_batch", 5),
        ]
        assert sorted(
            r.height for r in store.changelog(at_version=v1).collect()
        ) == [1, 2, 3]
        assert store.changelog(at_version=v2).count() == 5

    def test_time_travel_composes_with_height_bound(self, spark, store):
        store.write_batch(batch(spark, range(1, 25)))
        v1 = store.latest_commit_version()
        store.write_batch(batch(spark, [25, 26]))
        got = store.changelog(max_height=15, at_version=v1)
        assert sorted(r.height for r in got.collect()) == list(range(1, 16))

    def test_future_version_refused(self, spark, store):
        store.write_batch(batch(spark, [1]))
        with pytest.raises(WriteConsistencyError, match="does not exist"):
            store.changelog(at_version=99)

    def test_empty_history_refused(self, spark, store):
        with pytest.raises(WriteConsistencyError, match="no commit history"):
            store.changelog(at_version=1)

    def test_compact_is_a_rewrite_commit_and_raises_floor(
        self, spark, store
    ):
        for h in range(1, 5):
            store.write_batch(batch(spark, [h]))
        v_before = store.latest_commit_version()
        store.compact(min_files=2)
        hist = store.history().collect()
        assert hist[-1].action == "rewrite" and hist[-1].kind == "compact"
        # versions below the rewrite are gone (vacuumed eagerly) — loud
        with pytest.raises(WriteConsistencyError, match="predates rewrite"):
            store.changelog(at_version=v_before)
        # at and after the rewrite: exact
        assert sorted(
            r.height
            for r in store.changelog(
                at_version=store.latest_commit_version()
            ).collect()
        ) == [1, 2, 3, 4]

    def test_time_travel_after_appends_over_rewrite(self, spark, store):
        for h in range(1, 5):
            store.write_batch(batch(spark, [h]))
        store.compact(min_files=2)
        v_compact = store.latest_commit_version()
        store.write_batch(batch(spark, [5, 6]))
        assert sorted(
            r.height
            for r in store.changelog(at_version=v_compact).collect()
        ) == [1, 2, 3, 4]

    def test_expire_is_a_rewrite_commit(self, spark, tmp_path):
        st = ChangelogStore(spark, str(tmp_path / "edb"), height_band=5)
        st.write_batch(batch(spark, range(1, 14)))
        st.expire_bands(before_height=10)
        last = st.history().collect()[-1]
        assert (last.action, last.kind) == ("rewrite", "expire")
        assert last.files_removed >= 1
        # current state still reads exactly at the latest version
        assert (
            st.changelog(at_version=st.latest_commit_version()).count()
            == st.changelog().count()
        )

    def test_shard_streams_share_one_total_order(self, spark, tmp_path):
        st = ChangelogStore(spark, str(tmp_path / "sdb"))
        st.write_batch(batch(spark, [1, 2]), shard="0")
        st.write_batch(batch(spark, [1, 3], tablet="other"), shard="1")
        hist = st.history().collect()
        assert [r.version for r in hist] == [1, 2]
        assert sorted(r.shard for r in hist) == ["0", "1"]


class TestPhysicalDML:
    def test_purge_key_erases_all_history(self, spark, store):
        rows = make_changelog(
            spark,
            [("tst", "tbl", h, pk, f"{pk}@{h}") for h in range(1, 31)
             for pk in ("aaa", "bbb")],
        )
        store.write_batch(rows)
        assert store.changelog().count() == 60
        stats = store.purge_key("tst", "tbl", "aaa")
        # heights 1..30 at band size 10 span bands 0..3
        assert stats["rows_matched"] == 30 and stats["bands_rewritten"] == 4
        log = store.changelog()
        assert log.count() == 30
        assert log.filter(F.col("primary_key") == "aaa").count() == 0
        # temporal reads no longer see the key at ANY height
        assert [
            r.primary_key
            for r in state_at(log, "tbl", 30, collection="tst").collect()
        ] == ["bbb"]
        # checkpoint untouched: no height boundaries moved
        assert store.checkpoint().height == 30

    def test_untouched_bands_are_file_identical(self, spark, store):
        store.write_batch(
            make_changelog(
                spark,
                [("tst", "tbl", h, "low", f"v{h}") for h in range(1, 10)]
                + [("tst", "tbl", 25, "hit", "x")]
                + [("tst", "tbl", 26, "low2", "y")],
            )
        )
        def files_of(band):
            p = os.path.join(
                store._data_dir, "collection=tst", f"height_band={band}"
            )
            return sorted(
                (f, os.stat(os.path.join(p, f)).st_ino)
                for f in os.listdir(p)
                if f.endswith(".parquet")
            )
        band0_before = files_of(0)
        stats = store.delete_where("primary_key = 'hit'")
        assert stats["bands_rewritten"] == 1
        # band 0 had no matching rows: same files, same inodes
        assert files_of(0) == band0_before

    def test_delete_where_arbitrary_predicate(self, spark, store):
        store.write_batch(batch(spark, range(1, 21)))
        stats = store.delete_where("height BETWEEN 5 AND 8")
        assert stats["rows_matched"] == 4
        assert sorted(r.height for r in store.changelog().collect()) == [
            h for h in range(1, 21) if not 5 <= h <= 8
        ]

    def test_redact_where_rewrites_value_only(self, spark, store):
        store.write_batch(batch(spark, range(1, 11)))
        stats = store.redact_where(
            "height <= 3", "'[GDPR]'"
        )
        assert stats["rows_matched"] == 3 and stats["kind"] == "redact"
        got = {
            r.height: r.value for r in store.changelog().collect()
        }
        assert {h: got[h] for h in (1, 2, 3)} == {h: "[GDPR]" for h in (1, 2, 3)}
        assert got[4] == "v4"  # untouched rows keep their values
        # row count, heights, checkpoint all unchanged
        assert len(got) == 10 and store.checkpoint().height == 10

    def test_redact_where_expression_over_old_value(self, spark, store):
        store.write_batch(batch(spark, [1, 2]))
        store.redact_where(
            "height = 2", "regexp_replace(value, 'v', 'redacted-')"
        )
        got = {r.height: r.value for r in store.changelog().collect()}
        assert got == {1: "v1", 2: "redacted-2"}

    def test_dml_is_a_rewrite_commit(self, spark, store):
        store.write_batch(batch(spark, [1, 2, 3]))
        store.delete_where("height = 2")
        last = store.history().collect()[-1]
        assert (last.action, last.kind) == ("rewrite", "purge")
        assert (
            store.changelog(at_version=store.latest_commit_version()).count()
            == 2
        )

    def test_delete_entire_band_leaves_store_consistent(self, spark, store):
        store.write_batch(batch(spark, range(1, 25)))
        store.delete_where("height BETWEEN 11 AND 20")  # all of band 1
        assert sorted(r.height for r in store.changelog().collect()) == (
            list(range(1, 11)) + list(range(21, 25))
        )
        store.write_batch(batch(spark, [25]))  # store stays writable
        assert store.checkpoint().height == 25

    def test_dml_refused_over_pending_manifest(self, spark, store):
        store.write_batch(batch(spark, [1]))
        pending = os.path.join(store._manifest_dir, "batch-dead.json")
        with open(pending, "w") as f:
            json.dump({"hi": 99, "shard": None, "targets": []}, f)
        with pytest.raises(WriteConsistencyError, match="pending write"):
            store.delete_where("height = 1")
        os.remove(pending)

    def test_null_predicate_rows_are_kept(self, spark, store):
        """DELETE semantics: a NULL predicate is not a match — rows where
        the condition can't evaluate true must survive."""
        store.write_batch(
            make_changelog(
                spark,
                [
                    ("tst", "tbl", 1, "a", "xx"),
                    ("tst", "tbl", 2, "b", None),  # tombstone: value NULL
                ],
            )
        )
        stats = store.delete_where("value = 'xx'")
        assert stats["rows_matched"] == 1
        assert [r.height for r in store.changelog().collect()] == [2]


class TestDMLCrashRecovery:
    @pytest.mark.sweep
    def test_crash_at_every_fileop_heals_and_stays_exact(
        self, spark, tmp_path, monkeypatch
    ):
        """Crash-fuzz delete_where's journaled swap at every Python-side
        filesystem op (the same discipline as the write/compact fuzz):
        after recover, the store is either fully pre-delete or fully
        post-delete per band — never a half-rewritten band — and a re-run
        converges to the exact post-delete state with a consistent log."""
        from tests.test_store import _CrashHere, _FileOpCrasher

        crash_at = 0
        exhausted = False
        while not exhausted and crash_at < 40:
            root = str(tmp_path / f"ddb-{crash_at}")
            st = ChangelogStore(spark, root, height_band=5)
            st.write_batch(batch(spark, range(1, 13)))
            with monkeypatch.context() as mp:
                _FileOpCrasher(mp, crash_at)
                try:
                    st.delete_where("height IN (3, 7, 11)")
                    exhausted = True
                except _CrashHere:
                    pass
            lock = st._lock_path("maintenance")
            if os.path.exists(lock):
                with open(lock) as f:
                    d = json.load(f)
                d["ts"] = 0
                with open(lock, "w") as f:
                    json.dump(d, f)
            st2 = ChangelogStore(spark, root, height_band=5)
            if os.path.exists(lock):
                os.remove(lock)
            # every band is whole: each height present exactly once or,
            # for the targeted heights, possibly already deleted
            heights = sorted(r.height for r in st2.changelog().collect())
            assert len(heights) == len(set(heights)), f"crash_at={crash_at}"
            assert set(heights) | {3, 7, 11} == set(range(1, 13)), (
                f"crash_at={crash_at}"
            )
            st2.delete_where("height IN (3, 7, 11)")  # idempotent re-run
            assert sorted(r.height for r in st2.changelog().collect()) == [
                h for h in range(1, 13) if h not in (3, 7, 11)
            ], f"crash_at={crash_at}"
            sids = [
                e["swap_id"]
                for e in st2._backend.commit_log.entries()
                if "swap_id" in e
            ]
            assert sorted(sids) == sorted(set(sids)), f"crash_at={crash_at}"
            assert (
                st2.changelog(
                    at_version=st2.latest_commit_version()
                ).count()
                == st2.changelog().count()
            ), f"crash_at={crash_at}"
            crash_at += 1
        assert exhausted
        assert crash_at >= 5


# --- property test: random op sequences vs a Python model ----------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st_h


@st_h.composite
def store_op_sequences(draw):
    """A random interleaving of append / compact / delete_where ops.
    Appends stay contiguous (the monotonic guard requires it); deletes
    target either one height or one primary key below a height. Expire is
    deliberately absent: its live-tail rebase is covered by TestRetention
    and would fold the model's height axis."""
    ops = []
    next_h = 1
    n_ops = draw(st_h.integers(min_value=3, max_value=7))
    for _ in range(n_ops):
        kind = draw(st_h.sampled_from(["append", "append", "compact", "delete"]))
        if kind == "append":
            k = draw(st_h.integers(min_value=1, max_value=4))
            pks = [
                draw(st_h.sampled_from(["a", "b"]))
                for _ in range(k)
            ]
            ops.append(("append", [(next_h + i, pks[i]) for i in range(k)]))
            next_h += k
        elif kind == "compact":
            ops.append(("compact", None))
        else:
            if next_h == 1:
                continue  # nothing written yet
            mode = draw(st_h.sampled_from(["height", "pk_below"]))
            h = draw(st_h.integers(min_value=1, max_value=next_h - 1))
            pk = draw(st_h.sampled_from(["a", "b"]))
            ops.append(("delete", (mode, h, pk)))
    return ops


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=store_op_sequences())
def test_oplog_fuzz_time_travel_matches_model(spark, tmp_path_factory, ops):
    """Any random append/compact/delete sequence: the live read matches a
    naive Python model after every op, every recorded version at or above
    the rewrite floor time-travels to EXACTLY the model state it was
    recorded at, and every version below the floor refuses loudly."""
    root = tmp_path_factory.mktemp("oplogfuzz")
    st = ChangelogStore(spark, str(root / "db"), height_band=5)
    model: set = set()  # {(height, pk)}
    snapshots: list = []  # [(version, frozenset(model))]
    had_rewrite_at: list = []  # versions claimed by rewrite ops

    for kind, arg in ops:
        if kind == "append":
            st.write_batch(
                make_changelog(
                    spark, [("tst", "tbl", h, pk, f"v{h}{pk}") for h, pk in arg]
                )
            )
            model |= {(h, pk) for h, pk in arg}
        elif kind == "compact":
            before = st.latest_commit_version()
            st.compact(min_files=2)
            if st.latest_commit_version() > before:
                had_rewrite_at.append(st.latest_commit_version())
        else:
            mode, h, pk = arg
            before = st.latest_commit_version()
            if mode == "height":
                st.delete_where(f"height = {h}")
                model = {(mh, mpk) for mh, mpk in model if mh != h}
            else:
                st.delete_where(
                    (F.col("primary_key") == pk) & (F.col("height") <= h)
                )
                model = {
                    (mh, mpk)
                    for mh, mpk in model
                    if not (mpk == pk and mh <= h)
                }
            if st.latest_commit_version() > before:
                had_rewrite_at.append(st.latest_commit_version())
        got = {
            (r.height, r.primary_key) for r in st.changelog().collect()
        }
        assert got == model, f"live read diverged after {kind} {arg}"
        snapshots.append((st.latest_commit_version(), frozenset(model)))

    floor = max(had_rewrite_at, default=0)
    seen = set()
    for version, expected in snapshots:
        if version == 0 or version in seen:
            continue
        seen.add(version)
        if version < floor:
            with pytest.raises(WriteConsistencyError, match="predates"):
                st.changelog(at_version=version).collect()
        else:
            got = {
                (r.height, r.primary_key)
                for r in st.changelog(at_version=version).collect()
            }
            assert got == set(expected), f"time travel to v{version} diverged"

    # fsck invariant: NO random op sequence may leave debris the commit
    # log doesn't know about, or lose a file it references — the write
    # protocol's own crash-free paths are always self-consistent
    assert st.fsck() == {"orphans": [], "missing": [], "removed": 0}

    # incremental-read invariant: above the rewrite floor, the delta
    # between two commit versions is exactly the time-travel difference
    versions = sorted({v for v, _m in snapshots if v > 0})
    resolvable = [v for v in versions if v >= floor]
    for v1, v2 in zip(resolvable, resolvable[1:]):
        delta = {
            (r.height, r.primary_key)
            for r in st.appended_between(v1, v2).collect()
        }
        before_m = next(m for v, m in snapshots if v == v1)
        after_m = next(m for v, m in snapshots if v == v2)
        # appends only grow the log; deletes REWRITE history, so the
        # delta of an append commit is its new rows, and a rewrite
        # commit contributes none
        assert delta == {
            t for t in (set(after_m) - set(before_m))
        }, f"appended_between({v1},{v2}) diverged"


class TestAuditReads:
    def test_state_at_at_version_answers_as_of_commit(self, spark, tmp_path):
        """The audit form of R1: state_at(tablet, H, at_version=V) answers
        from the store exactly as committed at version V — later batches
        (even at lower heights than H) are invisible."""
        from fluxdb_spark.streaming.ingest import FluxEngine

        eng = FluxEngine(spark, str(tmp_path / "adb"))
        eng.store.write_batch(
            make_changelog(
                spark,
                [("tst", "tbl", 1, "a", "a1"), ("tst", "tbl", 2, "b", "b2")],
            )
        )
        v1 = eng.store.latest_commit_version()
        eng.store.write_batch(
            make_changelog(spark, [("tst", "tbl", 3, "a", "a3")])
        )
        # live read at height 3 sees the newer version of 'a'
        live = {
            r.primary_key: r.value
            for r in eng.state_at("tbl", 3, collection="tst").collect()
        }
        assert live == {"a": "a3", "b": "b2"}
        # the audit read at v1 answers the SAME height from yesterday's
        # store: 'a' is still a1
        audit = {
            r.primary_key: r.value
            for r in eng.state_at(
                "tbl", 3, at_version=v1, collection="tst"
            ).collect()
        }
        assert audit == {"a": "a1", "b": "b2"}


class TestSqlSurface:
    def test_register_sql_reproduces_engine_reads(self, spark, tmp_path):
        """SURVEY §7.6: a SQL-only consumer over the registered views gets
        the same answers as the DataFrame API — overlay included."""
        from fluxdb_spark.streaming.ingest import FluxEngine

        eng = FluxEngine(spark, str(tmp_path / "sqldb"))
        eng.store.write_batch(
            make_changelog(
                spark,
                [("tst", "tbl", 1, "a", "a1"), ("tst", "tbl", 2, "b", "b2")],
            )
        )
        # a speculative head block overlays a newer version of 'a'
        eng.pipeline.process_new_block(
            "f1", 3, "", [("tst", "tbl", 3, "a", "a3", False, "f1", 3)]
        )
        names = eng.register_sql()
        assert names == ["flux_changelog", "flux_checkpoint", "flux_history"]
        got = {
            (r.primary_key): (r.height, r.value)
            for r in spark.sql(
                """
                SELECT primary_key, height, value FROM (
                  SELECT *, row_number() OVER (
                           PARTITION BY collection, tablet_id, primary_key
                           ORDER BY height DESC) AS rn
                  FROM flux_changelog
                  WHERE tablet_id = 'tbl' AND height <= 3
                ) WHERE rn = 1 AND NOT is_deletion
                """
            ).collect()
        }
        want = {
            r.primary_key: (r.height, r.value)
            for r in eng.state_at("tbl", 3, collection="tst").collect()
        }
        assert got == want == {"a": (3, "a3"), "b": (2, "b2")}
        assert spark.sql(
            "SELECT height FROM flux_checkpoint"
        ).collect()[0].height == 2
        assert [
            r.kind for r in spark.sql(
                "SELECT kind FROM flux_history ORDER BY version"
            ).collect()
        ] == ["write_batch"]


class TestStoreFollower:
    def test_follow_store_delivers_committed_rows_exactly_once(
        self, spark, tmp_path
    ):
        """The outbound CDC feed: each committed batch's rows arrive at
        the sink exactly once, in commit order; a restart from the same
        checkpoint re-delivers nothing already seen."""
        from fluxdb_spark.streaming.follow import follow_store

        root = str(tmp_path / "fdb")
        ckpt = str(tmp_path / "fckpt")
        st = ChangelogStore(spark, root, height_band=10)
        st.write_batch(batch(spark, [1, 2, 3]))

        seen: list = []
        q = follow_store(
            spark, root,
            lambda rows, bid: seen.extend(
                r.height for r in rows.collect()
            ),
            ckpt, trigger_seconds=0.5,
        )
        try:
            q.processAllAvailable()  # deterministic: drain, don't poll
            assert sorted(seen) == [1, 2, 3], seen
            st.write_batch(batch(spark, [4, 5]))
            q.processAllAvailable()
            assert sorted(seen) == [1, 2, 3, 4, 5], seen
        finally:
            q.stop()
        # restart from the same checkpoint: only NEW commits flow
        seen2: list = []
        st.write_batch(batch(spark, [6]))
        q2 = follow_store(
            spark, root,
            lambda rows, bid: seen2.extend(
                r.height for r in rows.collect()
            ),
            ckpt, trigger_seconds=0.5,
        )
        try:
            q2.processAllAvailable()
            assert sorted(seen2) == [6], seen2
        finally:
            q2.stop()
        assert sorted(seen) == [1, 2, 3, 4, 5]  # first run saw no more

    def test_follower_ignores_rolled_back_batches(self, spark, tmp_path):
        """A torn batch (files moved, commit point never reached) is
        rolled back by recover() and earns no commit entry — the follower
        must never see its rows."""
        from fluxdb_spark.streaming.follow import follow_store

        root = str(tmp_path / "fdb2")
        st = ChangelogStore(spark, root, height_band=10)
        st.write_batch(batch(spark, [1]))
        # forge a torn batch: manifest present, files in place, but the
        # checkpoint (commit point) never advanced
        band = os.path.join(root, "changelog", "collection=tst", "height_band=0")
        orphan = os.path.join(band, "borphan-part-0.parquet")
        batch(spark, [2]).write.mode("overwrite").parquet(str(tmp_path / "tmpp"))
        import glob as _glob
        import shutil as _shutil

        src = _glob.glob(str(tmp_path / "tmpp" / "*.parquet"))[0]
        _shutil.copy(src, orphan)
        with open(os.path.join(root, "_manifests", "batch-dead.json"), "w") as f:
            json.dump(
                {"hi": 2, "shard": None, "batch_id": "dead",
                 "targets": [orphan], "staging": ""},
                f,
            )
        # reopen: recover rolls the torn batch back (no fresh lease)
        st2 = ChangelogStore(spark, root, height_band=10)
        assert not os.path.exists(orphan)
        seen: list = []
        q = follow_store(
            spark, root,
            lambda rows, bid: seen.extend(r.height for r in rows.collect()),
            str(tmp_path / "fckpt2"), trigger_seconds=0.5,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert sorted(seen) == [1]


class TestGenesisHealing:
    def test_pre_log_store_heals_at_open(self, spark, tmp_path):
        """A store whose data predates the commit log must not time-travel
        to silently incomplete file sets: opening it claims a genesis
        entry capturing the committed files, so version 1 is complete."""
        import shutil

        root = str(tmp_path / "gdb")
        st = ChangelogStore(spark, root, height_band=10)
        st.write_batch(batch(spark, [1, 2, 3]))
        shutil.rmtree(os.path.join(root, "_commits"))  # simulate old store
        st2 = ChangelogStore(spark, root, height_band=10)
        hist = st2.history().collect()
        assert [(r.version, r.action, r.kind) for r in hist] == [
            (1, "append", "genesis")
        ]
        assert sorted(
            r.height for r in st2.changelog(at_version=1).collect()
        ) == [1, 2, 3]
        # and the store continues accumulating normal history on top
        st2.write_batch(batch(spark, [4]))
        assert st2.changelog(
            at_version=st2.latest_commit_version()
        ).count() == 4


class TestLogCheckpoints:
    def test_checkpointed_resolution_is_identical(self, spark, store):
        """A log checkpoint is pure optimization: resolution with and
        without it yields the same file sets at every version."""
        for h in range(1, 7):
            store.write_batch(batch(spark, [h]))
        log = store._backend.commit_log
        before = {
            v: store._backend.files_at_version(v) for v in range(1, 7)
        }
        assert log.checkpoint_log() == 6
        after = {
            v: store._backend.files_at_version(v) for v in range(1, 7)
        }
        assert after == before
        # claims continue on top of the snapshot and resolve fine
        store.write_batch(batch(spark, [7]))
        assert store.changelog(at_version=7).count() == 7

    def test_checkpoint_carries_the_rewrite_floor(self, spark, store):
        store.write_batch(batch(spark, [1, 2]))
        store.write_batch(batch(spark, [3]))
        store.delete_where("height = 2")
        log = store._backend.commit_log
        log.checkpoint_log()
        log.prune_entries(keep_last=0)  # only the snapshot remains
        # the floor survives inside the checkpoint: pre-rewrite versions
        # still refuse rather than resolving wrongly
        with pytest.raises(WriteConsistencyError, match="predates rewrite"):
            store.changelog(at_version=1)
        # the checkpointed version itself resolves exactly
        assert sorted(
            r.height
            for r in store.changelog(
                at_version=store.latest_commit_version()
            ).collect()
        ) == [1, 3]

    def test_pruned_gap_refuses_instead_of_lying(self, spark, store):
        for h in range(1, 5):
            store.write_batch(batch(spark, [h]))
        log = store._backend.commit_log
        log.checkpoint_log()
        pruned = log.prune_entries(keep_last=1)
        assert pruned == 3  # v1..v3 dropped, v4 kept
        # versions inside the pruned region: loud refusal, never a
        # silently partial file set
        with pytest.raises(WriteConsistencyError, match="pruned"):
            store.changelog(at_version=2)
        assert store.changelog(at_version=4).count() == 4

    def test_compact_auto_checkpoints_the_log(self, spark, store):
        for h in range(1, 5):
            store.write_batch(batch(spark, [h]))
        store.compact(min_files=2)
        ckpt = store._backend.commit_log.newest_log_checkpoint()
        assert ckpt is not None
        assert ckpt["version"] == store.latest_commit_version()
        assert ckpt["floor"] == ckpt["version"]  # compact IS the rewrite


class TestReplication:
    def test_replicate_store_end_to_end_and_idempotent_redelivery(
        self, spark, tmp_path
    ):
        """replicate_store mirrors the source exactly, keeps up with new
        commits, and a full REDELIVERY (fresh follower checkpoint replays
        every commit) changes nothing — exactly-once via the destination
        guard, no sink bookkeeping."""
        from fluxdb_spark.streaming.follow import replicate_store

        src_root = str(tmp_path / "src")
        dst_root = str(tmp_path / "dst")
        src = ChangelogStore(spark, src_root, height_band=10)
        src.write_batch(batch(spark, [1, 2, 3]))
        src.write_batch(batch(spark, [4, 5]))

        q = replicate_store(
            spark, src_root, dst_root, str(tmp_path / "ck1"),
            trigger_seconds=0.5,
        )
        try:
            q.processAllAvailable()
            src.write_batch(batch(spark, [6]))
            q.processAllAvailable()
        finally:
            q.stop()
        dst = ChangelogStore(spark, dst_root, height_band=10)
        assert sorted(r.height for r in dst.changelog().collect()) == [
            1, 2, 3, 4, 5, 6,
        ]
        assert dst.checkpoint().height == 6
        # full redelivery from scratch: fresh follower checkpoint replays
        # every commit; the replica's guard absorbs it all
        q2 = replicate_store(
            spark, src_root, dst_root, str(tmp_path / "ck2"),
            trigger_seconds=0.5,
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        dst2 = ChangelogStore(spark, dst_root, height_band=10)
        assert sorted(r.height for r in dst2.changelog().collect()) == [
            1, 2, 3, 4, 5, 6,
        ]
        assert dst2.changelog().count() == 6  # no duplicates


class TestFollowerIgnoresLogCheckpoints:
    def test_checkpoint_files_invisible_to_the_stream(self, spark, tmp_path):
        """Log checkpoints live beside the entries but are hidden files
        (underscore prefix): the follower must deliver exactly the entry
        rows, before and after checkpointing + pruning."""
        from fluxdb_spark.streaming.follow import follow_store

        root = str(tmp_path / "hdb")
        st = ChangelogStore(spark, root, height_band=10)
        st.write_batch(batch(spark, [1, 2]))
        st.write_batch(batch(spark, [3]))
        log = st._backend.commit_log
        log.checkpoint_log()
        assert log.prune_entries(keep_last=0) == 2  # both entries pruned
        st.write_batch(batch(spark, [4]))
        seen: list = []
        q = follow_store(
            spark, root,
            lambda rows, bid: seen.extend(r.height for r in rows.collect()),
            str(tmp_path / "hck"), trigger_seconds=0.5,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # only the SURVIVING entry's rows flow (the pruned entries' rows
        # live in the checkpoint's cumulative state, which is a snapshot,
        # not a change event) — and the hidden checkpoint file itself
        # contributes nothing
        assert sorted(seen) == [4]


class TestAppendedBetween:
    """`appended_between(v1, v2)` — the Delta-CDF-style incremental read:
    O(delta) file resolution, loud refusal across rewrites and pruned
    entry regions (never silently-partial rows)."""

    def test_reads_exactly_the_delta(self, spark, store):
        store.write_batch(batch(spark, [1, 2]))       # v1
        v1 = store.latest_commit_version()
        store.write_batch(batch(spark, [3]))          # v2
        store.write_batch(batch(spark, [4, 5]))       # v3
        v3 = store.latest_commit_version()
        got = sorted(
            r.height for r in store.appended_between(v1, v3).collect()
        )
        assert got == [3, 4, 5]
        # open range defaults to latest
        assert sorted(
            r.height for r in store.appended_between(v1).collect()
        ) == [3, 4, 5]
        # empty range -> empty relation with the changelog schema
        empty = store.appended_between(v3)
        assert empty.count() == 0
        assert [f.name for f in empty.schema.fields][:2] == [
            "collection",
            "tablet_id",
        ]

    def test_delta_equals_changelog_difference(self, spark, store):
        store.write_batch(batch(spark, [1, 2, 3]))
        v = store.latest_commit_version()
        store.write_batch(batch(spark, [4, 5], tablet="other"))
        whole = {
            (r.tablet_id, r.height) for r in store.changelog().collect()
        }
        before = {
            (r.tablet_id, r.height)
            for r in store.changelog(at_version=v).collect()
        }
        delta = {
            (r.tablet_id, r.height)
            for r in store.appended_between(v).collect()
        }
        assert delta == whole - before

    def test_refuses_range_across_rewrite(self, spark, store):
        store.write_batch(batch(spark, [1, 2]))
        v1 = store.latest_commit_version()
        store.write_batch(batch(spark, [3]))
        store.compact(min_files=1, target_rows_per_file=10)
        store.write_batch(batch(spark, [4]))
        with pytest.raises(WriteConsistencyError, match="rewrite"):
            store.appended_between(v1)
        # range entirely above the rewrite is still resolvable
        rw = max(
            r.version
            for r in store.history().collect()
            if r.action == "rewrite"
        )
        assert sorted(
            r.height for r in store.appended_between(rw).collect()
        ) == [4]

    def test_compaction_below_the_range_passes_through(self, spark, store):
        """A compaction inside the range that rewrote only files added at
        or below `after` moves no rows into or out of the delta."""
        store.write_batch(batch(spark, [1, 2]))
        store.write_batch(batch(spark, [3]))
        v2 = store.latest_commit_version()
        store.compact(min_files=1, target_rows_per_file=10)
        store.write_batch(batch(spark, [14]), force=True)
        assert sorted(
            r.height for r in store.appended_between(v2).collect()
        ) == [14]

    def test_refuses_pruned_entries_and_bad_range(self, spark, store):
        store.write_batch(batch(spark, [1]))
        store.write_batch(batch(spark, [2]))
        store.write_batch(batch(spark, [3]))
        latest = store.latest_commit_version()
        with pytest.raises(WriteConsistencyError, match="invalid"):
            store.appended_between(latest + 1)
        with pytest.raises(WriteConsistencyError, match="invalid"):
            store.appended_between(2, 1)
        log = store._backend.commit_log
        log.checkpoint_log()
        log.prune_entries(keep_last=1)
        with pytest.raises(WriteConsistencyError, match="pruned"):
            store.appended_between(0)


class TestMaterializedAggregate:
    """Incremental aggregate maintenance (streaming/materialize.py):
    refresh cost is O(delta)+O(groups), exactly-once anchored to commit
    versions (not stream checkpoints), torn swaps recovered."""

    AGGS = [
        ("n_rows", "count(1)", "sum"),
        ("max_height", "max(height)", "max"),
        ("min_height", "min(height)", "min"),
    ]

    def _run(self, spark, root, dest, ck):
        from fluxdb_spark.streaming.materialize import materialize_aggregate

        q = materialize_aggregate(
            spark, root, dest, ["tablet_id"], self.AGGS, ck,
            trigger_seconds=0.5,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def _expect(self, store):
        return {
            (r.tablet_id, r.n_rows, r.max_height, r.min_height)
            for r in store.changelog()
            .groupBy("tablet_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.max("height").alias("max_height"),
                F.min("height").alias("min_height"),
            )
            .collect()
        }

    def _got(self, spark, dest):
        from fluxdb_spark.streaming.materialize import read_aggregate

        df = read_aggregate(spark, dest)
        return (
            set()
            if df is None
            else {
                (r.tablet_id, r.n_rows, r.max_height, r.min_height)
                for r in df.collect()
            }
        )

    def test_incremental_equals_recompute(self, spark, store, tmp_path):
        dest, ck = str(tmp_path / "agg"), str(tmp_path / "ck")
        store.write_batch(batch(spark, [1, 2]))
        store.write_batch(batch(spark, [3], tablet="other"))
        self._run(spark, str(store.root), dest, ck)
        assert self._got(spark, dest) == self._expect(store)
        # more appends -> the next run folds ONLY the delta, same answer
        store.write_batch(batch(spark, [4, 5]))
        store.write_batch(batch(spark, [6], tablet="third"))
        self._run(spark, str(store.root), dest, ck)
        assert self._got(spark, dest) == self._expect(store)

    def test_checkpoint_loss_redelivery_changes_nothing(
        self, spark, store, tmp_path
    ):
        import shutil as sh

        dest, ck = str(tmp_path / "agg"), str(tmp_path / "ck")
        store.write_batch(batch(spark, [1, 2, 3]))
        self._run(spark, str(store.root), dest, ck)
        before = self._got(spark, dest)
        # blow away the stream checkpoint: the whole commit log
        # redelivers, but the applied-version floor inside the table
        # excludes every already-folded entry
        sh.rmtree(ck)
        self._run(spark, str(store.root), dest, str(tmp_path / "ck2"))
        assert self._got(spark, dest) == before == self._expect(store)

    def test_torn_swap_recovers(self, spark, store, tmp_path):
        import os as _os

        from fluxdb_spark.streaming.materialize import (
            applied_version,
            read_aggregate,
        )

        dest, ck = str(tmp_path / "agg"), str(tmp_path / "ck")
        store.write_batch(batch(spark, [1, 2]))
        self._run(spark, str(store.root), dest, ck)
        before = self._got(spark, dest)
        v = applied_version(dest)
        # simulate a crash between the two swap renames: current table
        # renamed away, replacement tmp still in flight
        _os.rename(dest, dest + ".old-deadbeef")
        _os.makedirs(dest + ".tmp-deadbeef")
        assert self._got(spark, dest) == before
        assert applied_version(dest) == v
        assert not _os.path.exists(dest + ".tmp-deadbeef")
        assert read_aggregate(spark, dest) is not None

    def test_dml_rewrite_triggers_rebuild_not_divergence(
        self, spark, store, tmp_path
    ):
        dest, ck = str(tmp_path / "agg"), str(tmp_path / "ck")
        store.write_batch(batch(spark, [1, 2, 3]))
        store.write_batch(batch(spark, [4, 5], tablet="other"))
        self._run(spark, str(store.root), dest, ck)
        assert self._got(spark, dest) == self._expect(store)
        # a DML rewrite erases rows the aggregate already folded: the
        # delta fold alone would over-count forever, so the maintainer
        # must detect the rewrite commit and rebuild from the store
        store.delete_where("height <= 2")
        self._run(spark, str(store.root), dest, ck)
        assert self._got(spark, dest) == self._expect(store)
        # and it keeps folding incrementally afterwards
        store.write_batch(batch(spark, [6]))
        self._run(spark, str(store.root), dest, ck)
        assert self._got(spark, dest) == self._expect(store)

    def test_retention_rewrite_triggers_rebuild(self, spark, store, tmp_path):
        dest, ck = str(tmp_path / "agg"), str(tmp_path / "ck")
        store.write_batch(batch(spark, list(range(1, 25))))
        self._run(spark, str(store.root), dest, ck)
        store.expire_bands(before_height=15)
        self._run(spark, str(store.root), dest, ck)
        assert self._got(spark, dest) == self._expect(store)

    def test_compaction_folds_through_without_rebuild(
        self, spark, store, tmp_path
    ):
        from fluxdb_spark.streaming.materialize import applied_version

        dest, ck = str(tmp_path / "agg"), str(tmp_path / "ck")
        store.write_batch(batch(spark, [1, 2]))
        store.write_batch(batch(spark, [3, 4]))
        self._run(spark, str(store.root), dest, ck)
        before, v = self._got(spark, dest), applied_version(dest)
        # compact is a row-preserving band swap: the aggregate is
        # unaffected and no rebuild (floor jump) happens
        store.compact(min_files=1)
        assert store.latest_commit_version() > v  # a compact commit
        self._run(spark, str(store.root), dest, ck)
        assert self._got(spark, dest) == before == self._expect(store)
        assert applied_version(dest) == v

    def test_catchup_lagging_behind_compaction_rebuilds(
        self, spark, store, tmp_path
    ):
        """A compaction that merged away append files the aggregate has
        not folded yet forces a rebuild instead of a read of the deleted
        files (PATH_NOT_FOUND); the result equals a fresh maintainer's."""
        from fluxdb_spark.streaming.materialize import applied_version

        dest, ck = str(tmp_path / "agg"), str(tmp_path / "ck")
        store.write_batch(batch(spark, [1, 2]))
        store.write_batch(batch(spark, [3], tablet="other"))
        self._run(spark, str(store.root), dest, ck)
        store.write_batch(batch(spark, [4, 5]))
        store.compact(min_files=1)
        self._run(spark, str(store.root), dest, ck)
        fresh = str(tmp_path / "fresh")
        self._run(spark, str(store.root), fresh, str(tmp_path / "ck2"))
        assert self._got(spark, dest) == self._got(spark, fresh)
        assert self._got(spark, dest) == self._expect(store)
        assert applied_version(dest) == store.latest_commit_version()

    def test_corrupt_state_raises_instead_of_refolding(
        self, spark, store, tmp_path
    ):
        """A truncated state file must not read as "nothing folded yet":
        the next catch-up would fold every commit again on top of the
        table (3 rows + 4 rows = n_rows 7). The maintainer fails loudly
        and the table keeps its last good rows."""
        from pyspark.errors import StreamingQueryException

        from fluxdb_spark.streaming.materialize import _state_path

        dest, ck = str(tmp_path / "agg"), str(tmp_path / "ck")
        store.write_batch(batch(spark, [1, 2, 3]))
        self._run(spark, str(store.root), dest, ck)
        before = self._got(spark, dest)
        assert before == {("tbl", 3, 3, 1)}
        with open(_state_path(dest), "r+") as f:
            f.truncate(10)
        store.write_batch(batch(spark, [4]))
        with pytest.raises(
            StreamingQueryException,
            match=r"ValueError: derived table state \S*_mat_state\.json"
            r" is unreadable or corrupt",
        ):
            self._run(spark, str(store.root), dest, ck)
        assert self._got(spark, dest) == before

    def test_rejects_non_algebraic_merge(self, spark, store, tmp_path):
        from fluxdb_spark.streaming.materialize import materialize_aggregate

        with pytest.raises(ValueError, match="algebraic"):
            materialize_aggregate(
                spark, str(store.root), str(tmp_path / "agg"),
                ["tablet_id"], [("m", "median(height)", "median")],
                str(tmp_path / "ck"),
            )


class TestFsck:
    """fsck: commit-log vs on-disk consistency (the fsck + VACUUM pair)."""

    def test_clean_store_is_clean(self, spark, store):
        store.write_batch(batch(spark, [1, 2]))
        r = store.fsck()
        assert r == {"orphans": [], "missing": [], "removed": 0}

    def test_orphan_reported_then_removed_reads_unchanged(
        self, spark, store
    ):
        store.write_batch(batch(spark, [1, 2]))
        before = sorted(r.height for r in store.changelog().collect())
        band = os.path.join(
            str(store.root), "changelog", "collection=tst", "height_band=0"
        )
        alien = os.path.join(band, "alien-debris.parquet")
        # a stray data file (out-of-band copy): invisible to readers,
        # flagged by fsck, removed only on request
        import shutil as sh

        sh.copy(
            next(
                os.path.join(band, f)
                for f in os.listdir(band)
                if f.endswith(".parquet")
            ),
            alien,
        )
        r = store.fsck()
        assert r["orphans"] == [alien] and r["missing"] == []
        # debris is NOT harmless: the no-writer fast path scans the
        # directory, so the duplicate rows leak into reads — which is
        # exactly why fsck exists
        assert sorted(
            h.height for h in store.changelog().collect()
        ) == sorted(before + before)
        r = store.fsck(remove_orphans=True)
        assert r["removed"] == 1 and not os.path.exists(alien)
        # a removed path is repaired, not remaining debris
        assert r["orphans"] == []
        assert store.fsck() == {"orphans": [], "missing": [], "removed": 0}
        # repair restores the exact pre-debris reads
        assert sorted(h.height for h in store.changelog().collect()) == before

    def test_missing_file_reported_never_repaired(self, spark, store):
        store.write_batch(batch(spark, [1, 2]))
        latest = store.latest_commit_version()
        victim = store._backend.files_at_version(latest)[0]
        os.remove(victim)
        r = store.fsck()
        assert r["missing"] == [victim] and r["orphans"] == []

    def test_inflight_manifest_targets_are_not_orphans(self, spark, store):
        import time as _time

        store.write_batch(batch(spark, [1]))
        # simulate a concurrent writer mid-commit: FRESH lease held,
        # target file moved into the band, manifest present, checkpoint
        # NOT yet advanced (without the lease, recover() would rightly
        # roll the torn batch back — the writer would be dead)
        lock = store._lock_path("global")
        with open(lock, "w") as f:
            json.dump(
                {"pid": os.getpid(), "ts": _time.time(), "token": "t-live"},
                f,
            )
        band = os.path.join(
            str(store.root), "changelog", "collection=tst", "height_band=0"
        )
        target = os.path.join(band, "b12345678-inflight.parquet")
        import shutil as sh

        sh.copy(
            next(
                os.path.join(band, f)
                for f in os.listdir(band)
                if f.endswith(".parquet")
            ),
            target,
        )
        manifest = os.path.join(
            str(store.root), "_manifests", "batch-deadbeef.json"
        )
        with open(manifest, "w") as f:
            json.dump(
                {
                    "hi": 99,
                    "shard": None,
                    "batch_id": "deadbeef",
                    "targets": [target],
                    "staging": os.path.join(
                        str(store.root), "_staging", "batch-deadbeef"
                    ),
                },
                f,
            )
        try:
            r = store.fsck()
            assert r["orphans"] == [] and r["missing"] == []
        finally:
            os.remove(manifest)
            os.remove(lock)


class TestDerivedReplica:
    """replicate_store(transform=...): the incremental-materialized-view
    form of replication — a derived store maintained exactly-once from
    the source's commit log."""

    def test_redacted_replica(self, spark, store, tmp_path):
        from fluxdb_spark.streaming.follow import replicate_store
        from fluxdb_spark.functions.text import pii_stats  # noqa: F401

        store.write_batch(
            make_changelog(
                spark,
                [
                    ("tst", "tbl", 1, "a", "call 555-0199"),
                    ("tst", "tbl", 2, "b", "clean"),
                ],
            )
        )

        def redact(rows):
            return rows.withColumn(
                "value",
                F.regexp_replace("value", r"\d{3}-\d{4}", "[PHONE]"),
            )

        q = replicate_store(
            spark, str(store.root), str(tmp_path / "red"),
            str(tmp_path / "rck"), trigger_seconds=0.5, transform=redact,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rep = ChangelogStore(spark, str(tmp_path / "red"))
        got = {r.height: r.value for r in rep.changelog().collect()}
        assert got == {1: "call [PHONE]", 2: "clean"}
        # source untouched
        assert {
            r.height: r.value for r in store.changelog().collect()
        }[1] == "call 555-0199"

    def test_filtered_extract_with_force(self, spark, store, tmp_path):
        from fluxdb_spark.streaming.follow import replicate_store

        store.write_batch(
            make_changelog(
                spark,
                [
                    ("tst", "keep", 1, "a", "v1"),
                    ("tst", "drop", 2, "b", "v2"),
                    ("tst", "keep", 3, "c", "v3"),
                ],
            )
        )
        q = replicate_store(
            spark, str(store.root), str(tmp_path / "ext"),
            str(tmp_path / "eck"), trigger_seconds=0.5,
            transform=lambda r: r.filter(F.col("tablet_id") == "keep"),
            force=True,  # dropped rows leave height gaps by design
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rep = ChangelogStore(spark, str(tmp_path / "ext"))
        assert sorted(
            r.height for r in rep.changelog().collect()
        ) == [1, 3]


class TestFsckOrc:
    def test_fsck_is_format_aware(self, spark, tmp_path):
        """fsck over an ORC store: the on-disk walk keys off the
        backend's data suffix, so parquet debris in an ORC store is
        ignored (Spark never reads it) while ORC debris is caught."""
        import shutil as sh

        st = ChangelogStore(
            spark, str(tmp_path / "odb"), height_band=10, data_format="orc"
        )
        st.write_batch(batch(spark, [1, 2]))
        assert st.fsck() == {"orphans": [], "missing": [], "removed": 0}
        band = os.path.join(
            str(tmp_path / "odb"), "changelog",
            "collection=tst", "height_band=0",
        )
        src = next(
            os.path.join(band, f)
            for f in os.listdir(band)
            if f.endswith(".orc")
        )
        sh.copy(src, os.path.join(band, "debris.orc"))
        r = st.fsck(remove_orphans=True)
        assert r["removed"] == 1
        assert sorted(h.height for h in st.changelog().collect()) == [1, 2]


class TestMaterializeMultiGroup:
    def test_default_two_column_grouping(self, spark, store, tmp_path):
        from fluxdb_spark.streaming.materialize import (
            materialize_aggregate,
            read_aggregate,
        )

        store.write_batch(batch(spark, [1, 2]))
        store.write_batch(batch(spark, [3], tablet="other"))
        q = materialize_aggregate(
            spark, str(store.root), str(tmp_path / "g2"),
            ["collection", "tablet_id"],
            [("n_rows", "count(1)", "sum")],
            str(tmp_path / "g2ck"), trigger_seconds=0.5,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r.collection, r.tablet_id, r.n_rows)
            for r in read_aggregate(spark, str(tmp_path / "g2")).collect()
        }
        assert got == {("tst", "tbl", 2), ("tst", "other", 1)}


class TestTransformAggregate:
    """The `pre` seam: transform-aggregate IVM (row-wise explode before
    the algebraic fold) stays exact across incremental appends and the
    rebuild path."""

    def _run(self, spark, root, dest, ck):
        from fluxdb_spark.functions.text import tokens
        from fluxdb_spark.streaming.materialize import materialize_aggregate

        def pre(rows):
            return rows.select(
                F.explode(tokens(F.lower(F.col("value")))).alias("tok")
            )

        q = materialize_aggregate(
            spark, root, dest, ["tok"], [("c", "count(1)", "sum")], ck,
            trigger_seconds=0.5, pre=pre,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def _expect(self, store):
        from fluxdb_spark.functions.text import tokens

        return {
            (r.tok, r.c)
            for r in store.changelog()
            .select(F.explode(tokens(F.lower(F.col("value")))).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }

    def _read(self, spark, dest):
        from fluxdb_spark.streaming.materialize import read_aggregate

        return {
            (r.tok, r.c) for r in read_aggregate(spark, dest).collect()
        }

    def test_incremental_equals_recompute(self, spark, store, tmp_path):
        dest, ck = str(tmp_path / "agg"), str(tmp_path / "ck")
        docs = [
            ("tst", "tbl", 1, "a", "big city big dreams"),
            ("tst", "tbl", 2, "b", "new york new ideas"),
        ]
        store.write_batch(make_changelog(spark, docs[:1]))
        self._run(spark, str(store.root), dest, ck)
        assert self._read(spark, dest) == {
            ("big", 2), ("city", 1), ("dreams", 1)
        }
        store.write_batch(make_changelog(spark, docs[1:]))
        self._run(spark, str(store.root), dest, ck)
        assert self._read(spark, dest) == self._expect(store)

    def test_rewrite_triggers_exact_rebuild(self, spark, store, tmp_path):
        dest, ck = str(tmp_path / "agg"), str(tmp_path / "ck")
        store.write_batch(
            make_changelog(spark, [("tst", "tbl", 1, "a", "x y x")])
        )
        store.write_batch(
            make_changelog(spark, [("tst", "tbl", 2, "b", "y z")])
        )
        self._run(spark, str(store.root), dest, ck)
        store.delete_where("primary_key = 'a'")
        self._run(spark, str(store.root), dest, ck)
        assert self._read(spark, dest) == self._expect(store)
