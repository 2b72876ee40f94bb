"""Fork-aware ingest: speculative overlay, fork switch, LIB advance —
the reference's hardest correctness area (pipeline.go:330-439), plus the
ForkDB bookkeeping itself."""

from __future__ import annotations

import pytest

from fluxdb_spark.forkdb import BlockRef, ForkDB, SpeculativeBlock
from fluxdb_spark.streaming.ingest import FluxEngine


def clrow(tablet, height, pk, value, block_id, collection="tst"):
    return (
        collection,
        tablet,
        height,
        pk,
        value,
        value == "" or value is None,
        block_id,
        height,
    )


class TestForkDB:
    def test_linear_segment(self):
        db = ForkDB(BlockRef("b0", 0))
        db.add_block(SpeculativeBlock(BlockRef("b1", 1), "b0"))
        db.add_block(SpeculativeBlock(BlockRef("b2", 2), "b1"))
        seg = db.reversible_segment("b2")
        assert [b.ref.id for b in seg] == ["b1", "b2"]

    def test_fork_choice(self):
        # two children of b1: b2a and b2b — segment follows the queried head
        db = ForkDB(BlockRef("b0", 0))
        db.add_block(SpeculativeBlock(BlockRef("b1", 1), "b0"))
        db.add_block(SpeculativeBlock(BlockRef("b2a", 2), "b1"))
        db.add_block(SpeculativeBlock(BlockRef("b2b", 2), "b1"))
        assert [b.ref.id for b in db.reversible_segment("b2a")] == ["b1", "b2a"]
        assert [b.ref.id for b in db.reversible_segment("b2b")] == ["b1", "b2b"]

    def test_unknown_head_empty(self):
        db = ForkDB(BlockRef("b0", 0))
        assert db.reversible_segment("nope") == []

    def test_advance_lib_purges(self):
        db = ForkDB(BlockRef("b0", 0))
        db.add_block(SpeculativeBlock(BlockRef("b1", 1), "b0"))
        db.add_block(SpeculativeBlock(BlockRef("b2", 2), "b1"))
        db.advance_lib(BlockRef("b1", 1))
        assert db.block("b1") is None
        assert db.block("b2") is not None
        assert [b.ref.id for b in db.reversible_segment("b2")] == ["b2"]

    def test_at_or_below_lib_ignored(self):
        db = ForkDB(BlockRef("b5", 5))
        db.add_block(SpeculativeBlock(BlockRef("old", 4), "x"))
        assert db.block("old") is None


class TestEngineOverlay:
    @pytest.fixture()
    def engine(self, spark, tmp_path):
        return FluxEngine(spark, str(tmp_path / "db"))

    def seed(self, spark, engine, rows):
        from fluxdb_spark.schema import CHANGELOG_SCHEMA

        engine.store.write_batch(spark.createDataFrame(rows, CHANGELOG_SCHEMA))
        # re-seed pipeline LIB from the fresh checkpoint
        ckpt = engine.store.checkpoint()
        engine.pipeline.forkdb.lib = BlockRef(ckpt.block_id, ckpt.height)

    def test_speculative_read_through_engine(self, spark, engine):
        # read_test.go:29-48 end-to-end: durable row, speculative delete
        self.seed(spark, engine, [clrow("tbl", 123, "002", "abc", "b123")])
        engine.pipeline.process_new_block(
            "b124", 124, "b123", [clrow("tbl", 124, "002", "", "b124")]
        )
        assert engine.state_at("tbl", 124, collection="tst").count() == 0
        # below the speculative delete the durable row is still visible
        got = engine.state_at("tbl", 123, collection="tst").collect()
        assert [(r.primary_key, r.value) for r in got] == [("002", "abc")]

    def test_fork_switch_changes_visibility(self, spark, engine):
        self.seed(spark, engine, [clrow("tbl", 100, "001", "base", "b100")])
        p = engine.pipeline
        p.process_new_block(
            "b101a", 101, "b100", [clrow("tbl", 101, "001", "forkA", "b101a")]
        )
        p.process_new_block(
            "b101b", 101, "b100", [clrow("tbl", 101, "001", "forkB", "b101b")]
        )
        # head is now b101b (last processed) — reads see fork B
        got = engine.state_at("tbl", 101, collection="tst").collect()
        assert [r.value for r in got] == ["forkB"]
        # explicit fork-A read via speculative_writes(head_id=...)
        from fluxdb_spark.operators import state_at

        spec_a = p.speculative_writes(head_id="b101a")
        got_a = state_at(
            engine.store.changelog(), "tbl", 101, spec_a, collection="tst"
        ).collect()
        assert [r.value for r in got_a] == ["forkA"]

    def test_irreversible_flush_then_overlay_gone(self, spark, engine):
        self.seed(spark, engine, [clrow("tbl", 1, "001", "v1", "b1")])
        p = engine.pipeline
        p.process_new_block("b2", 2, "b1", [clrow("tbl", 2, "001", "v2", "b2")])
        p.process_irreversible("b2", 2)
        p.flush()
        assert engine.store.checkpoint().height == 2
        assert p.speculative_writes() is None
        got = engine.state_at("tbl", 2, collection="tst").collect()
        assert [r.value for r in got] == [("v2")]

    def test_reversible_block_lookup(self, spark, engine):
        self.seed(spark, engine, [clrow("tbl", 1, "001", "v1", "b1")])
        p = engine.pipeline
        p.process_new_block("b2", 2, "b1", [clrow("tbl", 2, "001", "v2", "b2")])
        blk = p.forkdb.block("b2")
        assert blk is not None and blk.ref.num == 2

    def test_row_at_through_overlay(self, spark, engine):
        # the single-row read must see the head fork's speculative update
        # at its height and the durable version below it (fluxdb.go facade)
        self.seed(spark, engine, [clrow("tbl", 10, "k", "old", "b10")])
        engine.pipeline.process_new_block(
            "b11", 11, "b10", [clrow("tbl", 11, "k", "new", "b11")]
        )
        got = engine.row_at("tbl", 11, "k", collection="tst").collect()
        assert [r.value for r in got] == ["new"]
        got = engine.row_at("tbl", 10, "k", collection="tst").collect()
        assert [r.value for r in got] == ["old"]

    def test_row_at_speculative_tombstone_hides_row(self, spark, engine):
        self.seed(spark, engine, [clrow("tbl", 10, "k", "old", "b10")])
        engine.pipeline.process_new_block(
            "b11", 11, "b10", [clrow("tbl", 11, "k", "", "b11")]
        )
        assert engine.row_at("tbl", 11, "k", collection="tst").count() == 0

    def test_singlet_history_speculative_first(self, spark, engine):
        self.seed(
            spark,
            engine,
            [
                clrow("cfg", 1, "only", "v1", "b1"),
                clrow("cfg", 2, "only", "v2", "b2"),
            ],
        )
        engine.pipeline.process_new_block(
            "b3", 3, "b2", [clrow("cfg", 3, "only", "v3", "b3")]
        )
        got = [
            r.value
            for r in engine.singlet_history("cfg", collection="tst").collect()
        ]
        # speculative entry first, then durable newest-first (read.go:356-408)
        assert got == ["v3", "v2", "v1"]

    def test_has_rows_sees_overlay_only_tablet(self, spark, engine):
        self.seed(spark, engine, [clrow("tbl", 1, "001", "v1", "b1")])
        engine.pipeline.process_new_block(
            "b2", 2, "b1", [clrow("fresh", 2, "x", "v", "b2")]
        )
        assert engine.has_rows("fresh", collection="tst") is True
        assert engine.has_rows("tbl", collection="tst") is True
        assert engine.has_rows("absent", collection="tst") is False

    def test_checkpoint_and_block_lookup_via_facade(self, spark, engine):
        self.seed(spark, engine, [clrow("tbl", 5, "001", "v", "b5")])
        engine.pipeline.process_new_block(
            "b6", 6, "b5", [clrow("tbl", 6, "001", "w", "b6")]
        )
        assert engine.checkpoint().height == 5  # overlay never moves it
        assert engine.reversible_block("b6").ref.num == 6
        assert engine.reversible_block("nope") is None


class TestDriverRowsAsLocalRelation:
    """Driver-held rows (a flush batch, the speculative overlay) are
    planned as a JVM LocalRelation, so scanning them starts no Python
    worker — and they are checked exactly like createDataFrame(list)."""

    @pytest.fixture()
    def engine(self, spark, tmp_path):
        return FluxEngine(spark, str(tmp_path / "db"))

    def test_flush_and_overlay_frames_have_no_python_rdd(
        self, spark, engine, monkeypatch
    ):
        written = []
        write_batch = engine.store.write_batch
        monkeypatch.setattr(
            engine.store,
            "write_batch",
            lambda df, **kw: written.append(df) or write_batch(df, **kw),
        )
        p = engine.pipeline
        p.process_new_block("b1", 1, "", [clrow("tbl", 1, "a", "v1", "b1")])
        p.process_irreversible("b1", 1)
        p.flush()
        p.process_new_block("b2", 2, "b1", [clrow("tbl", 2, "a", "v2", "b2")])
        spec = p.speculative_writes()
        assert len(written) == 1 and spec is not None
        for df in (written[0], spec):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "LogicalRDD" not in plan, plan
            assert "LocalRelation" in plan, plan
        assert [r.value for r in spec.collect()] == ["v2"]
        assert engine.store.checkpoint().height == 1

    @pytest.mark.parametrize(
        "bad",
        [
            # None in a non-nullable column
            ("tst", None, 1, "k", "v", False, "b1", 1),
            # a float height: Arrow alone would cast 1.0 to a long
            ("tst", "tbl", 1.0, "k", "v", False, "b1", 1),
            # an int is_deletion
            ("tst", "tbl", 1, "k", "v", 1, "b1", 1),
        ],
        ids=["null-in-non-nullable", "float-height", "int-is-deletion"],
    )
    def test_rejects_what_create_dataframe_rejects(self, spark, bad):
        from pyspark.errors import PySparkException

        from fluxdb_spark.schema import CHANGELOG_SCHEMA, local_frame

        with pytest.raises(PySparkException) as want:
            spark.createDataFrame([bad], CHANGELOG_SCHEMA)
        with pytest.raises(PySparkException) as got:
            local_frame(spark, [bad], CHANGELOG_SCHEMA)
        assert type(got.value) is type(want.value)
        assert got.value.getCondition() == want.value.getCondition()

    @pytest.mark.parametrize(
        "rows",
        [
            [
                clrow("tbl", 1, "a", "v1", "b1"),
                clrow("tbl", 2, "a", "", "b2"),  # tombstone
                ("tst", "tbl", 3, "b", None, True, None, None),
            ],
            [],
        ],
        ids=["nulls-and-tombstones", "empty"],
    )
    def test_collects_like_the_list_path(self, spark, rows):
        from fluxdb_spark.schema import CHANGELOG_SCHEMA, local_frame

        got = local_frame(spark, rows, CHANGELOG_SCHEMA)
        want = spark.createDataFrame(rows, CHANGELOG_SCHEMA)
        assert got.schema == want.schema
        assert got.collect() == want.collect()


class TestStatefulSessionize:
    """applyInPandasWithState sessionization (streaming/stateful.py)."""

    def test_matches_batch_sessionization(self, spark):
        from fluxdb_spark.catalog import catalog

        specs = {s.name: s for s in catalog()}
        sf = "/root/testdata/sf0.001"
        got = {
            r.user_id: (r.n_sessions, r.max_session_events, r.avg_session_events)
            for r in specs["stream_sessionize"].spark(spark, sf).collect()
        }
        want = {
            r.user_id: (r.n_sessions, r.max_session_events, r.avg_session_events)
            for r in specs["sessionization"].spark(spark, sf).collect()
        }
        assert got == want

    def test_state_carries_across_batches(self):
        """Feed the group fold two successive 'micro-batches' and check the
        open session is continued, not restarted."""
        import pandas as pd

        from fluxdb_spark.streaming.stateful import (
            SESSION_GAP_US,
            _sessionize_group,
        )

        class FakeState:
            def __init__(self):
                self.exists = False
                self._t = None

            @property
            def get(self):
                return self._t

            def update(self, t):
                self._t = t
                self.exists = True

        st = FakeState()
        mk = lambda uss: pd.DataFrame(
            {"user_id": 7, "event_id": range(len(uss)), "us": uss}
        )
        # batch 1: two events 1 min apart -> one open session
        out1 = list(_sessionize_group((7,), iter([mk([0, 60_000_000])]), st))
        assert out1[0].iloc[0].to_dict() == {
            "user_id": 7,
            "n_sessions": 1,
            "max_session_events": 2,
            "avg_session_events": 2.0,
        }
        # batch 2: one event inside the gap (continues), one far beyond (new)
        out2 = list(
            _sessionize_group(
                (7,),
                iter([mk([60_000_000 + 1000, 60_000_000 + SESSION_GAP_US * 2])]),
                st,
            )
        )
        row = out2[0].iloc[0].to_dict()
        assert row["n_sessions"] == 2
        assert row["max_session_events"] == 3
        assert row["avg_session_events"] == 2.0


class TestBindStream:
    """bind_stream: Structured-Streaming micro-batches through the guarded
    durable write path (S3/S9: checkpointed resume comes from the stream's
    own checkpoint; the store checkpoint tracks the written heights)."""

    def test_streamed_ingest_equals_batch(self, spark, tmp_path):
        from fluxdb_spark.sources import changelog_from_events, load_table
        from fluxdb_spark.store import ChangelogStore
        from fluxdb_spark.streaming.ingest import IngestPipeline

        sf = "/root/testdata/sf0.001"
        store = ChangelogStore(spark, str(tmp_path / "store"))
        pipe = IngestPipeline(store)

        raw = (
            spark.readStream.schema(
                spark.read.parquet(f"{sf}/events.parquet").schema
            )
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf)
        )
        q = pipe.bind_stream(
            changelog_from_events(raw), str(tmp_path / "ckpt")
        )
        q.awaitTermination()

        batch = changelog_from_events(load_table(spark, sf, "events"))
        want_max = batch.agg({"height": "max"}).first()[0]
        assert store.checkpoint().height == want_max
        assert pipe.forkdb.lib.num == want_max
        assert store.changelog().count() == batch.count()
        # temporal read over the streamed store == read over the batch log
        from fluxdb_spark.operators import state_at

        a = sorted(
            (r.primary_key, r.height, r.value)
            for r in state_at(store.changelog(), "click", 700).collect()
        )
        b = sorted(
            (r.primary_key, r.height, r.value)
            for r in state_at(batch, "click", 700).collect()
        )
        assert a == b


class TestBackfillThenLive:
    """S3 — the live+historical merge pattern (reference pipeline.go:64-150
    ForkableHub): a batch backfill seeds the store, the checkpointed stream
    resumes on top WITHOUT duplicating backfilled heights, and fork blocks
    arriving through process_new_block overlay the merged log."""

    def test_stream_resumes_over_backfill_and_overlays_forks(
        self, spark, tmp_path
    ):
        from fluxdb_spark.operators import state_at
        from fluxdb_spark.sources import changelog_from_events, load_table
        from fluxdb_spark.store import ChangelogStore
        from fluxdb_spark.streaming.ingest import IngestPipeline

        sf = "/root/testdata/sf0.001"
        batch = changelog_from_events(load_table(spark, sf, "events"))
        h_mid = int(batch.agg({"height": "max"}).first()[0]) // 2

        # phase 1: batch backfill of the lower half
        store = ChangelogStore(spark, str(tmp_path / "store"))
        store.write_batch(batch.filter(f"height <= {h_mid}"))
        assert store.checkpoint().height == h_mid

        # phase 2: the live stream replays EVERYTHING; the guarded write
        # path must drop the already-backfilled heights (idempotent resume)
        pipe = IngestPipeline(store)
        raw = (
            spark.readStream.schema(
                spark.read.parquet(f"{sf}/events.parquet").schema
            )
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf)
        )
        q = pipe.bind_stream(changelog_from_events(raw), str(tmp_path / "ck"))
        q.awaitTermination()

        want_max = int(batch.agg({"height": "max"}).first()[0])
        assert store.checkpoint().height == want_max
        assert store.changelog().count() == batch.count()  # no duplicates

        # phase 3: a reversible block on top of the merged log
        pipe.process_new_block(
            "live1",
            want_max + 1,
            store.checkpoint().block_id,
            [("evt", "click", want_max + 1, "live_pk", "live_v", False,
              "live1", want_max + 1)],
        )
        spec = pipe.speculative_writes()
        got = state_at(
            store.changelog(), "click", want_max + 1, spec
        ).filter("primary_key = 'live_pk'").collect()
        assert [r.value for r in got] == ["live_v"]


class TestIngestMetrics:
    """Observed metrics + listener (streaming/metrics.py): the reference's
    head-block-number / drift metrics and readiness gate."""

    def test_listener_captures_head_and_rows(self, spark, tmp_path):
        import time as _time
        import uuid

        from fluxdb_spark.sources import changelog_from_events
        from fluxdb_spark.streaming.metrics import (
            IngestMetricsListener,
            observe_ingest,
        )

        sf = "/root/testdata/sf0.001"
        listener = IngestMetricsListener()
        spark.streams.addListener(listener)
        try:
            raw = (
                spark.readStream.schema(
                    spark.read.parquet(f"{sf}/events.parquet").schema
                )
                .option("pathGlobFilter", "events.parquet")
                .parquet(sf)
            )
            log = observe_ingest(changelog_from_events(raw))
            name = f"metrics_{uuid.uuid4().hex[:6]}"
            q = (
                log.writeStream.format("noop")
                .queryName(name)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # listener events are delivered asynchronously
            deadline = _time.time() + 30
            while listener.progress.total_rows == 0 and _time.time() < deadline:
                _time.sleep(0.5)
        finally:
            spark.streams.removeListener(listener)

        batch = changelog_from_events(
            spark.read.parquet(f"{sf}/events.parquet")
        )
        assert listener.progress.head_height == batch.agg(
            {"height": "max"}
        ).first()[0]
        assert listener.progress.total_rows == batch.count()
        assert listener.progress.total_tombstones == batch.filter(
            "is_deletion"
        ).count()
        assert listener.is_near_realtime(threshold_s=60.0)
        assert listener.seconds_behind() < 60.0


class TestLiveForkStream:
    """Verdict-r3 #2 — S3 live-merge under MOTION: a continuously-running
    StreamingQuery (rate source, processingTime trigger — NOT availableNow)
    delivers fork-signal block control through bind_live_blocks while the
    test thread concurrently issues FluxEngine reads, mirroring
    read_test.go's speculative scenarios: overlay freshness, fork switch at
    the same height, LIB advance flushing to the durable store."""

    def test_live_source_fork_switch_and_finality(self, spark, tmp_path):
        import json
        import time

        from pyspark.sql import functions as F

        from fluxdb_spark.streaming.ingest import FluxEngine

        def blk_rows(h, pk, v, bid):
            return json.dumps(
                [["evt", "tbl", h, pk, v, False, bid, h]]
            )

        script = [
            # seq, step, block_id, block_num, parent_id, rows_json
            (0, "new", "a1", 1, "", blk_rows(1, "x", "v1", "a1")),
            (1, "new", "a2", 2, "a1", blk_rows(2, "y", "a2v", "a2")),
            # fork at the SAME height: head switches from a2 to b2
            (2, "new", "b2", 2, "a1", blk_rows(2, "y", "b2v", "b2")),
            (3, "new", "b3", 3, "b2", blk_rows(3, "z", "v3", "b3")),
            # finality: a1 leaves the overlay and lands durably
            (4, "irreversible", "a1", 1, "", None),
            (5, "new", "b4", 4, "b3", blk_rows(4, "x", "v4", "b4")),
        ]
        script_df = spark.createDataFrame(
            script,
            "seq long, step string, block_id string, block_num long, "
            "parent_id string, rows_json string",
        )

        engine = FluxEngine(spark, str(tmp_path / "db"))
        pipe = engine.pipeline

        # rate ticks drive script consumption: real asynchronous
        # micro-batches, arrival order preserved via the seq sort
        ticks = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "20")
            .load()
            .withColumn("seq", F.col("value"))
        )
        control = ticks.join(F.broadcast(script_df), "seq", "inner").select(
            "seq", "step", "block_id", "block_num", "parent_id", "rows_json"
        )
        q = pipe.bind_live_blocks(control, str(tmp_path / "ck"))
        try:

            def wait_for(cond, timeout=120):
                t0 = time.monotonic()
                while time.monotonic() - t0 < timeout:
                    if cond():
                        return True
                    time.sleep(0.25)
                return False

            # the whole script lands while the query keeps running
            ok = wait_for(
                lambda: pipe.head is not None
                and pipe.head.id == "b4"
                and engine.checkpoint() is not None
                and engine.checkpoint().height == 1
            )
            assert ok, (
                f"stream never converged: head={pipe.head}, "
                f"ckpt={engine.checkpoint()}, exc={q.exception()}"
            )
            assert q.isActive  # reads below happen UNDER a live query

            # overlay freshness at head: durable x overridden by b4's x,
            # the fork SWITCH made b2's y win (a2's write invisible)
            got = {
                r.primary_key: r.value
                for r in engine.state_at("tbl", 4, collection="evt").collect()
            }
            assert got == {"x": "v4", "y": "b2v", "z": "v3"}

            # height-bounded speculative read: only the head-fork segment
            # at or below h=2 overlays (b2), durable x=v1 shows through
            got2 = {
                r.primary_key: r.value
                for r in engine.state_at("tbl", 2, collection="evt").collect()
            }
            assert got2 == {"x": "v1", "y": "b2v"}

            # LIB advance purged a1 from the overlay but kept the fork
            # blocks above it; S7 point lookup still sees the loser fork
            assert engine.reversible_block("a1") is None
            assert engine.reversible_block("a2") is not None
            assert engine.reversible_block("b3").ref.num == 3
            assert pipe.forkdb.lib.num == 1
        finally:
            q.stop()


    def test_live_socket_source_fork_switch_and_finality(
        self, spark, tmp_path
    ):
        """Verdict-r4 #3 — the same fork script delivered over a REAL
        network socket (the in-sandbox analog of the reference's gRPC
        block stream, pipeline.go:64-150): a TCP server emits one JSON
        line per block signal, `format("socket")` consumes it, and the
        control columns are parsed EXECUTOR-SIDE via from_json before
        reaching bind_live_blocks. Fork switch + finality are asserted
        under concurrent FluxEngine reads while the query stays live."""
        import json
        import socket
        import threading
        import time

        from pyspark.sql import functions as F

        from fluxdb_spark.streaming.ingest import FluxEngine

        def blk_rows(h, pk, v, bid):
            return json.dumps([["evt", "tbl", h, pk, v, False, bid, h]])

        script = [
            {"seq": 0, "step": "new", "block_id": "a1", "block_num": 1,
             "parent_id": "", "rows_json": blk_rows(1, "x", "v1", "a1")},
            {"seq": 1, "step": "new", "block_id": "a2", "block_num": 2,
             "parent_id": "a1", "rows_json": blk_rows(2, "y", "a2v", "a2")},
            {"seq": 2, "step": "new", "block_id": "b2", "block_num": 2,
             "parent_id": "a1", "rows_json": blk_rows(2, "y", "b2v", "b2")},
            {"seq": 3, "step": "new", "block_id": "b3", "block_num": 3,
             "parent_id": "b2", "rows_json": blk_rows(3, "z", "v3", "b3")},
            {"seq": 4, "step": "irreversible", "block_id": "a1",
             "block_num": 1, "parent_id": "", "rows_json": None},
            {"seq": 5, "step": "new", "block_id": "b4", "block_num": 4,
             "parent_id": "b3", "rows_json": blk_rows(4, "x", "v4", "b4")},
        ]

        server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        server.bind(("127.0.0.1", 0))
        server.listen(1)
        port = server.getsockname()[1]
        stop_serving = threading.Event()

        def serve():
            conn, _ = server.accept()
            with conn:
                for line in script:
                    conn.sendall((json.dumps(line) + "\n").encode())
                    time.sleep(0.1)  # spread across micro-batches
                stop_serving.wait(timeout=120)  # keep the pipe open

        t = threading.Thread(target=serve, daemon=True)
        t.start()

        engine = FluxEngine(spark, str(tmp_path / "db"))
        pipe = engine.pipeline

        control_schema = (
            "seq long, step string, block_id string, block_num long, "
            "parent_id string, rows_json string"
        )
        raw = (
            spark.readStream.format("socket")
            .option("host", "127.0.0.1")
            .option("port", str(port))
            .load()
        )
        control = raw.select(
            F.from_json("value", control_schema).alias("c")
        ).select("c.*")
        q = pipe.bind_live_blocks(control, str(tmp_path / "ck"))
        try:

            def wait_for(cond, timeout=120):
                t0 = time.monotonic()
                while time.monotonic() - t0 < timeout:
                    if cond():
                        return True
                    time.sleep(0.25)
                return False

            ok = wait_for(
                lambda: pipe.head is not None
                and pipe.head.id == "b4"
                and engine.checkpoint() is not None
                and engine.checkpoint().height == 1
            )
            assert ok, (
                f"socket stream never converged: head={pipe.head}, "
                f"ckpt={engine.checkpoint()}, exc={q.exception()}"
            )
            assert q.isActive

            got = {
                r.primary_key: r.value
                for r in engine.state_at("tbl", 4, collection="evt").collect()
            }
            assert got == {"x": "v4", "y": "b2v", "z": "v3"}

            assert engine.reversible_block("a1") is None
            assert engine.reversible_block("b3").ref.num == 3
            assert pipe.forkdb.lib.num == 1
        finally:
            stop_serving.set()
            q.stop()
            server.close()


class TestDistributedPayloadParse:
    """Verdict-r4 #4 — the live tier's rows_json decoding is tiered: small
    payloads go through driver json.loads (block-granular, O(blocks)),
    large payloads through the executor-side JVM from_json+explode parse.
    Both tiers must produce identical pipeline state, and the distributed
    parse must be pure JVM (no Python-UDF stage in the plan)."""

    def test_parsed_block_rows_is_jvm_and_typed(self, spark):
        import json

        from fluxdb_spark.streaming.ingest import parsed_block_rows

        payload = json.dumps(
            [
                ["evt", "tbl", 7, "x", "v7", False, "b7", 7],
                ["evt", "tbl", 8, "y", None, True, "b8", 8],
            ]
        )
        df = spark.createDataFrame(
            [(3, payload)], "seq long, rows_json string"
        )
        out = parsed_block_rows(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        opt = out._jdf.queryExecution().optimizedPlan().toString()
        assert "from_json" in opt or "JsonToStructs" in opt
        rows = [tuple(r) for r in out.collect()]
        assert rows == [
            (3, "evt", "tbl", 7, "x", "v7", False, "b7", 7),
            (3, "evt", "tbl", 8, "y", None, True, "b8", 8),
        ]

    def test_both_parse_tiers_produce_identical_state(self, spark, tmp_path):
        """The same fork script (including a bulky block payload) through
        the driver tier (huge threshold) and the distributed tier
        (threshold 0) must land identical durable rows, head, and
        overlay."""
        import json
        import time

        from pyspark.sql import functions as F

        from fluxdb_spark.streaming.ingest import FluxEngine

        bulk = json.dumps(
            [["evt", "tbl", 2, f"k{i}", f"v{i}", False, "a2", 2]
             for i in range(200)]
        )
        script = [
            (0, "new", "a1", 1, "",
             json.dumps([["evt", "tbl", 1, "x", "v1", False, "a1", 1]])),
            (1, "new", "a2", 2, "a1", bulk),
            (2, "irreversible", "a1", 1, "", None),
            (3, "new", "a3", 3, "a2",
             json.dumps([["evt", "tbl", 3, "z", "v3", False, "a3", 3]])),
        ]
        script_df = spark.createDataFrame(
            script,
            "seq long, step string, block_id string, block_num long, "
            "parent_id string, rows_json string",
        )

        def run(tag, threshold):
            engine = FluxEngine(spark, str(tmp_path / f"db-{tag}"))
            pipe = engine.pipeline
            ticks = (
                spark.readStream.format("rate")
                .option("rowsPerSecond", "20")
                .load()
                .withColumn("seq", F.col("value"))
            )
            control = ticks.join(
                F.broadcast(script_df), "seq", "inner"
            ).select(
                "seq", "step", "block_id", "block_num", "parent_id",
                "rows_json",
            )
            q = pipe.bind_live_blocks(
                control,
                str(tmp_path / f"ck-{tag}"),
                distributed_parse_bytes=threshold,
            )
            try:
                t0 = time.monotonic()
                while time.monotonic() - t0 < 120:
                    if (
                        pipe.head is not None
                        and pipe.head.id == "a3"
                        and engine.checkpoint() is not None
                        and engine.checkpoint().height == 1
                    ):
                        break
                    time.sleep(0.25)
                else:
                    raise AssertionError(
                        f"{tag} never converged: head={pipe.head}, "
                        f"exc={q.exception()}"
                    )
                durable = sorted(
                    tuple(r) for r in engine.store.changelog().collect()
                )
                overlay = sorted(
                    tuple(r)
                    for r in pipe.speculative_writes().collect()
                )
                return durable, pipe.head.id, pipe.forkdb.lib.num, overlay
            finally:
                q.stop()

        driver_state = run("driver", 10**9)
        dist_state = run("dist", 0)
        assert driver_state == dist_state
        # the bulky block really did take the distributed path
        assert len(driver_state[3]) == 201  # 200 bulk + 1 from a3


class TestAdaptiveIndexingFromIngest:
    """The write path drives the adaptive index cadence (reference
    indexCache: every write feeds mutation counters; crossing a
    shouldIndex threshold triggers a snapshot build right after the
    tipping flush). A hot tablet crossing 25K mutations gets a snapshot;
    a cold one does not; the snapshot answers indexed reads exactly."""

    def test_hot_tablet_gets_indexed_cold_does_not(self, spark, tmp_path):
        from fluxdb_spark.operators import state_at
        from fluxdb_spark.operators.snapshot import state_at_with_index
        from fluxdb_spark.store import ChangelogStore, IndexStore
        from fluxdb_spark.streaming.ingest import IngestPipeline

        store = ChangelogStore(spark, str(tmp_path / "db"))
        ixs = IndexStore(spark, str(tmp_path / "ix"))
        pipe = IngestPipeline(
            store, index_store=ixs, collection="tst", flush_rows=10**9
        )

        rows = [
            ("tst", "hot", h, f"k{h % 97}", f"v{h}", False, f"b{h}", h)
            for h in range(1, 26_001)
        ] + [
            ("tst", "cold", h, "c", f"v{h}", False, f"b{h}", h)
            for h in range(1, 101)
        ]
        rows.sort(key=lambda r: r[2])
        pipe.process_irreversible("b26000", 26_000, rows)
        pipe.flush()

        idx = ixs.read()
        hot_snaps = sorted(
            r.snapshot_height
            for r in idx.filter("tablet_id = 'hot'")
            .select("snapshot_height")
            .distinct()
            .collect()
        )
        assert hot_snaps == [26_000]
        assert idx.filter("tablet_id = 'cold'").count() == 0
        # counters reset after the build; the scheduler knows the size
        assert pipe.indexer.counters["hot"] == 0
        assert pipe.indexer.last_index_rows["hot"] == 97

        got = sorted(
            (r.primary_key, r.height)
            for r in state_at_with_index(
                store.changelog(), idx, "hot", 26_000, collection="tst"
            ).collect()
        )
        want = sorted(
            (r.primary_key, r.height)
            for r in state_at(
                store.changelog(), "hot", 26_000, collection="tst"
            ).collect()
        )
        assert got == want and len(got) == 97


class TestLiveToMaterializedAggregate:
    """Full data path, end to end: a continuously-running live block
    stream ingests through the fork handler, finality flushes rows into
    the durable store's commit log, and a CONCURRENT materialize
    follower folds each commit into an aggregate table — the serving
    loop a 100 TB deployment runs (live ingest on one side, incremental
    dashboards on the other), with no component mocked."""

    def test_live_ingest_feeds_incremental_aggregate(self, spark, tmp_path):
        import json
        import time

        from pyspark.sql import functions as F

        from fluxdb_spark.streaming.ingest import FluxEngine
        from fluxdb_spark.streaming.materialize import (
            materialize_aggregate,
            read_aggregate,
        )

        def blk_rows(h, pk, v, bid):
            return json.dumps([["evt", "tbl", h, pk, v, False, bid, h]])

        script = [
            (0, "new", "b1", 1, "", blk_rows(1, "x", "v1", "b1")),
            (1, "new", "b2", 2, "b1", blk_rows(2, "y", "v2", "b2")),
            (2, "new", "b3", 3, "b2", blk_rows(3, "z", "v3", "b3")),
            (3, "irreversible", "b1", 1, "", None),
            (4, "irreversible", "b2", 2, "", None),
            (5, "irreversible", "b3", 3, "", None),
        ]
        script_df = spark.createDataFrame(
            script,
            "seq long, step string, block_id string, block_num long, "
            "parent_id string, rows_json string",
        )
        db = str(tmp_path / "db")
        engine = FluxEngine(spark, db)
        pipe = engine.pipeline
        ticks = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "20")
            .load()
            .withColumn("seq", F.col("value"))
        )
        control = ticks.join(F.broadcast(script_df), "seq", "inner").select(
            "seq", "step", "block_id", "block_num", "parent_id", "rows_json"
        )
        dest = str(tmp_path / "agg")
        q_live = pipe.bind_live_blocks(control, str(tmp_path / "ck"))
        # the follower starts BEFORE ingest converges: it observes the
        # commit log grow as finality lands, batch by batch
        q_agg = materialize_aggregate(
            spark, db, dest, ["tablet_id"],
            [("n_rows", "count(1)", "sum"),
             ("max_height", "max(height)", "max")],
            str(tmp_path / "ck2"), trigger_seconds=0.5,
        )
        try:
            t0 = time.monotonic()
            while time.monotonic() - t0 < 120:
                ckpt = engine.checkpoint()
                if ckpt is not None and ckpt.height == 3:
                    break
                time.sleep(0.25)
            ckpt = engine.checkpoint()
            assert ckpt is not None and ckpt.height == 3, (
                f"live ingest never converged: ckpt={ckpt}, "
                f"exc={q_live.exception()}"
            )
            q_agg.processAllAvailable()  # drain whatever is left
        finally:
            q_live.stop()
            q_agg.stop()
        got = {
            (r.tablet_id, r.n_rows, r.max_height)
            for r in read_aggregate(spark, dest).collect()
        }
        want = {
            (r.tablet_id, r.n_rows, r.max_height)
            for r in engine.store.changelog()
            .groupBy("tablet_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.max("height").alias("max_height"),
            )
            .collect()
        }
        assert got == want == {("tbl", 3, 3)}


class TestStreamWorSample:
    """Streaming weighted reservoir (stateful.wor_stream)."""

    def test_drained_reservoir_matches_batch_topk(self, spark):
        from pyspark.sql import functions as F

        from fluxdb_spark.catalog import catalog
        from fluxdb_spark.functions.curation import wor_priority
        from fluxdb_spark.functions.text import token_count
        from fluxdb_spark.streaming.stateful import WOR_STREAM_K

        specs = {s.name: s for s in catalog()}
        sf = "/root/testdata/sf0.001"
        got = {
            (r.source, r.doc_id, r.weight, r.pri_e9)
            for r in specs["stream_wor_sample"].spark(spark, sf).collect()
        }
        d = spark.read.parquet(f"{sf}/documents.parquet").select(
            "source",
            "doc_id",
            token_count(F.col("text")).cast("long").alias("weight"),
        )
        ranked = d.withColumn(
            "pri_e9", wor_priority(F.col("doc_id"), F.col("weight"))
        ).collect()
        want = set()
        by_src: dict[str, list] = {}
        for r in ranked:
            by_src.setdefault(r.source, []).append(r)
        for rows in by_src.values():
            rows.sort(key=lambda r: (-r.pri_e9, r.doc_id))
            want |= {
                (r.source, r.doc_id, r.weight, r.pri_e9)
                for r in rows[:WOR_STREAM_K]
            }
        assert got == want

    def test_trim_is_lossless_across_batches(self):
        """A row evicted from the reservoir in batch 1 must not block a
        better late row in batch 2, and a worse late row never enters."""
        import pandas as pd

        from fluxdb_spark.streaming.stateful import WOR_STREAM_K, _wor_group

        class FakeState:
            def __init__(self):
                self.exists = False
                self._t = None

            @property
            def get(self):
                return self._t

            def update(self, t):
                self._t = t
                self.exists = True

        st = FakeState()
        mk = lambda trips: pd.DataFrame(
            {
                "id": [t[0] for t in trips],
                "w": [t[1] for t in trips],
                "pri": [t[2] for t in trips],
            }
        )
        # batch 1: k+2 rows; the two lowest priorities are trimmed
        b1 = [(i, 10, -100 - i) for i in range(WOR_STREAM_K + 2)]
        out1 = list(_wor_group(("s",), iter([mk(b1)]), st))[0].iloc[0]
        assert out1["ver"] == WOR_STREAM_K + 2
        assert len(out1["ids"]) == WOR_STREAM_K
        assert set(out1["ids"]) == set(range(WOR_STREAM_K))
        # batch 2: one row better than everything, one worse
        b2 = [(100, 10, -1), (101, 10, -999)]
        out2 = list(_wor_group(("s",), iter([mk(b2)]), st))[0].iloc[0]
        assert out2["ver"] == WOR_STREAM_K + 4
        assert out2["ids"][0] == 100  # best priority leads
        assert 101 not in out2["ids"]  # worse-than-cut never enters
        assert len(out2["ids"]) == WOR_STREAM_K


class TestStreamEmbedOutliers:
    """Streaming per-class anomaly watchlist (frozen-centroid top-k as
    GroupState, the _wor_group fold with priority = distance)."""

    def test_drained_watchlist_matches_batch_topk(self, spark):
        from fluxdb_spark.catalog import catalog
        from fluxdb_spark.functions import similarity as sim

        specs = {s.name: s for s in catalog()}
        sf = "/root/testdata/sf0.001"
        got = {
            (r.label, r.vec_id, r.dist_sq)
            for r in specs["stream_embed_outliers"].spark(spark, sf).collect()
        }
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        gcent = sim.global_centroid(e)
        from pyspark.sql import functions as F

        dist = F.aggregate(
            F.zip_with(
                F.expr(
                    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
                    " * 1000000) AS BIGINT))"
                ),
                F.lit(gcent),
                lambda x, c: (x - c) * (x - c),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        rows = e.select("label", "vec_id", dist.alias("d")).collect()
        by_label: dict[int, list] = {}
        for r in rows:
            by_label.setdefault(r.label, []).append(r)
        want = set()
        for members in by_label.values():
            members.sort(key=lambda r: (-r.d, r.vec_id))
            want |= {(r.label, r.vec_id, r.d) for r in members[:10]}
        assert got == want


class TestStreamLmScore:
    """Stream-static join: the drained streaming score table must be
    hash-identical to the batch lm_score relation."""

    def test_drain_equals_batch_lm(self, spark):
        from fluxdb_spark.catalog import catalog
        from fluxdb_spark.functions import text as tx
        from fluxdb_spark.sources.tables import load_table

        specs = {s.name: s for s in catalog()}
        sf = "/root/testdata/sf0.001"
        got = {
            (r.doc_id, r.n_bigrams, r.avg_logp)
            for r in specs["stream_lm_score"].spark(spark, sf).collect()
        }
        want = {
            (r.doc_id, r.n_bigrams, r.avg_logp)
            for r in tx.bigram_lm_scores(
                load_table(spark, sf, "documents")
            ).collect()
        }
        assert got == want and got


class TestStreamKeySkew:
    """The standing hot-key audit's drained counters must finish to a
    table EQUAL to the batch audit (shared finisher + shared oracle
    constant make the claim structural; this pins it end-to-end)."""

    def test_drain_equals_batch(self, spark):
        import fluxdb_spark.catalog as cat

        specs = {s.name: s for s in cat.catalog()}
        sf = "/root/testdata/sf0.001"
        batch = sorted(
            tuple(r) for r in specs["flux_key_skew"].spark(spark, sf).collect()
        )
        stream = sorted(
            tuple(r) for r in specs["stream_key_skew"].spark(spark, sf).collect()
        )
        assert stream == batch
        assert len(batch) > 0


class TestStreamShingleDf:
    """The standing shingle-df spectrum's drained counters must finish
    to a table EQUAL to the batch audit (shared finisher + shared oracle
    constant make the claim structural; this pins it end-to-end)."""

    def test_drain_equals_batch(self, spark):
        import fluxdb_spark.catalog as cat

        specs = {s.name: s for s in cat.catalog()}
        sf = "/root/testdata/sf0.001"
        batch = sorted(
            tuple(r)
            for r in specs["dedup_shingle_df_spectrum"]
            .spark(spark, sf)
            .collect()
        )
        stream = sorted(
            tuple(r)
            for r in specs["stream_shingle_df"].spark(spark, sf).collect()
        )
        assert stream == batch
        assert len(batch) > 0


class TestStreamPqDistortion:
    """The standing PQ distortion audit's drained partials must finish
    to a table EQUAL to the batch audit (shared frozen codebooks +
    shared rollup finisher + shared oracle make the claim structural;
    this pins it end-to-end)."""

    def test_drain_equals_batch(self, spark):
        import fluxdb_spark.catalog as cat

        specs = {s.name: s for s in cat.catalog()}
        sf = "/root/testdata/sf0.001"
        batch = sorted(
            tuple(r)
            for r in specs["embed_pq_distortion"].spark(spark, sf).collect()
        )
        stream = sorted(
            tuple(r)
            for r in specs["stream_pq_distortion"].spark(spark, sf).collect()
        )
        assert stream == batch
        assert len(batch) == 4


class TestStreamWinnow:
    """The standing winnowed-fingerprint postings must finish to a table
    EQUAL to the batch audit (shared profile + finisher + oracle
    constant make the claim structural; this pins it end-to-end)."""

    def test_drain_equals_batch(self, spark):
        import fluxdb_spark.catalog as cat

        specs = {s.name: s for s in cat.catalog()}
        sf = "/root/testdata/sf0.001"
        batch = sorted(
            tuple(r)
            for r in specs["dedup_winnow"].spark(spark, sf).collect()
        )
        stream = sorted(
            tuple(r)
            for r in specs["stream_winnow"].spark(spark, sf).collect()
        )
        assert stream == batch
        assert len(batch) > 0
