"""Streaming ingestion with fork-aware speculative overlay.

The reference's stateful core (ProcessBlock, pipeline.go:330-439):

- StepNew: block enters the in-memory ForkDB; the speculative write-list for
  the current head fork is recomputed;
- StepIrreversible: the block's rows join the durable write batch, flushed
  when >5,000 rows or 1 s elapsed; LIB advances and the ForkDB is purged.

Spark-first translation: a Structured-Streaming `foreachBatch` (or direct
`process_block` calls for deterministic tests) where final rows append to the
ChangelogStore (atomic commit = checkpoint) and reversible rows live in the
driver-side ForkDB, exposed as a small DataFrame that read plans union on
top of durable data. The overlay never touches storage — exactly the
reference's design (no KV write for reversible data, pipeline.go:163-169).

Both driver-held row sets — a flush batch and the overlay — are built by
`schema.local_frame` as Arrow-backed `LocalRelation`s, so the jobs that scan
them (the flush's one staged write, every overlay-aware read) start no
Python worker.

Serving reads go through `FluxEngine` below, the analog of the reference's
FluxDB facade (fluxdb.go:104-154): `speculative_writes(height)` +
temporal operators, except the point reads (R2 `row_at`, R3 `singlet_at`,
R5 `has_rows`), which read the committed files through Arrow on the
driver and fold `speculative_rows(height)` in Python, with no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluxdb_spark.forkdb import BlockRef, ForkDB, SpeculativeBlock
from fluxdb_spark.schema import (
    CHANGELOG_COLUMNS,
    CHANGELOG_SCHEMA,
    local_frame,
)
from fluxdb_spark.store import ChangelogStore

FLUSH_ROWS = 5_000  # reference pipeline.go:374-382
FLUSH_SECONDS = 1.0

# block payloads above this size are parsed executor-side (JVM from_json
# + explode) instead of through driver json.loads — see bind_live_blocks
DISTRIBUTED_PARSE_BYTES = 65_536


def parsed_block_rows(control_df: DataFrame) -> DataFrame:
    """Executor-side parse of `rows_json` (a JSON array of
    CHANGELOG_SCHEMA tuples, i.e. array-of-arrays on the wire) into one
    typed row per change-log tuple, keyed by the block's `seq`.

    Pure JVM: from_json coerces every tuple element to string and the
    positional casts restore the schema types — no Python UDF, no
    driver json.loads. This is the scale path for a high-throughput
    live stream whose blocks carry large payloads."""
    t = F.col("t")
    return control_df.select(
        "seq",
        F.explode(
            F.from_json("rows_json", "array<array<string>>")
        ).alias("t"),
    ).select(
        "seq",
        t[0].alias("collection"),
        t[1].alias("tablet_id"),
        t[2].cast("long").alias("height"),
        t[3].alias("primary_key"),
        t[4].alias("value"),
        t[5].cast("boolean").alias("is_deletion"),
        t[6].alias("block_id"),
        t[7].cast("long").alias("block_num"),
    )


class IngestPipeline:
    """S5 — the fork-aware stateful ingest operator."""

    def __init__(
        self,
        store: ChangelogStore,
        lib: BlockRef | None = None,
        flush_rows: int = FLUSH_ROWS,
        index_store=None,
        collection: str = "evt",
    ):
        self.store = store
        ckpt = store.checkpoint()
        if lib is None:
            lib = (
                BlockRef(ckpt.block_id or "", ckpt.height)
                if ckpt is not None
                else BlockRef("", -1)
            )
        self.forkdb = ForkDB(lib)
        self.head: BlockRef | None = None
        self.flush_rows = flush_rows
        self._pending: list[tuple] = []  # irreversible rows awaiting flush
        self._pending_hi: BlockRef | None = None
        # optional adaptive indexing driven by the write path (reference
        # indexCache, indexing.go:486-525: every write feeds the mutation
        # counters; tablets crossing the shouldIndex thresholds get a
        # fresh snapshot built right after the flush that tipped them)
        self.index_store = index_store
        self.collection = collection
        if index_store is not None:
            from fluxdb_spark.operators.snapshot import IndexScheduler

            self.indexer = IndexScheduler()
        else:
            self.indexer = None

    # --- StepNew -----------------------------------------------------------

    def process_new_block(
        self, block_id: str, block_num: int, parent_id: str, rows: list[tuple]
    ) -> None:
        """A new (possibly reversible) block: track it and move the head.
        `rows` are CHANGELOG_SCHEMA tuples."""
        self.forkdb.add_block(
            SpeculativeBlock(BlockRef(block_id, block_num), parent_id, rows)
        )
        self.head = BlockRef(block_id, block_num)

    # --- StepIrreversible --------------------------------------------------

    def process_irreversible(
        self, block_id: str, block_num: int, rows: list[tuple] | None = None
    ) -> None:
        """A block became final: stage its rows for the durable batch,
        advance LIB, purge the ForkDB."""
        if rows is None:
            blk = self.forkdb.block(block_id)
            rows = blk.rows if blk is not None else []
        self._pending.extend(rows)
        self._pending_hi = BlockRef(block_id, block_num)
        self.forkdb.advance_lib(self._pending_hi)
        if len(self._pending) >= self.flush_rows:
            self.flush()

    def flush(self) -> None:
        """Write the staged irreversible rows as one atomic batch (reference
        flush at >5,000 rows / 1 s, pipeline.go:371-383), then run any
        index builds the batch's mutation counts made due."""
        if self._pending_hi is None:
            return
        df = local_frame(self.store.spark, self._pending, CHANGELOG_SCHEMA)
        if self.indexer is not None:
            from collections import Counter

            # rows are driver-side tuples here: counting is free
            counts = Counter(r[1] for r in self._pending)
            for tablet, n in counts.items():
                self.indexer.record_mutations(
                    tablet, n, self._pending_hi.num
                )
        self.store.write_batch(df)
        self._pending = []
        self._pending_hi = None
        self._run_due_indexing()

    def _run_due_indexing(self) -> None:
        """Build + persist snapshots for every tablet the scheduler marked
        due (reference's background indexer, indexing.go:225-302, driven
        here synchronously after the tipping flush)."""
        if self.indexer is None:
            return
        from fluxdb_spark.operators.snapshot import build_tablet_index

        for tablet, h in self.indexer.pop_scheduled().items():
            idx = build_tablet_index(
                self.store.changelog(max_height=h),
                tablet,
                h,
                collection=self.collection,
            )
            self.indexer.mark_indexed(tablet, self.index_store.write(idx))

    # --- serve-side overlay ------------------------------------------------

    def speculative_rows(
        self, up_to_height: int | None = None, head_id: str | None = None
    ) -> list[tuple]:
        """S6 — the speculative rows of the current head fork (reference
        FetchSpeculativeWrites, pipeline.go:228-265), oldest block first:
        walk LIB -> head, optionally truncate at a height or at a specific
        fork block."""
        target = head_id or (self.head.id if self.head else None)
        if target is None:
            return []
        rows: list[tuple] = []
        for blk in self.forkdb.reversible_segment(target):
            if up_to_height is not None and blk.ref.num > up_to_height:
                break
            rows.extend(blk.rows)
        return rows

    def speculative_writes(
        self, up_to_height: int | None = None, head_id: str | None = None
    ) -> DataFrame | None:
        """`speculative_rows` as a DataFrame (None when there are none),
        the overlay the Spark read plans union on top of durable data."""
        rows = self.speculative_rows(up_to_height, head_id)
        if not rows:
            return None
        return local_frame(self.store.spark, rows, CHANGELOG_SCHEMA)

    # --- Structured Streaming binding --------------------------------------

    def bind_stream(self, stream_df: DataFrame, checkpoint_dir: str):
        """Attach to a streaming change-log DataFrame: every micro-batch's
        rows are treated as irreversible (file/replay sources carry no fork
        signal) and appended through the guarded write path."""

        def handle(batch_df: DataFrame, epoch_id: int) -> None:
            # Stays distributed: write_batch observes the batch bounds on
            # its executor-side append — no driver collect.
            ckpt = self.store.write_batch(batch_df)
            if ckpt.height >= 0:
                self.forkdb.advance_lib(
                    BlockRef(ckpt.block_id or "", ckpt.height)
                )
            if self.indexer is not None and ckpt.height >= 0:
                # O(tablets) driver rows — the same accounting the
                # reference's indexCache does per write
                for r in (
                    batch_df.groupBy("tablet_id")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                ):
                    self.indexer.record_mutations(
                        r.tablet_id, int(r.n), ckpt.height
                    )
                self._run_due_indexing()

        return (
            stream_df.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def bind_live_blocks(
        self,
        control: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: float = 0.25,
        distributed_parse_bytes: int = DISTRIBUTED_PARSE_BYTES,
    ):
        """S3 live tier — a CONTINUOUSLY-RUNNING block-control stream (the
        shape a live gRPC source delivers: one StepNew / StepIrreversible
        signal per block, reference pipeline.go:64-150 / 330-439) routed
        through the fork-aware handler under real micro-batch timing.

        Control rows are block-granular and tiny, so the driver collect is
        O(blocks per micro-batch), never O(data rows) — the reference's
        live path is likewise block-at-a-time through its process loop.
        Payload parsing is TIERED: blocks whose `rows_json` is at or
        below `distributed_parse_bytes` decode via driver json.loads
        (one small string per block); larger payloads are parsed
        executor-side through `parsed_block_rows` (JVM from_json +
        explode), so a high-throughput stream never funnels bulk row
        decoding through the driver's Python JSON parser. Bulk row
        traffic belongs to `bind_stream`'s fully-distributed path; the
        two compose as backfill-then-live (tested in
        TestBackfillThenLive, mirroring the ForkableHub join).

        Expected columns: seq (total order), step ('new'|'irreversible'),
        block_id, block_num, parent_id, rows_json (JSON array of
        CHANGELOG_SCHEMA tuples carried by the block).
        """
        import json as _json

        def handle(batch_df: DataFrame, epoch_id: int) -> None:
            sized = batch_df.withColumn(
                "_nbytes",
                F.coalesce(F.octet_length("rows_json"), F.lit(0)),
            )
            # one collect for control + small payloads (big payloads are
            # masked out and never reach the driver as raw JSON)
            meta = sized.select(
                "seq",
                "step",
                "block_id",
                "block_num",
                "parent_id",
                "_nbytes",
                F.when(
                    F.col("_nbytes") <= F.lit(distributed_parse_bytes),
                    F.col("rows_json"),
                ).alias("rows_small"),
            ).collect()
            big_seqs = {
                r.seq
                for r in meta
                if r.step == "new" and r._nbytes > distributed_parse_bytes
            }
            parsed_big: dict[int, list[tuple]] = {}
            if big_seqs:
                big_rows = parsed_block_rows(
                    sized.filter(
                        F.col("_nbytes") > F.lit(distributed_parse_bytes)
                    )
                ).collect()
                for br in big_rows:
                    parsed_big.setdefault(br.seq, []).append(
                        (
                            br.collection,
                            br.tablet_id,
                            br.height,
                            br.primary_key,
                            br.value,
                            br.is_deletion,
                            br.block_id,
                            br.block_num,
                        )
                    )
            for r in sorted(meta, key=lambda row: row.seq):
                if r.step == "new":
                    if r.seq in big_seqs:
                        rows = parsed_big.get(r.seq, [])
                    else:
                        rows = [
                            tuple(t)
                            for t in _json.loads(r.rows_small or "[]")
                        ]
                    self.process_new_block(
                        r.block_id, int(r.block_num), r.parent_id or "", rows
                    )
                elif r.step == "irreversible":
                    self.process_irreversible(r.block_id, int(r.block_num))
                else:
                    raise ValueError(f"unknown step {r.step!r}")
            # micro-batch cadence doubles as the reference's 1 s flush timer
            self.flush()

        return (
            control.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(
                processingTime=f"{int(trigger_seconds * 1000)} milliseconds"
            )
            .start()
        )


class FluxEngine:
    """Facade = reference FluxDB struct (fluxdb.go:104-154): durable store +
    live overlay behind ALL seven temporal read ops — every read is
    overlay-aware, so a server-mode caller sees speculative head-fork rows
    exactly as the reference's serving path does (read.go:155-169)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.store = ChangelogStore(spark, root)
        self.pipeline = IngestPipeline(self.store)

    def state_at(
        self,
        tablet_id: str,
        height: int,
        at_version: int | None = None,
        **kw,
    ) -> DataFrame:
        """R1 over the live store — or, with `at_version`, the AUDIT form:
        the snapshot at height H exactly as the store could answer it at
        commit version V ("what did we serve yesterday?"). The two time
        axes compose: height is the data model's own time (reference
        semantics), at_version is the storage commit history (store
        CommitLog). Audit reads skip the speculative overlay — the
        overlay is the live head, which by definition post-dates any
        historical commit."""
        from fluxdb_spark.operators import state_at

        if at_version is not None:
            return state_at(
                self.store.changelog(
                    max_height=height, at_version=at_version
                ),
                tablet_id, height, None, **kw,
            )
        spec = self.pipeline.speculative_writes(up_to_height=height)
        # max_height turns the height bound into a PARTITION filter on the
        # band-partitioned store — a read at H never lists bands above it
        return state_at(
            self.store.changelog(max_height=height), tablet_id, height, spec,
            **kw,
        )

    def _point(
        self,
        tablet_id: str,
        height: int,
        primary_key: str | None,
        collection: str | None,
    ) -> list[tuple]:
        """R2 / R3 on the driver, with no Spark job: the newest version at
        or below `height` of `primary_key` in the tablet (of any key when
        it is None: a singlet), as zero or one CHANGELOG_SCHEMA tuple.

        Durable versions come from the store's Arrow scan as `_src` 0 and
        the overlay's as `_src` 1; the max (height, _src) wins and a
        tombstone answers nothing — the rule of operators/temporal.py,
        which stays the oracle (tests/test_properties.py)."""
        best = None  # ((height, _src), row)
        durable = self.store.point_versions(
            tablet_id, height, primary_key, collection
        )
        if durable.num_rows:
            top = durable.sort_by([("height", "descending")]).slice(0, 1)
            row = tuple(top.column(c)[0].as_py() for c in CHANGELOG_COLUMNS)
            best = ((row[2], 0), row)
        for row in self.pipeline.speculative_rows(up_to_height=height):
            if (
                row[1] == tablet_id
                and row[2] <= height
                and (primary_key is None or row[3] == primary_key)
                and (collection is None or row[0] == collection)
                and (best is None or (row[2], 1) >= best[0])
            ):
                best = ((row[2], 1), row)
        # a null flag answers nothing either, as under Spark's
        # ~is_deletion filter
        if best is None or best[1][5] in (True, None):
            return []
        return [best[1]]

    def row_at(
        self,
        tablet_id: str,
        height: int,
        primary_key: str,
        collection: str | None = None,
    ) -> DataFrame:
        """R2 (reference ReadTabletRowAt, read.go:180-293), answered on
        the driver by `_point`; the frame is a LocalRelation, so
        collecting it runs no Spark job either."""
        return local_frame(
            self.spark,
            self._point(tablet_id, height, primary_key, collection),
            CHANGELOG_SCHEMA,
        )

    def singlet_at(
        self, singlet_id: str, height: int, collection: str | None = None
    ) -> DataFrame:
        """R3 (reference ReadSingletEntryAt, read.go:300-349), answered
        on the driver like `row_at`."""
        return local_frame(
            self.spark,
            self._point(singlet_id, height, None, collection),
            CHANGELOG_SCHEMA,
        )

    def singlet_history(self, singlet_id: str, **kw) -> DataFrame:
        from fluxdb_spark.operators import singlet_history

        spec = self.pipeline.speculative_writes()
        return singlet_history(self.store.changelog(), singlet_id, spec, **kw)

    def has_rows(self, tablet_id: str, collection: str | None = None) -> bool:
        """R5 (reference HasSeenAnyRowForTablet, read.go:410-415) on the
        driver: the overlay first, then the store's Arrow scan up to its
        first batch that holds a row."""
        if any(
            row[1] == tablet_id
            and (collection is None or row[0] == collection)
            for row in self.pipeline.speculative_rows()
        ):
            return True
        return any(
            batch.num_rows
            for batch in self.store.point_scan(
                tablet_id, collection=collection
            ).to_batches()
        )

    def checkpoint(self):
        """R6 — last durable (height, block); the overlay never moves it."""
        return self.store.checkpoint()

    def state_series(
        self, tablet_id: str, start: int, stop: int, step: int, **kw
    ) -> DataFrame:
        """Snapshot time series over the overlay-merged log (see
        operators/temporal.state_series): speculative head-fork rows
        participate exactly as they do in `state_at`, so grid points at
        or above the fork's heights reflect the current head."""
        from fluxdb_spark.operators import state_series

        return state_series(
            self._overlaid(stop), tablet_id, start, stop, step, **kw
        )

    def state_join(
        self,
        tablets: list[str],
        height: int,
        how: str = "inner",
        **kw,
    ) -> DataFrame:
        """Cross-tablet state join over the live store (see
        operators/temporal.state_join): speculative head-fork rows
        overlay each tablet's fold exactly as in `state_at`."""
        from fluxdb_spark.operators import state_join

        spec = self.pipeline.speculative_writes(up_to_height=height)
        return state_join(
            self.store.changelog(max_height=height), tablets, height,
            how=how, speculative=spec, **kw,
        )

    def time_weighted_avg(
        self, tablet_id: str, start: int, stop: int, metric, **kw
    ) -> DataFrame:
        """Duration-weighted aggregate over the overlay-merged log (see
        operators/temporal.time_weighted_avg)."""
        from fluxdb_spark.operators import time_weighted_avg

        return time_weighted_avg(
            self._overlaid(stop), tablet_id, start, stop, metric, **kw
        )

    def _overlaid(self, max_height: int) -> DataFrame:
        """Durable log with the speculative overlay merged for the
        interval-based reads (state_series / TWA): those build per-key
        version intervals with lead(), so a same-height reorg rewrite
        must be resolved BEFORE the window — the speculative row replaces
        its durable counterpart (broadcast anti-join on the tiny
        reversible segment; the durable log itself never reshuffles)."""
        log = self.store.changelog(max_height=max_height)
        spec = self.pipeline.speculative_writes(up_to_height=max_height)
        if spec is None:
            return log
        keys = ["collection", "tablet_id", "primary_key", "height"]
        return log.join(
            F.broadcast(spec.select(*keys)), keys, "left_anti"
        ).unionByName(spec)

    def register_sql(self, prefix: str = "flux") -> list[str]:
        """Expose the engine to pure Spark SQL (SURVEY §7.6): temp views
        over the overlay-merged changelog, the commit history, and the
        checkpoint, so a SQL-only consumer needs no DataFrame API at all.
        The canonical temporal reads are then plain window queries — the
        exact shapes the catalog's DuckDB oracles already use, e.g.
        state-at-height H:

            SELECT tablet_id, primary_key, height, value FROM (
              SELECT *, row_number() OVER (
                       PARTITION BY collection, tablet_id, primary_key
                       ORDER BY height DESC) AS rn
              FROM flux_changelog WHERE height <= H
            ) WHERE rn = 1 AND NOT is_deletion

        Views capture the file listing at registration time (Spark's
        InMemoryFileIndex is built when the DataFrame is created) — call
        again after writes to refresh. Returns the registered names."""
        log = self.store.changelog()
        spec = self.pipeline.speculative_writes()
        if spec is not None:
            log = log.unionByName(spec)
        ckpt = self.store.checkpoint()
        ckpt_df = local_frame(
            self.spark,
            []
            if ckpt is None
            else [(ckpt.height, ckpt.block_id, ckpt.block_num)],
            T.StructType(
                [
                    T.StructField("height", T.LongType()),
                    T.StructField("block_id", T.StringType()),
                    T.StructField("block_num", T.LongType()),
                ]
            ),
        )
        views = {
            f"{prefix}_changelog": log,
            f"{prefix}_history": self.store.history(),
            f"{prefix}_checkpoint": ckpt_df,
        }
        for name, df in views.items():
            df.createOrReplaceTempView(name)
        return sorted(views)

    def reversible_block(self, block_id: str):
        """S7 — point lookup of a not-yet-final block in the fork overlay
        (reference pipeline.go:218-226)."""
        return self.pipeline.forkdb.block(block_id)
