"""Store follower — subscribe a downstream pipeline to a ChangelogStore.

The reference is one-directional (blocks flow IN, serving reads come
OUT); a training-data deployment also needs the outbound stream: "give
me every newly committed row, exactly once, as it lands" — the CDC feed
a feature pipeline or downstream index builder consumes. The commit log
(store.CommitLog) makes this clean on plain parquet:

- `stream_commits` is a Structured Streaming source over `_commits/`
  (the JSON file source; Spark ignores dot-files, so in-flight `.claim-*`
  temps are invisible). One row per commit entry, in file order — only
  COMMITTED work ever appears, because a torn batch's files never earn a
  log entry (recover() rolls them back instead).
- `follow_store` turns that into a row-level feed: each micro-batch
  collects its (tiny, O(commits)) entry rows on the driver, resolves the
  `add` file lists of append commits, and hands the batch's rows to the
  caller's sink as one DataFrame. Restart-safe via the stream checkpoint
  (the JSON source tracks which commit files it has seen).

Caveats, stated rather than hidden: the feed is append-commits only —
maintenance rewrites (compact/expire) re-place existing rows and DML
rewrites erase history, neither is a "new data" event. A follower lagging
behind a compaction can find an add-file already rewritten away (the same
exposure as reading a vacuumed Delta CDF); the read then fails loudly and
the follower re-syncs from the store, it never silently drops rows.
Exactly-once end-to-end additionally requires the caller's sink to be
idempotent per batch_id, the standard foreachBatch contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from fluxdb_spark.store import read_changelog_files

COMMIT_ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType(), True),
        T.StructField("ts", T.DoubleType(), True),
        T.StructField("action", T.StringType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("batch_id", T.StringType(), True),
        T.StructField("shard", T.StringType(), True),
        T.StructField("hi", T.LongType(), True),
        T.StructField("add", T.ArrayType(T.StringType()), True),
        T.StructField("remove", T.ArrayType(T.StringType()), True),
        T.StructField("healed", T.BooleanType(), True),
    ]
)


def stream_commits(spark: SparkSession, root: str) -> DataFrame:
    """The commit log as a streaming relation: one row per committed
    entry, discovered as the log grows. Plain `readStream.json` — the
    source's own file tracking is the offset, checkpointed with the
    query."""
    return spark.readStream.schema(COMMIT_ENTRY_SCHEMA).json(
        os.path.join(root, "_commits")
    )


def follow_store(
    spark: SparkSession,
    root: str,
    sink,
    checkpoint_dir: str,
    trigger_seconds: float = 1.0,
):
    """Start a streaming query that calls `sink(rows_df, batch_id)` with
    the newly committed changelog rows of each micro-batch (appends only,
    version order). Returns the StreamingQuery; stop() it to detach."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # O(commits-in-batch) driver rows: version + file list only —
        # the row data itself never funnels through the driver
        entries = (
            batch_df.filter(batch_df.action == "append")
            .select("version", "add")
            .collect()
        )
        files = [
            rel
            for e in sorted(entries, key=lambda e: e.version)
            for rel in (e.add or ())
        ]
        if files:
            sink(read_changelog_files(spark, root, files), batch_id)

    return (
        stream_commits(spark, root)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def replicate_store(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    checkpoint_dir: str,
    trigger_seconds: float = 1.0,
    height_band: int | None = None,
    data_format: str | None = None,
    transform=None,
    force: bool = False,
):
    """Store-to-store replication — the cross-region story: follow the
    source's commit log and write each batch into the destination through
    the normal guarded write path. Exactly-once end-to-end WITHOUT any
    sink-side bookkeeping: `write_batch`'s idempotent replay drops
    heights at or below the destination checkpoint, so redelivery (a new
    follower checkpoint, a restart replaying a micro-batch) is harmless,
    and the monotonic-height guard keeps hole detection intact on the
    replica. The replica is a full ChangelogStore — same temporal reads,
    same commit log of its own.

    Follows the source's global append stream; a sharded source should be
    replicated after its final checkpoint reconciliation (per-shard
    heights are only contiguous within their own stream).

    `height_band` / `data_format` let the REPLICA differ from the source
    — which makes replication double as the store MIGRATION path: re-band
    a store whose partition granularity was sized wrong for its growth
    (the band size is sticky per store, so changing it is necessarily a
    copy), or re-format parquet -> ORC, all through the same exactly-once
    machinery and without touching the source.

    `transform` (DataFrame -> DataFrame over CHANGELOG_SCHEMA) makes the
    replica a DERIVED store — the incremental-materialized-view form of
    replication: e.g. a redacted replica for wider access (PII masked at
    the replication boundary instead of trusting every reader), or a
    filtered single-collection extract. Exactly-once still holds for
    free (idempotent replay on the destination absorbs redelivery of
    transformed rows just as well). A transform that DROPS rows creates
    height gaps, so pass `force=True` to skip the destination's hole
    check — the source's commit log remains the contiguity authority."""
    from fluxdb_spark.store import ChangelogStore

    kw = {}
    if height_band is not None:
        kw["height_band"] = height_band
    if data_format is not None:
        kw["data_format"] = data_format
    dst = ChangelogStore(spark, dst_root, **kw)

    def sink(rows: DataFrame, _batch_id: int) -> None:
        if transform is not None:
            rows = transform(rows)
        dst.write_batch(rows.orderBy("height"), force=force)

    return follow_store(
        spark, src_root, sink, checkpoint_dir, trigger_seconds
    )
