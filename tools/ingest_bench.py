"""Ingest-path throughput evidence: rows/second through the guarded
write path, batch and streaming.

The reference publishes no ingest numbers (BASELINE.md) — its only
quantitative knobs are flush constants (5,000-row streaming flushes,
pipeline.go:374-382; 100-mutation KV auto-flush). This tool measures the
Spark engine's equivalents on the same machine the queries are benched
on:

- **backfill**: one large `write_batch` (the reproc/bulk shape) — the
  commit protocol's fixed cost amortized over many rows;
- **micro-batch**: a run of small `write_batch` calls at the reference's
  own 5,000-row flush size (the live-inject shape) — dominated by
  per-batch protocol cost (stage -> manifest -> move -> checkpoint ->
  commit claim), which is the number compaction and band sizing exist to
  keep bounded.

Prints one JSON line.  Usage: python tools/ingest_bench.py [rows] [flushes]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# import fluxdb_spark from the checkout this script lives in
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from fluxdb_spark import get_spark  # noqa: E402
from fluxdb_spark.store import ChangelogStore  # noqa: E402


def synth_rows(spark, lo: int, n: int):
    return spark.range(lo, lo + n).select(
        F.lit("tst").alias("collection"),
        F.concat(F.lit("t"), F.pmod(F.col("id"), F.lit(64))).alias(
            "tablet_id"
        ),
        F.col("id").alias("height"),
        F.md5(F.col("id").cast("string")).alias("primary_key"),
        F.concat(F.lit("v"), F.col("id")).alias("value"),
        F.lit(False).alias("is_deletion"),
        F.format_string("%08xaa", F.col("id")).alias("block_id"),
        F.col("id").alias("block_num"),
    )


def main() -> None:
    n_bulk = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_flushes = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    flush_rows = 5_000  # the reference's own streaming flush size
    spark = get_spark(app_name="ingest_bench", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="ib-")
    out: dict = {"metric": "ingest_rows_per_sec"}
    try:
        # warm the write path once so JIT/codegen drops out of the timing
        warm = ChangelogStore(spark, f"{work}/warm")
        warm.write_batch(synth_rows(spark, 1, 10_000))

        bulk = ChangelogStore(spark, f"{work}/bulk")
        df = synth_rows(spark, 1, n_bulk)
        t0 = time.monotonic()
        bulk.write_batch(df)
        dt = time.monotonic() - t0
        out["backfill"] = {
            "rows": n_bulk,
            "sec": round(dt, 2),
            "rows_per_sec": int(n_bulk / dt),
        }

        micro = ChangelogStore(spark, f"{work}/micro")
        t0 = time.monotonic()
        for i in range(n_flushes):
            micro.write_batch(
                synth_rows(spark, 1 + i * flush_rows, flush_rows)
            )
        dt = time.monotonic() - t0
        out["micro_batch"] = {
            "flush_rows": flush_rows,
            "flushes": n_flushes,
            "sec": round(dt, 2),
            "rows_per_sec": int(n_flushes * flush_rows / dt),
            "sec_per_flush": round(dt / n_flushes, 3),
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
