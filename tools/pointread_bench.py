"""Point-read data-skipping evidence: probe latency and scan-emitted rows
for single-key reads, with and without the backend's bloom filters.

Builds two identical stores of hashed-key rows (several ~200K-row files,
the shape where every file's primary_key min/max straddles any probe, so
min/max statistics cannot skip anything) — one with the default backend,
one through a backend whose `_bloom_options` is a no-op — then times
absent-key probes and reports how many rows the SCAN itself surfaced
(0 means the reader skipped every row group; the filter never ran).

Usage: python tools/pointread_bench.py [n_batches] [rows_per_batch]
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
from fluxdb_spark import store as st  # noqa: E402


class NoBloomBackend(st.ParquetChangelogBackend):
    def _bloom_options(self, writer):
        return writer


def hashed_batch(spark, lo, n):
    return spark.range(lo, lo + n).select(
        F.lit("tst").alias("collection"),
        F.lit("tbl").alias("tablet_id"),
        F.col("id").alias("height"),
        F.md5(F.col("id").cast("string")).alias("primary_key"),
        F.concat(F.lit("v"), F.col("id")).alias("value"),
        F.lit(False).alias("is_deletion"),
        F.format_string("%08xaa", F.col("id")).alias("block_id"),
        F.col("id").alias("block_num"),
    )


def scan_output_rows(df) -> int:
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


def probe(store, keys):
    t0 = time.monotonic()
    scanned = 0
    for k in keys:
        df = store.changelog().filter(F.col("primary_key") == k)
        assert df.collect() == []
        scanned += scan_output_rows(df)
    return (time.monotonic() - t0) / len(keys), scanned


def main():
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    per_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    spark = get_spark(app_name="pointread_bench", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    st.BACKENDS.setdefault("parquet-nobloom", NoBloomBackend)
    work = tempfile.mkdtemp(prefix="prb-")
    out = {"rows": n_batches * per_batch, "files": n_batches}
    try:
        import hashlib

        absent = [
            hashlib.md5(f"absent-{i}".encode()).hexdigest() for i in range(10)
        ]
        for fmt, label in (("parquet", "bloom"), ("parquet-nobloom", "nobloom")):
            root = f"{work}/{label}"
            store = st.ChangelogStore(spark, root, data_format=fmt)
            for b in range(n_batches):
                store.write_batch(
                    hashed_batch(spark, 1 + b * per_batch, per_batch)
                )
            # warm the file listing so the probe times data skipping,
            # not directory discovery
            store.changelog().filter("primary_key = ''").collect()
            avg_s, scanned = probe(store, absent)
            out[label] = {
                "avg_probe_s": round(avg_s, 4),
                "scan_rows_per_probe": scanned // len(absent),
            }
        out["probe_speedup"] = round(
            out["nobloom"]["avg_probe_s"] / out["bloom"]["avg_probe_s"], 2
        )
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
