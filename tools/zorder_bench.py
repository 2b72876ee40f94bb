"""Z-order layout evidence: singlet-probe scan cost on the linear
(tablet, height) compaction layout vs the Morton (primary_key, height)
layout.

Builds two identical stores — many keys x many heights in one band — and
compacts one linearly and one with `compact(zorder=True)`, then reports
for a mid-range key probe (key + height <= H, the R3 singlet-asof shape):
  - files admitted by the per-file zone maps (min/max from the parquet
    footers, the statistic a scan's file skipping uses)
  - rows those files hold (the scan volume a 100 TB cluster actually pays)
  - wall time of the probe query on each layout

Usage: python tools/zorder_bench.py [n_keys] [n_heights]
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

from fluxdb_spark import get_spark  # noqa: E402
from fluxdb_spark.store import ChangelogStore  # noqa: E402


def build(spark, root, n_keys, n_heights):
    from pyspark.sql import functions as F

    st = ChangelogStore(spark, root, height_band=10_000_000)
    for h in range(1, n_heights + 1):
        batch = spark.range(n_keys).select(
            F.lit("tst").alias("collection"),
            F.lit("tbl").alias("tablet_id"),
            F.lit(h).cast("long").alias("height"),
            F.format_string("k%05d", F.col("id")).alias("primary_key"),
            F.concat(F.lit(f"v{h}-"), F.col("id")).alias("value"),
            F.lit(False).alias("is_deletion"),
            F.lit(None).cast("string").alias("block_id"),
            F.lit(None).cast("long").alias("block_num"),
        )
        st.write_batch(batch)
    return st


def admitted(stats, pk, max_height):
    files = rows = 0
    for f in stats:
        if f["rows"] == 0:  # empty partitions write stat-less files
            continue
        lo, hi = f["stats"]["primary_key"]
        if not (lo <= pk <= hi):
            continue
        if f["stats"]["height"][0] > max_height:
            continue
        files += 1
        rows += f["rows"]
    return files, rows


def probe_time(st, pk, max_height):
    t0 = time.time()
    n = (
        st.changelog(max_height=max_height)
        .filter(f"tablet_id = 'tbl' AND primary_key = '{pk}'")
        .count()
    )
    return time.time() - t0, n


def main():
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    n_heights = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    spark = get_spark(app_name="zorder_bench")
    tmp = tempfile.mkdtemp(prefix="zbench-")
    out = {"n_keys": n_keys, "n_heights": n_heights}
    try:
        pk, max_h = f"k{n_keys // 2:05d}", n_heights // 4
        for name, zorder in (("linear", False), ("zorder", True)):
            st = build(spark, f"{tmp}/{name}", n_keys, n_heights)
            st.compact(
                target_rows_per_file=(n_keys * n_heights) // 16,
                min_files=2,
                zorder=zorder,
            )
            stats = st.file_layout_stats("tst")
            files, rows = admitted(stats, pk, max_h)
            # steady state: second run after the first warms footers
            probe_time(st, pk, max_h)
            secs, hits = probe_time(st, pk, max_h)
            out[name] = {
                "files_total": len(stats),
                "files_admitted": files,
                "rows_admitted": rows,
                "probe_sec": round(secs, 3),
                "probe_hits": hits,
            }
        out["rows_admitted_ratio"] = round(
            out["linear"]["rows_admitted"]
            / max(1, out["zorder"]["rows_admitted"]),
            2,
        )
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
