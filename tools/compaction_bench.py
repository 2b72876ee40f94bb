"""Compaction evidence: time a temporal read over a many-small-batches
store before and after `ChangelogStore.compact()`.

Builds a store from N single-height write_batch flushes (the streaming
ingest shape that produces many tiny parquet files), times
`state_at(changelog(), ...)` cold, compacts, and times the identical read
again. Prints one JSON line.

Usage: python tools/compaction_bench.py [n_batches]
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
from fluxdb_spark.operators import state_at  # noqa: E402
from fluxdb_spark.store import ChangelogStore  # noqa: E402
from tests.conftest import make_changelog  # noqa: E402


def timed_read(store, h):
    t0 = time.monotonic()
    df = state_at(store.changelog(max_height=h), "tbl", h, collection="tst")
    rows = df.collect()
    return time.monotonic() - t0, sorted(
        (r.primary_key, r.height, r.value) for r in rows
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    spark = get_spark(app_name="compaction_bench", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="compact_bench_")
    try:
        st = ChangelogStore(spark, f"{root}/db", height_band=1_000)
        for h in range(1, n + 1):
            st.write_batch(
                make_changelog(
                    spark,
                    [("tst", "tbl", h, f"{h % 25:03d}", f"v{h}")],
                )
            )
        files_before = len(
            [p for p in spark.read.parquet(st._data_dir).inputFiles()]
        )
        t_before, rows_before = timed_read(st, n)
        stats = st.compact(min_files=2)
        files_after = len(
            [p for p in spark.read.parquet(st._data_dir).inputFiles()]
        )
        t_after, rows_after = timed_read(st, n)
        assert rows_before == rows_after, "compaction changed read results"
        print(
            json.dumps(
                {
                    "n_batches": n,
                    "files_before": files_before,
                    "files_after": files_after,
                    "read_sec_before": round(t_before, 3),
                    "read_sec_after": round(t_after, 3),
                    "bands_compacted": stats["bands"],
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
