"""Physical-DML evidence: a targeted purge rewrites ONLY the bands that
hold matching rows, so its cost scales with the hit footprint, not the
store size — the property that makes GDPR erasure tractable at 100 TB
(deleting one user from a year of history must not rewrite the year).

Builds a store spanning N height bands where one "hot" primary key
appears in exactly 2 bands, then times `purge_key` and reports how many
bands were rewritten vs present, and times a broad delete (every band
hit) for contrast. Prints one JSON line.

Usage: python tools/dml_bench.py [n_bands]
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
from tests.conftest import make_changelog  # noqa: E402

BAND = 100


def main() -> None:
    n_bands = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark(app_name="fluxdb_spark_dml_bench")
    root = tempfile.mkdtemp(prefix="dmlbench-")
    try:
        st = ChangelogStore(spark, root, height_band=BAND)
        rows = []
        for h in range(1, n_bands * BAND + 1):
            band = (h - 1) // BAND
            # the hot key lives only in bands 3 and 7; filler keys everywhere
            pk = "victim" if band in (3, 7) and h % BAND == 5 else f"k{h % 17}"
            rows.append(("tst", "tbl", h, pk, f"v{h}"))
        st.write_batch(make_changelog(spark, rows))
        st.compact(min_files=1)  # one file per band: clean footprint

        t0 = time.monotonic()
        narrow = st.purge_key("tst", "tbl", "victim")
        t_narrow = time.monotonic() - t0

        t0 = time.monotonic()
        broad = st.delete_where("primary_key = 'k3'")  # every band
        t_broad = time.monotonic() - t0

        print(
            json.dumps(
                {
                    "bands_total": n_bands,
                    "narrow_bands_rewritten": narrow["bands_rewritten"],
                    "narrow_rows": narrow["rows_matched"],
                    "narrow_sec": round(t_narrow, 3),
                    "broad_bands_rewritten": broad["bands_rewritten"],
                    "broad_rows": broad["rows_matched"],
                    "broad_sec": round(t_broad, 3),
                    "sec_per_band_narrow": round(
                        t_narrow / max(narrow["bands_rewritten"], 1), 3
                    ),
                    "sec_per_band_broad": round(
                        t_broad / max(broad["bands_rewritten"], 1), 3
                    ),
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
