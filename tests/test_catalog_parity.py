"""The local replica of the driver's correctness gate: every catalog entry
with an oracle must hash-match DuckDB at sf0.001; rows-only entries must at
least run and return rows.

Scale opt-in (VERDICT r10 task 5): set FLUX_PARITY_SF to another testdata
dir to run the identical full-catalog sweep there in one command —

    FLUX_PARITY_SF=/root/testdata/sf0.01 \\
        python -m pytest tests/test_catalog_parity.py -q

makes the README's "hash-match at BOTH sf0.001 and sf0.01" claim
reproducible without a manual tools/check_entry.py sweep."""

from __future__ import annotations

import os

import duckdb
import pytest

from fluxdb_spark.catalog import catalog
from tools.check_entry import TABLES, result_hash

SF_DIR = os.environ.get("FLUX_PARITY_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect(":memory:")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


SPECS = {s.name: s for s in catalog()}


def test_priority_names_all_exist():
    """A typo in the registration-priority list would silently demote the
    query it meant to promote out of the driver's checked window."""
    from fluxdb_spark.catalog import _PRIORITY

    unknown = [n for n in _PRIORITY if n not in SPECS]
    assert not unknown, f"priority names with no spec: {unknown}"
    assert len(set(_PRIORITY)) == len(_PRIORITY), "duplicate priority names"


def test_priority_window_is_stale_first():
    """Window guard: the driver stamps exactly the first 50 _PRIORITY
    entries per round, so a window holding entries stamped in the two
    NEWEST recorded rounds spends that round's validation budget
    re-checking already-fresh rows.  The order is derived, not kept by
    hand: `catalog/_core.window_order` sorts the oracle entries by their
    newest stamp in the committed CORRECTNESS_r*.json artifacts
    (never-stamped first, then oldest), and _PRIORITY is that order as
    names.  A red here means either `window_order` /
    `correctness_stamps` no longer put stale entries first, or fewer
    than 50 oracle entries are left unstamped by the two newest
    artifacts, so no order can fill the window with stale ones."""
    import glob
    import json
    import re

    from fluxdb_spark.catalog import _PRIORITY

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # keep (round, path) pairs from the glob: reconstructing the name
    # from the round number would FileNotFoundError on non-zero-padded
    # artifacts like CORRECTNESS_r9.json (ADVICE r12)
    rounds = sorted(
        (int(re.search(r"_r(\d+)\.json$", p).group(1)), p)
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    )
    if not rounds:
        pytest.skip("no driver correctness artifacts in this checkout")
    fresh: set[str] = set()
    for _r, path in rounds[-2:]:
        with open(path) as f:
            recorded = json.load(f)
        fresh.update(
            n
            for n, res in recorded.items()
            if isinstance(res, dict)
            and res.get("rows_match")
            and res.get("schema_match")
            and res.get("hash_match")
        )
    stale_window = [n for n in _PRIORITY[:50] if n in fresh]
    assert not stale_window, (
        f"window wastes slots on entries already stamped in rounds "
        f"{[r for r, _ in rounds[-2:]]}: catalog/_core.window_order should "
        f"order them after every stale oracle entry (check its sort key, "
        f"and whether 50 oracle entries are still unstamped by those "
        f"rounds) -- {stale_window[:8]}..."
    )


@pytest.mark.sweep
@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(spark, duck, name):
    spec = SPECS[name]
    df = spec.spark(spark, SF_DIR)
    rows = [tuple(r) for r in df.collect()]
    if spec.oracle is None:
        assert len(rows) > 0, f"{name}: rows-only query returned nothing"
        return
    res = duck.execute(spec.oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert sorted(df.columns) == sorted(d_cols), f"{name}: schema mismatch"
    assert result_hash(df.columns, rows) == result_hash(d_cols, d_rows), (
        f"{name}: value hash mismatch ({len(rows)} vs {len(d_rows)} rows)"
    )


def test_catalog_calls_leave_no_session_cache(spark):
    """Catalog entries that materialize an intermediate (q11/q15/q20/q21,
    flux_state_at_indexed) use eager localCheckpoint, NOT persist: the
    session CacheManager must stay empty after each call, so parity
    sweeps and best-of-N bench loops don't accumulate cached relations
    for the session lifetime."""
    sf = "/root/testdata/sf0.001"
    jcm = spark._jsparkSession.sharedState().cacheManager()
    # isolate from other suites sharing the session fixture: this test
    # asserts catalog calls ADD nothing, not that the session is pristine
    spark.catalog.clearCache()
    by_name = {s.name: s for s in catalog()}
    for name in (
        "tpch_q11",
        "tpch_q15",
        "tpch_q20",
        "tpch_q21",
        "flux_state_at_indexed",
        "dedup_ngram",
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
        "dedup_clusters",
        "dedup_survivors",
        # round-5 additions: map-side / single-window plans, nothing to
        # materialize — pinned so a future optimization can't regress
        "doc_chunking",
        "flux_state_series",
        "flux_time_weighted",
        "asof_join_tolerance",
        # kmeans materializes the quantized projection via eager
        # localCheckpoint (one corpus scan total, not one per Lloyd
        # iteration) — pinned to stay off the session CacheManager
        "embed_kmeans",
        "cluster_balanced_sample",
    ):
        by_name[name].spark(spark, sf).collect()
        assert jcm.isEmpty(), f"{name} left a cached relation behind"


def test_recall_eval_degrades_on_no_neardup_corpus(spark, tmp_path):
    """ADVICE r10: on a corpus with zero exact/simhash pairs the ppm
    division used to yield NULL rows on Spark but raise in DuckDB.
    Both engines must now emit NULL value_ppm and identical hashes."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                " ".join(f"a{i}" for i in range(30)),
                " ".join(f"b{i}" for i in range(30)),
                " ".join(f"c{i}" for i in range(30)),
            ],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [120] * 3,
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    spec = SPECS["dedup_recall_eval"]
    df = spec.spark(spark, str(tmp_path))
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == 3 and all(r[3] is None for r in rows)

    con = duckdb.connect(":memory:")
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{tmp_path / 'documents.parquet'}'"
    )
    res = con.execute(spec.oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert result_hash(df.columns, rows) == result_hash(d_cols, d_rows)
    con.close()
