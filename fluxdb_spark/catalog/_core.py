"""The query catalog: every operator the engine claims, as a named
(spark_builder, oracle_sql) pair.

Each entry's Spark side is the engine's own operator plan; the oracle side is
independent ANSI SQL DuckDB runs over the same parquet tables. The driver
hashes both results (column names sorted, order-insensitive), so every
computed column is aliased identically on both sides, every float is rounded
identically, and every timestamp is emitted as a formatted string.

Heights/constants are fixed so results are deterministic at any scale factor.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fluxdb_spark.functions import baskets as bk
from fluxdb_spark.functions import bpe
from fluxdb_spark.functions import curation as cu
from fluxdb_spark.functions import dedup as dd
from fluxdb_spark.functions import similarity as sim
from fluxdb_spark.functions import text as tx
from fluxdb_spark.functions.hashing import hash60, hash60_sql
from fluxdb_spark.operators import bloomjoin as bj
from fluxdb_spark.operators import layout as ly
from fluxdb_spark.operators import temporal as tp
from fluxdb_spark.operators import sharding as sh
from fluxdb_spark.operators import snapshot as sn
from fluxdb_spark.sources.changelog import (
    CHANGELOG_CTE,
    SINGLET_CTE,
    changelog_from_events,
    singlet_log_from_events,
)
from fluxdb_spark.sources.tables import load_table, normalize_event_ts
from fluxdb_spark.session import spread


@dataclass(frozen=True)
class QuerySpec:
    name: str
    category: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible, rows-only check


_SPECS: list[QuerySpec] = []


def _q(name: str, category: str, oracle: str | None):
    def deco(fn):
        _SPECS.append(QuerySpec(name, category, fn, oracle))
        return fn

    return deco


# The driver consumes the catalog in order and stamps a correctness row for
# only the first entries each round (its window), so the order is coverage
# policy.  It is derived from the committed CORRECTNESS_r<N>.json stamps,
# not kept by hand: entries with an oracle first; among those, entries no
# artifact has stamped, then the oldest stamp first; ties keep registration
# order.  Committing a round's artifact moves the entries it stamped to the
# back of the next catalog() call, so no rotation commit is needed.
# Rows-only entries (oracle=None) come last, so they never take a window
# slot.
_ARTIFACT_DIR = Path(__file__).resolve().parents[2]
_STAMP_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def correctness_stamps(root: Path = _ARTIFACT_DIR) -> dict[str, int]:
    """Entry name -> newest round N whose ``CORRECTNESS_r<N>.json`` in
    ``root`` records it matching its oracle on rows, schema and hash.  N is
    read from the file name as an integer (``_r9`` is older than ``_r10``);
    a record with ``err`` set or any mismatch is not a stamp."""
    stamps: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = _STAMP_FILE.fullmatch(path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        for name, res in json.loads(path.read_text()).items():
            if (
                isinstance(res, dict)
                and not res.get("err")
                and res.get("rows_match")
                and res.get("schema_match")
                and res.get("hash_match")
            ):
                stamps[name] = max(rnd, stamps.get(name, rnd))
    return stamps


def window_order(
    specs: list[QuerySpec], root: Path = _ARTIFACT_DIR
) -> list[QuerySpec]:
    """``specs`` (in registration order) in correctness-window order: oracle
    entries before rows-only ones, never-stamped before stamped, older stamp
    before newer; ``sorted`` is stable, so ties keep registration order."""
    stamps = correctness_stamps(root)
    return sorted(
        specs, key=lambda s: (s.oracle is None, stamps.get(s.name, -1))
    )


def catalog() -> list[QuerySpec]:
    return window_order(_SPECS)


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _td(spark, sf_dir, name="documents"):
    """Reader for CPU-heavy pipeline inputs: `spread` splits a small
    single-row-group scan across cores (no-op when the scan is already
    parallel, i.e. at real scale)."""
    return spread(load_table(spark, sf_dir, name))
