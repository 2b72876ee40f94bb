"""Canonical schemas for the temporal engine.

The reference stores everything as big-endian-ordered KV pairs
(`<collection><tablet_id><height><primary_key>` -> value, reference
tablet.go:251-278, singlet.go:222-242). Here the same information is one
typed, columnar change-log relation; ordering semantics come from Catalyst
plans (window / max_by over `height`), not from key bytes.

Singlets (single-valued containers, reference singlet.go:57-83) are rows of
the same relation with `primary_key = ''` — the reference's reversed-height
key trick (singlet.go:222-242) is unnecessary because "latest <= H" is an
`ORDER BY height DESC LIMIT 1` / `max_by` plan.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# The single canonical change-log relation (SURVEY.md §1.3).
CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("collection", T.StringType(), False),
        T.StructField("tablet_id", T.StringType(), False),
        T.StructField("height", T.LongType(), False),
        T.StructField("primary_key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        # empty/NULL value => tombstone (reference tablet.go:325-327)
        T.StructField("is_deletion", T.BooleanType(), False),
        T.StructField("block_id", T.StringType(), True),
        T.StructField("block_num", T.LongType(), True),
    ]
)

# Speculative (reversible / not-yet-final) rows: same shape plus fork lineage
# (reference ForkDB AddLink, pipeline.go:352).
SPECULATIVE_SCHEMA = T.StructType(
    CHANGELOG_SCHEMA.fields
    + [
        T.StructField("parent_block_id", T.StringType(), True),
    ]
)

# Snapshot index relation (reference TabletIndex, tablet.go:341-405): the
# pk -> height map of live rows at `snapshot_height`, one row per live pk.
TABLET_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("collection", T.StringType(), False),
        T.StructField("tablet_id", T.StringType(), False),
        T.StructField("snapshot_height", T.LongType(), False),
        T.StructField("primary_key", T.StringType(), False),
        T.StructField("height", T.LongType(), False),
        T.StructField("squelch_count", T.LongType(), True),
    ]
)

# Checkpoint relation (reference read.go:417-437; per-shard keys
# read.go:458-464): shard == "" is the global checkpoint.
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType(), False),
        T.StructField("height", T.LongType(), False),
        T.StructField("block_id", T.StringType(), True),
        T.StructField("block_num", T.LongType(), True),
    ]
)

CHANGELOG_COLUMNS = [f.name for f in CHANGELOG_SCHEMA.fields]


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """DataFrame over driver-held `rows` (tuples in `schema` field order),
    planned as a JVM `LocalRelation`.

    Every row first passes PySpark's own verifier — the check
    `createDataFrame(rows, schema)` runs — so the same rows are rejected
    with the same error classes (Arrow alone would take a float 1.0 as a
    long). The rows then travel as one Arrow table. A list-built frame
    is instead a `LogicalRDD` over pickled rows, and every job that scans
    it starts Python workers again to unpickle them: once per flush (the
    staged write) and once per overlay-aware read."""
    verify = T._make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*rows) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
