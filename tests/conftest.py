from __future__ import annotations

import pytest

from fluxdb_spark import get_spark
from fluxdb_spark.schema import CHANGELOG_SCHEMA, SPECULATIVE_SCHEMA

SF_SMOKE = "/root/testdata/sf0.001"


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """pytest.ini's addopts deselects the sweep tier by default; say so
    at the end of the run, where it is seen."""
    from _pytest.mark.expression import Expression

    expr = config.option.markexpr
    if expr and not Expression.compile(expr).evaluate(
        lambda name, **_kw: name == "sweep"
    ):
        terminalreporter.write_line(
            f"sweep tier skipped (-m '{expr}'): run with "
            "-m 'sweep or not sweep' to include it",
            yellow=True,
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="fluxdb_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


def make_changelog(spark, rows):
    """rows: (tablet_id, height, primary_key, value) or full 8-tuples.

    value == "" or None => tombstone (reference tablet.go:325-327).
    """
    full = []
    for r in rows:
        if len(r) == 4:
            tablet_id, height, pk, value = r
            collection = "tst"
        else:
            collection, tablet_id, height, pk, value = r
        full.append(
            (
                collection,
                tablet_id,
                int(height),
                pk,
                value,
                value is None or value == "",
                f"{height:08x}aa",
                int(height),
            )
        )
    return spark.createDataFrame(full, CHANGELOG_SCHEMA)


def make_speculative(spark, rows, parent=None):
    """Same shape as make_changelog plus a parent_block_id lineage column."""
    base = make_changelog(spark, rows)
    from pyspark.sql import functions as F

    return base.withColumn("parent_block_id", F.lit(parent))


@pytest.fixture()
def mk(spark):
    return lambda rows: make_changelog(spark, rows)


@pytest.fixture()
def mkspec(spark):
    return lambda rows: make_speculative(spark, rows)
