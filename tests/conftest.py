"""Shared Spark session + registered test tables for all suites."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from datafusion_substrait_spark.sources import catalog  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.master("local[4]")
        .appName("datafusion-substrait-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # skip per-call error-context capture (see bench.py) — ~30% suite time
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    catalog.register_testdata(session, SF_DIR)
    yield session


@pytest.fixture(scope="session")
def tables(spark):
    return {t: spark.table(t) for t in
            ("region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings")}


def rows_set(df):
    """Order-insensitive comparable representation of a DataFrame result.
    Sorted by repr: null-safe (None and str don't compare) and type-mixed
    columns can't break the sort; equality of the sorted lists is all the
    callers check."""
    return sorted((tuple(r) for r in df.collect()), key=repr)


def schema_of(df):
    """Column names with their Spark types (nullability left out: the
    interchange does not carry it)."""
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def assert_same_result(df_direct, df_roundtripped):
    """Result-equality roundtrip check — our substitute for the reference's
    plan-string equality (tests/roundtrip.rs:247-262), per SURVEY.md §5:
    Spark plan strings are brittle, results are the contract."""
    assert df_direct.columns == df_roundtripped.columns
    assert rows_set(df_direct) == rows_set(df_roundtripped)
