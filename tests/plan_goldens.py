"""Regenerate ``tests/plan_goldens.json``: sha256 digests of produced plans.

Each digest is taken over the plan dict as sorted-key JSON, for the 17
declared SQL queries of ``__spark_entry__`` and the SQL fuzzer's
``Gen(0..199)``. ``tests/test_plan_goldens.py`` asserts the producer still
makes every one of them byte for byte, so a change to how the producer
reads Catalyst's plan can be shown to leave its output alone.

Run from the repository root, against the test tables::

    python tests/plan_goldens.py [SF_DIR]

The session is configured as ``tests/conftest.py`` configures the test
session, since the optimized plan depends on session settings.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MANIFEST = os.path.join(HERE, "plan_goldens.json")
GEN_SEEDS = 200


def golden_sql() -> dict[str, str]:
    """Name → SQL of every pinned plan."""
    import __spark_entry__ as entry
    from tests.test_sql_fuzz import Gen

    declared = {"q01_pricing_summary": entry._Q01, **entry._SQL}
    out = {n: declared[n] for n in entry.queries() if n in declared}
    out.update({f"gen{s}": Gen(s).query() for s in range(GEN_SEEDS)})
    return out


def digest(plan: dict) -> str:
    text = json.dumps(plan, sort_keys=True)
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def main(sf_dir: str) -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from pyspark.sql import SparkSession

    from datafusion_substrait_spark import to_substrait_plan
    from datafusion_substrait_spark.sources import catalog

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        catalog.register_testdata(spark, sf_dir)
        sqls = golden_sql()
        manifest = {n: digest(to_substrait_plan(spark.sql(s)))
                    for n, s in sqls.items()}
    finally:
        spark.stop()
    with open(MANIFEST, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(manifest)} digests to {MANIFEST}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else
         os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"))
