"""Produced plans, pinned byte for byte.

``tests/plan_goldens.json`` holds the sha256 of each produced plan (as
sorted-key JSON) for the 17 declared SQL queries and ``Gen(0..199)``; it was
made by ``tests/plan_goldens.py`` before the producer's read of Catalyst's
plan was rewritten, so a change in how the plan is read shows here as soon
as it changes what is produced.
"""

from __future__ import annotations

import json

from datafusion_substrait_spark import to_substrait_plan
from tests.plan_goldens import GEN_SEEDS, MANIFEST, digest, golden_sql


def test_produced_plans_match_their_goldens(spark):
    with open(MANIFEST) as fh:
        want = json.load(fh)
    sqls = golden_sql()
    assert sorted(sqls) == sorted(want)
    assert len(want) == 17 + GEN_SEEDS
    got = {n: digest(to_substrait_plan(spark.sql(s))) for n, s in sqls.items()}
    bad = sorted(n for n in want if got[n] != want[n])
    assert not bad, f"{len(bad)} produced plans differ from their goldens: {bad}"
