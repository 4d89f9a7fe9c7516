"""The consume path's cost, counted rather than timed.

``from_substrait_plan`` renders a plan to one SQL string and builds it with
one ``spark.sql`` call, so its py4j traffic is a few commands per plan
whatever the plan's size. The count is taken at the gateway client of this
process, with py4j's memory commands (``m``: deferred object deletes, sent
at garbage collection) left out, so it repeats exactly.
"""

from __future__ import annotations

import contextlib

import pytest

from datafusion_substrait_spark import from_substrait_plan, to_substrait_plan

# py4j call commands one consume may send per plan, over the 17 declared
# queries (5 each, measured on Spark 4.1.2)
PER_PLAN_BUDGET = 6


def _declared_sql() -> dict[str, str]:
    import __spark_entry__ as entry

    declared = {"q01_pricing_summary": entry._Q01, **entry._SQL}
    return {n: declared[n] for n in entry.queries() if n in declared}


@contextlib.contextmanager
def _counting(spark):
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    counts = [0]

    def counted(command, *args, **kwargs):
        if not command.startswith("m\n"):
            counts[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield counts
    finally:
        client.send_command = send


@contextlib.contextmanager
def _call_site_capture(on: bool):
    """PySpark reads ``spark.python.sql.dataFrameDebugging.enabled`` (a
    static setting) once, at its first wrapped API call, and caches it;
    set that cache for the block."""
    from pyspark.errors import utils

    was = utils._enable_debugging_cache
    utils._enable_debugging_cache = on
    try:
        assert utils.is_debugging_enabled() is on
        yield
    finally:
        utils._enable_debugging_cache = was


@pytest.fixture(scope="module")
def declared_plans(spark):
    return {n: to_substrait_plan(spark.sql(sql))
            for n, sql in _declared_sql().items()}


def _consume_counts(spark, plans) -> dict[str, int]:
    out = {}
    for name, plan in plans.items():
        with _counting(spark) as counts:
            from_substrait_plan(spark, plan)
        out[name] = counts[0]
    return out


def test_consume_sends_a_few_py4j_commands_per_plan(spark, declared_plans):
    assert len(declared_plans) == 17
    with _call_site_capture(on=False):
        counts = _consume_counts(spark, declared_plans)
    over = {n: c for n, c in counts.items() if c > PER_PLAN_BUDGET}
    assert not over, f"consume over {PER_PLAN_BUDGET} py4j commands: {over}"


def test_consume_cost_does_not_depend_on_call_site_capture(spark,
                                                           declared_plans):
    """Call-site capture wraps every Column and functions call with about
    ten extra round trips; a consume that builds no Columns pays none."""
    with _call_site_capture(on=False):
        off = sum(_consume_counts(spark, declared_plans).values())
    with _call_site_capture(on=True):
        on = sum(_consume_counts(spark, declared_plans).values())
    assert off > 0
    assert abs(on - off) <= 0.1 * off, (on, off)
