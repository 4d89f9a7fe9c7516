"""The produce path's cost, counted rather than timed.

``to_substrait_plan`` reads Catalyst's optimized plan as one JSON text: one
py4j call asks the JVM's plan encoder for it and one call fetches each part
of under 8 KB, so its py4j traffic is a few commands per plan. The count is
taken at the gateway client of this process, with py4j's memory commands
(``m``: deferred object deletes) left out, so it repeats exactly.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from datafusion_substrait_spark import to_substrait_plan
from tests.test_consume_cost import (_call_site_capture, _counting,
                                     _declared_sql)

# py4j call commands one produce may send per declared plan: the dump and
# its parts (each declared plan's dump is under 16 KB: 1 + at most 2)
PER_PLAN_BUDGET = 3


def _produce_counts(spark) -> dict[str, int]:
    out = {}
    for name, sql in _declared_sql().items():
        df = spark.sql(sql)
        df._jdf.queryExecution().optimizedPlan()  # optimize outside the count
        with _counting(spark) as counts:
            to_substrait_plan(df)
        out[name] = counts[0]
    return out


def test_produce_sends_a_few_py4j_commands_per_plan(spark):
    to_substrait_plan(spark.sql("SELECT 1"))  # compile the encoder first
    for capture in (False, True):
        with _call_site_capture(on=capture):
            counts = _produce_counts(spark)
        assert len(counts) == 17
        over = {n: c for n, c in counts.items() if c > PER_PLAN_BUDGET}
        assert not over, (
            f"produce over {PER_PLAN_BUDGET} py4j commands "
            f"(call-site capture {capture}): {over}")


def test_threads_produce_the_serial_plans(spark, monkeypatch):
    """Four threads produce the declared plans at once, starting before
    the encoder is compiled: the compile runs once, under its lock, and
    every thread gets the plans a serial run gets."""
    from datafusion_substrait_spark.plans import producer

    sqls = list(_declared_sql().items())
    serial = {n: to_substrait_plan(spark.sql(s)) for n, s in sqls}

    monkeypatch.setattr(producer, "_encoders", {})
    compiles = []
    encoder = producer._encoder

    def counted_encoder(session):
        if not producer._encoders:
            compiles.append(1)
        return encoder(session)

    monkeypatch.setattr(producer, "_encoder", counted_encoder)
    start = threading.Barrier(4)

    def produce(k):
        start.wait()
        order = sqls[k:] + sqls[:k]
        return {n: to_substrait_plan(spark.sql(s)) for n, s in order}

    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(produce, range(4)))
    assert compiles, "no thread found the encoder uncompiled"
    assert len(producer._encoders) == 1
    for got in results:
        assert got == serial
