"""Regression tests for interchange-layer edge cases found by review:
unsound FILTER rewrites, type-string parsing, set-op multiplicity, mask
bounds, and wire-codec robustness on malformed input."""

from __future__ import annotations

import copy

import pytest
from pyspark.sql import functions as F

from datafusion_substrait_spark import (SubstraitError, from_substrait_plan,
                                        to_substrait_plan)
from datafusion_substrait_spark.plans import proto, wire
from datafusion_substrait_spark.plans.types import (spark_type_to_substrait,
                                                    substrait_type_to_spark)


def test_filter_on_first_last_is_fenced(spark):
    """fn(CASE WHEN p THEN x END) is unsound for null-keeping first/last:
    both the producer and the consumer must refuse rather than silently
    return the first row's NULL."""
    df = spark.table("orders").groupBy("o_orderstatus").agg(
        F.expr("first(o_totalprice) FILTER (WHERE o_totalprice > 1000)")
        .alias("f"))
    with pytest.raises(SubstraitError, match="FILTER"):
        to_substrait_plan(df)
    # plain first/last (no FILTER) still round-trips
    ok = spark.table("orders").groupBy("o_orderstatus").agg(
        F.expr("first(o_orderkey)").alias("f"))
    assert from_substrait_plan(spark, to_substrait_plan(ok)).count() > 0


def test_struct_with_decimal_field_type_strings():
    """_split_top_level must respect () nesting, not just <>."""
    t = spark_type_to_substrait("struct<a:decimal(10,2),b:bigint>")
    assert t["struct"]["types"][0]["decimal"]["precision"] == 10
    back = substrait_type_to_spark(t)
    assert "decimal(10,2)" in back and "i64" not in back


def test_minus_primary_has_distinct_semantics(spark):
    """SET_OP_MINUS_PRIMARY = SQL EXCEPT (distinct), mirroring the
    INTERSECTION_PRIMARY branch — not multiset exceptAll."""
    spark.createDataFrame([(1,), (1,), (2,)], "v bigint") \
        .createOrReplaceTempView("minus_a")
    spark.createDataFrame([(2,)], "v bigint").createOrReplaceTempView("minus_b")
    # name recovery not needed on consume (NamedTable reads by name)
    i64 = {"i64": {"nullability": "NULLABILITY_REQUIRED"}}
    rels = [proto.read_rel(["minus_a"], ["v"], [i64], [0]),
            proto.read_rel(["minus_b"], ["v"], [i64], [0])]
    p = proto.plan(proto.set_rel(rels, "SET_OP_MINUS_PRIMARY"), ["v"], [])
    out = from_substrait_plan(spark, p)
    assert [tuple(r) for r in out.collect()] == [(1,)]  # NOT [(1,), (1,)]


def test_negative_mask_ordinal_rejected(spark):
    plan = to_substrait_plan(spark.table("nation").select("n_name"))
    bad = copy.deepcopy(plan)

    def poison(rel):
        if "read" in rel:
            rel["read"]["projection"]["select"]["structItems"][0]["field"] = -1
            return True
        return any(poison(v) for v in rel.values() if isinstance(v, dict))

    assert poison(bad["relations"][0]["root"]["input"])
    with pytest.raises(SubstraitError, match="ordinals"):
        from_substrait_plan(spark, bad).collect()


def test_wire_truncated_fixed_and_skip_fields_raise():
    # truncated f64 literal: cut 3 bytes off the end
    body = wire.encode_message("Literal", {"fp64": 1.5})
    with pytest.raises(SubstraitError, match="truncated|bad"):
        wire.decode_message("Literal", body[:-3])
    # unknown field claiming more bytes than the buffer holds
    buf = wire._tag(999, wire._WT_LEN) + wire.encode_uvarint(1000) + b"xx"
    with pytest.raises(SubstraitError, match="truncated"):
        wire.decode_message("Literal", buf)


def test_wire_zero_length_packed_field_is_absent():
    buf = wire._tag(1, wire._WT_LEN) + wire.encode_uvarint(0)
    assert wire.decode_message("RelCommonEmit", buf) == {}


def test_unsupported_rel_kind_gets_targeted_error():
    # cross moved to the consumable kinds in r11 (foreign producers emit
    # CrossRel directly); extensionMulti remains the targeted fence
    with pytest.raises(SubstraitError,
                       match="unsupported relation kind 'extensionMulti'"):
        proto.rel_kind({"extensionMulti": {}})


def test_virtual_table_timestamptz_survives_nonutc_driver_tz(spark):
    """TimestampType.toInternal pushes NAIVE datetimes through time.mktime —
    the driver's OS timezone, not spark.sql.session.timeZone — which shifted
    every virtual-table instant by the UTC offset on a non-UTC machine.
    _literal_py must return tz-aware UTC datetimes. Runs the roundtrip in a
    subprocess with TZ=America/New_York to pin the fix."""
    import os
    import subprocess
    import sys

    script = r"""
import sys
sys.path.insert(0, %r)
from pyspark.sql import SparkSession
from datafusion_substrait_spark import roundtrip
spark = (SparkSession.builder.master("local[1]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.python.sql.dataFrameDebugging.enabled", "false")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
df = spark.sql(
    "SELECT * FROM VALUES (TIMESTAMP '2020-01-01 00:00:00') AS t(ts)")
direct = df.collect()
rt = roundtrip(df).collect()
assert rt == direct, f"shifted: {rt} vs {direct}"
print("TZ-OK")
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TZ="America/New_York")
    out = subprocess.run([sys.executable, "-c", script % repo],
                         env=env, capture_output=True, text=True, timeout=300)
    assert "TZ-OK" in out.stdout, out.stdout + out.stderr


def test_randomsplit_slice_is_fenced_at_produce(spark):
    """randomSplit slices carry lowerBound != 0, which DataFrame.sample
    cannot rebuild — the producer must refuse (translate-or-error), not
    emit a plan that fails only at consume time."""
    a, b = spark.table("orders").randomSplit([0.5, 0.5], seed=1)
    # first slice is [0, 0.5) — encodable
    assert to_substrait_plan(a.select("o_orderkey")) is not None
    with pytest.raises(SubstraitError, match="lowerBound"):
        to_substrait_plan(b.select("o_orderkey"))


def test_exchange_rejects_targets_and_empty_scatter(spark):
    """Spec-valid ExchangeRel forms with no DataFrame equivalent must raise
    the named error, including the empty-scatter shape that legitimately
    arrives off the wire (empty repeated fields have no presence)."""
    plan = to_substrait_plan(
        spark.table("nation").repartition(2, "n_regionkey").select("n_name"))

    def find_exchange(rel):
        if "exchange" in rel:
            return rel["exchange"]
        for v in rel.values():
            if isinstance(v, dict):
                r = find_exchange(v)
                if r is not None:
                    return r
        return None

    ex = find_exchange(plan["relations"][0]["root"]["input"])
    assert ex is not None

    routed = copy.deepcopy(plan)
    find_exchange(routed["relations"][0]["root"]["input"])["targets"] = [
        {"uri": "spark://elsewhere"}]
    with pytest.raises(SubstraitError, match="targets"):
        from_substrait_plan(spark, routed)

    empty = copy.deepcopy(plan)
    find_exchange(empty["relations"][0]["root"]["input"])["scatterByFields"] = {}
    with pytest.raises(SubstraitError, match="at least one field"):
        from_substrait_plan(spark, empty)


def test_window_ignore_nulls_is_fenced(spark):
    """The measure path fences first/last ignoreNulls; the window path
    must too — a dropped flag silently returns leading NULLs."""
    for sql in (
        "SELECT first(o_totalprice, true) OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_orderkey) AS v FROM orders",
        "SELECT lag(o_totalprice) IGNORE NULLS OVER (PARTITION BY "
        "o_orderstatus ORDER BY o_orderkey) AS v FROM orders",
    ):
        with pytest.raises(SubstraitError, match="(?i)ignore"):
            to_substrait_plan(spark.sql(sql))
    # the plain forms still produce
    ok = spark.sql(
        "SELECT first(o_totalprice) OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_orderkey) AS v FROM orders")
    assert to_substrait_plan(ok) is not None


def test_nested_and_exotic_reference_segments_rejected(spark):
    # upper() keeps a ProjectRel (a bare column select folds into the scan)
    plan = to_substrait_plan(
        spark.sql("SELECT upper(n_name) AS u FROM nation"))

    def poison(rel, seg):
        if "project" in rel:
            rel["project"]["expressions"][0] = {"selection": {
                "directReference": seg, "rootReference": {}}}
            return True
        return any(poison(v, seg) for v in rel.values() if isinstance(v, dict))

    nested = copy.deepcopy(plan)
    assert poison(nested["relations"][0]["root"]["input"],
                  {"structField": {"field": 0,
                                   "child": {"structField": {"field": 0}}}})
    with pytest.raises(SubstraitError, match="nested field reference"):
        from_substrait_plan(spark, nested)

    mapkey = copy.deepcopy(plan)
    assert poison(mapkey["relations"][0]["root"]["input"],
                  {"mapKey": {"mapKey": {"string": "k"}}})
    with pytest.raises(SubstraitError, match="reference segment"):
        from_substrait_plan(spark, mapkey)


def test_empty_in_list_options_rejected(spark):
    plan = to_substrait_plan(
        spark.sql("SELECT o_orderkey FROM orders WHERE o_orderstatus IN ('F', 'O')"))

    def strip_options(rel):
        if isinstance(rel, dict):
            if "singularOrList" in rel:
                rel["singularOrList"].pop("options", None)
                return True
            return any(strip_options(v) for v in rel.values())
        if isinstance(rel, list):
            return any(strip_options(v) for v in rel)
        return False

    assert strip_options(plan)
    with pytest.raises(SubstraitError, match="at least one option"):
        from_substrait_plan(spark, plan)


def test_cast_to_named_struct_is_fenced(spark):
    df = spark.table("orders").select(
        F.struct(F.col("o_orderkey").alias("a")).cast("struct<b:bigint>")
        .alias("s"))
    with pytest.raises(SubstraitError, match="struct-bearing"):
        to_substrait_plan(df)
    # ...including structs NESTED inside an array target, which would
    # otherwise recurse through spark_type_to_substrait, drop the field
    # names, and consume back as array<struct<f0:...>> — silently renamed
    nested = spark.table("orders").select(
        F.array(F.struct(F.col("o_orderkey").alias("a")))
        .cast("array<struct<b:bigint>>").alias("s"))
    with pytest.raises(SubstraitError, match="struct-bearing"):
        to_substrait_plan(nested)


def test_outer_reference_rooted_selection_rejected(spark):
    """A selection with an outerReference root resolved against the CURRENT
    relation's schema would return wrong data; the consumer must raise."""
    plan = to_substrait_plan(
        spark.sql("SELECT upper(n_name) AS u FROM nation"))

    def poison(rel):
        if "project" in rel:
            rel["project"]["expressions"][0] = {"selection": {
                "directReference": {"structField": {"field": 0}},
                "outerReference": {"stepsOut": 1}}}
            return True
        return any(poison(v) for v in rel.values() if isinstance(v, dict))

    assert poison(plan["relations"][0]["root"]["input"])
    with pytest.raises(SubstraitError, match="rootReference"):
        from_substrait_plan(spark, plan)


def _find_rel(rel, kind):
    if kind in rel:
        return rel[kind]
    for v in rel.values():
        if isinstance(v, dict):
            r = _find_rel(v, kind)
            if r is not None:
                return r
    return None


def test_exchange_scatter_refs_get_selection_fences(spark):
    """Scatter field refs must ride the same guards as every other
    selection: nested child / outer-rooted / out-of-range ordinals raise
    SubstraitError instead of silently repartitioning by the wrong
    top-level column (or dying in py4j)."""
    plan = to_substrait_plan(
        spark.table("nation").repartition(2, "n_regionkey").select("n_name"))
    base = plan["relations"][0]["root"]["input"]

    nested = copy.deepcopy(plan)
    ex = _find_rel(nested["relations"][0]["root"]["input"], "exchange")
    ex["scatterByFields"]["fields"][0]["directReference"]["structField"][
        "child"] = {"structField": {"field": 0}}
    with pytest.raises(SubstraitError, match="nested"):
        from_substrait_plan(spark, nested)

    oob = copy.deepcopy(plan)
    ex = _find_rel(oob["relations"][0]["root"]["input"], "exchange")
    ex["scatterByFields"]["fields"][0]["directReference"]["structField"][
        "field"] = 99
    with pytest.raises(SubstraitError, match="out of range"):
        from_substrait_plan(spark, oob)

    outer = copy.deepcopy(plan)
    ex = _find_rel(outer["relations"][0]["root"]["input"], "exchange")
    ex["scatterByFields"]["fields"][0]["outerReference"] = {"stepsOut": 1}
    with pytest.raises(SubstraitError, match="rootReference"):
        from_substrait_plan(spark, outer)
    assert base is not None  # original plan untouched and well-formed


def test_virtual_table_names_types_length_mismatch_rejected(spark):
    """baseSchema names/types disagreement must be a SubstraitError, not an
    opaque createDataFrame failure downstream."""
    plan = {
        "relations": [{"root": {
            "names": ["a", "b"],
            "input": {"read": {
                "baseSchema": {
                    "names": ["a", "b"],
                    "struct": {"types": [{"i64": {}}]},  # 2 names, 1 type
                },
                "virtualTable": {"values": [
                    {"fields": [{"i64": "1"}, {"i64": "2"}]}]},
            }},
        }}],
    }
    with pytest.raises(SubstraitError, match="2 names but 1 struct types"):
        from_substrait_plan(spark, plan)


def test_wire_rejects_pre_fix_cast_field_number():
    """Expression field 7 (where a pre-fix build wrote Cast; the spec's
    switch_expression) must raise a named error on decode, not be skipped
    into an empty Expression that errors later with no hint why."""
    # key: field 7, wire type 2 (LEN); payload: empty Cast message
    buf = bytes([(7 << 3) | 2, 0])
    with pytest.raises(SubstraitError, match="field 7"):
        wire.decode_message("Expression", buf)


def test_connect_dataframe_rejected_up_front():
    """A Spark Connect DataFrame has no _jdf (no py4j bridge); the producer
    must raise the named error immediately instead of an AttributeError
    deep in the plan walk. Simulated: a Connect DataFrame is any object
    without the _jdf seam."""

    class FakeConnectDataFrame:
        columns = ["a"]

    with pytest.raises(SubstraitError, match="Spark Connect"):
        to_substrait_plan(FakeConnectDataFrame())


def test_pivot_auto_lowers_and_roundtrips(spark):
    """SQL PIVOT compiles to Catalyst's PivotFirst aggregate; the
    producer auto-lowers it (r9) to per-pivot-value max-FILTER measures
    — the reference's own per-measure FILTER mechanism
    (consumer.rs:242-251) — so it round-trips value-identical through
    JSON and the binary wire, including the missing-combination NULLs
    and the multi-aggregate form. The manual FILTER-aggregate spelling
    stays pinned as the semantic ground truth."""
    from datafusion_substrait_spark.plans import wire

    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    piv = spark.sql("""
        SELECT * FROM (SELECT o_custkey, o_orderstatus, o_totalprice
                       FROM orders)
        PIVOT (round(sum(o_totalprice), 2)
               FOR o_orderstatus IN ('O', 'F', 'P'))
    """)
    plan = to_substrait_plan(piv)
    back = from_substrait_plan(spark, plan)
    want = sorted(map(tuple, piv.collect()), key=key)
    assert sorted(map(tuple, back.collect()), key=key) == want
    wback = from_substrait_plan(spark, wire.decode_plan(wire.encode_plan(plan)))
    assert sorted(map(tuple, wback.collect()), key=key) == want

    manual = spark.sql("""
        SELECT o_custkey,
               round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS O,
               round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS F,
               round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS P
        FROM orders GROUP BY o_custkey
    """)
    assert sorted(map(tuple, manual.collect()), key=key) == want

    multi = spark.sql("""
        SELECT * FROM (SELECT o_custkey, o_orderstatus, o_totalprice
                       FROM orders)
        PIVOT (sum(o_totalprice) AS s, count(o_totalprice) AS c
               FOR o_orderstatus IN ('O', 'F'))
    """)
    mback = from_substrait_plan(spark, to_substrait_plan(multi))
    assert sorted(map(tuple, multi.collect()), key=key) \
        == sorted(map(tuple, mback.collect()), key=key)

    # DataFrame-API forms ride the same ResolvePivot shape: explicit
    # values, analysis-time-inferred values (count agg: present
    # combinations count, missing ones stay NULL — the semantics max
    # FILTER preserves and a bare count FILTER would turn into 0), and
    # non-string pivot values
    from pyspark.sql import functions as F
    dfp = (spark.table("orders").groupBy("o_custkey")
           .pivot("o_orderstatus").agg(F.count(F.lit(1))))
    dback = from_substrait_plan(spark, to_substrait_plan(dfp))
    assert sorted(map(tuple, dfp.collect()), key=key) \
        == sorted(map(tuple, dback.collect()), key=key)
    ints = (spark.table("orders")
            .withColumn("k", (F.col("o_orderkey") % 3).cast("int"))
            .groupBy("o_orderstatus")
            .pivot("k", [0, 1, 2]).agg(F.round(F.avg("o_totalprice"), 2)))
    iback = from_substrait_plan(spark, to_substrait_plan(ints))
    assert sorted(map(tuple, ints.collect()), key=key) \
        == sorted(map(tuple, iback.collect()), key=key)

    # a NULL in the IN list: the null-safe-equality slot filter
    # (pivotCol <=> NULL ⇔ IS NULL) matches pivotfirst's NULL bucket
    nul = spark.sql("""
        SELECT * FROM (SELECT o_custkey, nullif(o_orderstatus, 'P') AS st,
                              o_totalprice FROM orders)
        PIVOT (round(sum(o_totalprice), 2) FOR st IN ('O', NULL))
    """)
    nback = from_substrait_plan(spark, to_substrait_plan(nul))
    assert sorted(map(tuple, nul.collect()), key=key) \
        == sorted(map(tuple, nback.collect()), key=key)


def test_unpivot_auto_lowers_and_lateral_scalar_roundtrip(spark):
    """UNPIVOT compiles to a bare Catalyst Expand; the producer
    auto-lowers it (r9) to the UNION-ALL-of-projections it is
    semantically — SetRel over per-row ProjectRels, exactly the manual
    spelling this test previously pinned as the equivalent — so it
    round-trips value-identical through JSON and the binary wire,
    multi-value-column form included. A correlated LATERAL scalar
    subquery, by contrast, is rewritten by Catalyst into supported join
    shapes and must round-trip as-is."""
    from datafusion_substrait_spark.plans import wire

    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731

    unp = spark.sql("""
        SELECT o_orderkey, kind, amt FROM
        (SELECT o_orderkey, o_totalprice,
                CAST(o_custkey AS DOUBLE) AS o_ck FROM orders)
        UNPIVOT (amt FOR kind IN (o_totalprice AS price, o_ck AS cust))
    """)
    plan = to_substrait_plan(unp)
    want = sorted(map(tuple, unp.collect()), key=key)
    assert sorted(map(tuple,
                      from_substrait_plan(spark, plan).collect()),
                  key=key) == want
    wback = from_substrait_plan(spark, wire.decode_plan(wire.encode_plan(plan)))
    assert sorted(map(tuple, wback.collect()), key=key) == want
    manual = spark.sql("""
        SELECT o_orderkey, 'price' AS kind, o_totalprice AS amt FROM orders
        UNION ALL
        SELECT o_orderkey, 'cust' AS kind, CAST(o_custkey AS DOUBLE) FROM orders
    """)
    assert sorted(map(tuple, manual.collect()), key=key) == want

    multi = spark.sql("""
        SELECT * FROM
        (SELECT o_orderkey, o_totalprice AS a1, o_totalprice * 2 AS a2,
                CAST(o_custkey AS DOUBLE) AS b1,
                CAST(o_custkey * 2 AS DOUBLE) AS b2 FROM orders)
        UNPIVOT ((x, y) FOR kind IN ((a1, b1) AS one, (a2, b2) AS two))
    """)
    mback = from_substrait_plan(spark, to_substrait_plan(multi))
    assert sorted(map(tuple, multi.collect()), key=key) \
        == sorted(map(tuple, mback.collect()), key=key)

    # aggregate over unpivot: a grouping-id-free Expand under Aggregate
    # must fall through to the generic path (NOT the grouping-sets
    # reconstruction) and compose with the plain aggregate rel
    agg = spark.sql("""
        SELECT kind, round(sum(amt), 2) AS s FROM
        (SELECT o_orderkey, o_totalprice,
                CAST(o_custkey AS DOUBLE) AS o_ck FROM orders)
        UNPIVOT (amt FOR kind IN (o_totalprice AS price, o_ck AS cust))
        GROUP BY kind
    """)
    aplan = to_substrait_plan(agg)
    aback = from_substrait_plan(spark, aplan)
    assert sorted(map(tuple, agg.collect()), key=key) \
        == sorted(map(tuple, aback.collect()), key=key)

    # upstream pruning must push through the lowered branches (r10,
    # ADVICE): the aggregate needs only (kind, amt), so each UNION-ALL
    # branch projects 2 expressions, not the Expand's full 3-wide row
    def _sets(d, out):
        if isinstance(d, dict):
            if "set" in d:
                out.append(d["set"])
            for v in d.values():
                _sets(v, out)
        elif isinstance(d, list):
            for v in d:
                _sets(v, out)
    found = []
    _sets(aplan, found)
    assert found, "lowered UNPIVOT lost its SetRel"
    for s in found:
        for branch in s["inputs"]:
            assert len(branch["project"]["expressions"]) == 2, (
                "parent pruning did not reach the lowered Expand branches")

    # a USER column literally named spark_grouping_id must not misroute
    # the Expand into the grouping-sets reconstruction (detection checks
    # the per-row integer-literal bitmask slot, not just the name)
    trap = spark.sql("""
        SELECT spark_grouping_id, round(sum(amt), 2) AS s FROM
        (SELECT o_orderkey, o_totalprice,
                CAST(o_custkey AS DOUBLE) AS o_ck FROM orders)
        UNPIVOT (amt FOR spark_grouping_id IN (o_totalprice AS price,
                                               o_ck AS cust))
        GROUP BY spark_grouping_id
    """)
    tback = from_substrait_plan(spark, to_substrait_plan(trap))
    assert sorted(map(tuple, trap.collect()), key=key) \
        == sorted(map(tuple, tback.collect()), key=key)

    lat = spark.sql("""
        SELECT c_custkey, o.m FROM customer c,
        LATERAL (SELECT max(o_totalprice) AS m FROM orders
                 WHERE o_custkey = c.c_custkey) o
    """)
    lback = from_substrait_plan(spark, to_substrait_plan(lat))
    assert sorted(map(tuple, lat.collect()), key=key) \
        == sorted(map(tuple, lback.collect()), key=key)
    assert lat.count() == 150


def test_complex_constructor_surface_and_fences(spark):
    """Array/struct/map construction and LATERAL VIEW explode round-trip
    (CreateArray via Nested.List; struct/map as named_struct/map
    extension functions whose interleaved name literals preserve user
    field names, r8); Spark 4.1 recursive CTEs raise a NAMED error
    (Substrait has no recursion rel)."""
    key = lambda r: str(tuple(r))  # noqa: E731

    arr = spark.sql("""
        SELECT o_orderkey, array(o_custkey, o_orderkey) AS a
        FROM orders LIMIT 20
    """)
    back = from_substrait_plan(spark, to_substrait_plan(arr))
    assert sorted(map(tuple, arr.collect()), key=key) \
        == sorted(map(tuple, back.collect()), key=key)

    lv = spark.sql("""
        SELECT o_orderkey, x FROM orders
        LATERAL VIEW explode(array(o_custkey, o_orderkey)) t AS x
    """)
    lback = from_substrait_plan(spark, to_substrait_plan(lv))
    assert sorted(map(tuple, lv.collect()), key=key) \
        == sorted(map(tuple, lback.collect()), key=key)

    # struct()/map() constructors round-trip SCHEMA-EQUAL (r8): the
    # interleaved name/key literals ride as function arguments, so user
    # field names survive where the positional Expression.Nested.Struct
    # would drop them
    for csql in (
        "SELECT o_orderkey, struct(o_orderstatus AS s, o_totalprice AS p)"
        " AS st FROM orders",
        "SELECT o_orderkey, map('k', o_totalprice, 'j', 1.0) AS m"
        " FROM orders",
    ):
        cdf = spark.sql(csql)
        cback = from_substrait_plan(spark, to_substrait_plan(cdf))
        assert cdf.schema == cback.schema
        assert sorted(map(tuple, cdf.collect()), key=key) \
            == sorted(map(tuple, cback.collect()), key=key)
    with pytest.raises(SubstraitError, match="UnionLoop"):
        to_substrait_plan(spark.sql("""
            WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL
                                    SELECT n + 1 FROM r WHERE n < 5)
            SELECT * FROM r
        """))


def test_reference_substract_typo_consumes(spark):
    """Foreign-producer compatibility: the reference's producer emits the
    'substract' typo (producer.rs:297) that even its own consumer rejects
    (name_to_op knows only 'subtract', consumer.rs:46). A plan carrying
    that name — i.e., any subtraction produced by the reference — must
    consume here; we keep PRODUCING the spec spelling."""
    import copy

    df = spark.sql(
        "SELECT o_orderkey, o_totalprice - 100.0 AS d FROM orders")
    plan = copy.deepcopy(to_substrait_plan(df))
    hits = 0
    for ext in plan.get("extensions", []):
        fn = ext.get("extensionFunction", {})
        if fn.get("name") == "subtract":
            fn["name"] = "substract"
            hits += 1
    assert hits == 1, "expected exactly one subtract declaration"
    back = from_substrait_plan(spark, plan)
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    assert sorted(map(tuple, df.collect()), key=key) \
        == sorted(map(tuple, back.collect()), key=key)


def test_recursive_union_helper_matches_native_recursion(spark):
    """The tested manual equivalent behind the recursive-CTE fence (r9):
    operators.recursion.recursive_union runs the same semi-naive
    iterate-until-empty evaluation as Spark's UnionLoop, as a bounded
    driver loop of DataFrame jobs. Checked against the NATIVE recursive
    CTE on (a) a level ramp (UNION ALL mode) and (b) cyclic-graph
    reachability (UNION mode, where dedup is what terminates); the
    non-convergence contract raises like Spark's recursion limit."""
    from pyspark.sql import functions as F

    from datafusion_substrait_spark.operators.recursion import recursive_union

    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731

    native = spark.sql("""
        WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL
                                SELECT n + 1 FROM r WHERE n < 5)
        SELECT * FROM r
    """)
    seed = spark.range(1, 2).select(F.col("id").cast("int").alias("n"))
    got = recursive_union(
        seed, lambda f: f.filter("n < 5").select((F.col("n") + 1).alias("n")),
        distinct=False)
    assert sorted(map(tuple, got.collect()), key=key) \
        == sorted(map(tuple, native.collect()), key=key)

    # cyclic reachability: 1->2->3->1 plus 3->4. Spark 4.1 rejects
    # UNION (distinct) inside a recursive CTE outright
    # (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) — the helper's
    # distinct=True mode is a SUPERSET: dedup is what terminates the
    # cycle, checked against the hand-computed closure.
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)],
                                  ["src", "dst"])
    seed2 = spark.range(1, 2).select(F.col("id").cast("bigint").alias("node"))
    got2 = recursive_union(
        seed2,
        lambda f: f.join(edges, f["node"] == edges["src"])
                   .select(edges["dst"].alias("node")),
        distinct=True)
    assert sorted(map(tuple, got2.collect()), key=key) \
        == [(1,), (2,), (3,), (4,)]

    with pytest.raises(RuntimeError, match="did not converge"):
        recursive_union(seed, lambda f: f.select((F.col("n") + 1).alias("n")),
                        max_iter=3, distinct=False)


def test_ansi_array_index_rewrites_to_strict_element_at(spark):
    """Under Spark 4's default ANSI mode, ``arr[i]`` is GetArrayItem with
    failOnError=true (throw on OOB). Producing it as ``array_get`` would
    consume back as F.get (NULL on OOB) — a silent semantics swap — so the
    producer rewrites the literal-ordinal form to strict 1-based
    ``element_at(arr, i+1)``, which is value-identical including the
    throw-on-OOB behavior. Dynamic ordinals have no faithful encoding and
    fence (ADVICE r9)."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.sql(
        "SELECT o_orderkey, split(o_orderpriority, '-')[1] AS w "
        "FROM orders WHERE o_orderkey % 7 = 0")
    plan = to_substrait_plan(df)
    names = {d["extensionFunction"]["name"]
             for d in plan.get("extensions", [])}
    assert "element_at" in names and "array_get" not in names
    from tests.conftest import assert_same_result
    assert_same_result(df, from_substrait_plan(spark, plan))

    # lenient get() still rides array_get
    lenient = spark.sql(
        "SELECT get(split(o_orderpriority, '-'), 9) AS w FROM orders")
    lplan = to_substrait_plan(lenient)
    lnames = {d["extensionFunction"]["name"]
              for d in lplan.get("extensions", [])}
    assert "array_get" in lnames
    assert_same_result(lenient, from_substrait_plan(spark, lplan))

    # strict + non-literal ordinal: translate-or-error
    dyn = spark.sql(
        "SELECT split(o_orderpriority, '-')"
        "[CAST(o_orderkey % 2 AS INT)] AS w FROM orders")
    with pytest.raises(SubstraitError, match="non-literal ordinal"):
        to_substrait_plan(dyn)


def test_partition_local_sort_rides_local_sort_rel(spark):
    """sortWithinPartitions / SORT BY is Catalyst Sort with global=false;
    SortRel is a TOTAL order, so producing it there silently rebuilt a
    global orderBy — a range-partition shuffle the user avoided, and a
    row-set CHANGE under sampling (randomSplit sorts partitions locally
    for deterministic splits). It now rides an ExtensionSingleRel
    LocalSortRel consumed as sortWithinPartitions (r10): no global sort
    in the consumed plan, values preserved, both wire formats."""
    import json

    from tests.conftest import assert_same_result

    for df in (
        spark.table("orders").sortWithinPartitions("o_orderkey")
             .select("o_orderkey", "o_custkey"),
        spark.sql("SELECT o_orderkey FROM orders SORT BY o_orderkey DESC"),
    ):
        plan = to_substrait_plan(df)
        assert "LocalSortRel" in json.dumps(plan)
        back = from_substrait_plan(spark, plan)
        phys = back._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in phys.lower(), phys
        assert_same_result(df, back)
        wired = from_substrait_plan(
            spark, wire.decode_plan(wire.encode_plan(plan)))
        assert_same_result(df, wired)

    # randomSplit's internal local sort now produces AND its row set is
    # preserved through the roundtrip (it silently globalized before)
    a, _ = spark.table("orders").randomSplit([0.5, 0.5], seed=7)
    sl = a.select("o_orderkey")
    assert_same_result(sl, from_substrait_plan(spark, to_substrait_plan(sl)))


def test_join_strategy_hints_survive_the_plan_boundary(spark):
    """An explicit broadcast/merge/shuffle_hash hint is a plan decision
    the user made; before r10 the roundtrip silently dropped it, so with
    autoBroadcastJoinThreshold off the consumed plan fell back to a
    shuffle join. The hint rides JoinRel.advanced_extension as an
    Any-wrapped JoinHintInfo (both wire formats); un-hinted joins carry
    no extension; unknown hint names fence."""
    import json

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = (spark.table("orders")
              .join(F.broadcast(spark.table("customer")),
                    F.col("o_custkey") == F.col("c_custkey"))
              .select("o_orderkey", "c_name"))
        plan = to_substrait_plan(df)
        back = from_substrait_plan(spark, plan)
        assert "Broadcast" in back._jdf.queryExecution() \
            .executedPlan().toString()
        from tests.conftest import assert_same_result
        assert_same_result(df, back)
        wired = from_substrait_plan(
            spark, wire.decode_plan(wire.encode_plan(plan)))
        assert "Broadcast" in wired._jdf.queryExecution() \
            .executedPlan().toString()

        sh = (spark.table("orders")
              .join(spark.table("customer").hint("shuffle_hash"),
                    F.col("o_custkey") == F.col("c_custkey"))
              .select("o_orderkey"))
        shb = from_substrait_plan(spark, to_substrait_plan(sh))
        assert "ShuffledHashJoin" in shb._jdf.queryExecution() \
            .executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # plain joins stay extension-free
    plain = to_substrait_plan(
        spark.table("orders").join(
            spark.table("customer"),
            F.col("o_custkey") == F.col("c_custkey")).select("o_orderkey"))
    assert "advancedExtension" not in json.dumps(plain)

    # tampered hint name → named error
    bad = copy.deepcopy(plan)

    def poison(rel):
        if "join" in rel:
            rel["join"]["advancedExtension"]["optimization"][0][
                "rightStrategy"] = "hash_everything"
            return True
        return any(poison(v) for v in rel.values() if isinstance(v, dict))

    assert poison(bad["relations"][0]["root"]["input"])
    # r11 (ADVICE): an unknown strategy name inside a registered
    # JoinHintInfo warns and is skipped rather than failing the plan —
    # advanced_extension.optimization is spec-ignorable and a hint is
    # physical/semantics-neutral; the known hint on the other side and
    # the join itself still apply
    import warnings as _w
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = from_substrait_plan(spark, bad)
    assert any("unknown join-strategy hint 'hash_everything'" in str(c.message)
               for c in caught)
    assert out.count() > 0


# --- ReadRel.filter / best_effort_filter (r11) ------------------------------
# Foreign producers (DuckDB's substrait extension) push scan predicates into
# ReadRel.filter — a MANDATORY filter expressed against the BASE schema,
# before the projection mask. Before r11 both fields were wire-decoded but
# silently dropped on consume: wrong rows, no error (the same class as the
# pre-r11 emit gap).

def _read_with_filter(emit=None, best_effort=False, mask=None):
    from tests.test_emit import (NATION_NAMES, NATION_TYPES, field,
                                 read_rel)
    body = read_rel("nation", NATION_NAMES, NATION_TYPES, emit=emit)
    # n_nationkey < 10 against the BASE ordinal space
    cond = {"scalarFunction": {
        "functionReference": 1,
        "arguments": [{"value": field(0)},
                      {"value": {"literal": {"i64": 10}}}],
    }}
    body["read"]["bestEffortFilter" if best_effort else "filter"] = cond
    if mask is not None:
        body["read"]["projection"] = {"select": {"structItems": [
            {"field": i} for i in mask]}}
    return body


def test_read_rel_filter_is_mandatory_and_applied(spark):
    from tests.test_emit import plan_of, rows_set
    plan = plan_of(_read_with_filter(),
                   ["n_nationkey", "n_name", "n_regionkey"], {1: "lt"})
    got = from_substrait_plan(spark, plan)
    want = spark.sql("SELECT * FROM nation WHERE n_nationkey < 10")
    assert rows_set(got) == rows_set(want)
    # and it reaches the parquet scan as a pushed filter (the point of a
    # ReadRel-level predicate at 100 TB)
    phys = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in phys and "LessThan(n_nationkey,10" in phys


def test_read_rel_filter_base_space_survives_mask_and_emit(spark):
    """The filter references n_nationkey (base ordinal 0) while the mask
    DROPS that column ([1, 2]) and emit reorders what's left — proving
    the filter binds to the base schema, not the masked output."""
    from tests.test_emit import plan_of, rows_set
    plan = plan_of(_read_with_filter(emit=[1, 0], mask=[1, 2]),
                   ["rk", "nm"], {1: "lt"})
    got = from_substrait_plan(spark, plan)
    want = spark.sql("SELECT n_regionkey AS rk, n_name AS nm FROM nation "
                     "WHERE n_nationkey < 10")
    assert rows_set(got) == rows_set(want)


def test_read_rel_best_effort_filter_applied_fully(spark):
    """best_effort_filter may be applied partially or fully; applying it
    fully is always sound and is what this consumer does."""
    from tests.test_emit import plan_of, rows_set
    plan = plan_of(_read_with_filter(best_effort=True),
                   ["n_nationkey", "n_name", "n_regionkey"], {1: "lt"})
    got = from_substrait_plan(spark, plan)
    want = spark.sql("SELECT * FROM nation WHERE n_nationkey < 10")
    assert rows_set(got) == rows_set(want)


def test_read_rel_filter_survives_both_wires(spark):
    from tests.test_emit import plan_of, rows_set
    from tests.test_wire import _foreign_encode
    plan = plan_of(_read_with_filter(emit=[1, 0], mask=[1, 2]),
                   ["rk", "nm"], {1: "lt"})
    want = spark.sql("SELECT n_regionkey AS rk, n_name AS nm FROM nation "
                     "WHERE n_nationkey < 10")
    for blob in (wire.encode_plan(plan), _foreign_encode("Plan", plan)):
        got = from_substrait_plan(spark, wire.decode_plan(blob))
        assert rows_set(got) == rows_set(want)


def test_virtual_table_read_filter(spark):
    from tests.test_emit import I64, rows_set
    body = {"read": {
        "common": {"direct": {}},
        "baseSchema": {"names": ["v"], "struct": {"types": [I64]}},
        "virtualTable": {"values": [
            {"fields": [{"i64": str(x)}]} for x in (1, 5, 9, 13)]},
        "filter": {"scalarFunction": {
            "functionReference": 1,
            "arguments": [{"value": {"selection": {
                "directReference": {"structField": {"field": 0}},
                "rootReference": {}}}},
                {"value": {"literal": {"i64": 9}}}],
        }},
    }}
    plan = {"relations": [{"root": {"input": body, "names": ["v"]}}],
            "extensions": [{"extensionFunction":
                            {"functionAnchor": 1, "name": "gte"}}]}
    got = from_substrait_plan(spark, plan)
    assert sorted(r.v for r in got.collect()) == [9, 13]


# --- JoinRel.post_join_filter (r11) -----------------------------------------

def _join_with_post(jt, post_is_null_name=False):
    from tests.test_emit import NATION_NAMES, NATION_TYPES, field, read_rel
    on = {"scalarFunction": {"functionReference": 1,
          "arguments": [{"value": field(2)}, {"value": field(3)}]}}
    # post filter over the COMBINED space: right-side r_name (ordinal 4)
    post = ({"scalarFunction": {"functionReference": 3,
             "arguments": [{"value": field(4)}]}}
            if post_is_null_name else
            {"scalarFunction": {"functionReference": 2,
             "arguments": [{"value": field(4)},
                           {"value": {"literal": {"string": "REGION_0"}}}]}})
    return {"join": {
        "common": {"direct": {}},
        "left": read_rel("nation", NATION_NAMES, NATION_TYPES),
        "right": read_rel("region", ["r_regionkey", "r_name"],
                          [{"i64": {"nullability": "NULLABILITY_NULLABLE"}},
                           {"string": {"nullability": "NULLABILITY_NULLABLE"}}]),
        "type": jt,
        "expression": on,
        "postJoinFilter": post,
    }}


def test_post_join_filter_inner(spark):
    from tests.test_emit import plan_of, rows_set
    plan = plan_of(_join_with_post("JOIN_TYPE_INNER"),
                   ["k", "nm", "rk", "rrk", "rn"],
                   {1: "equal", 2: "not_equal"})
    got = from_substrait_plan(spark, plan)
    want = spark.sql(
        "SELECT n_nationkey k, n_name nm, n_regionkey rk, r_regionkey rrk, "
        "r_name rn FROM nation JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name <> 'REGION_0'")
    assert rows_set(got) == rows_set(want)


def test_post_join_filter_left_outer_sees_null_extended_rows(spark):
    """For outer joins the post filter is NOT foldable into the join
    condition: it must also apply to null-extended rows. IS NULL on a
    right-side column keeps exactly the unmatched left rows — folding it
    into ON would instead null-extend EVERY left row and keep them all."""
    from tests.test_emit import plan_of, rows_set
    # left side: nation with keys shifted so some rows don't match
    spark.sql("SELECT n_nationkey, n_name, n_regionkey + 3 AS n_regionkey "
              "FROM nation").createOrReplaceTempView("nation_shift")
    plan = _join_with_post("JOIN_TYPE_LEFT", post_is_null_name=True)
    plan["join"]["left"]["read"]["namedTable"]["names"] = ["nation_shift"]
    p = plan_of(plan, ["k", "nm", "rk", "rrk", "rn"],
                {1: "equal", 3: "is_null"})
    got = from_substrait_plan(spark, p)
    want = spark.sql(
        "SELECT n_nationkey k, n_name nm, n_regionkey rk, r_regionkey rrk, "
        "r_name rn FROM nation_shift LEFT JOIN region "
        "ON n_regionkey = r_regionkey WHERE r_name IS NULL")
    assert rows_set(got) == rows_set(want)
    assert got.count() > 0, "fixture must actually have unmatched rows"


def test_post_join_filter_fenced_on_semi(spark):
    from tests.test_emit import plan_of
    plan = plan_of(_join_with_post("JOIN_TYPE_SEMI"), ["k", "nm", "rk"],
                   {1: "equal", 2: "not_equal"})
    with pytest.raises(SubstraitError, match="postJoinFilter.*semi"):
        from_substrait_plan(spark, plan)


# --- foreign-field fences on aggregate/window/sort (r11) ---------------------
# AggregateFunction.phase/sorts, WindowRelFunction.invocation, and
# SortField.comparison_function_reference are all wire-decodable spec fields
# this engine cannot rebuild; each previously consumed with the field
# silently dropped (wrong values / wrong order), now a named error.

def test_partial_aggregation_phase_is_fenced(spark):
    plan = to_substrait_plan(spark.table("orders").groupBy("o_orderstatus")
                             .agg(F.count("*").alias("n")))
    bad = copy.deepcopy(plan)

    def poison(node):
        if isinstance(node, dict):
            if "phase" in node:
                node["phase"] = "AGGREGATION_PHASE_INTERMEDIATE_TO_RESULT"
                return True
            return any(poison(v) for v in node.values()
                       if isinstance(v, (dict, list)))
        if isinstance(node, list):
            return any(poison(v) for v in node)
        return False

    assert poison(bad)
    with pytest.raises(SubstraitError, match="phase.*not consumable"):
        from_substrait_plan(spark, bad)


def test_ordered_aggregate_sorts_is_fenced(spark):
    plan = to_substrait_plan(spark.table("orders").groupBy("o_orderstatus")
                             .agg(F.count("*").alias("n")))
    bad = copy.deepcopy(plan)

    def poison(node):
        if isinstance(node, dict):
            if "measure" in node and isinstance(node["measure"], dict):
                node["measure"]["sorts"] = [
                    {"expr": {"selection": {"directReference":
                     {"structField": {"field": 0}}, "rootReference": {}}},
                     "direction": "SORT_DIRECTION_ASC_NULLS_FIRST"}]
                return True
            return any(poison(v) for v in node.values()
                       if isinstance(v, (dict, list)))
        if isinstance(node, list):
            return any(poison(v) for v in node)
        return False

    assert poison(bad)
    with pytest.raises(SubstraitError, match="ordered aggregate"):
        from_substrait_plan(spark, bad)


def test_distinct_window_aggregate_is_fenced(spark):
    """DISTINCT window aggregates outside the value-set-rebuildable five
    (count/min/max/sum/avg) keep the named fence — stddev over a
    deduplicated frame has no exact Spark rebuild."""
    plan = to_substrait_plan(spark.sql(
        "SELECT stddev_samp(o_totalprice) OVER (PARTITION BY "
        "o_orderstatus) AS s FROM orders"))
    bad = copy.deepcopy(plan)

    def poison(node):
        if isinstance(node, dict):
            if "windowFunctions" in node:
                node["windowFunctions"][0]["invocation"] = \
                    "AGGREGATION_INVOCATION_DISTINCT"
                return True
            return any(poison(v) for v in node.values()
                       if isinstance(v, (dict, list)))
        if isinstance(node, list):
            return any(poison(v) for v in node)
        return False

    assert poison(bad)
    with pytest.raises(SubstraitError, match="DISTINCT window"):
        from_substrait_plan(spark, bad)


def test_distinct_window_count_rebuilds_via_collect_set(spark):
    """count(DISTINCT x) OVER w (r12): Spark has no native DISTINCT
    window aggregates, but the value-set form rebuilds exactly —
    size(collect_set(x) OVER w) — including under a frame, and
    collect_set drops nulls exactly like count DISTINCT. min/max take
    DISTINCT as a no-op. sum stays fenced (the fold rebuild would
    change the result type per row) — pinned above."""
    from tests.conftest import rows_set

    for sql, want_sql in [
        ("SELECT o_orderstatus, count(o_orderpriority) OVER "
         "(PARTITION BY o_orderstatus) AS d FROM orders",
         "SELECT o_orderstatus, size(collect_set(o_orderpriority) OVER "
         "(PARTITION BY o_orderstatus)) AS d FROM orders"),
        ("SELECT o_orderkey, count(o_custkey) OVER (ORDER BY o_orderkey "
         "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS d "
         "FROM orders WHERE o_orderkey < 400",
         "SELECT o_orderkey, size(collect_set(o_custkey) OVER "
         "(ORDER BY o_orderkey ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) "
         "AS d FROM orders WHERE o_orderkey < 400"),
        ("SELECT o_orderstatus, min(o_totalprice) OVER "
         "(PARTITION BY o_orderstatus) AS d FROM orders",
         None),  # DISTINCT is a no-op for min — plain result unchanged
    ]:
        plan = to_substrait_plan(spark.sql(sql))
        bad = copy.deepcopy(plan)

        def poison(node):
            if isinstance(node, dict):
                if "windowFunctions" in node:
                    node["windowFunctions"][0]["invocation"] = \
                        "AGGREGATION_INVOCATION_DISTINCT"
                    return True
                return any(poison(v) for v in node.values()
                           if isinstance(v, (dict, list)))
            if isinstance(node, list):
                return any(poison(v) for v in node)
            return False

        assert poison(bad)
        got = from_substrait_plan(spark, bad)
        want = spark.sql(want_sql if want_sql else sql)
        assert rows_set(got) == rows_set(want), sql


def _poison_distinct(plan):
    bad = copy.deepcopy(plan)

    def poison(node):
        if isinstance(node, dict):
            if "windowFunctions" in node:
                node["windowFunctions"][0]["invocation"] = \
                    "AGGREGATION_INVOCATION_DISTINCT"
                return True
            return any(poison(v) for v in node.values()
                       if isinstance(v, (dict, list)))
        if isinstance(node, list):
            return any(poison(v) for v in node)
        return False

    assert poison(bad)
    return bad


def test_distinct_window_sum_avg_matches_native_groupby(spark):
    """sum/avg DISTINCT window rebuild (r13): for a full-partition frame,
    the fold over collect_set must equal Spark's NATIVE groupBy
    sum(DISTINCT)/avg(DISTINCT) joined back — values AND result type
    (long for integral sum, double for fp/integral avg, decimal(p+10,s)
    / decimal(p+4,s+4) for decimal sum/avg)."""
    from tests.conftest import rows_set

    for fn, expr in [
        ("sum", "o_custkey"),                              # integral
        ("avg", "o_custkey"),
        ("sum", "CAST(o_totalprice AS DECIMAL(12,2))"),    # exact decimal
        ("avg", "CAST(o_totalprice AS DECIMAL(12,2))"),
    ]:
        plan = to_substrait_plan(spark.sql(
            f"SELECT o_orderstatus, {fn}({expr}) OVER "
            "(PARTITION BY o_orderstatus) AS d FROM orders"))
        got = from_substrait_plan(spark, _poison_distinct(plan))
        want = spark.sql(
            f"SELECT o.o_orderstatus, g.d FROM orders o JOIN "
            f"(SELECT o_orderstatus, {fn}(DISTINCT {expr}) AS d "
            "FROM orders GROUP BY o_orderstatus) g "
            "ON o.o_orderstatus = g.o_orderstatus")
        assert got.schema["d"].dataType == want.schema["d"].dataType, \
            (fn, expr, got.schema["d"].dataType, want.schema["d"].dataType)
        assert rows_set(got) == rows_set(want), (fn, expr)


def test_distinct_window_sum_avg_framed_matches_duckdb(spark):
    """Framed sum/avg DISTINCT windows differentially vs DuckDB's NATIVE
    DISTINCT window aggregates (which Spark lacks) — exact on integral
    columns (long fold, and both engines divide the exact sum in IEEE
    double for avg)."""
    import duckdb

    from tests.conftest import SF_DIR

    con = duckdb.connect()
    con.execute("CREATE VIEW orders AS SELECT * FROM "
                f"'{SF_DIR}/orders.parquet'")
    for fn in ("sum", "avg"):
        sql = (f"SELECT o_orderkey, {fn}({{d}}o_custkey % 7) OVER "
               "(ORDER BY o_orderkey ROWS BETWEEN 3 PRECEDING AND "
               "CURRENT ROW) AS d FROM orders WHERE o_orderkey < 600")
        plan = to_substrait_plan(spark.sql(sql.format(d="")))
        got = sorted(map(tuple, from_substrait_plan(
            spark, _poison_distinct(plan)).collect()))
        want = sorted(map(tuple,
                          con.sql(sql.format(d="DISTINCT ")).fetchall()))
        assert got == want, (fn, got[:3], want[:3])

    # empty-frame / all-null set → NULL (SQL aggregate-over-empty)
    plan = to_substrait_plan(spark.sql(
        "SELECT o_orderkey, sum(CASE WHEN o_orderkey < 0 THEN o_custkey "
        "END) OVER (PARTITION BY o_orderstatus) AS d "
        "FROM orders WHERE o_orderkey < 300"))
    got = from_substrait_plan(spark, _poison_distinct(plan))
    assert all(r.d is None for r in got.collect()) and got.count() > 0

    # decimal overflow mid-fold must STICK like native sum (review catch
    # r13: a coalesce-style fold restarted at 0 after the overflow NULL,
    # silently returning the post-overflow partial sum) — 6e37 + 7e37
    # overflows decimal(38,0) at step 2, the 9e37 after it must not
    # resurrect the accumulator. NULL-stickiness is the non-ANSI
    # contract (under ANSI both native and the rebuild THROW — verified
    # by this same query raising ArithmeticException when ANSI is on),
    # so pin it with ANSI off explicitly.
    from decimal import Decimal
    spark.sql("""
        SELECT * FROM VALUES
          ('a', CAST('60000000000000000000000000000000000000' AS DECIMAL(38,0))),
          ('a', CAST('70000000000000000000000000000000000000' AS DECIMAL(38,0))),
          ('a', CAST('90000000000000000000000000000000000000' AS DECIMAL(38,0))),
          ('b', CAST(5 AS DECIMAL(38,0)))
        AS t(g, v)
    """).createOrReplaceTempView("ovf_d38")
    plan = to_substrait_plan(spark.sql(
        "SELECT g, sum(v) OVER (PARTITION BY g) AS d FROM ovf_d38"))
    ansi_was = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = {(r.g, r.d)
               for r in from_substrait_plan(
                   spark, _poison_distinct(plan)).collect()}
        want = {(r.g, r.d) for r in spark.sql(
            "SELECT t.g, x.d FROM ovf_d38 t JOIN (SELECT g, "
            "sum(DISTINCT v) AS d FROM ovf_d38 GROUP BY g) x "
            "ON t.g = x.g").collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi_was)
    assert got == want and ("a", None) in got and \
        ("b", Decimal(5)) in got, (got, want)
    # and under the session's ANSI mode the rebuild throws like native
    if ansi_was == "true":
        with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
            from_substrait_plan(spark, _poison_distinct(plan)).collect()

    # non-numeric value set keeps a named fence (unit probe: no Substrait
    # producer will type-check sum over a string, but a hostile wire can).
    # The fold takes the argument's declared Substrait type, so the unit
    # probe hands it one
    from datafusion_substrait_spark.plans.consumer import \
        _distinct_fold_types
    with pytest.raises(SubstraitError, match="no exact Spark rebuild"):
        _distinct_fold_types("sum", {"string": {}})


def test_distinct_window_folds_the_declared_type(spark, tmp_path):
    """A DISTINCT sum/avg window takes its fold type from the plan's
    declaration. When that declaration disagrees with the table (a double
    column declared i64, as after schema drift), the values are cast to the
    declared type before the value set is taken, so the result is native
    sum/avg(DISTINCT CAST(v AS BIGINT)): values and type."""
    from datafusion_substrait_spark.sources import catalog
    from tests.conftest import rows_set

    path = str(tmp_path / "drift")
    spark.createDataFrame(
        [("a", 1.2), ("a", 1.7), ("a", 2.5), ("a", None), ("b", -0.5),
         ("b", 3.0)], "g string, v double").write.parquet(path)
    catalog.register_parquet(spark, "drift", path)
    for fn in ("sum", "avg"):
        plan = _poison_distinct(to_substrait_plan(spark.sql(
            f"SELECT g, {fn}(v) OVER (PARTITION BY g) AS d FROM drift")))

        def declare(node):
            if isinstance(node, dict):
                if "baseSchema" in node:
                    bs = node["baseSchema"]
                    bs["struct"]["types"][bs["names"].index("v")] = \
                        {"i64": {"nullability": "NULLABILITY_NULLABLE"}}
                    return True
                return any(declare(v) for v in node.values()
                           if isinstance(v, (dict, list)))
            if isinstance(node, list):
                return any(declare(v) for v in node)
            return False

        assert declare(plan)
        got = from_substrait_plan(spark, plan)
        want = spark.sql(
            f"SELECT t.g, x.d FROM drift t JOIN (SELECT g, "
            f"{fn}(DISTINCT CAST(v AS BIGINT)) AS d FROM drift GROUP BY g) "
            "x ON t.g = x.g")
        assert got.schema["d"].dataType == want.schema["d"].dataType, fn
        assert rows_set(got) == rows_set(want), fn


def test_comparison_function_sort_is_fenced(spark):
    plan = to_substrait_plan(
        spark.table("orders").orderBy("o_orderkey").select("o_orderkey"))
    bad = copy.deepcopy(plan)

    def poison(node):
        if isinstance(node, dict):
            if "sorts" in node and isinstance(node["sorts"], list) \
                    and node["sorts"]:
                sf = node["sorts"][0]
                sf.pop("direction", None)
                sf["comparisonFunctionReference"] = 99
                return True
            return any(poison(v) for v in node.values()
                       if isinstance(v, (dict, list)))
        if isinstance(node, list):
            return any(poison(v) for v in node)
        return False

    assert poison(bad)
    with pytest.raises(SubstraitError, match="comparison function"):
        from_substrait_plan(spark, bad)


def test_advanced_extension_enhancement_is_fenced(spark):
    """Spec asymmetry: optimization 'can be ignored', enhancement 'MUST be
    understood or the plan is invalid'. This engine defines none, so a
    present enhancement must reject the plan — ignoring it (the pre-r11
    behavior) breaks whatever semantics the producer attached."""
    from tests.test_emit import NATION_NAMES, NATION_TYPES, field, plan_of, read_rel
    rel = {"join": {
        "common": {"direct": {}},
        "left": read_rel("nation", NATION_NAMES, NATION_TYPES),
        "right": read_rel("region", ["r_regionkey", "r_name"],
                          [{"i64": {"nullability": "NULLABILITY_NULLABLE"}},
                           {"string": {"nullability": "NULLABILITY_NULLABLE"}}]),
        "type": "JOIN_TYPE_INNER",
        "expression": {"scalarFunction": {"functionReference": 1,
            "arguments": [{"value": field(2)}, {"value": field(3)}]}},
        "advancedExtension": {"enhancement": {
            "@type": "type.googleapis.com/some.producer.MustHave",
            "value": "AA=="}},
    }}
    plan = plan_of(rel, ["a", "b", "c", "d", "e"], {1: "equal"})
    with pytest.raises(SubstraitError, match="enhancement"):
        from_substrait_plan(spark, plan)


def test_read_rel_filter_ordinal_bounds_are_fenced(spark):
    """Review catch r11: the filter resolver must bounds-check — a
    negative structField.field would otherwise python-index from the END
    of the base schema (silent wrong column), and past-the-end would die
    with a raw IndexError instead of a named error."""
    from tests.test_emit import NATION_NAMES, NATION_TYPES, plan_of, read_rel
    for ordinal in (-1, 7):
        body = read_rel("nation", NATION_NAMES, NATION_TYPES)
        body["read"]["filter"] = {"scalarFunction": {
            "functionReference": 1,
            "arguments": [{"value": {"selection": {"directReference":
                {"structField": {"field": ordinal}}, "rootReference": {}}}},
                {"value": {"literal": {"i64": 10}}}]}}
        plan = plan_of(body, ["a", "b", "c"], {1: "lt"})
        with pytest.raises(SubstraitError, match="outside base schema"):
            from_substrait_plan(spark, plan)


# --- ExpandRel consume (r12; spec Rel.expand = 16, consume-only) -------------

NULL_STR = {"literal": {"null": {"string": {"nullability":
                                            "NULLABILITY_NULLABLE"}}}}
NULL_I64 = {"literal": {"null": {"i64": {"nullability":
                                         "NULLABILITY_NULLABLE"}}}}


def _expand_plan():
    """The grouping-set shape foreign producers (Isthmus, DataFusion)
    emit Expand for: duplicate every nation row once per grouping set,
    nulling the absent key — switching fields for the two keys, a
    consistent field for the measure input."""
    from tests.test_emit import NATION_NAMES, NATION_TYPES, field, plan_of, \
        read_rel

    rel = {"expand": {
        "common": {"direct": {}},
        "input": read_rel("nation", NATION_NAMES, NATION_TYPES),
        "fields": [
            {"switchingField": {"duplicates": [field(1), NULL_STR]}},
            {"switchingField": {"duplicates": [NULL_I64, field(2)]}},
            {"consistentField": field(0)},
        ],
    }}
    sql = ("SELECT n_name AS a, CAST(NULL AS BIGINT) AS b, n_nationkey AS c "
           "FROM nation UNION ALL SELECT CAST(NULL AS STRING), n_regionkey, "
           "n_nationkey FROM nation")
    return plan_of(rel, ["a", "b", "c"]), sql


def test_expand_rel_consumes_as_union_of_projections(spark, tables):
    from tests.conftest import rows_set

    plan, sql = _expand_plan()
    got = from_substrait_plan(spark, plan)
    assert got.columns == ["a", "b", "c"]
    assert rows_set(got) == rows_set(spark.sql(sql))


def test_expand_rel_takes_emit_and_survives_both_wires(spark, tables):
    from tests.conftest import rows_set
    from tests.test_wire import _foreign_encode

    plan, sql = _expand_plan()
    # emit: reorder + duplicate over the expand's 3-column output space
    plan["relations"][0]["root"]["input"]["expand"]["common"] = \
        {"emit": {"outputMapping": [2, 0, 2]}}
    plan["relations"][0]["root"]["names"] = ["c", "a", "c2"]
    want = spark.sql(f"SELECT c, a, c AS c2 FROM ({sql})")
    direct = from_substrait_plan(spark, plan)
    assert rows_set(direct) == rows_set(want)
    for blob in (wire.encode_plan(plan), _foreign_encode("Plan", plan)):
        decoded = wire.decode_plan(blob)
        assert wire.canonical(decoded) == wire.canonical(plan)
        assert rows_set(from_substrait_plan(spark, decoded)) == rows_set(want)


def test_expand_rel_fences(spark, tables):
    from tests.test_emit import field, plan_of

    plan, _ = _expand_plan()
    exp = plan["relations"][0]["root"]["input"]["expand"]
    # mismatched duplicate counts across switching fields
    bad = copy.deepcopy(plan)
    bad["relations"][0]["root"]["input"]["expand"]["fields"][1][
        "switchingField"]["duplicates"].append(field(2))
    with pytest.raises(SubstraitError, match="disagree on duplicate count"):
        from_substrait_plan(spark, bad)
    # zero duplicates (both switching fields, so the counts agree at 0)
    bad = copy.deepcopy(plan)
    for i in (0, 1):
        bad["relations"][0]["root"]["input"]["expand"]["fields"][i][
            "switchingField"]["duplicates"] = []
    with pytest.raises(SubstraitError, match="zero duplicates"):
        from_substrait_plan(spark, bad)
    # a field with neither arm (validator-level)
    bad = copy.deepcopy(plan)
    bad["relations"][0]["root"]["input"]["expand"]["fields"][0] = {}
    with pytest.raises(SubstraitError,
                       match="switchingField.*consistentField"):
        from_substrait_plan(spark, bad)
    # no fields (validator-level)
    bad2 = plan_of({"expand": {"common": {"direct": {}},
                               "input": copy.deepcopy(exp["input"]),
                               "fields": []}}, ["x"])
    with pytest.raises(SubstraitError, match="at least one field"):
        from_substrait_plan(spark, bad2)


# --- ReferenceRel consume (r12; spec Rel.reference = 21, DAG reuse) ----------

def _ref_plan():
    """A shared filtered subtree written once and referenced twice: the
    root UNION ALLs two references at ordinal 0 — the spec's DAG-reuse
    shape (a producer deduplicating a common subplan)."""
    from tests.test_emit import NATION_NAMES, NATION_TYPES, field, read_rel

    shared = {"filter": {
        "input": read_rel("nation", NATION_NAMES, NATION_TYPES),
        "condition": {"scalarFunction": {
            "functionReference": 1,
            "arguments": [{"value": field(2)},
                          {"value": {"literal": {"i64": 3}}}]}},
    }}
    ref = {"reference": {"subtreeOrdinal": 0}}
    root_rel = {"set": {"inputs": [ref, copy.deepcopy(ref)],
                        "op": "SET_OP_UNION_ALL"}}
    return {
        "relations": [
            {"rel": shared},
            {"root": {"input": root_rel, "names": ["k", "n", "rk"]}},
        ],
        "extensions": [{"extensionFunction":
                        {"functionAnchor": 1, "name": "lt"}}],
    }


def test_reference_rel_consumes_shared_subtree(spark, tables):
    from tests.conftest import rows_set

    plan = _ref_plan()
    got = from_substrait_plan(spark, plan)
    want = spark.sql(
        "SELECT * FROM (SELECT n_nationkey AS k, n_name AS n, "
        "n_regionkey AS rk FROM nation WHERE n_regionkey < 3) "
        "UNION ALL SELECT n_nationkey, n_name, n_regionkey "
        "FROM nation WHERE n_regionkey < 3")
    assert got.columns == ["k", "n", "rk"]
    assert rows_set(got) == rows_set(want)


def test_reference_rel_survives_both_wires(spark, tables):
    from tests.conftest import rows_set
    from tests.test_wire import _foreign_encode

    plan = _ref_plan()
    want = rows_set(from_substrait_plan(spark, plan))
    for blob in (wire.encode_plan(plan), _foreign_encode("Plan", plan)):
        decoded = wire.decode_plan(blob)
        assert wire.canonical(decoded) == wire.canonical(plan)
        assert rows_set(from_substrait_plan(spark, decoded)) == want


def test_reference_rel_fences(spark, tables):
    plan = _ref_plan()
    # out-of-range ordinal
    bad = copy.deepcopy(plan)
    bad["relations"][1]["root"]["input"]["set"]["inputs"][0][
        "reference"]["subtreeOrdinal"] = 5
    with pytest.raises(SubstraitError, match="out of range"):
        from_substrait_plan(spark, bad)
    # targeting the root entry
    bad = copy.deepcopy(plan)
    bad["relations"][1]["root"]["input"]["set"]["inputs"][0][
        "reference"]["subtreeOrdinal"] = 1
    with pytest.raises(SubstraitError, match="targets a root entry"):
        from_substrait_plan(spark, bad)
    # a self-referencing subtree is a cycle
    bad = copy.deepcopy(plan)
    bad["relations"][0] = {"rel": {"reference": {"subtreeOrdinal": 0}}}
    with pytest.raises(SubstraitError, match="cycle"):
        from_substrait_plan(spark, bad)
    # multiple roots stay fenced
    bad = copy.deepcopy(plan)
    bad["relations"][0] = copy.deepcopy(bad["relations"][1])
    with pytest.raises(SubstraitError, match="exactly 1 ROOT"):
        from_substrait_plan(spark, bad)


def test_expand_rel_review_fences(spark, tables):
    """Review catches r12: (a) all-consistent ExpandRels have an
    UNDEFINED duplicate count (the spec counts output rows via switching
    fields only) — guessing 1 would be a silent wrong row count; (b) an
    ExpandRel whose binary `fields` arrive on tag 3 decodes too (the
    offline algebra.proto transcription leaves 3-vs-4 ambiguous; the
    decoder accepts both, encode uses 4)."""
    from tests.conftest import rows_set

    plan, _ = _expand_plan()
    bad = copy.deepcopy(plan)
    bad["relations"][0]["root"]["input"]["expand"]["fields"] = [
        {"consistentField": {"selection": {"directReference":
            {"structField": {"field": 0}}, "rootReference": {}}}},
    ]
    bad["relations"][0]["root"]["names"] = ["a"]
    with pytest.raises(SubstraitError, match="undefined"):
        from_substrait_plan(spark, bad)

    # tag-3 alias decode: re-encode the ExpandField messages under tag 3
    # by hand and check the decoded plan is canonical-equal
    plan2, _ = _expand_plan()
    blob = wire.encode_plan(plan2)
    canonical = wire.canonical(plan2)
    fields = plan2["relations"][0]["root"]["input"]["expand"]["fields"]
    body4 = b"".join(
        wire._tag(4, wire._WT_LEN)
        + wire.encode_uvarint(len(f)) + f
        for f in [wire.encode_message("ExpandField", fl) for fl in fields])
    body3 = b"".join(
        wire._tag(3, wire._WT_LEN)
        + wire.encode_uvarint(len(f)) + f
        for f in [wire.encode_message("ExpandField", fl) for fl in fields])
    assert body4 in blob
    aliased = blob.replace(body4, body3)
    decoded = wire.decode_plan(aliased)
    assert wire.canonical(decoded) == canonical
    got = from_substrait_plan(spark, decoded)
    assert rows_set(got) == rows_set(from_substrait_plan(spark, plan2))


def test_expand_rel_branch_type_mismatch_is_fenced(spark, tables):
    """ADVICE r12: switching duplicates whose expressions disagree on
    type across branches must raise the repo's named error, not a raw
    Spark union AnalysisException (or worse, silently widen)."""
    from tests.test_emit import field

    plan, _ = _expand_plan()
    exp = plan["relations"][0]["root"]["input"]["expand"]
    # branch 0 takes i64 n_nationkey, branch 1 a BOOLEAN — no union
    # coercion exists (legal widenings like i32-null vs i64 stay Spark's
    # own union coercions and must keep passing — _expand_plan pins one)
    exp["fields"][0]["switchingField"]["duplicates"] = \
        [field(0), {"literal": {"boolean": True}}]
    with pytest.raises(SubstraitError, match="disagree on output types"):
        from_substrait_plan(spark, plan)


def test_expand_tag3_alias_is_fallback_only(spark, tables):
    """ADVICE r12: the tag-3 decode alias activates only when tag 4 is
    absent — a message carrying the published tag 4 must have any tag-3
    field skipped as unknown, never misdecoded as `fields`."""
    plan, _ = _expand_plan()
    body = plan["relations"][0]["root"]["input"]["expand"]
    buf4 = wire.encode_message("ExpandRel", body)
    # append a junk ExpandField on tag 3 NEXT TO the real tag-4 fields:
    # with tag 4 present the alias must stay off, so the junk is skipped
    junk = wire.encode_message(
        "ExpandField",
        {"consistentField": {"literal": {"i64": 999}}})
    both = buf4 + wire._tag(3, wire._WT_LEN) \
        + wire.encode_uvarint(len(junk)) + junk
    decoded = wire.decode_message("ExpandRel", both)
    assert wire.canonical({"expand": decoded}) == \
        wire.canonical({"expand": body})
    # and with tag 4 entirely absent the alias still decodes tag 3
    fields = body["fields"]
    stripped = dict(body)
    stripped.pop("fields")
    buf_no4 = wire.encode_message("ExpandRel", stripped)
    enc = [wire.encode_message("ExpandField", fl) for fl in fields]
    tag3 = b"".join(wire._tag(3, wire._WT_LEN)
                    + wire.encode_uvarint(len(f)) + f for f in enc)
    via3 = wire.decode_message("ExpandRel", buf_no4 + tag3)
    assert wire.canonical({"expand": via3}) == \
        wire.canonical({"expand": body})


def test_empty_relations_plan_is_fenced(spark):
    """ADVICE r12: a plan with zero relation entries gets its own error,
    not the misleading per-entry shape message."""
    for p in ({"relations": []}, {}):
        with pytest.raises(SubstraitError, match="no relation trees"):
            from_substrait_plan(spark, p)


def test_relation_entry_with_unknown_key_is_fenced(spark, tables):
    """Review catch r12: root_of's multi-relation relaxation must not
    silently drop an entry that is neither 'root' nor 'rel'."""
    plan = _ref_plan()
    bad = copy.deepcopy(plan)
    bad["relations"].append({"relation": {"oops": True}})
    with pytest.raises(SubstraitError, match="must be 'root' or 'rel'"):
        from_substrait_plan(spark, bad)


def test_physical_join_and_write_rel_tags_fail_loudly():
    """r12: spec-valid Rel kinds with no mapping (physical joins, write,
    ddl) must fail at the byte layer with a named error — skipping the
    unknown tag would decode a hollow Rel that errors later with no hint
    what was dropped."""
    for tag, what in [(13, "HashJoinRel"), (14, "MergeJoinRel"),
                      (18, "NestedLoopJoinRel"), (19, "WriteRel"),
                      (20, "DdlRel")]:
        buf = wire._tag(tag, wire._WT_LEN) + wire.encode_uvarint(0)
        with pytest.raises(SubstraitError, match=what):
            wire.decode_message("Rel", buf)


# --- JOIN_TYPE_SINGLE consume (r12; DuckDB emits it for scalar subqueries) ---

def _single_join_plan(restrict_below=None, flip=False):
    from tests.test_emit import I64, STR, field, plan_of, read_rel

    cust = read_rel("customer",
                    ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                     "c_mktsegment"], [I64, STR, I64, {"fp64": {}}, STR])
    nat = read_rel("nation", ["n_nationkey", "n_name", "n_regionkey"],
                   [I64, STR, I64])
    if flip:  # nation LEFT-SINGLE customers: 1:N, must raise
        cond = {"scalarFunction": {"functionReference": 1,
                "arguments": [{"value": field(0)}, {"value": field(5)}]}}
        rel = {"join": {"common": {"direct": {}}, "left": nat,
                        "right": cust, "expression": cond,
                        "type": "JOIN_TYPE_SINGLE"}}
        return plan_of(rel, [f"c{i}" for i in range(8)], {1: "equal"})
    cond = {"scalarFunction": {"functionReference": 1,
            "arguments": [{"value": field(2)}, {"value": field(5)}]}}
    if restrict_below is not None:
        cond = {"scalarFunction": {"functionReference": 2, "arguments": [
            {"value": cond},
            {"value": {"scalarFunction": {"functionReference": 3,
                "arguments": [{"value": field(5)},
                              {"value": {"literal":
                                         {"i64": restrict_below}}}]}}}]}}
    rel = {"join": {"common": {"emit": {"outputMapping": [0, 6]}},
                    "left": cust, "right": nat, "expression": cond,
                    "type": "JOIN_TYPE_SINGLE"}}
    return plan_of(rel, ["ck", "nname"], {1: "equal", 2: "and", 3: "lt"})


def test_single_join_consumes_as_guarded_left(spark, tables):
    """JOIN_TYPE_SINGLE (r12; was an 'unsupported join type' fence):
    LEFT semantics plus a runtime multi-match error, the same lazy
    assert_true doctrine as the scalar-subquery guard. FK direction
    (N:1) equals a plain LEFT join; a restricted condition null-extends
    the unmatched left rows; emit composes."""
    from tests.conftest import rows_set

    got = from_substrait_plan(spark, _single_join_plan())
    want = spark.sql("SELECT c_custkey AS ck, n_name AS nname "
                     "FROM customer LEFT JOIN nation "
                     "ON c_nationkey = n_nationkey")
    assert rows_set(got) == rows_set(want)

    got2 = from_substrait_plan(spark, _single_join_plan(restrict_below=3))
    want2 = spark.sql("SELECT c_custkey AS ck, n_name AS nname "
                      "FROM customer LEFT JOIN nation "
                      "ON c_nationkey = n_nationkey AND n_nationkey < 3")
    assert rows_set(got2) == rows_set(want2)
    assert got2.filter("nname IS NULL").count() > 0  # null-extension real


def test_single_join_multi_match_raises(spark, tables):
    got = from_substrait_plan(spark, _single_join_plan(flip=True))
    with pytest.raises(Exception, match="single join matched more than"):
        got.collect()


def test_single_join_survives_binary_wire(spark, tables):
    from tests.conftest import rows_set

    plan = _single_join_plan()
    decoded = wire.decode_plan(wire.encode_plan(plan))
    assert wire.canonical(decoded) == wire.canonical(plan)
    assert rows_set(from_substrait_plan(spark, decoded)) == \
        rows_set(from_substrait_plan(spark, plan))


def test_fetch_expression_bounds_consume_or_fence(spark, tables):
    """Newer-spec FetchRel offset_expr/count_expr (r12): literal forms
    rebuild exactly (silently skipping them would DROP a LIMIT — wrong
    rows, no error); dynamic expressions fence by name. Both wires."""
    from tests.conftest import rows_set
    from tests.test_emit import I64, STR, field, plan_of, read_rel

    nat = read_rel("nation", ["n_nationkey", "n_name", "n_regionkey"],
                   [I64, STR, I64])
    sort = {"sort": {"input": nat, "sorts": [
        {"expr": field(0), "direction": "SORT_DIRECTION_ASC_NULLS_LAST"}]}}
    rel = {"fetch": {"common": {"direct": {}}, "input": sort,
                     "offsetExpr": {"literal": {"i64": 5}},
                     "countExpr": {"literal": {"i64": 7}}}}
    plan = plan_of(rel, ["k", "n", "rk"])
    got = from_substrait_plan(spark, plan)
    want = spark.sql("SELECT n_nationkey AS k, n_name AS n, n_regionkey "
                     "AS rk FROM nation ORDER BY n_nationkey "
                     "LIMIT 7 OFFSET 5")
    assert rows_set(got) == rows_set(want) and got.count() == 7

    decoded = wire.decode_plan(wire.encode_plan(plan))
    assert wire.canonical(decoded) == wire.canonical(plan)
    assert rows_set(from_substrait_plan(spark, decoded)) == rows_set(want)

    bad = copy.deepcopy(plan)
    bad["relations"][0]["root"]["input"]["fetch"]["countExpr"] = field(0)
    with pytest.raises(SubstraitError, match="count_expr"):
        from_substrait_plan(spark, bad)


def test_enhancement_fence_covers_every_rel_kind(spark, tables):
    """r12: the advanced_extension.enhancement fence generalizes from
    JoinRel to every rel (the wire now decodes the slot on all of them;
    before, a ReadRel enhancement was silently skipped as an unknown
    tag). Optimizations stay legally ignorable."""
    from tests.conftest import rows_set
    from tests.test_emit import I64, STR, plan_of, read_rel

    nat = read_rel("nation", ["n_nationkey", "n_name", "n_regionkey"],
                   [I64, STR, I64])
    import base64
    # the opaque-Any form (how a foreign enhancement actually arrives off
    # the wire: unregistered type URL + passthrough bytes)
    enh = {"enhancement": {"@type": "type.example.com/some.Enhancement",
                           "@opaqueValue": base64.b64encode(b"x").decode()}}

    # read-level enhancement: named error, wire-roundtrippable
    bad_read = copy.deepcopy(nat)
    bad_read["read"]["advancedExtension"] = enh
    plan = plan_of(bad_read, ["k", "n", "rk"])
    with pytest.raises(SubstraitError, match="read advanced_extension"):
        from_substrait_plan(spark, plan)
    decoded = wire.decode_plan(wire.encode_plan(plan))
    with pytest.raises(SubstraitError, match="enhancement"):
        from_substrait_plan(spark, decoded)

    # aggregate-level enhancement
    agg = {"aggregate": {
        "input": nat, "common": {"direct": {}},
        "advancedExtension": copy.deepcopy(enh),
        "groupings": [{"groupingExpressions": [
            {"selection": {"directReference": {"structField": {"field": 2}},
                           "rootReference": {}}}]}],
        "measures": []}}
    with pytest.raises(SubstraitError, match="aggregate advanced_extension"):
        from_substrait_plan(spark, plan_of(agg, ["rk"]))

    # an optimization Any on a read is spec-ignorable: plan still runs
    ok = copy.deepcopy(nat)
    ok["read"]["advancedExtension"] = {
        "optimization": [{"@type": "type.example.com/some.Hint"}]}
    got = from_substrait_plan(spark, plan_of(ok, ["k", "n", "rk"]))
    want = spark.sql("SELECT n_nationkey AS k, n_name AS n, "
                     "n_regionkey AS rk FROM nation")
    assert rows_set(got) == rows_set(want)


def test_single_join_cardinality_survives_right_column_pruning(spark, tables):
    """Review catch r12 + ADVICE r12: a SINGLE join whose emit keeps only
    LEFT ordinals lets Catalyst prune the assert-wrapped right columns —
    the multi-match assert now rides INSIDE the row_number filter
    predicate, so the DuckDB-style cardinality ERROR survives any
    pruning (r13; previously it degraded to a silent arbitrary-pick
    dedup). A 1:N flip with a left-only emit must still raise."""
    plan = _single_join_plan(flip=True)  # nation -> customers: 1:N
    exp = plan["relations"][0]["root"]["input"]["join"]
    exp["common"] = {"emit": {"outputMapping": [0, 1]}}  # left-only
    plan["relations"][0]["root"]["names"] = ["k", "n"]
    got = from_substrait_plan(spark, plan)
    with pytest.raises(Exception, match="single join matched more than"):
        got.collect()

    # and the happy path under the same left-only emit stays exact: N:1
    # keeps one row per left row with no error
    plan_ok = _single_join_plan()
    exp = plan_ok["relations"][0]["root"]["input"]["join"]
    exp["common"] = {"emit": {"outputMapping": [0]}}  # left-only
    plan_ok["relations"][0]["root"]["names"] = ["ck"]
    ok = from_substrait_plan(spark, plan_ok)
    n_cust = spark.table("customer").count()
    assert ok.count() == n_cust
    assert ok.select("ck").distinct().count() == n_cust


def test_fetch_expression_bounds_reject_negatives(spark, tables):
    from tests.test_emit import I64, STR, plan_of, read_rel

    nat = read_rel("nation", ["n_nationkey", "n_name", "n_regionkey"],
                   [I64, STR, I64])
    for key, val, pat in [("countExpr", -1, "count_expr is negative"),
                          ("offsetExpr", -3, "offset_expr is negative")]:
        rel = {"fetch": {"common": {"direct": {}}, "input": nat,
                         key: {"literal": {"i64": val}}}}
        with pytest.raises(SubstraitError, match=pat):
            from_substrait_plan(spark, plan_of(rel, ["k", "n", "rk"]))


def test_update_rel_tag_fails_loudly():
    buf = wire._tag(23, wire._WT_LEN) + wire.encode_uvarint(0)
    with pytest.raises(SubstraitError, match="UpdateRel"):
        wire.decode_message("Rel", buf)


def test_distinct_window_avg_integral_folds_in_double_past_int64(spark):
    """Integral avg(DISTINCT) rebuild accumulates in DOUBLE like native
    Average (r13 advisory): a distinct set whose sum exceeds int64 must
    yield the same finite double as native avg(DISTINCT) — not a wrapped
    long fold (non-ANSI) or an overflow throw (ANSI). Values are all
    2^62 after the double cast, so the check is fold-order-insensitive."""
    big = 1 << 62
    spark.sql(f"""
        SELECT * FROM VALUES
          ('a', CAST({big} AS BIGINT)), ('a', CAST({big + 2} AS BIGINT)),
          ('a', CAST({big + 4} AS BIGINT)), ('b', CAST(7 AS BIGINT))
        AS t(g, v)
    """).createOrReplaceTempView("ovf_i64")
    plan = to_substrait_plan(spark.sql(
        "SELECT g, avg(v) OVER (PARTITION BY g) AS d FROM ovf_i64"))
    got = {(r.g, r.d) for r in from_substrait_plan(
        spark, _poison_distinct(plan)).collect()}
    want = {(r.g, r.d) for r in spark.sql(
        "SELECT t.g, x.d FROM ovf_i64 t JOIN (SELECT g, avg(DISTINCT v)"
        " AS d FROM ovf_i64 GROUP BY g) x ON t.g = x.g").collect()}
    assert got == want, (got, want)
    assert all(d is not None and d > 0 for _, d in got), got
