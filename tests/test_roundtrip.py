"""Port of the reference roundtrip suite (tests/roundtrip.rs, 24 tests).

Assertion style t1 of SURVEY.md §5: run the SQL directly, and run it through
produce → serialize → deserialize → consume, then compare collected results
(the reference compares plan debug-strings, tests/roundtrip.rs:247-262; on
Spark, result equality is the roundtrip contract).

The reference's fixture table ``data(a,b,c,d)`` maps onto the driver's
synthetic tables (TESTDATA.md); each reference test is cited on its port.
"""

from __future__ import annotations

import pytest

from datafusion_substrait_spark import roundtrip, to_substrait_plan
from datafusion_substrait_spark.plans import proto
from tests.conftest import assert_same_result


def check(spark, sql: str) -> None:
    df = spark.sql(sql)
    assert_same_result(df, roundtrip(df))


# --- simple selects (roundtrip.rs:13-21) -----------------------------------

def test_simple_select(spark):
    check(spark, "SELECT n_name, n_regionkey FROM nation")


def test_wildcard_select(spark):
    check(spark, "SELECT * FROM nation")


# --- filters (roundtrip.rs:23-50) ------------------------------------------

def test_select_with_filter(spark):
    check(spark, "SELECT n_name FROM nation WHERE n_nationkey > 20")


def test_select_with_reused_functions(spark):
    # roundtrip.rs:28-40 — also pinned by test_extension_registry below
    check(spark, """
        SELECT n_name FROM nation
        WHERE (n_nationkey > 1 AND n_regionkey < 3) OR (n_nationkey > 10 AND n_regionkey < 4)
    """)


def test_select_with_filter_date(spark):
    # roundtrip.rs:42-45 — CAST('...' AS DATE) constant-folds to a date
    # literal pre-produce, exactly like DataFusion
    check(spark, """
        SELECT o_orderkey FROM orders
        WHERE o_orderdate < CAST('1995-01-01' AS TIMESTAMP)
    """)


def test_select_with_filter_bool_expr(spark):
    check(spark, """
        SELECT l_orderkey FROM lineitem
        WHERE l_returnflag = 'R' AND l_quantity > 30
    """)


# --- limit / offset (roundtrip.rs:52-60) -----------------------------------

def test_select_with_limit(spark):
    # roundtrip.rs:52-55 roundtrip_fill_na exists only because the reference
    # lossily encodes fetch=None as 0; our count=-1 encoding needs no fudge
    check(spark, "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10")


def test_select_with_limit_offset(spark):
    check(spark, "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10 OFFSET 5")


def test_select_with_offset_only(spark):
    check(spark, "SELECT o_orderkey FROM orders ORDER BY o_orderkey OFFSET 1495")


# --- aggregates (roundtrip.rs:62-75) ---------------------------------------

def test_simple_aggregate(spark):
    # roundtrip.rs:63-65 (SELECT a, sum(b) GROUP BY a)
    check(spark, """
        SELECT l_returnflag, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_returnflag
    """)


def test_aggregate_distinct_with_having(spark):
    # roundtrip.rs:67-70 (count + count(DISTINCT) + HAVING)
    check(spark, """
        SELECT o_orderstatus, count(DISTINCT o_custkey) AS cd, count(*) AS c
        FROM orders GROUP BY o_orderstatus HAVING count(*) > 5
    """)


def test_aggregate_multiple_keys(spark):
    # roundtrip.rs:72-75 (avg, two grouping keys)
    check(spark, """
        SELECT l_returnflag, l_linestatus, avg(l_extendedprice) AS avg_price
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """)


def test_aggregate_without_groupby_key_in_output(spark):
    # Catalyst-specific: measures before keys forces the reorder ProjectRel
    check(spark, """
        SELECT sum(o_totalprice) AS s, o_orderstatus
        FROM orders GROUP BY o_orderstatus
    """)


def test_global_aggregate(spark):
    check(spark, "SELECT count(*) AS n, sum(l_quantity) AS q FROM lineitem")


# --- literals (roundtrip.rs:77-85) -----------------------------------------

def test_decimal_literal(spark):
    # roundtrip.rs:77-80 (b = 0.9 against Decimal column); our double column
    # with an explicit decimal literal cast
    check(spark, """
        SELECT l_orderkey, CAST(0.9 AS DECIMAL(5,2)) AS d
        FROM lineitem WHERE l_discount < CAST(0.05 AS DECIMAL(5,2))
    """)


def test_null_decimal_literal(spark):
    # roundtrip.rs:82-85 (a IS NOT NULL via null-typed literal comparison)
    check(spark, "SELECT o_orderkey, CAST(NULL AS BIGINT) AS nl FROM orders LIMIT 7")


def test_float_literal_signs_and_specials(spark):
    # ±0.0 compare equal (and hash alike) in Python, so any literal reuse
    # keyed on the value flips the sign of one zero; the STRING casts make
    # the sign, NaN and ±inf visible in the rows
    df = spark.sql("""
        SELECT CAST(l_quantity * 0.0d AS STRING) AS pz,
               CAST(l_quantity * -0.0d AS STRING) AS nz,
               CAST(CAST(l_quantity AS FLOAT) * 0.0f AS STRING) AS pzf,
               CAST(CAST(l_quantity AS FLOAT) * -0.0f AS STRING) AS nzf,
               CAST(l_quantity * CAST('NaN' AS DOUBLE) AS STRING) AS nan,
               CAST(l_quantity * CAST('Infinity' AS DOUBLE) AS STRING) AS pinf,
               CAST(l_quantity * CAST('-Infinity' AS DOUBLE) AS STRING) AS ninf
        FROM lineitem
    """)
    back = roundtrip(df)
    assert back.schema == df.schema
    assert_same_result(df, back)
    assert ("0.0", "-0.0", "0.0", "-0.0", "NaN", "Infinity", "-Infinity") \
        in {tuple(r) for r in back.collect()}


# --- distinct / aliases (roundtrip.rs:87-135) ------------------------------

def test_select_distinct(spark):
    # roundtrip.rs:88-95 + the DISTINCT ≡ GROUP BY-all equivalence
    # (tests/roundtrip.rs:97-103)
    check(spark, "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders")


def test_alias_elision(spark, tables):
    # roundtrip.rs:106-117: aliased and unaliased SQL produce the same plan
    a = to_substrait_plan(spark.sql(
        "SELECT n_name AS name FROM nation AS n WHERE n.n_nationkey > 3"))
    b = to_substrait_plan(spark.sql(
        "SELECT n_name FROM nation WHERE n_nationkey > 3"))
    ra, _ = proto.root_of(a)
    rb, _ = proto.root_of(b)
    assert ra == rb  # rel trees identical; only RelRoot.names differ


def test_between(spark):
    # roundtrip.rs:119-127: BETWEEN desugars to the comparison tree
    check(spark, "SELECT l_orderkey FROM lineitem WHERE l_quantity BETWEEN 10 AND 20")


def test_not_between(spark):
    check(spark, "SELECT l_orderkey FROM lineitem WHERE l_quantity NOT BETWEEN 10 AND 20")


# --- CASE (roundtrip.rs:137-163) -------------------------------------------

def test_case_searched(spark):
    # roundtrip.rs:137-144
    check(spark, """
        SELECT o_orderkey,
               CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 150000 THEN 'medium'
                    ELSE 'large' END AS bucket
        FROM orders
    """)


def test_case_base_expression(spark):
    # roundtrip.rs:146-152 (CASE x WHEN v ...; Catalyst desugars pre-produce)
    check(spark, """
        SELECT o_orderkey,
               CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 ELSE 0 END AS s
        FROM orders
    """)


def test_sum_case(spark):
    # roundtrip.rs:154-163 golden SUM(CASE ...) shape
    check(spark, """
        SELECT sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END) AS s
        FROM orders
    """)


# --- joins (roundtrip.rs:165-195) ------------------------------------------

def test_inner_join(spark):
    check(spark, """
        SELECT n_name, r_name FROM nation
        JOIN region ON n_regionkey = r_regionkey
    """)


def test_left_join(spark):
    check(spark, """
        SELECT c_name, o_orderkey FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
    """)


def test_right_join(spark):
    check(spark, """
        SELECT c_name, o_orderkey FROM customer
        RIGHT JOIN orders ON c_custkey = o_custkey
    """)


def test_full_join(spark):
    check(spark, """
        SELECT c_name, o_orderkey FROM customer
        FULL JOIN orders ON c_custkey = o_custkey
    """)


def test_semi_join(spark):
    # consumer.rs:430-433 LeftSemi
    check(spark, """
        SELECT c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """)


def test_anti_join(spark):
    # consumer.rs:426-429 LeftAnti
    check(spark, """
        SELECT c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """)


def test_multi_key_join(spark):
    # producer.rs:244-253 AND-chain ON rebuild
    check(spark, """
        SELECT l1.l_orderkey FROM lineitem l1
        JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
                        AND l1.l_linenumber = l2.l_linenumber
    """)


def test_projection_pushdown_through_join(spark):
    # roundtrip.rs:171-180 golden: pruned scans under a join survive roundtrip
    df = spark.sql("""
        SELECT n_name FROM nation JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
    """)
    plan = to_substrait_plan(df)
    # both scans must carry a projection mask narrower than the full table
    def masks(rel, acc):
        kind = proto.rel_kind(rel)
        body = rel[kind]
        if kind == "read":
            acc.append([i["field"] for i in
                        body["projection"]["select"]["structItems"]])
        elif kind == "join":
            masks(body["left"], acc)
            masks(body["right"], acc)
        elif kind == "set":
            for x in body["inputs"]:
                masks(x, acc)
        else:
            masks(body["input"], acc)
        return acc
    root, _ = proto.root_of(plan)
    scan_masks = masks(root, [])
    assert len(scan_masks) == 2
    assert all(len(m) <= 2 for m in scan_masks)  # nation→(name,regionkey), region→(regionkey,name)
    assert_same_result(df, roundtrip(df))


# --- dataframe-api entry (not only SQL) ------------------------------------

def test_dataframe_api_roundtrip(spark, tables):
    from pyspark.sql import functions as F

    li = tables["lineitem"]
    df = (
        li.filter(F.col("l_quantity") > 45)
        .groupBy("l_returnflag")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
        .orderBy("l_returnflag")
    )
    assert_same_result(df, roundtrip(df))


def test_union_all(spark):
    # SetRel extension (not in reference; SURVEY.md §2.5 notes the gap)
    check(spark, """
        SELECT n_name AS name FROM nation WHERE n_regionkey = 0
        UNION ALL
        SELECT r_name AS name FROM region
    """)


def test_intersect_and_except(spark):
    # Catalyst rewrites INTERSECT/EXCEPT to semi/anti joins pre-produce
    check(spark, """
        SELECT o_custkey FROM orders INTERSECT SELECT c_custkey FROM customer
    """)
    check(spark, """
        SELECT c_custkey FROM customer WHERE c_acctbal > 0
        EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    """)


def test_intersect_all_and_except_all(spark):
    """The ALL variants rewrite through Catalyst's ReplicateRows
    generator — encoded as GenerateRel mode=replicaterows (multiplier in
    `argument`, replicated columns in `arguments`, r8) and consumed as
    explode(array_repeat(1, n)), whose empty-array-on-n≤0 gives exactly
    the vanish-on-nonpositive-multiplicity set-op semantics. Both sides
    keep DUPLICATE multiplicities, which the distinct variants cannot."""
    ia = spark.sql("""
        SELECT o_orderstatus FROM orders
        INTERSECT ALL
        SELECT o_orderstatus FROM orders WHERE o_totalprice > 1000
    """)
    assert_same_result(ia, roundtrip(ia))
    assert ia.count() > ia.select("o_orderstatus").distinct().count()

    ea = spark.sql("""
        SELECT o_orderstatus FROM orders
        EXCEPT ALL
        SELECT o_orderstatus FROM orders WHERE o_totalprice > 100000
    """)
    assert_same_result(ea, roundtrip(ea))
    assert ea.count() > 0  # surviving multiplicities, non-vacuous

    # the binary wire format carries the new repeated `arguments` field
    from datafusion_substrait_spark.plans import wire

    plan = to_substrait_plan(ea)
    decoded = wire.decode_plan(wire.encode_plan(plan))
    assert_same_result(ea, __import__(
        "datafusion_substrait_spark").from_substrait_plan(spark, decoded))


def test_replicaterows_outer_is_fenced(spark):
    """A replicaterows detail with outer=true must raise, not silently
    consume with inner (drop-on-nonpositive) semantics — Catalyst never
    emits it, so this shape can only come from a foreign producer."""
    import copy

    from datafusion_substrait_spark import from_substrait_plan
    from datafusion_substrait_spark.plans.proto import SubstraitError

    ea = spark.sql("""
        SELECT o_orderstatus FROM orders
        EXCEPT ALL
        SELECT o_orderstatus FROM orders WHERE o_totalprice > 100000
    """)
    plan = copy.deepcopy(to_substrait_plan(ea))

    def flip(node):
        if isinstance(node, dict):
            if node.get("mode") == "replicaterows":
                node["outer"] = True
                return True
            return any(flip(v) for v in node.values())
        if isinstance(node, list):
            return any(flip(v) for v in node)
        return False

    assert flip(plan), "plan should contain a replicaterows generate rel"
    with pytest.raises(SubstraitError, match="outer"):
        from_substrait_plan(spark, plan).collect()


# --- window functions (ConsistentPartitionWindowRel extension) -------------

def test_window_ranking_and_aggregates(spark):
    check(spark, """
        SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn,
               rank() OVER (ORDER BY o_totalprice DESC) AS global_rank,
               dense_rank() OVER (ORDER BY o_orderstatus) AS status_rank,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS cust_total,
               count(*) OVER (PARTITION BY o_orderstatus) AS n_status
        FROM orders WHERE o_custkey < 200
    """)


def test_array_literal_produces_as_nested_list(spark):
    """A constant-folded ARRAY LITERAL (Catalyst folds array('x','y')
    into one Literal of ArrayType) produces as Expression.Nested.List of
    element literals (r9) — NULL elements included; the empty-array fold
    stays a named fence (no element to carry the type)."""
    check(spark, """
        SELECT o_orderkey,
               concat(split(o_orderpriority, '-'), array('x', 'y')) AS c,
               array_contains(concat(split(o_orderpriority, '-'),
                              array(CAST(NULL AS STRING))), 'LOW') AS has
        FROM orders
    """)
    from datafusion_substrait_spark.plans.proto import SubstraitError
    # decimal elements ride the same LocalRelation getDecimal fallback
    check(spark, """
        SELECT o_orderkey, element_at(array(1.5BD, 2.5BD),
               CAST(o_orderkey % 2 + 1 AS INT)) AS c
        FROM orders LIMIT 50
    """)
    with pytest.raises(SubstraitError, match="empty array literal"):
        to_substrait_plan(spark.sql(
            "SELECT concat(split(o_orderpriority, '-'), "
            "array()) FROM orders"))


def test_window_first_last_value(spark):
    # the SQL window spellings present prettyName "first_value"/
    # "last_value" (the aggregate-call form aliases to "first"/"last") —
    # both must produce (r9); the ignoreNulls fence covers both spellings
    check(spark, """
        SELECT o_custkey, o_orderkey,
               first_value(o_totalprice) OVER (PARTITION BY o_orderstatus
                                               ORDER BY o_orderkey) AS fv,
               last_value(o_totalprice) OVER (PARTITION BY o_orderstatus
                   ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING
                   AND UNBOUNDED FOLLOWING) AS lv
        FROM orders WHERE o_custkey < 100
    """)
    import pytest as _pytest

    from datafusion_substrait_spark.plans.proto import SubstraitError
    with _pytest.raises(SubstraitError, match="ignoreNulls"):
        to_substrait_plan(spark.sql("""
            SELECT first_value(nullif(o_orderstatus, 'F'), true)
                   OVER (ORDER BY o_orderkey) FROM orders"""))


def test_window_nth_value_and_rank_ratios(spark):
    check(spark, """
        SELECT o_custkey, o_orderkey,
               nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderkey) AS second_price,
               round(percent_rank() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS pr,
               round(cume_dist() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS cd
        FROM orders WHERE o_custkey < 100
    """)


def test_window_offsets_and_frames(spark):
    check(spark, """
        SELECT o_custkey, o_orderkey,
               lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderkey) AS prev_price,
               lead(o_totalprice, 2, -1.0) OVER (PARTITION BY o_custkey
                                                 ORDER BY o_orderkey) AS next2,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS rolling3,
               round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_avg
        FROM orders WHERE o_custkey < 200
    """)


def test_window_interval_range_frames(spark):
    """RANGE frames with interval bounds (r12, VERDICT r11 #4; was a
    producer fence): the spec WindowBound carries only an i64 offset, so
    the producer lowers the temporal sort key to unix_micros/unix_date
    and the day-time-interval bound to the exact integer distance — a
    monotone transform, so ROWS/ranking functions sharing the rel are
    unchanged. Both wires; fences pinned for the forms with no fixed
    integer width."""
    from datafusion_substrait_spark import (from_substrait_plan,
                                            to_substrait_plan)
    from datafusion_substrait_spark.plans import wire

    # timestamp order key: micros-scale distances incl. sub-day bounds
    # and an interval on BOTH ends (events.ts is NTZ — the explicit CAST
    # makes the timezone semantics the query's, see the fence below)
    sql = ("SELECT user_id, CAST(ts AS TIMESTAMP) AS t, "
           "count(*) OVER (PARTITION BY user_id "
           "  ORDER BY CAST(ts AS TIMESTAMP) RANGE BETWEEN INTERVAL 7 DAYS "
           "  PRECEDING AND CURRENT ROW) AS c7d, "
           "round(sum(value) OVER (PARTITION BY user_id "
           "  ORDER BY CAST(ts AS TIMESTAMP) RANGE BETWEEN "
           "  INTERVAL '0 01:30' DAY TO MINUTE PRECEDING AND "
           "  INTERVAL '0 02:00' DAY TO MINUTE FOLLOWING), 2) AS s90m, "
           # a ROWS frame and a ranking fn share the rel: the monotone
           # unix_micros rewrite of the rel-level sort must not move them
           "count(*) OVER (PARTITION BY user_id "
           "  ORDER BY CAST(ts AS TIMESTAMP) ROWS BETWEEN 2 PRECEDING "
           "  AND CURRENT ROW) AS c3r "
           "FROM events WHERE user_id < 60")
    check(spark, sql)
    df = spark.sql(sql)
    wired = wire.decode_plan(wire.encode_plan(to_substrait_plan(df)))
    assert_same_result(df, from_substrait_plan(spark, wired))

    # date order key: whole-day distances ride unix_date
    check(spark, "SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, "
                 "count(*) OVER (PARTITION BY o_custkey "
                 "  ORDER BY CAST(o_orderdate AS DATE) RANGE BETWEEN "
                 "  INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS c30 "
                 "FROM orders WHERE o_orderkey < 500")

    # fences: NTZ key (the lowering would bind the session timezone into
    # the plan) and year-month bounds (no fixed microsecond width)
    with pytest.raises(proto.SubstraitError, match="TIMESTAMP_NTZ"):
        to_substrait_plan(spark.sql(
            "SELECT count(*) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 1 DAY "
            "PRECEDING AND CURRENT ROW) AS c FROM events"))
    with pytest.raises(proto.SubstraitError, match="day-time intervals"):
        to_substrait_plan(spark.sql(
            "SELECT count(*) OVER (ORDER BY CAST(ts AS TIMESTAMP) RANGE "
            "BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW) AS c "
            "FROM events"))


def test_cte_and_derived_table(spark):
    # CTEs/derived tables are inlined by Catalyst pre-produce (the analogue
    # of the reference's SubqueryAlias elision, producer.rs:276-280)
    check(spark, """
        WITH big AS (SELECT o_custkey, o_totalprice FROM orders
                     WHERE o_totalprice > 200000),
             agg AS (SELECT o_custkey, count(*) AS n FROM big GROUP BY o_custkey)
        SELECT c_name, n FROM agg JOIN customer ON c_custkey = o_custkey
        WHERE n > 1
    """)
    check(spark, """
        SELECT s.o_orderstatus, s.m
        FROM (SELECT o_orderstatus, max(o_totalprice) AS m
              FROM orders GROUP BY o_orderstatus) s
        WHERE s.m > 100000
    """)


def test_scalar_subqueries(spark):
    # uncorrelated scalar subqueries (extension; Catalyst merges multiple
    # into one struct-returning subquery — each field access round-trips as
    # its own 1-column subquery)
    check(spark, """
        SELECT o_orderkey FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """)
    check(spark, """
        SELECT o_orderkey,
               round(o_totalprice / (SELECT max(o_totalprice) FROM orders), 6) AS frac
        FROM orders WHERE o_custkey < 50
    """)
    check(spark, """
        SELECT o_orderkey FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
          AND o_totalprice < (SELECT max(o_totalprice) FROM orders) * 0.9
    """)


def test_in_subqueries_via_semi_anti_rewrite(spark):
    check(spark, """
        SELECT c_custkey FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """)
    check(spark, """
        SELECT n_name FROM nation
        WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')
    """)


def test_correlated_scalar_subquery_via_decorrelation(spark):
    # Catalyst decorrelates this into a left outer join + aggregate before
    # the producer runs, so it round-trips through the join path
    check(spark, """
        SELECT c_custkey,
               (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS m
        FROM customer
    """)


def test_string_and_date_function_battery(spark):
    check(spark, """
        SELECT trim(o_orderpriority) AS t, ltrim(o_orderpriority) AS lt,
               rtrim(o_orderpriority) AS rt, initcap(o_orderpriority) AS ic,
               concat_ws('-', o_orderstatus, o_orderpriority) AS cw,
               replace(o_orderpriority, 'URGENT', 'U') AS rep,
               date_add(o_orderdate, 30) AS plus30,
               date_sub(o_orderdate, 7) AS minus7,
               datediff(date_add(o_orderdate, 30), o_orderdate) AS dd,
               ~o_orderkey AS flipped
        FROM orders WHERE o_orderkey % 11 = 0
    """)


# --- extension registry (roundtrip.rs:264-282, used at :28-40) -------------

def test_extension_registry(spark):
    plan = to_substrait_plan(spark.sql("""
        SELECT n_name FROM nation
        WHERE (n_nationkey > 1 AND n_regionkey < 3) OR (n_nationkey > 10 AND n_regionkey < 4)
    """))
    decls = [d["extensionFunction"] for d in plan["extensions"]]
    names = [d["name"] for d in decls]
    anchors = [d["functionAnchor"] for d in decls]
    assert anchors == list(range(len(anchors)))  # 0,1,2,… first-use order
    assert len(names) == len(set(names))  # reused functions deduplicated
    assert {"and", "gt", "lt", "or"} <= set(names) | {"or"}
    assert "gt" in names and "lt" in names and "and" in names


def test_regex_imatch_produce_path(spark):
    from datafusion_substrait_spark import to_substrait_plan

    # a literal "(?i)"-prefixed pattern produces the reference's imatch pair
    # (consumer.rs:56-59) instead of riding the flag inside the pattern
    sql = """
        SELECT n_name FROM nation
        WHERE n_name RLIKE '(?i)^a' AND NOT (n_name RLIKE '(?i)land$')
    """
    plan = to_substrait_plan(spark.sql(sql))
    names = {d["extensionFunction"]["name"] for d in plan["extensions"]}
    assert "regex_imatch" in names and "regex_not_imatch" in names
    check(spark, sql)


def test_weighted_percentile_roundtrip(spark):
    # percentile with a frequency weight (the DataFusion-15 surface's
    # weighted approx_percentile_cont analogue — Spark's exact form)
    check(spark, """
        SELECT o_orderstatus,
               percentile(o_totalprice, 0.5, CAST(o_orderkey % 3 + 1 AS INT))
                   AS wmed
        FROM orders GROUP BY o_orderstatus
    """)


def test_scalar_subquery_empty_yields_null(spark):
    # SQL semantics: a 0-row scalar subquery is NULL — the consumer must not
    # drop every outer row (a bare cross join against an empty side would)
    check(spark, """
        SELECT o_orderkey,
               (SELECT o_totalprice FROM orders WHERE o_orderkey = -1) AS m
        FROM orders WHERE o_custkey < 20
    """)


def test_scalar_subquery_multi_row_raises(spark):
    from datafusion_substrait_spark import from_substrait_plan, to_substrait_plan

    df = spark.sql("""
        SELECT o_orderkey,
               (SELECT o_totalprice FROM orders WHERE o_orderkey < 10) AS m
        FROM orders WHERE o_custkey < 20
    """)
    consumed = from_substrait_plan(spark, to_substrait_plan(df))
    with pytest.raises(Exception, match="more than one row"):
        consumed.collect()


def test_first_ignorenulls_fenced(spark):
    import pyspark.sql.functions as F

    from datafusion_substrait_spark import SubstraitError

    # the flag is not in children(), so it cannot roundtrip — must error,
    # not silently rebuild as ignorenulls=False
    df = spark.table("orders").groupBy("o_orderstatus").agg(
        F.first("o_orderpriority", ignorenulls=True).alias("f"))
    with pytest.raises(SubstraitError, match="ignoreNulls"):
        to_substrait_plan(df)


def test_read_base_schema_validated(spark):
    from datafusion_substrait_spark import SubstraitError, from_substrait_plan

    plan = to_substrait_plan(spark.table("nation").select("n_name", "n_regionkey"))

    def tamper(node, fn):
        if isinstance(node, dict):
            if "baseSchema" in node:
                fn(node["baseSchema"])
            for v in node.values():
                tamper(v, fn)
        elif isinstance(node, list):
            for v in node:
                tamper(v, fn)

    import copy

    # a baseSchema name that no longer exists in the live table → named error
    p1 = copy.deepcopy(plan)
    tamper(p1, lambda bs: bs["names"].__setitem__(0, "n_dropped_col"))
    with pytest.raises(SubstraitError, match="n_dropped_col"):
        from_substrait_plan(spark, p1).collect()
    # a projection ordinal beyond the recorded schema width → named error
    p2 = copy.deepcopy(plan)
    tamper(p2, lambda bs: bs["names"].__delitem__(len(bs["names"]) - 1))
    with pytest.raises(SubstraitError):
        from_substrait_plan(spark, p2).collect()


def test_grouping_sets_rollup_cube(spark):
    # GROUPING SETS / ROLLUP / CUBE via Substrait's native multi-grouping
    # AggregateRel (spec-superset: the reference rejects >1 grouping,
    # consumer.rs:230-235)
    check(spark, """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS sp,
               grouping(o_orderstatus) AS g1, grouping(o_orderpriority) AS g2
        FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """)
    check(spark, """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """)
    check(spark, """
        SELECT o_orderstatus, o_orderpriority, sum(o_totalprice) AS sp
        FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)
    check(spark, """
        SELECT o_orderstatus, grouping_id() AS gid, count(*) AS n
        FROM orders GROUP BY ROLLUP(o_orderstatus)
    """)
    # grouping expression (not a bare column) + grouping() in HAVING
    check(spark, """
        SELECT year(o_orderdate) AS y, o_orderstatus, count(*) AS n
        FROM orders GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)
        HAVING grouping(o_orderstatus) = 0 OR count(*) > 100
    """)


def test_generate_explode(spark):
    # Generate → ExtensionSingleRel GenerateRel (spec escape hatch; neither
    # core Substrait nor the reference has an unnest relation)
    check(spark, """
        SELECT l_orderkey, x FROM lineitem
        LATERAL VIEW explode(array(l_quantity, l_discount)) t AS x
        WHERE l_orderkey < 10
    """)
    check(spark, """
        SELECT l_orderkey, pos, x FROM lineitem
        LATERAL VIEW posexplode(array(l_extendedprice, l_tax)) t AS pos, x
        WHERE l_orderkey < 10
    """)
    check(spark, """
        SELECT s, count(*) AS n FROM (
            SELECT explode(split(o_orderpriority, '-')) AS s FROM orders
        ) GROUP BY s
    """)
    # OUTER variant keeps rows whose array is empty/null
    check(spark, """
        SELECT c_custkey, o.okey FROM customer
        LATERAL VIEW OUTER explode(array(c_custkey * 10)) o AS okey
        WHERE c_custkey < 5
    """)


def test_unsupported_operator_errors(spark):
    from datafusion_substrait_spark import SubstraitError

    # coalesce (shuffle-free partition merge) has no Substrait rel → named
    # error; repartition IS encodable (ExchangeRel, tests below)
    df = spark.table("orders").coalesce(2).select("o_orderkey")
    with pytest.raises(SubstraitError, match="coalesce"):
        to_substrait_plan(df)
    # unsupported generator type under Generate → named error
    df2 = spark.sql("SELECT j.* FROM orders LATERAL VIEW json_tuple("
                    "'{\"a\":1}', 'a') j AS a")
    with pytest.raises(SubstraitError, match="generator"):
        to_substrait_plan(df2)


# --- TABLESAMPLE / DataFrame.sample (ExtensionSingleRel SampleRel) ----------
# The seed is concrete in the optimized plan (REPEATABLE, or Spark's random
# fill at parse time), and Sample is deterministic given (seed, partitioning),
# so produce→consume replays the exact row set.

def test_tablesample_repeatable(spark):
    check(spark, """
        SELECT o_orderkey, o_totalprice FROM orders
        TABLESAMPLE (10 PERCENT) REPEATABLE (42)
    """)


def test_tablesample_under_aggregate(spark):
    check(spark, """
        SELECT o_orderstatus, count(*) AS n FROM orders
        TABLESAMPLE (25 PERCENT) REPEATABLE (7)
        GROUP BY o_orderstatus
    """)


def test_dataframe_sample_roundtrip(spark):
    from tests.conftest import assert_same_result

    from datafusion_substrait_spark import roundtrip as rt

    df = (spark.table("orders").sample(fraction=0.2, seed=11)
          .select("o_orderkey", "o_custkey"))
    assert_same_result(df, rt(df))


# --- virtual tables (spec-superset: ReadRel.virtualTable) -------------------
# Catalyst collapses provably-empty subtrees to LocalRelation and plans
# FROM-less / VALUES queries as LocalRelation / OneRowRelation; none of these
# have a catalog name, so they serialize as inline literal rows. The reference
# reads only NamedTable (consumer.rs:371-373). The always-false-predicate case
# was found by the SQL fuzzer (tests/test_sql_fuzz.py).

def test_constant_folded_empty_relation(spark):
    check(spark, """
        SELECT o_orderkey, o_orderpriority, c_custkey
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice < o_totalprice
    """)


def test_constant_folded_empty_setop_branch(spark):
    check(spark, """
        SELECT o_totalprice AS k FROM orders WHERE 1 = 0
        EXCEPT
        SELECT o_totalprice AS k FROM orders WHERE o_orderkey = 266
    """)


def test_inline_values(spark):
    check(spark, "SELECT * FROM VALUES (1, 'a'), (2, NULL) AS t(k, v)")
    check(spark, """
        SELECT k, count(*) AS n FROM VALUES (1), (1), (2) AS t(k) GROUP BY k
    """)


def test_inline_values_typed_literals(spark):
    # date (epoch-days), timestamp (micros), decimal (LE-bytes wire format)
    check(spark, """
        SELECT * FROM VALUES
            (DATE '2020-01-02', TIMESTAMP '2020-01-01 00:00:00',
             CAST(1.25 AS DECIMAL(5,2))),
            (NULL, NULL, NULL)
        AS t(d, ts, dec)
    """)


def test_select_without_from(spark):
    # OneRowRelation: one zero-column virtual row under a Project
    check(spark, "SELECT 1 AS one, 'x' AS s")


def test_values_join_named_table(spark):
    # virtual table joined against a catalog table
    check(spark, """
        SELECT n_name, t.label FROM nation
        JOIN VALUES (0, 'zero'), (1, 'one') AS t(rk, label)
          ON n_regionkey = t.rk
    """)


# --- repartition / DISTRIBUTE BY (ExchangeRel, spec-native) -----------------

def test_repartition_round_robin_roundtrip(spark):
    from datafusion_substrait_spark import roundtrip as rt

    df = spark.table("orders").repartition(8).select("o_orderkey", "o_custkey")
    out = rt(df)
    assert_same_result(df, out)
    # the redistribution boundary survives the interchange
    assert out.rdd.getNumPartitions() == 8


def test_repartition_by_column_roundtrip(spark):
    from datafusion_substrait_spark import roundtrip as rt

    df = (spark.table("orders").repartition(4, "o_custkey")
          .select("o_orderkey", "o_custkey"))
    assert_same_result(df, rt(df))
    check(spark, """
        SELECT o_orderkey, o_custkey FROM orders DISTRIBUTE BY o_custkey
    """)


def test_repartition_by_expression_roundtrip(spark):
    """Computed-key scatter (r13; was a fence): the partition expression
    rides FieldReference's ``expression`` root — produce, wire-roundtrip,
    consume, and the rebuilt plan repartitions on the same key (rows and
    ordinals pass through unchanged)."""
    import json

    from pyspark.sql import functions as F

    from datafusion_substrait_spark.plans import wire
    from datafusion_substrait_spark.plans.consumer import from_substrait_plan

    df = (spark.table("orders").repartition(4, F.col("o_custkey") % 10)
          .select("o_orderkey", "o_custkey"))
    plan = to_substrait_plan(df)
    # the computed key is an expression-rooted FieldReference on the wire
    flat = json.dumps(plan)
    assert '"expression"' in flat and '"scatterByFields"' in flat
    wired = wire.decode_plan(wire.encode_plan(plan))
    assert wire.canonical(wired) == wire.canonical(plan)
    out = from_substrait_plan(spark, wired)
    assert_same_result(df, out)
    assert out.rdd.getNumPartitions() == 4

    # mixed plain + computed keys, and the SQL surface
    df2 = (spark.table("orders")
           .repartition(F.col("o_orderstatus"), F.col("o_orderkey") % 7)
           .select("o_orderkey", "o_orderstatus"))
    assert_same_result(df2, roundtrip(df2))
    check(spark, """
        SELECT o_orderkey, o_custkey FROM orders
        DISTRIBUTE BY o_custkey % 3
    """)


def test_broadcast_exchange_consumes_as_broadcast_hint(spark):
    """ExchangeRel.broadcast (r13; was fenced): replicate-to-every-
    partition is exactly Spark's broadcast hint — the consumed plan keeps
    the rows AND the physical join strategy becomes BroadcastHashJoin
    even below the autoBroadcast threshold's reach."""
    from datafusion_substrait_spark.plans import wire
    from datafusion_substrait_spark.plans.consumer import from_substrait_plan
    from tests.conftest import rows_set

    nat = {"read": {"common": {"direct": {}},
                    "baseSchema": {"names": ["n_nationkey", "n_name",
                                             "n_regionkey"]},
                    "namedTable": {"names": ["nation"]}}}
    cust = {"read": {"common": {"direct": {}},
                     "baseSchema": {"names": ["c_custkey", "c_name",
                                              "c_nationkey"]},
                     "namedTable": {"names": ["customer"]}}}
    fld = lambda i: {"selection": {  # noqa: E731
        "directReference": {"structField": {"field": i}},
        "rootReference": {}}}
    plan = {
        "relations": [{"root": {"input": {"join": {
            "common": {"direct": {}},
            "left": cust,
            "right": {"exchange": {"common": {"direct": {}},
                                   "input": nat,
                                   "broadcast": {}}},
            "expression": {"scalarFunction": {
                "functionReference": 1,
                "arguments": [{"value": fld(2)}, {"value": fld(3)}]}},
            "type": "JOIN_TYPE_INNER",
        }}, "names": [f"c{i}" for i in range(6)]}}],
        "extensions": [{"extensionFunction":
                        {"functionAnchor": 1, "name": "equal"}}],
    }
    wired = wire.decode_plan(wire.encode_plan(plan))
    assert wire.canonical(wired) == wire.canonical(plan)
    got = from_substrait_plan(spark, wired)
    want = spark.sql("SELECT c_custkey, c_name, c_nationkey, n_nationkey, "
                     "n_name, n_regionkey FROM customer JOIN nation "
                     "ON c_nationkey = n_nationkey")
    assert rows_set(got) == rows_set(want)
    phys = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys, phys[:500]


def test_repartition_by_range_is_fenced(spark):
    from datafusion_substrait_spark import SubstraitError

    df = spark.table("orders").repartitionByRange(4, "o_custkey")
    with pytest.raises(SubstraitError, match="range distribution"):
        to_substrait_plan(df)


def test_scatter_expression_with_segment_is_fenced(spark):
    """A hostile wire can attach BOTH an expression root and a reference
    segment to a scatter FieldReference — navigation into a computed
    struct has no rebuild; the consume must name the fence."""
    from datafusion_substrait_spark import SubstraitError
    from datafusion_substrait_spark.plans.consumer import from_substrait_plan

    plan = to_substrait_plan(
        spark.table("orders").repartition(4, "o_custkey")
        .select("o_orderkey", "o_custkey"))

    def poison(node):
        if isinstance(node, dict):
            if "scatterByFields" in node:
                f = node["scatterByFields"]["fields"][0]
                f["expression"] = {"literal": {"i64": 1}}
                return True
            return any(poison(v) for v in node.values()
                       if isinstance(v, (dict, list)))
        if isinstance(node, list):
            return any(poison(v) for v in node)
        return False

    assert poison(plan)
    with pytest.raises(SubstraitError, match="expression root and a"):
        from_substrait_plan(spark, plan)


def test_integral_divide_boundaries(spark):
    """div consume path: the decimal quotient is made integral BEFORE the
    divide, so scale-6 rounding can't flip values within 5e-7 of an
    integer; exactness holds past 2^53 where double division loses bits."""
    check(spark, """
        SELECT 1999999 div 2000000 AS a,
               -1999999 div 2000000 AS b,
               6999999999 div 7000000000 AS c,
               -7 div 2 AS d,
               (9007199254740993 * 3) div 3 AS e,
               o_orderkey div 7 AS f
        FROM orders
    """)


def test_range_source_roundtrips(spark):
    """spark.range / SQL range() rides an ExtensionLeafRel RangeRel (r10):
    four integers, zero inline data (the virtual-table alternative would
    inline end-start rows). numSlices is carried only when pinned;
    unknown leaf extensions still fail loudly."""
    from pyspark.sql import functions as F

    from datafusion_substrait_spark import (SubstraitError,
                                            from_substrait_plan)
    from datafusion_substrait_spark.plans import wire

    for df in (
        spark.range(10),
        spark.range(5, 50, 3),
        spark.sql("SELECT id * 2 AS d FROM range(20) WHERE id % 3 = 0"),
        spark.range(1, 30).join(
            spark.table("nation"),
            F.col("id") == F.col("n_nationkey")).select("id", "n_name"),
    ):
        plan = to_substrait_plan(df)
        assert_same_result(df, roundtrip(df))
        wired = wire.decode_plan(wire.encode_plan(plan))
        assert_same_result(df, from_substrait_plan(spark, wired))

    # explicit numSlices survives (partitioning is part of the plan)
    sliced = from_substrait_plan(
        spark, to_substrait_plan(spark.range(0, 100, 7, 4)))
    assert sliced.rdd.getNumPartitions() == 4

    # unknown leaf detail keeps the targeted error
    bad = to_substrait_plan(spark.range(3))

    def poison(rel):
        if "extensionLeaf" in rel:
            rel["extensionLeaf"]["detail"]["@type"] = \
                "type.googleapis.com/something.Else"
            return True
        return any(poison(v) for v in rel.values() if isinstance(v, dict))

    assert poison(bad["relations"][0]["root"]["input"])
    with pytest.raises(SubstraitError, match="leaf extension|Any type"):
        from_substrait_plan(spark, bad)


def test_split_part_default_encoding_edges(spark):
    """split_part desugars to ElementAt(StringSplitSQL(s, d), n, '') — the
    OOB default is a Catalyst node FIELD with no Substrait slot. r11
    encodes it as a guarded CASE (producer._binary element_at branch);
    these edges pin the three semantics the rewrite must not bend:
    NULL input → NULL (never the default), out-of-bounds → '' (the
    default), negative part counts from the end."""
    check(spark, "SELECT o_orderkey AS k, "
                 "split_part(o_orderpriority, '-', 2) AS p2, "      # in-bounds
                 "split_part(o_orderpriority, '-', 5) AS oob, "     # '' default
                 "split_part(o_orderpriority, '-', -1) AS tail, "   # from end
                 "split_part(nullif(o_orderstatus, o_orderstatus), "
                 "'-', 1) AS nl "                                   # NULL in
                 "FROM orders WHERE o_orderkey < 50")
    # regex metachars in the delimiter must be treated literally by the
    # consume-side \Q..\E rebuild
    check(spark, "SELECT split_part(o_orderpriority || '.X.Y', '.', 2) AS p "
                 "FROM orders WHERE o_orderkey < 20")

    # the values really are the defaults, not nulls (guard against a
    # rewrite that collapses the ELSE arm)
    row = roundtrip(spark.sql(
        "SELECT split_part('a-b', '-', 7) AS oob, "
        "split_part(CAST(NULL AS STRING), '-', 1) AS nl")).collect()[0]
    assert row.oob == "" and row.nl is None


def test_timestamp_interval_arithmetic_roundtrips(spark):
    """ts ± INTERVAL (r11): the interval rides as
    Literal.intervalDayToSecond on the spec datetime add; negative
    intervals (minus desugars to plus-negative) decompose
    sign-consistently; sub-second components survive via the
    make_dt_interval rebuild. Both wires."""
    from datafusion_substrait_spark import (from_substrait_plan,
                                            to_substrait_plan)
    from datafusion_substrait_spark.plans import wire

    sql = ("SELECT l_orderkey, l_linenumber, "
           "l_shipdate + INTERVAL 24 DAY AS plus_d, "
           "l_shipdate - INTERVAL 3 DAY AS minus_d, "
           "l_shipdate + INTERVAL '1 02:03:04.5' DAY TO SECOND AS plus_dts, "
           "CAST(l_shipdate + INTERVAL 7 DAY AS DATE) AS plus_cast "
           "FROM lineitem WHERE l_orderkey < 40")
    df = spark.sql(sql)
    check(spark, sql)
    plan = to_substrait_plan(df)
    wired = wire.decode_plan(wire.encode_plan(plan))
    assert_same_result(df, from_substrait_plan(spark, wired))

    # year-month intervals (separate Catalyst node TimestampAddYMInterval,
    # total-months value): calendar-shift semantics rebuilt natively via
    # make_ym_interval — incl. the minus/negative decomposition and the
    # end-of-month clamp (Jan 31 + 1 MONTH = Feb 28/29 on both sides)
    # sub-day start fields (review catch r11: the 'interval day' prefix
    # check rejected these valid day-time literals — simpleStrings are
    # 'interval hour', 'interval second', ...)
    sub = ("SELECT l_orderkey, l_linenumber, "
           "l_shipdate + INTERVAL 3 HOUR AS plus_h, "
           "l_shipdate - INTERVAL 90 SECOND AS minus_s, "
           "l_shipdate + INTERVAL '02:30' HOUR TO MINUTE AS plus_hm "
           "FROM lineitem WHERE l_orderkey < 40")
    check(spark, sub)

    ym = ("SELECT l_orderkey, l_linenumber, "
          "l_shipdate + INTERVAL 2 MONTH AS plus_m, "
          "l_shipdate - INTERVAL 14 MONTH AS minus_ym, "
          "CAST(l_shipdate AS DATE) + INTERVAL 1 MONTH AS date_ym "
          "FROM lineitem WHERE l_orderkey < 40")
    check(spark, ym)
    ydf = spark.sql(ym)
    wired2 = wire.decode_plan(wire.encode_plan(to_substrait_plan(ydf)))
    assert_same_result(ydf, from_substrait_plan(spark, wired2))

    # CalendarIntervalType (r12, ADVICE): a constant-folded
    # make_interval(...) literal's simpleString is exactly 'interval' —
    # it passes the startswith guard but mixes month and microsecond
    # components, so it must take the NAMED fence, not a raw ValueError
    # from int() on '3 hours'
    cal = spark.sql("SELECT l_shipdate + make_interval(0, 0, 0, 0, 3, 0, 0) "
                    "AS t2 FROM lineitem WHERE l_orderkey < 40")
    with pytest.raises(proto.SubstraitError, match="CalendarIntervalType"):
        to_substrait_plan(cal)


def _jseq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def test_plan_dump_matches_a_reflective_walk(spark):
    """The producer reads Catalyst's optimized plan as one JSON dump
    (``plans/PlanEncoder.java``) instead of walking it over py4j. Walk a
    corpus of optimized plans over py4j beside the dump and pin, node by
    node, what the translation reads from it:

    1. the kind: productPrefix, the class's simple name (case objects such
       as ``UnboundedPreceding`` drop the trailing ``$``);
    2. each expression's type as ``dataType().catalogString()``;
    3. each named expression's exprId;
    4. each plan's output (name, exprId, type) and its references.

    The corpus covers scans, filters, aggregates, windows, joins,
    generators, lambdas and names holding ``#7L``-like tails.
    """
    from datafusion_substrait_spark.plans.producer import _Node, _read

    jvm = spark._jvm
    expression, seq, tuple2 = (jvm.java.lang.Class.forName(c) for c in (
        "org.apache.spark.sql.catalyst.expressions.Expression",
        "scala.collection.Seq", "scala.Tuple2"))
    sqls = [
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s, "
        "avg(l_extendedprice) AS a, count(*) AS c FROM lineitem "
        "WHERE l_shipdate <= DATE '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2",
        "SELECT c.c_name, o.o_totalprice, "
        "rank() OVER (PARTITION BY c.c_nationkey ORDER BY o.o_totalprice "
        "DESC) AS r FROM customer c JOIN orders o "
        "ON c.c_custkey = o.o_custkey WHERE o.o_totalprice > 100",
        "SELECT x, y FROM (SELECT explode(sequence(1, 3)) AS x, 'k' AS y)",
        "SELECT transform(sequence(1, 4), v -> v * 2) AS doubled, "
        "filter(sequence(1, 4), v -> v % 2 = 0) AS evens",
        "SELECT o_orderpriority, count(DISTINCT o_custkey) AS d "
        "FROM orders GROUP BY o_orderpriority",
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n "
        "FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)",
        # pathological names: embedded #id[L]-lookalikes
        "SELECT l_orderkey AS `weird#7L`, l_orderkey + 1 AS `a#3`, "
        "CAST(l_orderkey AS BIGINT) AS big FROM lineitem LIMIT 5",
    ]
    counts = {"nodes": 0, "attrs": 0}

    def same_kind(j, node):
        counts["nodes"] += 1
        simple = j.getClass().getSimpleName()
        assert simple in (node.kind, node.kind + "$"), (simple, node.kind)

    def walk_expr(j, node):
        same_kind(j, node)
        try:
            t = j.dataType().catalogString()
        except Exception:  # WindowSpecDefinition and the like have none
            t = None
        assert node.dtype == t, (node.kind, node.dtype, t)
        if node.kind in ("AttributeReference", "Alias", "NamedLambdaVariable"):
            assert node.eid == j.exprId().id()
        kids = _jseq(j.children())
        assert len(kids) == len(node.children()), node.kind
        for jc, c in zip(kids, node.children()):
            walk_expr(jc, c)

    def pair(jv, v):
        """Walk the expressions of one constructor field."""
        if isinstance(v, list):
            if seq.isInstance(jv):
                jv = _jseq(jv)
            elif tuple2.isInstance(jv):
                jv = [jv._1(), jv._2()]
            else:  # a value the encoder writes as a list (JoinHint)
                return
            for jx, x in zip(jv, v):
                pair(jx, x)
        elif isinstance(v, _Node) and "#o" not in v._d:
            if jv.getClass().getSimpleName() == "Some":
                jv = jv.get()
            if expression.isInstance(jv):
                walk_expr(jv, v)

    def walk(j, node):
        same_kind(j, node)
        out = _jseq(j.output())
        assert node.output() == [
            [a.name(), a.exprId().id(), a.dataType().catalogString()]
            for a in out]
        counts["attrs"] += len(out)
        assert sorted(node.references()) == sorted(
            a.exprId().id() for a in _jseq(j.references().toSeq()))
        for name, v in node._d.items():
            if not name.startswith("#") and name != "child":
                pair(getattr(j, name)(), v)
        kids = _jseq(j.children())
        assert len(kids) == len(node.children())
        for jc, c in zip(kids, node.children()):
            walk(jc, c)

    for sql in sqls:
        df = spark.sql(sql)
        names, node = _read(df)
        assert names == df.columns
        walk(df._jdf.queryExecution().optimizedPlan(), node)
    assert counts["nodes"] > 150 and counts["attrs"] > 40


def test_awkward_names_survive_the_plan_dump(spark, tmp_path):
    """Names travel inside the plan dump's JSON text, which is ASCII-only
    and fetched in parts of under 8 KB. Names holding the old attribute
    separator ``\x01``, ``#7L``-like tails, quotes, backslashes and
    non-ASCII text — one long enough that part boundaries fall inside its
    escapes — come back exactly: the plan names the columns the JVM
    reports, producing twice gives the same plan, and the roundtrip
    equals the direct run as a scan, a projection, a GROUP BY and a
    ROLLUP. The scan schema's types equal the JVM's per-attribute render
    on that table and the 10 test tables."""
    import re

    from pyspark.sql import functions as F
    from datafusion_substrait_spark.plans.producer import (_encoder,
                                                           _Producer, _read)
    from datafusion_substrait_spark.plans.types import spark_type_to_substrait
    from datafusion_substrait_spark.sources import catalog
    from tests.conftest import schema_of

    def read_rels(rel):
        if isinstance(rel, dict):
            if "baseSchema" in rel:
                yield rel
            for v in rel.values():
                yield from read_rels(v)
        elif isinstance(rel, list):
            for v in rel:
                yield from read_rels(v)

    def check_names(df):
        plan = to_substrait_plan(df)
        assert plan["relations"][0]["root"]["names"] == df.columns
        assert to_substrait_plan(df) == plan
        for read in read_rels(plan):
            table = read["namedTable"]["names"][-1]
            assert read["baseSchema"]["names"] == spark.table(table).columns
        rt = roundtrip(df)
        assert_same_result(df, rt)
        assert schema_of(rt) == schema_of(df)

    evil = "a\x01b#3"  # the old separator inside a name, fake id tail
    check_names(spark.range(2).select(
        F.col("id").alias(evil), (F.col("id") + 1).alias("ok")))

    split, split2 = "k#1\x01g#2", "p#7L\x01q#9"
    quoted = "q'\"\\x"
    accents = "é€😀ü"
    wide = "é€😀\x01\"\\" * 400  # about 17 KB once escaped for py4j
    path = str(tmp_path / "awkward")
    spark.range(6).select(
        F.col("id").alias(split2), (F.col("id") % 2).alias(split),
        (F.col("id") * 1.5).alias(quoted), F.col("id").cast("string")
        .alias(accents), (F.col("id") % 3).alias(wide),
    ).write.parquet(path)
    catalog.register_parquet(spark, "awkward", path)

    def q(name):
        return "`" + name.replace("`", "``") + "`"

    sqls = [
        "SELECT * FROM awkward",
        f"SELECT {q(split)}, {q(quoted)}, {q(accents)}, {q(wide)} "
        "FROM awkward",
        f"SELECT {q(split)}, {q(wide)}, sum({q(quoted)}) AS s FROM awkward "
        f"GROUP BY {q(split)}, {q(wide)}",
        f"SELECT {q(split)}, {q(split2)}, sum({q(quoted)}) AS s "
        f"FROM awkward GROUP BY ROLLUP({q(split)}, {q(split2)})",
    ]
    for sql in sqls:
        check_names(spark.sql(sql))

    # the wide name does split: some part ends inside an escape
    parts = _encoder(spark).optimizedPlan(spark.sql(sqls[1])._jdf)
    count = int(parts.part(0).partition(":")[0])
    assert count > 2
    tails = [parts.part(i) for i in range(count - 1)]
    assert any(re.search(r"(\\u[0-9a-f]{0,3}|[^\\](\\\\)*\\)\Z", t)
               for t in tails)

    for name in ("awkward", "region", "nation", "customer", "supplier",
                 "part", "orders", "lineitem", "events", "documents",
                 "embeddings"):
        _, node = _read(spark.table(name))
        assert node.kind == "LogicalRelation"
        attrs = _jseq(spark.table(name)._jdf.queryExecution()
                      .optimizedPlan().output())
        assert _Producer()._scan_schema(node) == (
            [a.name() for a in attrs],
            [spark_type_to_substrait(a.dataType().catalogString())
             for a in attrs],
            [a.exprId().id() for a in attrs])


@pytest.mark.parametrize("literal", [
    "INTERVAL '3 04:05:06.789' DAY TO SECOND",
    "INTERVAL '-3 04:05:06.789' DAY TO SECOND",
    "INTERVAL '0 00:00:00.000001' DAY TO SECOND",
    "INTERVAL '-0 00:00:00.25' DAY TO SECOND",
])
def test_day_time_interval_literal_roundtrips(spark, literal):
    """A day-time interval literal is produced from its total microseconds
    as a sign-consistent Literal.intervalDayToSecond, whatever its sign and
    however small its sub-second part; rows and schema equal the direct
    run."""
    from tests.conftest import schema_of

    df = spark.sql(f"SELECT o_orderkey, {literal} AS dt FROM orders "
                   "WHERE o_orderkey < 40")
    rt = roundtrip(df)
    assert_same_result(df, rt)
    assert schema_of(rt) == schema_of(df)


def test_struct_wider_than_the_tostring_limit_roundtrips(spark):
    """Types are read as ``catalogString``, which is never truncated:
    ``simpleString`` cuts a struct of more than
    ``spark.sql.debug.maxToStringFields`` (25) fields to "... 5 more
    fields". A 30-field struct as a null literal and as a VALUES column
    keeps its rows and schema."""
    from tests.conftest import schema_of

    struct = "STRUCT<" + ", ".join(f"f{i} INT" for i in range(30)) + ">"
    for sql in (
        f"SELECT CAST(NULL AS {struct}) AS s, n_name FROM nation",
        f"SELECT * FROM VALUES (CAST(NULL AS {struct}), 1), "
        f"(CAST(NULL AS {struct}), 2) AS t(s, k)",
    ):
        df = spark.sql(sql)
        rt = roundtrip(df)
        assert_same_result(df, rt)
        assert schema_of(rt) == schema_of(df)
        assert schema_of(df)[0][1].count(":int") == 30
