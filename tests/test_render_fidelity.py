"""Fidelity of the SQL the consumer renders a plan to.

Every case runs a query directly and through produce → consume, and
compares rows, column names and column types. The cases are the traps of
writing a plan as SQL text: literal spellings that change a type (``1.5``
is a decimal, ``1.5D`` a double), values with no literal syntax (NaN, ±inf,
-0.0), time zones, escapes, quoting of names, and lambda variables. The
last test feeds a foreign plan whose names and strings are SQL fragments
and checks that they come back as data.
"""

from __future__ import annotations

import math

import pytest

from datafusion_substrait_spark import (from_substrait_plan, roundtrip,
                                        to_substrait_plan)
from datafusion_substrait_spark.plans import wire
from tests.conftest import rows_set, schema_of


def _key(v):
    # NaN != NaN and 0.0 == -0.0 in Python: compare floats by their text
    if isinstance(v, float):
        return ("f", repr(v) if not math.isnan(v) else "nan")
    return v


def check(spark, sql: str):
    df = spark.sql(sql)
    rt = roundtrip(df)
    assert schema_of(rt) == schema_of(df), sql
    got = sorted((tuple(map(_key, r)) for r in rt.collect()), key=repr)
    want = sorted((tuple(map(_key, r)) for r in df.collect()), key=repr)
    assert got == want, sql
    return rt


# each literal once over a table (an expression in a projection) and once
# as a constant row (which Catalyst folds into an inline VALUES relation)
LITERALS = {
    "decimal_vs_double": "1.5 AS dec, 1.5D AS dbl, 1.5F AS flt",
    "signed_zeros": "0.0D AS pz, -0.0D AS nz, CAST(-0.0 AS FLOAT) AS nzf, "
                    "CAST(0.0 AS FLOAT) AS pzf",
    "nan_inf": "CAST('NaN' AS DOUBLE) AS n, CAST('Infinity' AS DOUBLE) AS pi, "
               "CAST('-Infinity' AS DOUBLE) AS ni, CAST('NaN' AS FLOAT) AS nf, "
               "CAST('-Infinity' AS FLOAT) AS nif",
    "decimal38": f"CAST('{'9' * 38}' AS DECIMAL(38,0)) AS hi, "
                 f"CAST('-9.{'9' * 37}' AS DECIMAL(38,37)) AS lo, "
                 f"CAST('0.{'0' * 37}1' AS DECIMAL(38,38)) AS tiny",
    "int_extremes": "CAST(-2147483648 AS INT) AS i32, -9223372036854775808L "
                    "AS i64, CAST(-128 AS TINYINT) AS i8, "
                    "CAST(-32768 AS SMALLINT) AS i16, 1 - -1 AS neg",
    "timestamps": "TIMESTAMP '2021-03-04 05:06:07.123456' AS ts, "
                  "TIMESTAMP_NTZ '2021-03-04 05:06:07.123456' AS ntz, "
                  "DATE '1969-12-31' AS d",
    "binary": "X'00FF27' AS b, X'' AS e",
    "intervals": "CAST(INTERVAL '1-2' YEAR TO MONTH AS STRING) AS ym, "
                 "CAST(INTERVAL '-3 04:05:06.789' DAY TO SECOND AS STRING) "
                 "AS dt",
    "strings": "'' AS e, 'héllo wörld ✓ 中文' AS u, 'it''s' AS q, "
               "'back\\\\slash' AS bs, 'a\\\\u0041b' AS esc, "
               "'{brace}' AS br, '-- not /* a */ comment' AS cm",
}


@pytest.mark.parametrize("case", sorted(LITERALS))
def test_literal_over_a_table(spark, case):
    check(spark, f"SELECT o_orderkey, {LITERALS[case]} FROM orders "
                 "WHERE o_orderkey < 40")


@pytest.mark.parametrize("case", sorted(LITERALS))
def test_literal_as_a_constant_row(spark, case):
    check(spark, f"SELECT {LITERALS[case]}")


def test_literal_types_in_arithmetic(spark):
    # 1.5 (decimal) and 1.5D (double) give different result types and
    # different values on the same column
    check(spark, "SELECT o_totalprice * 1.5 AS a, o_totalprice * 1.5D AS b, "
                 "o_orderdate + INTERVAL '1-2' YEAR TO MONTH AS c "
                 "FROM orders WHERE o_orderkey < 40")


def test_escaped_strings_in_predicates(spark):
    check(spark, "SELECT o_orderkey, o_orderpriority FROM orders WHERE "
                 "o_orderpriority <> 'it''s \\\\ a\\\\u0041' AND "
                 "concat(o_orderstatus, '\\\\') <> 'F\\\\u0041' "
                 "AND o_orderkey < 40")


NAMES = ["a`b", "c d", "e.f", "g#12", "h\x01i#3"]


def test_quoted_output_names(spark):
    cols = ", ".join(f"o_orderkey + {i} AS `{n.replace('`', '``')}`"
                     for i, n in enumerate(NAMES))
    rt = check(spark, f"SELECT {cols} FROM orders WHERE o_orderkey < 40")
    assert rt.columns == NAMES


def test_quoted_table_columns(spark, tmp_path):
    from datafusion_substrait_spark.sources import catalog

    path = str(tmp_path / "names")
    cols = ", ".join(f"id + {i} AS `{n.replace('`', '``')}`"
                     for i, n in enumerate(NAMES))
    spark.sql(f"SELECT {cols}, CAST(id AS STRING) AS s FROM range(8)") \
        .write.parquet(path)
    catalog.register_parquet(spark, "odd_names", path)
    q = [f"`{n.replace('`', '``')}`" for n in NAMES]
    check(spark, f"SELECT {q[0]}, {q[3]} + {q[4]} AS x FROM odd_names "
                 f"WHERE {q[1]} > 2 AND {q[2]} < 9")
    check(spark, f"SELECT {q[2]}, count(*) AS n, max({q[0]}) AS m "
                 f"FROM odd_names GROUP BY {q[2]}")


def test_lambda_variables_that_shadow_columns(spark):
    # the lambda parameters are named like the columns around them; the
    # plan carries them positionally and the consumer names them afresh
    check(spark, """
        SELECT x, __lv1,
               transform(a, x -> x + __lv1) AS t,
               aggregate(a, 0L, (x, __lv1) -> x + __lv1 + 1) AS s,
               filter(a, (x, i) -> x > i AND exists(a, y -> y = x)) AS f
        FROM (SELECT o_orderkey AS x, o_custkey AS __lv1,
                     array(o_orderkey, o_custkey, 7L) AS a
              FROM orders WHERE o_orderkey < 40)
    """)


def _lit(kind, v):
    return {"literal": {kind: v}}


def _field(i):
    return {"selection": {"directReference": {"structField": {"field": i}},
                          "rootReference": {}}}


def test_interval_literals_of_a_foreign_plan(spark):
    """Both interval literal kinds, as a foreign producer writes them
    (ours folds interval constants away before they reach a plan)."""
    import datetime

    plan = {"relations": [{"root": {"names": ["dt", "ym"], "input": {
        "project": {
            "expressions": [
                _lit("intervalDayToSecond", {"days": -3, "seconds": 14706,
                                             "microseconds": 789000}),
                {"cast": {"type": {"string": {}}, "input": _lit(
                    "intervalYearToMonth", {"years": 1, "months": 2})}}],
            "input": {"read": {"baseSchema": {"struct": {}},
                               "virtualTable": {"values": [{}]}}}}}}}]}
    df = from_substrait_plan(spark, plan)
    assert schema_of(df) == [("dt", "interval day to second"),
                             ("ym", "string")]
    assert [tuple(r) for r in df.collect()] == [(
        datetime.timedelta(days=-3, seconds=14706, microseconds=789000),
        "INTERVAL '1-2' YEAR TO MONTH")]


def test_foreign_plan_fragments_stay_data(spark, tmp_path):
    """Table name, column names, string literals and root names of a
    foreign plan all hold SQL fragments; they must read as data and never
    run: the table the fragment names keeps its rows."""
    from datafusion_substrait_spark.sources import catalog

    table = "t'; DROP TABLE orders; --"
    c1, c2 = "k'; DROP TABLE orders; --", "v /* x */ --"
    evil = "'; DROP TABLE orders; -- /* x"
    path = str(tmp_path / "frag")
    spark.createDataFrame(
        [(evil, "a"), ("plain", "b'; --"), ("x/*", None)],
        f"`{c1}` string, `{c2}` string").write.parquet(path)
    catalog.register_parquet(spark, f"`{table}`", path)
    n_orders = spark.table("orders").count()
    plan = {
        "extensions": [{"extensionFunction": {
            "functionAnchor": 0, "name": "not_equal"}}],
        "relations": [{"root": {"names": ["x'; DROP TABLE orders; --",
                                          "y /* --"],
                                "input": {"project": {
            "expressions": [_field(1), _lit("string", evil)],
            "input": {"filter": {
                "condition": {"scalarFunction": {
                    "functionReference": 0,
                    "arguments": [{"value": _field(0)},
                                  {"value": _lit("string", evil)}]}},
                "input": {"read": {
                    "baseSchema": {"names": [c1, c2], "struct": {
                        "types": [{"string": {}}, {"string": {}}]}},
                    "namedTable": {"names": [table]}}}}}}}}}],
    }
    for p in (plan, wire.decode_plan(wire.encode_plan(plan))):
        df = from_substrait_plan(spark, p)
        assert df.columns == ["x'; DROP TABLE orders; --", "y /* --"]
        assert rows_set(df) == sorted([("b'; --", evil), (None, evil)],
                                      key=repr)
    assert spark.table("orders").count() == n_orders


VARIABLE_REFS = ["${spark.app.name}", "${env:HOME}", "${system:user.dir}"]


def test_variable_references_stay_data(spark):
    """Spark substitutes ``${...}`` variable references in the whole SQL
    text before lexing, quoted text included
    (``spark.sql.variable.substitute``, on by default). String literals
    holding one come back verbatim; a table, column or root name holding
    one is refused, since an identifier has no spelling the substitution
    skips."""
    from pyspark.sql import functions as F

    from datafusion_substrait_spark.plans.proto import SubstraitError

    assert spark.conf.get("spark.sql.variable.substitute", "true") == "true"
    values = VARIABLE_REFS + ["$", "a$b{c}", "${", "$${spark.app.name}"]
    names = [f"c{i}" for i in range(len(values))]
    df = spark.table("orders").where("o_orderkey < 40").select(
        "o_orderkey", *(F.lit(v).alias(n) for v, n in zip(values, names)))
    rt = roundtrip(df)
    assert schema_of(rt) == schema_of(df)
    assert rows_set(rt) == rows_set(df)
    assert {tuple(r)[1:] for r in rt.collect()} == {tuple(values)}

    lits = {"relations": [{"root": {"names": names, "input": {"project": {
        "expressions": [_lit("string", v) for v in values],
        "input": {"read": {"baseSchema": {"struct": {}},
                           "virtualTable": {"values": [{}]}}}}}}}]}
    for p in (lits, wire.decode_plan(wire.encode_plan(lits))):
        assert [tuple(r) for r in from_substrait_plan(spark, p).collect()] \
            == [tuple(values)]

    def read(table, column, root):
        return {"relations": [{"root": {"names": [root], "input": {"read": {
            "baseSchema": {"names": [column],
                           "struct": {"types": [{"i64": {}}]}},
            "namedTable": {"names": [table]}}}}}]}

    for ref in VARIABLE_REFS:
        for plan in (read(ref, "o_orderkey", "k"),
                     read("orders", ref, "k"),
                     read("orders", "o_orderkey", ref),
                     read("orders", f"o_{ref}_orderkey", "k")):
            with pytest.raises(SubstraitError, match="variable reference"):
                from_substrait_plan(spark, plan)


def test_sample_with_replacement_is_spliced(spark):
    """Sampling with replacement has no SQL syntax: the consumer builds
    that rel as a DataFrame and passes it to the same ``spark.sql`` call.
    Its rows, and a join and aggregate above it, equal the direct run."""
    from pyspark.sql import functions as F

    base = spark.table("orders").where("o_orderkey < 200")
    df = base.sample(True, 0.7, 11)
    check_df = [df,
                df.join(spark.table("customer"),
                        F.col("o_custkey") == F.col("c_custkey"))
                .groupBy("c_nationkey").agg(F.count("*").alias("n")),
                base.sample(False, 0.3, 5).select("o_orderkey")]
    for d in check_df:
        plan = to_substrait_plan(d)
        rt = from_substrait_plan(spark, plan)
        assert schema_of(rt) == schema_of(d)
        assert rows_set(rt) == rows_set(d)
