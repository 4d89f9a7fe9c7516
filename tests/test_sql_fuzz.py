"""Seeded random-SQL fuzz over the supported interchange surface.

Property (the reference's roundtrip contract, tests/roundtrip.rs:247-262,
generalized beyond hand-picked cases): for ANY query in the supported
grammar, running the DataFrame directly and running it through
produce → plan → consume yields identical columns and rows.

The generator is a small typed grammar over the driver's TPC-H-ish tables:
scalar arithmetic / CASE (both forms) / string functions, filters with
AND/OR/NOT/LIKE/IN/BETWEEN/comparison chains, aggregates with DISTINCT and
per-measure FILTER plus HAVING, the six join types over real FK pairs (plus
CROSS), set operations, window functions, scalar subqueries (WHERE and
SELECT-list), ROLLUP/CUBE/GROUPING SETS, explode, CTEs and derived tables,
date-part functions, DISTINCT, sort + fetch.
Every seed is deterministic, so a failure line reproduces with its printed
SQL. Double-typed aggregate measures are rounded in-query — the property
under test is plan fidelity, not IEEE summation order.
"""

from __future__ import annotations

import random

import pytest

from datafusion_substrait_spark import roundtrip
from tests.conftest import assert_same_result, schema_of

# table → (numeric cols, string cols, unique ORDER BY tie-break key list)
TABLES = {
    "orders": (["o_orderkey", "o_custkey", "o_totalprice"],
               ["o_orderstatus", "o_orderpriority"],
               ["o_orderkey"]),
    "customer": (["c_custkey", "c_nationkey", "c_acctbal"],
                 ["c_name", "c_mktsegment"],
                 ["c_custkey"]),
    "lineitem": (["l_orderkey", "l_partkey", "l_quantity",
                  "l_extendedprice", "l_discount"],
                 ["l_returnflag", "l_linestatus"],
                 # (l_orderkey, l_linenumber) is NOT unique in the
                 # synthetic data (1161 duplicated pairs / 1401 excess rows at sf0.001!) — a tied
                 # ORDER BY ... LIMIT boundary may legally pick different
                 # rows in the direct vs consumed plans. 5 keys make a
                 # genuine total order (verified distinct at all 3 SFs).
                 ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                  "l_quantity"]),
    "nation": (["n_nationkey", "n_regionkey"], ["n_name"], ["n_nationkey"]),
    "region": (["r_regionkey"], ["r_name"], ["r_regionkey"]),
    "supplier": (["s_suppkey", "s_nationkey", "s_acctbal"], ["s_name"],
                 ["s_suppkey"]),
    "part": (["p_partkey", "p_size", "p_retailprice"],
             ["p_name", "p_brand", "p_type"], ["p_partkey"]),
}

# string-column value pools (checked against the seed-42 testdata) so
# equality/IN predicates select non-trivial row subsets
POOLS = {
    "o_orderstatus": ["F", "O", "P"],
    "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"],
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["O", "F"],
    "c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"],
}

# FK equi-join pairs: (left table, right table, left key, right key)
JOINS = [
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
]


class Gen:
    def __init__(self, seed: int):
        self.r = random.Random(seed)

    def pick(self, xs):
        return self.r.choice(xs)

    # --- typed expression grammar -------------------------------------------

    def num_expr(self, cols, depth=2) -> str:
        if depth <= 0 or self.r.random() < 0.35:
            return self.pick(cols + [str(self.r.randint(0, 1000))])
        form = self.pick(["add", "sub", "mul", "round", "abs", "case", "mod",
                          "bitand", "shift", "xor", "strnum", "trynum"])
        a = self.num_expr(cols, depth - 1)
        b = self.num_expr(cols, depth - 1)
        if form == "add":
            return f"({a} + {b})"
        if form == "sub":
            return f"({a} - {b})"
        if form == "mul":
            return f"({a} * {self.r.randint(2, 9)})"
        if form == "round":
            return f"round({a}, 1)"
        if form == "abs":
            return f"abs({a})"
        if form == "mod":
            return f"({self.pick(cols)} % {self.r.randint(2, 97)})"
        # bitwise family (columns may be DOUBLE: cast first — exercises
        # cast + the five bitwise binaries through the interchange)
        if form == "bitand":
            return (f"(CAST({self.pick(cols)} AS BIGINT) "
                    f"{self.pick(['&', '|'])} {self.r.randint(1, 4095)})")
        if form == "shift":
            fn = self.pick(["shiftleft", "shiftright"])
            return (f"{fn}(CAST({self.pick(cols)} AS BIGINT), "
                    f"{self.r.randint(1, 7)})")
        if form == "xor":
            return (f"(CAST({self.pick(cols)} AS BIGINT) ^ "
                    f"CAST({self.pick(cols)} AS BIGINT))")
        if form == "trynum":
            # TRY-mode arithmetic + width_bucket (r9 part 3) in nests
            a2 = self.pick(cols)
            return self.pick([
                f"try_divide({a2}, ({a2} % {self.r.randint(2, 5)}))",
                f"try_add({a2}, 9223372036854775807)",
                f"try_multiply({a2}, {self.r.randint(2, 99)})",
                f"width_bucket({a2}, 0, 100000, {self.r.randint(2, 16)})",
            ])
        if form == "strnum":
            # numeric-valued string functions (r9 battery: ascii/instr/
            # levenshtein through arbitrary expression nests)
            c = f"CAST({self.pick(cols)} AS STRING)"
            return self.pick([
                f"ascii({c})",
                f"instr({c}, '{self.r.randint(0, 9)}')",
                f"levenshtein({c}, '{self.r.randint(0, 999)}')",
            ])
        return f"(CASE WHEN {self.bool_expr(cols, [], depth - 1)} " \
               f"THEN {a} ELSE {b} END)"

    def str_expr(self, scols, depth=1) -> str:
        c = self.pick(scols)
        if depth <= 0 or self.r.random() < 0.4:
            return c
        form = self.pick(["upper", "lower", "substr", "concat", "case_base",
                          "lpad", "translate", "reverse", "subidx",
                          "rere", "overlay"])
        if form == "upper":
            return f"upper({c})"
        if form == "lower":
            return f"lower({c})"
        if form == "substr":
            return f"substring({c}, 1, {self.r.randint(1, 4)})"
        if form == "concat":
            return f"concat({c}, '_', {self.pick(scols)})"
        # r9 string battery through arbitrary nests
        if form == "lpad":
            return f"{self.pick(['lpad', 'rpad'])}({c}, {self.r.randint(6, 14)}, '*')"
        if form == "translate":
            return f"translate({c}, 'AEIOU', 'aeiou')"
        if form == "reverse":
            return f"reverse({c})"
        if form == "subidx":
            return f"substring_index({c}, '{self.pick('-# ')}', {self.r.randint(1, 2)})"
        if form == "rere":
            return f"regexp_replace({c}, '[aeiouAEIOU]', '{self.r.randint(0, 9)}')"
        if form == "overlay":
            return f"overlay({c} PLACING 'ZZ' FROM {self.r.randint(1, 4)})"
        # base-expression CASE form (E5's second shape)
        v = self.pick(POOLS.get(c, ["A"]))
        return f"(CASE {c} WHEN '{v}' THEN 'hit' ELSE 'miss' END)"

    def bool_expr(self, ncols, scols, depth=2) -> str:
        if depth <= 0 or self.r.random() < 0.3:
            return self.cmp(ncols, scols)
        form = self.pick(["and", "or", "not", "cmp"])
        if form == "and":
            return f"({self.bool_expr(ncols, scols, depth - 1)} AND " \
                   f"{self.bool_expr(ncols, scols, depth - 1)})"
        if form == "or":
            return f"({self.bool_expr(ncols, scols, depth - 1)} OR " \
                   f"{self.bool_expr(ncols, scols, depth - 1)})"
        if form == "not":
            return f"(NOT {self.bool_expr(ncols, scols, depth - 1)})"
        return self.cmp(ncols, scols)

    def cmp(self, ncols, scols) -> str:
        # rare degenerate predicates: constant-folds the subtree to an empty
        # LocalRelation → exercises the virtual-table read path
        if self.r.random() < 0.04:
            c = self.pick(ncols)
            return self.pick(["(1 = 0)", f"({c} < {c})", "(1 = 1)"])
        choices = ["numcmp", "between", "mod"]
        if scols:
            choices += ["streq", "like", "inlist", "notnull", "rlike", "nse"]
        form = self.pick(choices)
        if form == "numcmp":
            op = self.pick(["<", "<=", ">", ">=", "=", "<>"])
            return f"({self.num_expr(ncols, 1)} {op} {self.num_expr(ncols, 1)})"
        if form == "between":
            c = self.pick(ncols)
            lo = self.r.randint(0, 500)
            return f"({c} BETWEEN {lo} AND {lo + self.r.randint(1, 100000)})"
        if form == "mod":
            return f"({self.pick(ncols)} % {self.r.randint(2, 13)} = 0)"
        c = self.pick(scols)
        pool = POOLS.get(c)
        if form == "streq" and pool:
            return f"({c} = '{self.pick(pool)}')"
        if form == "inlist" and pool:
            vals = self.r.sample(pool, min(len(pool), self.r.randint(1, 3)))
            return f"({c} IN ({', '.join(repr(v) for v in vals)}))"
        if form == "notnull":
            return f"({c} IS NOT NULL)"
        if form == "rlike":
            # regex match / (?i)-imatch, both polarities, safe literal
            # patterns only (the produce path detects the (?i) prefix)
            letter = self.pick("ABCDEFGHILMNOPRSU")
            pat = self.pick([f"^[{letter}-Z]", f"{letter.lower()}",
                             f"(?i)^{letter}", f"(?i){letter.lower()}$"])
            neg = "NOT " if self.r.random() < 0.3 else ""
            return f"({neg}{c} RLIKE '{pat}')"
        if form == "nse":
            v = POOLS.get(c)
            rhs = f"'{self.pick(v)}'" if v else f"nullif({c}, {c})"
            neg = "NOT " if self.r.random() < 0.3 else ""
            return f"({neg}{c} <=> {rhs})"
        letter = self.pick("ABCDEFGHILMNOPRSU")
        pat = self.pick([f"{letter}%", f"%{letter}%", f"%{letter}"])
        return f"({c} LIKE '{pat}')"

    # --- query shapes -------------------------------------------------------

    def select_query(self) -> str:
        t = self.pick(list(TABLES))
        ncols, scols, key = TABLES[t]
        items = [f"{self.num_expr(ncols)} AS c{i}" for i in range(self.r.randint(1, 3))]
        items.append(f"{self.str_expr(scols)} AS s0")
        items += key  # keep the unique key for a deterministic LIMIT sort
        src = t
        if self.r.random() < 0.08:  # seeded sample → SampleRel extension
            src = (f"{t} TABLESAMPLE ({self.r.randint(5, 60)} PERCENT) "
                   f"REPEATABLE ({self.r.randint(1, 99)})")
        sql = f"SELECT {', '.join(items)} FROM {src} " \
              f"WHERE {self.bool_expr(ncols, scols)}"
        if self.r.random() < 0.5:
            order = ", ".join(key)
            if self.r.random() < 0.3:  # sort by a computed expression too
                order = f"({self.pick(ncols)} % 7) {self.pick(['ASC', 'DESC'])}, " + order
            sql += f" ORDER BY {order} LIMIT {self.r.randint(1, 200)}"
            if self.r.random() < 0.5:
                sql += f" OFFSET {self.r.randint(1, 20)}"
        elif self.r.random() < 0.1:  # ExchangeRel scatter-by-fields path
            sql += f" DISTRIBUTE BY {self.pick(key)}"
        return sql

    def agg_query(self) -> str:
        t = self.pick(list(TABLES))
        ncols, scols, _ = TABLES[t]
        keys = self.r.sample(scols, self.r.randint(1, min(2, len(scols))))
        n = self.pick(ncols)
        measures = [
            "count(*) AS cnt",
            f"round(sum({self.num_expr(ncols, 1)}), 2) AS m_sum",
            f"min({n}) AS m_min",
            f"max({self.num_expr(ncols, 1)}) AS m_max",
            f"round(avg({n}), 4) AS m_avg",
        ]
        if self.r.random() < 0.5:
            measures.append(f"count(DISTINCT {self.pick(scols)}) AS m_dc")
        if self.r.random() < 0.5:
            measures.append(
                f"count(*) FILTER (WHERE {self.cmp(ncols, scols)}) AS m_f")
        sql = f"SELECT {', '.join(keys + measures)} FROM {t}"
        if self.r.random() < 0.6:
            sql += f" WHERE {self.bool_expr(ncols, scols)}"
        sql += f" GROUP BY {', '.join(keys)}"
        if self.r.random() < 0.4:
            sql += f" HAVING count(*) > {self.r.randint(0, 5)}"
        return sql

    def join_query(self) -> str:
        lt, rt, lk, rk = self.pick(JOINS)
        lnc, lsc, lkey = TABLES[lt]
        rnc, rsc, _ = TABLES[rt]
        how = self.pick(["JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN"])
        items = [self.pick(lnc), self.pick(lsc), self.pick(rnc), self.pick(rsc)]
        # dedup while preserving order (same column picked twice is legal SQL
        # but ambiguous to compare)
        items = list(dict.fromkeys(items))
        cond = f"{lk} = {rk}"
        # declared superset: arbitrary join conditions (the reference is
        # equi-only) — extra non-equi / null-safe conjuncts
        extra = self.r.random()
        if extra < 0.15:
            cond += f" AND {self.pick(lnc)} < {self.pick(rnc)}"
        elif extra < 0.25:
            cond += f" AND {lk} <=> {rk}"
        sql = f"SELECT {', '.join(items)} FROM {lt} {how} {rt} ON {cond}"
        if self.r.random() < 0.5:
            side_nc, side_sc = (lnc, lsc) if how != "RIGHT JOIN" else (rnc, rsc)
            sql += f" WHERE {self.bool_expr(side_nc, side_sc, 1)}"
        return sql

    def semi_anti_query(self) -> str:
        form = self.pick(["EXISTS", "NOT EXISTS"])
        return (
            f"SELECT c_custkey, c_name FROM customer WHERE {form} "
            f"(SELECT 1 FROM orders WHERE o_custkey = c_custkey "
            f"AND o_totalprice > {self.r.randint(0, 400000)})"
        )

    def setop_query(self) -> str:
        t = self.pick(list(TABLES))
        ncols, scols, _ = TABLES[t]
        op = self.pick(["UNION ALL", "UNION", "INTERSECT", "EXCEPT"])
        n, s = self.pick(ncols), self.pick(scols)
        return (
            f"SELECT {n} AS k, {s} AS v FROM {t} "
            f"WHERE {self.bool_expr(ncols, scols, 1)} {op} "
            f"SELECT {n} AS k, {s} AS v FROM {t} "
            f"WHERE {self.bool_expr(ncols, scols, 1)}"
        )

    def window_query(self) -> str:
        t = self.pick(["orders", "customer", "lineitem"])
        ncols, scols, key = TABLES[t]
        part = self.pick(scols)
        uk = ", ".join(key)
        n = self.pick(ncols)
        return (
            f"SELECT {uk}, "
            f"row_number() OVER (PARTITION BY {part} ORDER BY {n} DESC, {uk}) AS rn, "
            f"round(sum({n}) OVER (PARTITION BY {part}), 2) AS part_sum, "
            f"lag({n}, 1) OVER (PARTITION BY {part} ORDER BY {uk}) AS prev "
            f"FROM {t} WHERE {self.bool_expr(ncols, scols, 1)}"
        )


    def window_frames_query(self) -> str:
        """Explicit ROWS/RANGE frames + ntile/nth_value: the widest
        spec-superset surface with the fewest distinct oracle shapes."""
        t = self.pick(["orders", "lineitem"])
        ncols, scols, key = TABLES[t]
        part = self.pick(scols)
        uk = ", ".join(key)
        n = self.pick(ncols)
        d = "o_orderdate" if t == "orders" else "l_shipdate"
        k1, k2 = self.r.randint(1, 4), self.r.randint(1, 4)
        rows_frame = self.pick([
            f"ROWS BETWEEN {k1} PRECEDING AND CURRENT ROW",
            f"ROWS BETWEEN CURRENT ROW AND {k2} FOLLOWING",
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND {k2} FOLLOWING",
            f"ROWS BETWEEN {k1} PRECEDING AND {k2} FOLLOWING",
        ])
        # value-RANGE needs a single numeric order key; frames include all
        # peer rows, so ties stay deterministic
        range_frame = self.pick([
            f"RANGE BETWEEN {10 * k1} PRECEDING AND CURRENT ROW",
            f"RANGE BETWEEN CURRENT ROW AND {10 * k2} FOLLOWING",
            "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        ])
        return (
            f"SELECT {uk}, "
            f"round(sum({n}) OVER (PARTITION BY {part} ORDER BY {uk} "
            f"{rows_frame}), 2) AS fsum, "
            f"round(min({n}) OVER (PARTITION BY {part} ORDER BY {n} "
            f"{range_frame}), 2) AS rmin, "
            # offset-free cumulative RANGE over a DATE order column
            f"count(*) OVER (PARTITION BY {part} ORDER BY {d} "
            f"RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcum, "
            f"ntile({self.r.randint(2, 5)}) OVER (PARTITION BY {part} "
            f"ORDER BY {uk}) AS nt, "
            f"nth_value({n}, 2) OVER (PARTITION BY {part} ORDER BY {uk} "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nv "
            f"FROM {t} WHERE {self.bool_expr(ncols, scols, 1)}"
        )

    def distinct_query(self) -> str:
        t = self.pick(list(TABLES))
        ncols, scols, _ = TABLES[t]
        cols = self.r.sample(scols, min(len(scols), self.r.randint(1, 2)))
        return (
            f"SELECT DISTINCT {', '.join(cols)} FROM {t} "
            f"WHERE {self.bool_expr(ncols, scols, 1)}"
        )

    def scalar_subquery_query(self) -> str:
        t = self.pick(["orders", "customer", "lineitem"])
        ncols, scols, key = TABLES[t]
        n = self.pick(ncols)
        agg = self.pick(["avg", "max", "min"])
        if self.r.random() < 0.5:
            return (
                f"SELECT {', '.join(key)} FROM {t} "
                f"WHERE {n} > (SELECT {agg}({n}) FROM {t})"
            )
        # scalar subquery in the SELECT list
        return (
            f"SELECT {', '.join(key)}, "
            f"round({n} / (SELECT max({n}) FROM {t}), 6) AS frac FROM {t} "
            f"WHERE {self.bool_expr(ncols, scols, 1)}"
        )

    def rollup_query(self) -> str:
        t = self.pick(["orders", "lineitem", "customer"])
        ncols, scols, _ = TABLES[t]
        keys = self.r.sample(scols, min(len(scols), 2))
        form = self.pick(["ROLLUP", "CUBE", "GROUPING SETS"])
        if form == "GROUPING SETS":
            sets = f"(({', '.join(keys)}), ({keys[0]}), ())"
            by = f"GROUPING SETS {sets}"
        else:
            by = f"{form}({', '.join(keys)})"
        n = self.pick(ncols)
        return (
            f"SELECT {', '.join(keys)}, count(*) AS cnt, "
            f"round(sum({n}), 2) AS m_sum, "
            f"CAST(grouping({keys[0]}) AS INT) AS g0 "
            f"FROM {t} GROUP BY {by}"
        )

    def explode_query(self) -> str:
        t, c, sep = self.pick([("orders", "o_orderpriority", "-"),
                               ("customer", "c_name", "#"),
                               ("part", "p_type", " ")])
        return (
            f"SELECT part, count(*) AS n FROM "
            f"(SELECT explode(split({c}, '{sep}')) AS part FROM {t}) "
            f"GROUP BY part"
        )

    def hof_query(self) -> str:
        # higher-order functions (r10): lambda bodies over split() arrays —
        # array-valued and scalar-valued forms, incl. nesting and the
        # index-aware 2-param transform
        t, c, sep = self.pick([("orders", "o_orderpriority", "-"),
                               ("customer", "c_name", "#"),
                               ("part", "p_type", " ")])
        key = TABLES[t][2][0]
        arr = f"split({c}, '{sep}')"
        inner = self.pick([
            f"transform({arr}, x -> upper(x))",
            f"transform({arr}, (x, i) -> concat(x, '#', i))",
            f"filter({arr}, x -> length(x) > {self.r.randint(1, 4)})",
            f"transform({arr}, x -> transform({arr}, y -> concat(x, y)))",
            f"array_sort({arr}, (l, r) -> CASE WHEN length(l) < length(r) "
            f"THEN -1 WHEN length(l) > length(r) THEN 1 ELSE 0 END)",
            f"zip_with({arr}, {arr}, (a, b) -> concat(a, '.', b))",
            f"array_compact(transform({arr}, "
            f"x -> nullif(x, '{self.r.randint(0, 9)}')))",
        ])
        m = f"map('a', length({c}), 'b', length({c}) * 2)"
        scalar = self.pick([
            # split_part (r11): ElementAt with an OOB default, encoded as
            # the guarded CASE over string_split
            f"split_part({c}, '{sep}', {self.r.randint(1, 4)})",
            f"split_part({c}, '{sep}', -{self.r.randint(1, 2)})",
            f"aggregate({arr}, 0, (acc, x) -> acc + length(x))",
            f"reduce({arr}, '', (acc, x) -> concat(acc, x), "
            f"acc -> length(acc))",
            f"exists({arr}, x -> length(x) = {self.r.randint(1, 6)})",
            f"forall({arr}, x -> length(x) > {self.r.randint(0, 2)})",
            f"size(filter({arr}, x -> length(x) >= {self.r.randint(1, 3)}))",
            # map lambdas: filter/transform keys+values, 3-param zip
            f"size(map_filter({m}, (k, v) -> v > {self.r.randint(0, 9)}))",
            f"size(transform_values({m}, (k, v) -> v + 1))",
            f"size(map_zip_with({m}, {m}, (k, v1, v2) -> "
            f"coalesce(v1, 0) + coalesce(v2, 0)))",
        ])
        return (f"SELECT {key}, {inner} AS arr_c, {scalar} AS sc_c "
                f"FROM {t} WHERE ({key} % {self.r.randint(2, 7)}) = 0")

    def cte_query(self) -> str:
        t = self.pick(list(TABLES))
        ncols, scols, _ = TABLES[t]
        n, s = self.pick(ncols), self.pick(scols)
        inner = (f"SELECT {n} AS k, {s} AS v FROM {t} "
                 f"WHERE {self.bool_expr(ncols, scols, 1)}")
        if self.r.random() < 0.5:
            return (f"WITH x AS ({inner}) SELECT v, count(*) AS cnt, "
                    f"round(sum(k), 2) AS ks FROM x "
                    f"WHERE k > {self.r.randint(0, 100)} GROUP BY v")
        # derived table instead of CTE (same elision path)
        return (f"SELECT v, max(k) AS mk FROM ({inner}) "
                f"WHERE k % {self.r.randint(2, 9)} = 0 GROUP BY v")

    def cross_query(self) -> str:
        return (
            "SELECT r_name, n_name FROM region CROSS JOIN nation "
            f"WHERE n_nationkey % {self.r.randint(2, 7)} = 0"
        )

    def date_query(self) -> str:
        t, d, key = self.pick([("orders", "o_orderdate", "o_orderkey"),
                               ("lineitem", "l_shipdate", "l_orderkey")])
        y = self.r.randint(1993, 1998)
        return (
            f"SELECT year({d}) AS y, month({d}) AS m, count(*) AS cnt, "
            f"min({key}) AS mk FROM {t} "
            f"WHERE {d} >= TIMESTAMP '{y}-01-01' GROUP BY year({d}), month({d})"
        )

    def join_agg_query(self) -> str:
        # aggregate over a (possibly 3-table) join — the TPC-H Q3/Q5 shape
        chains = [
            [("customer", "nation", "c_nationkey", "n_nationkey"),
             ("nation", "region", "n_regionkey", "r_regionkey")],
            [("orders", "customer", "o_custkey", "c_custkey")],
            [("lineitem", "orders", "l_orderkey", "o_orderkey"),
             ("orders", "customer", "o_custkey", "c_custkey")],
        ]
        chain = self.pick(chains)
        joins = " ".join(f"JOIN {rt} ON {lk} = {rk}" for _, rt, lk, rk in chain)
        lt = chain[0][0]
        lnc, lsc, _ = TABLES[lt]
        _, rsc, _ = TABLES[chain[-1][1]]
        key = self.pick(rsc + lsc)
        n = self.pick(lnc)
        having = ""
        if self.r.random() < 0.5:
            # HAVING on an aggregate NOT in the select list
            having = f" HAVING max({n}) > {self.r.randint(0, 1000)}"
        return (
            f"SELECT {key}, count(*) AS cnt, round(sum({n}), 2) AS s "
            f"FROM {lt} {joins} "
            f"WHERE {self.bool_expr(lnc, lsc, 1)} GROUP BY {key}{having}"
        )

    def window_over_derived_query(self) -> str:
        t = self.pick(["orders", "customer"])
        ncols, scols, key = TABLES[t]
        n, s = self.pick(ncols), self.pick(scols)
        uk = ", ".join(key)
        inner = (f"SELECT {uk}, {s} AS grp, ({n} * 2) AS metric FROM {t} "
                 f"WHERE {self.bool_expr(ncols, scols, 1)}")
        return (
            f"SELECT grp, metric, "
            f"rank() OVER (PARTITION BY grp ORDER BY metric DESC, {uk}) AS rk "
            f"FROM ({inner}) WHERE metric > {self.r.randint(0, 100)}"
        )

    def nested_setop_query(self) -> str:
        t = self.pick(list(TABLES))
        ncols, scols, _ = TABLES[t]
        n, s = self.pick(ncols), self.pick(scols)
        def leg():
            return (f"SELECT {s} AS v FROM {t} "
                    f"WHERE {self.bool_expr(ncols, scols, 1)}")
        op1, op2 = self.pick(["UNION", "UNION ALL", "INTERSECT"]), \
            self.pick(["EXCEPT", "UNION", "INTERSECT"])
        return f"SELECT v FROM ({leg()} {op1} {leg()}) {op2} {leg()}"

    def values_query(self) -> str:
        # inline VALUES → LocalRelation → ReadRel{virtualTable}
        rows = ", ".join(
            f"({self.r.randint(0, 9)}, "
            f"{self.pick(['NULL', repr(self.pick('abcde'))])})"
            for _ in range(self.r.randint(1, 4))
        )
        q = f"SELECT k, v FROM VALUES {rows} AS t(k, v)"
        if self.r.random() < 0.5:
            q += f" WHERE k {self.pick(['>', '<=', '<>'])} {self.r.randint(0, 9)}"
        if self.r.random() < 0.3:
            q = (f"SELECT v, count(*) AS n, sum(k) AS sk FROM ({q}) "
                 f"GROUP BY v")
        return q

    def pivot_query(self) -> str:
        # r9 auto-lowering: random value subsets, single- or multi-agg,
        # over a randomly filtered base so missing combinations (NULL
        # slots) occur
        vals = self.r.sample(["'O'", "'F'", "'P'"], self.r.randint(2, 3))
        aggs = self.pick([
            "round(sum(o_totalprice), 2)",
            "count(o_totalprice)",
            "round(max(o_totalprice), 2)",
            "round(sum(o_totalprice), 2) AS s, count(o_totalprice) AS c",
        ])
        ncols, scols, _ = TABLES["orders"]
        return (
            f"SELECT * FROM (SELECT o_custkey, o_orderstatus, o_totalprice "
            f"FROM orders WHERE {self.bool_expr(ncols, scols, 1)}) "
            f"PIVOT ({aggs} FOR o_orderstatus IN ({', '.join(vals)}))"
        )

    def unpivot_query(self) -> str:
        # r9 Expand lowering; sometimes aggregated on top (the
        # grouping-id-free Aggregate-over-Expand fall-through)
        m = self.r.randint(2, 9)
        base = (
            f"SELECT o_orderkey, kind, amt FROM "
            f"(SELECT o_orderkey, o_totalprice, "
            f"CAST(o_custkey AS DOUBLE) AS o_ck, "
            f"CAST(o_orderkey % {m} AS DOUBLE) AS o_m FROM orders) "
            f"UNPIVOT (amt FOR kind IN (o_totalprice AS a, o_ck AS b, "
            f"o_m AS c))"
        )
        if self.r.random() < 0.4:
            return (f"SELECT kind, count(*) AS n, round(sum(amt), 2) AS s "
                    f"FROM ({base}) GROUP BY kind")
        return base

    def query(self) -> str:
        shape = self.r.choices(
            ["select", "agg", "join", "semi", "setop", "window", "distinct",
             "scalar_sub", "rollup", "explode", "cte", "cross", "date",
             "values", "join_agg", "window_derived", "nested_setop",
             "window_frames", "pivot", "unpivot", "hof"],
            weights=[15, 15, 12, 5, 7, 6, 4, 5, 6, 4, 5, 2, 3, 4, 7, 5, 4,
                     7, 4, 4, 6],
        )[0]
        return getattr(self, {
            "select": "select_query", "agg": "agg_query",
            "join": "join_query", "semi": "semi_anti_query",
            "setop": "setop_query", "window": "window_query",
            "distinct": "distinct_query",
            "scalar_sub": "scalar_subquery_query",
            "rollup": "rollup_query", "explode": "explode_query",
            "cte": "cte_query", "cross": "cross_query",
            "date": "date_query", "values": "values_query",
            "join_agg": "join_agg_query",
            "window_derived": "window_over_derived_query",
            "nested_setop": "nested_setop_query",
            "window_frames": "window_frames_query",
            "pivot": "pivot_query", "unpivot": "unpivot_query",
            "hof": "hof_query",
        }[shape])()


@pytest.mark.parametrize("seed", range(60))
def test_random_query_roundtrips(spark, seed):
    """Rows, column names and column types all survive the roundtrip
    (seed 24 reads an all-NULL VALUES column, typed void)."""
    sql = Gen(seed).query()
    df = spark.sql(sql)
    rt = roundtrip(df)
    try:
        assert schema_of(rt) == schema_of(df)
        assert_same_result(df, rt)
    except AssertionError:
        raise AssertionError(f"roundtrip mismatch for seed {seed}:\n{sql}")


# explicit (non-random) frame shapes: one fixed case per family so a frame
# regression pins to a readable SQL string, not a seed
FRAME_CASES = [
    # bounded ROWS both sides + nth_value over the full window
    "SELECT o_orderkey, "
    "round(sum(o_totalprice) OVER (PARTITION BY o_orderstatus "
    "ORDER BY o_orderkey ROWS BETWEEN 2 PRECEDING AND 3 FOLLOWING), 2) AS s, "
    "nth_value(o_totalprice, 3) OVER (PARTITION BY o_orderstatus "
    "ORDER BY o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nv "
    "FROM orders WHERE o_custkey < 500",
    # value-RANGE with a numeric offset (peers included => deterministic)
    "SELECT l_orderkey, l_linenumber, "
    "count(*) OVER (PARTITION BY l_returnflag ORDER BY l_quantity "
    "RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS c, "
    "round(max(l_extendedprice) OVER (PARTITION BY l_returnflag "
    "ORDER BY l_quantity RANGE BETWEEN CURRENT ROW AND 10 FOLLOWING), 2) AS m "
    "FROM lineitem WHERE l_partkey < 300",
    # offset-free cumulative RANGE over a DATE order column + ntile
    "SELECT o_orderkey, "
    "count(*) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate "
    "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running, "
    "ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS q "
    "FROM orders WHERE o_totalprice > 100000",
]


@pytest.mark.parametrize("i", range(len(FRAME_CASES)))
def test_explicit_frame_roundtrips(spark, i):
    df = spark.sql(FRAME_CASES[i])
    assert_same_result(df, roundtrip(df))


def test_interval_range_bound_is_fenced(spark):
    """RANGE with an INTERVAL offset over a date order column has no i64
    WindowBound encoding: the producer must name the problem, not emit a
    wrong row count."""
    from datafusion_substrait_spark import to_substrait_plan
    from datafusion_substrait_spark.plans.proto import SubstraitError

    df = spark.sql(
        "SELECT o_orderkey, count(*) OVER (ORDER BY o_orderdate "
        "RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW) AS c "
        "FROM orders")
    with pytest.raises(SubstraitError, match="interval RANGE"):
        to_substrait_plan(df)
