"""Differential-VALUE fuzz tier (r10 directive): the roundtrip fuzz in
test_sql_fuzz.py checks produce→consume identity, which is blind to
translation bugs that are symmetric in both directions. This tier closes
that: for a deterministic integer/string sub-grammar written in the exact
ANSI intersection of Spark SQL and DuckDB, the SAME SQL string runs on
both engines over the same parquet — the roundtripped Spark result must
equal DuckDB's rows value-for-value.

Grammar constraints that make the values portable:
- integers only in bare arithmetic (no IEEE doubles, no division, no avg);
  sums stay far inside int64 (multipliers <= 9)
- decimals (r11 directive): every double column is touched ONLY through
  CAST(col AS DECIMAL(18,2)) — exact fixed-point values both engines
  agree on bit-for-bit (parity of the cast itself pre-checked per column
  over the full table). Combiners keep the result scale engine-identical:
  +/- (scale 2), * small-int constant (scale 2), sum/min/max/count
  DISTINCT (scale 2); round(x, 1) only as an outermost projection (it
  changes scale); never decimal*decimal, never division
- string fns from the shared dialect: upper/lower/substring/replace/
  length/reverse/trim/ltrim/rtrim/lpad/instr/ascii + (r11) md5/repeat/
  translate/left/right/split_part/contains/concat_ws; LIKE only (no
  regex — Java vs RE2)
- HOF/lambda (r11): ``filter(split(c, sep), x -> pred)`` is the one
  lambda spelling both engines parse (DuckDB lacks ``transform``, Spark
  lacks ``list_transform``); plus array_sort / array_contains over
  split. Split separators are literal single chars (Spark split is
  regex-based, DuckDB's is literal). No index-lambdas (DuckDB's i is
  1-based, Spark's 0-based).
- date parts year/month/day over the timestamp columns (both engines
  return identical integers)
- joins on real FK pairs, EXISTS/NOT EXISTS, set ops (both engines'
  UNION/INTERSECT/EXCEPT are distinct-by-default), GROUP BY + HAVING,
  uncorrelated scalar subqueries; no LIMIT (no total order needed —
  rows compare as sorted multisets)
"""

from __future__ import annotations

import os
import random

import duckdb
import pytest

from datafusion_substrait_spark import roundtrip
from tests.conftest import SF_DIR, rows_set, schema_of

# table -> (int cols, string cols, date col, UNIQUE order-by key tuple —
# window ties are resolved differently per engine, so every window ORDER
# BY must end in a total order)
TABLES = {
    "orders": (["o_orderkey", "o_custkey"],
               ["o_orderstatus", "o_orderpriority"], "o_orderdate",
               ("o_orderkey",)),
    "customer": (["c_custkey", "c_nationkey"],
                 ["c_name", "c_mktsegment"], None, ("c_custkey",)),
    # lineitem has NO usable total order: the synthetic generator emits
    # duplicate (l_orderkey, l_linenumber) pairs (1161 duplicated pairs at sf0.001), so it
    # is excluded from the window shape (ties resolve per-engine)
    "lineitem": (["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
                 ["l_returnflag", "l_linestatus"], "l_shipdate", None),
    "nation": (["n_nationkey", "n_regionkey"], ["n_name"], None,
               ("n_nationkey",)),
    "supplier": (["s_suppkey", "s_nationkey"], ["s_name"], None,
                 ("s_suppkey",)),
    "part": (["p_partkey", "p_size"], ["p_name", "p_brand", "p_type"], None,
             ("p_partkey",)),
}

POOLS = {
    "o_orderstatus": ["F", "O", "P"],
    "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"],
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["O", "F"],
    "c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"],
    "p_type": ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"],
}

# table → double columns safe under CAST(... AS DECIMAL(18,2)) — parity of
# the cast itself was pre-checked per column over the full table (sum +
# count DISTINCT equality at sf0.001); doubles NEVER appear uncast
DEC_COLS = {
    "orders": ["o_totalprice"],
    "customer": ["c_acctbal"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "part": ["p_retailprice"],
    "supplier": ["s_acctbal"],
}

# (table, string col, literal split separator) — separators are single
# literal chars so Spark's regex split == DuckDB's literal split
SPLITS = [
    ("orders", "o_orderpriority", "-"),
    ("part", "p_type", " "),
    ("part", "p_name", " "),
    ("customer", "c_name", "#"),
]

JOINS = [
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
]


class DiffGen:
    def __init__(self, seed: int):
        self.r = random.Random(seed)

    def pick(self, xs):
        return self.r.choice(xs)

    def int_expr(self, cols, depth=2) -> str:
        if depth <= 0 or self.r.random() < 0.4:
            return self.pick(cols + [str(self.r.randint(0, 99))])
        a = self.int_expr(cols, depth - 1)
        b = self.int_expr(cols, depth - 1)
        form = self.pick(["add", "sub", "mulc", "mod", "case", "strlen",
                          "abs", "instr", "ascii", "greatest", "least",
                          "coalesce_nullif"])
        if form == "add":
            return f"({a} + {b})"
        if form == "sub":
            return f"({a} - {b})"
        if form == "mulc":
            return f"({a} * {self.r.randint(2, 9)})"
        if form == "mod":
            return f"({self.pick(cols)} % {self.r.randint(2, 97)})"
        if form == "abs":
            return f"abs({a} - {b})"
        if form == "ascii":
            return f"ascii(CAST({self.pick(cols)} AS STRING))"
        if form == "greatest":
            return f"greatest({a}, {b})"
        if form == "least":
            return f"least({a}, {b})"
        if form == "coalesce_nullif":
            # nullif plants genuine NULLs; coalesce takes them back out —
            # exercises both engines' null propagation through arithmetic
            return (f"coalesce(nullif({a}, {b}), "
                    f"{self.r.randint(0, 9)})")
        if form == "strlen":
            return f"length(CAST({self.pick(cols)} AS STRING))"
        if form == "instr":
            return (f"instr(CAST({self.pick(cols)} AS STRING), "
                    f"'{self.r.randint(0, 9)}')")
        return (f"(CASE WHEN {a} > {b} THEN {a} "
                f"WHEN {a} = {b} THEN 0 ELSE {b} END)")

    def str_expr(self, scols, depth=1) -> str:
        c = self.pick(scols)
        if depth <= 0 or self.r.random() < 0.35:
            return c
        form = self.pick(["upper", "lower", "sub", "replace", "reverse",
                          "trim", "lpad", "concat2", "md5", "repeat",
                          "translate", "left", "right", "split_part",
                          "concat_ws", "ltrim_rtrim"])
        if form == "upper":
            return f"upper({self.str_expr(scols, depth - 1)})"
        if form == "lower":
            return f"lower({self.str_expr(scols, depth - 1)})"
        if form == "sub":
            return (f"substring({c}, {self.r.randint(1, 3)}, "
                    f"{self.r.randint(1, 6)})")
        if form == "replace":
            return f"replace({c}, '{self.pick('AEIOU_')}', '*')"
        if form == "reverse":
            return f"reverse({c})"
        if form == "trim":
            return f"trim({c})"
        if form == "lpad":
            return f"lpad({c}, {self.r.randint(8, 14)}, '.')"
        if form == "md5":
            return f"md5({self.str_expr(scols, depth - 1)})"
        if form == "repeat":
            return f"repeat({c}, {self.r.randint(2, 3)})"
        if form == "translate":
            return f"translate({c}, 'AEIOU', '{self.pick('aeiou')}****')"
        if form == "left":
            return f"left({c}, {self.r.randint(1, 5)})"
        if form == "right":
            return f"right({c}, {self.r.randint(1, 5)})"
        if form == "split_part":
            # both engines: 1-indexed, '' when the part is absent
            return (f"split_part({c}, '{self.pick('- #')}', "
                    f"{self.r.randint(1, 3)})")
        if form == "concat_ws":
            return f"concat_ws('|', {c}, {self.pick(scols)})"
        if form == "ltrim_rtrim":
            return f"ltrim(rtrim({self.str_expr(scols, depth - 1)}))"
        return f"(({c}) || '#' || ({self.pick(scols)}))"

    def dec_expr(self, t: str, depth=2) -> str:
        """Exact DECIMAL(18,2) expression — see module docstring for the
        scale discipline that keeps both engines' result scale identical."""
        dcols = DEC_COLS[t]
        if depth <= 0 or self.r.random() < 0.4:
            if self.r.random() < 0.25:
                return (f"CAST({self.r.randint(0, 999)}."
                        f"{self.r.randint(0, 99):02d} AS DECIMAL(18,2))")
            return f"CAST({self.pick(dcols)} AS DECIMAL(18,2))"
        a = self.dec_expr(t, depth - 1)
        b = self.dec_expr(t, depth - 1)
        form = self.pick(["add", "sub", "mulc", "case"])
        if form == "add":
            return f"({a} + {b})"
        if form == "sub":
            return f"({a} - {b})"
        if form == "mulc":
            return f"({a} * {self.r.randint(2, 9)})"
        icols, scols, dcol, _ = TABLES[t]
        return (f"(CASE WHEN {self.cmp(icols, scols, dcol)} "
                f"THEN {a} ELSE {b} END)")

    def bool_expr(self, icols, scols, dcol, depth=2) -> str:
        if depth <= 0:
            return self.cmp(icols, scols, dcol)
        form = self.pick(["and", "or", "not", "cmp", "cmp"])
        a = self.bool_expr(icols, scols, dcol, depth - 1)
        b = self.bool_expr(icols, scols, dcol, depth - 1)
        if form == "and":
            return f"({a} AND {b})"
        if form == "or":
            return f"({a} OR {b})"
        if form == "not":
            return f"(NOT {a})"
        return self.cmp(icols, scols, dcol)

    def cmp(self, icols, scols, dcol) -> str:
        kind = self.pick(["num", "num", "in", "like", "between", "str"]
                         + (["date"] if dcol else []))
        if kind == "num":
            op = self.pick(["<", "<=", ">", ">=", "=", "<>"])
            return f"({self.int_expr(icols, 1)} {op} {self.int_expr(icols, 1)})"
        if kind == "in":
            c = self.pick(scols)
            pool = POOLS.get(c)
            if pool:
                vals = ", ".join(f"'{v}'" for v in
                                 self.r.sample(pool, k=min(2, len(pool))))
                return f"({c} IN ({vals}))"
            return f"({self.pick(icols)} IN (1, 2, 3, 5, 8, 13))"
        if kind == "like":
            c = self.pick(scols)
            pool = POOLS.get(c)
            pre = pool[0][:1] if pool else self.pick("ABCN")
            return f"({c} LIKE '{pre}%')"
        if kind == "between":
            lo = self.r.randint(0, 500)
            return f"({self.pick(icols)} BETWEEN {lo} AND {lo + 500})"
        if kind == "date":
            part = self.pick(["year", "month", "day"])
            hi = {"year": (1995, 2000), "month": (2, 11), "day": (5, 25)}[part]
            return f"({part}({dcol}) <= {self.r.randint(*hi)})"
        c = self.pick(scols)
        pool = POOLS.get(c)
        if pool:
            return f"({c} {self.pick(['=', '<>'])} '{self.pick(pool)}')"
        return f"(length({c}) > {self.r.randint(3, 12)})"

    # --- query shapes --------------------------------------------------

    def select_query(self) -> str:
        t = self.pick(list(TABLES))
        icols, scols, dcol, uniq = TABLES[t]
        items = [f"{self.int_expr(icols)} AS i{j}" for j in range(2)]
        items += [f"{self.str_expr(scols)} AS s0"]
        if dcol and self.r.random() < 0.5:
            items.append(f"year({dcol}) AS y0")
        return (f"SELECT {', '.join(items)} FROM {t} "
                f"WHERE {self.bool_expr(icols, scols, dcol)}")

    def agg_query(self) -> str:
        t = self.pick(list(TABLES))
        icols, scols, dcol, uniq = TABLES[t]
        g = self.str_expr(scols, 1)
        measures = [
            f"count(*) AS n",
            f"sum({self.int_expr(icols, 1)}) AS s1",
            f"min({self.pick(icols)}) AS mn",
            f"max({self.int_expr(icols, 1)}) AS mx",
            f"count(DISTINCT {self.pick(icols)}) AS nd",
        ]
        self.r.shuffle(measures)
        measures = measures[:3]
        if self.r.random() < 0.4:
            measures.append(
                f"sum({self.pick(icols)}) FILTER "
                f"(WHERE {self.cmp(icols, scols, dcol)}) AS sf")
        having = (f" HAVING count(*) > {self.r.randint(0, 3)}"
                  if self.r.random() < 0.4 else "")
        return (f"SELECT {g} AS grp, {', '.join(measures)} FROM {t} "
                f"WHERE {self.bool_expr(icols, scols, dcol, 1)} "
                f"GROUP BY {g}{having}")

    def join_query(self) -> str:
        lt, rt, lk, rk = self.pick(JOINS)
        li, ls, ld, _lu = TABLES[lt]
        ri, rs, _rd, _ru = TABLES[rt]
        jt = self.pick(["JOIN", "LEFT JOIN"])
        return (f"SELECT {self.pick(li)} AS a, {self.pick(ri)} AS b, "
                f"{self.str_expr(ls, 1)} AS s1, {self.str_expr(rs, 1)} AS s2 "
                f"FROM {lt} {jt} {rt} ON {lk} = {rk} "
                f"WHERE {self.bool_expr(li, ls, ld, 1)}")

    def join_agg_query(self) -> str:
        lt, rt, lk, rk = self.pick(JOINS)
        li, ls, ld, _lu = TABLES[lt]
        ri, rs, _rd, _ru = TABLES[rt]
        g = self.pick(rs)
        return (f"SELECT {g} AS grp, count(*) AS n, "
                f"sum({self.int_expr(li, 1)}) AS s "
                f"FROM {lt} JOIN {rt} ON {lk} = {rk} "
                f"WHERE {self.bool_expr(li, ls, ld, 1)} GROUP BY {g}")

    def exists_query(self) -> str:
        lt, rt, lk, rk = self.pick(JOINS)
        li, ls, ld, _lu = TABLES[lt]
        ri, rs, rd, _ru = TABLES[rt]
        shape = self.pick(["exists", "not_exists", "in", "not_in"])
        if shape in ("in", "not_in"):
            # IN-subquery (r11): FK columns are non-null, so NOT IN's
            # NULL-poisoning semantics can't fire — both engines agree
            neg = "NOT IN" if shape == "not_in" else "IN"
            return (f"SELECT {self.pick(li)} AS a, {self.pick(ls)} AS s "
                    f"FROM {lt} WHERE {lk} {neg} "
                    f"(SELECT {rk} FROM {rt} "
                    f"WHERE {self.bool_expr(ri, rs, rd, 1)}) "
                    f"AND {self.bool_expr(li, ls, ld, 1)}")
        neg = "NOT EXISTS" if shape == "not_exists" else "EXISTS"
        return (f"SELECT {self.pick(li)} AS a, {self.pick(ls)} AS s "
                f"FROM {lt} WHERE {neg} "
                f"(SELECT 1 FROM {rt} WHERE {rk} = {lk}) "
                f"AND {self.bool_expr(li, ls, ld, 1)}")

    def setop_query(self) -> str:
        t = self.pick(list(TABLES))
        icols, scols, dcol, uniq = TABLES[t]
        op = self.pick(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
        c = self.pick(icols)

        def leg():
            return (f"SELECT ({c} % {self.r.randint(2, 50)}) AS k FROM {t} "
                    f"WHERE {self.bool_expr(icols, scols, dcol, 1)}")

        return f"{leg()} {op} {leg()}"

    def scalar_sub_query(self) -> str:
        t = self.pick(list(TABLES))
        icols, scols, dcol, uniq = TABLES[t]
        c = self.pick(icols)
        fn = self.pick(["min", "max"])
        return (f"SELECT {self.pick(icols)} AS a, {self.pick(scols)} AS s "
                f"FROM {t} WHERE {c} > "
                f"(SELECT {fn}({c}) - {self.r.randint(1, 200)} FROM {t})")

    def distinct_query(self) -> str:
        t = self.pick(list(TABLES))
        icols, scols, dcol, uniq = TABLES[t]
        return (f"SELECT DISTINCT {self.str_expr(scols, 1)} AS s, "
                f"({self.pick(icols)} % {self.r.randint(2, 9)}) AS m FROM {t} "
                f"WHERE {self.bool_expr(icols, scols, dcol, 1)}")

    def window_query(self) -> str:
        # window SQL is dialect-shared; every ORDER BY carries the unique
        # key tie-break so ranks and frames are deterministic
        t = self.pick([t for t in TABLES if TABLES[t][3]])
        icols, scols, dcol, uniq = TABLES[t]
        part = self.pick(scols)
        ob = ", ".join(uniq)  # a genuine TOTAL order (see lineitem note)
        fn = self.pick([
            f"row_number() OVER (PARTITION BY {part} ORDER BY {ob})",
            f"rank() OVER (PARTITION BY {part} "
            f"ORDER BY ({self.pick(icols)} % {self.r.randint(2, 9)}), {ob})",
            f"sum({self.pick(icols)}) OVER (PARTITION BY {part} "
            f"ORDER BY {ob} ROWS BETWEEN {self.r.randint(1, 3)} PRECEDING "
            f"AND CURRENT ROW)",
            f"lag({self.pick(icols)}, 1) OVER (PARTITION BY {part} "
            f"ORDER BY {ob})",
            f"min({self.pick(icols)}) OVER (PARTITION BY {part})",
            # r11 additions (all pre-probed portable)
            f"first_value({self.pick(icols)}) OVER (PARTITION BY {part} "
            f"ORDER BY {ob})",
            f"nth_value({self.pick(icols)}, {self.r.randint(2, 4)}) "
            f"OVER (PARTITION BY {part} ORDER BY {ob} ROWS BETWEEN "
            f"UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)",
            f"lead({self.pick(icols)}, {self.r.randint(1, 3)}, -1) "
            f"OVER (PARTITION BY {part} ORDER BY {ob})",
            f"count(*) OVER (PARTITION BY {part} ORDER BY {ob} "
            f"ROWS BETWEEN {self.r.randint(1, 4)} PRECEDING AND "
            f"CURRENT ROW)",
            f"dense_rank() OVER (PARTITION BY {part} "
            f"ORDER BY ({self.pick(icols)} % {self.r.randint(2, 9)}), {ob})",
            f"ntile({self.r.randint(2, 6)}) OVER (PARTITION BY {part} "
            f"ORDER BY {ob})",
        ])
        keys = ", ".join(f"{c} AS k{i}" for i, c in enumerate(uniq))
        return (f"SELECT {keys}, {fn} AS w FROM {t} "
                f"WHERE {self.bool_expr(icols, scols, dcol, 1)}")

    def range_window_query(self) -> str:
        """Interval RANGE frames (r12): the producer lowers the DATE sort
        key to unix_date and the day-interval bound to an i64 distance;
        DuckDB evaluates the same frame natively. RANGE frames are
        peer-inclusive value-distance frames — deterministic under ties
        (unlike ROWS), so no unique-key tie-break is needed."""
        t = self.pick([t for t in TABLES if TABLES[t][2]])
        icols, scols, dcol, uniq = TABLES[t]
        part = self.pick(scols)
        okey = f"CAST({dcol} AS DATE)"
        agg = self.pick(["count(*)", f"sum({self.pick(icols)})"])
        lo, hi = self.r.randint(2, 40), self.r.randint(1, 20)
        frame = self.pick([
            f"RANGE BETWEEN INTERVAL {lo} DAY PRECEDING AND CURRENT ROW",
            f"RANGE BETWEEN INTERVAL {lo} DAY PRECEDING AND "
            f"INTERVAL {hi} DAY FOLLOWING",
            f"RANGE BETWEEN CURRENT ROW AND INTERVAL {hi} DAY FOLLOWING",
        ])
        return (f"SELECT {part} AS p, {okey} AS d, {agg} OVER "
                f"(PARTITION BY {part} ORDER BY {okey} {frame}) AS w "
                f"FROM {t} WHERE {self.bool_expr(icols, scols, dcol, 1)}")

    def rollup_query(self) -> str:
        # needs two DISTINCT grouping columns (ROLLUP(x, x) carries
        # duplicate grouping sets, a legitimate producer fence)
        t = self.pick([t for t in TABLES if len(TABLES[t][1]) >= 2])
        icols, scols, dcol, uniq = TABLES[t]
        g1, g2 = self.r.sample(scols, k=2)
        kind = self.pick(["ROLLUP", "CUBE"])
        # no WHERE: on an EMPTY input Spark's ROLLUP yields no rows while
        # DuckDB emits the grand-total row (verified native, not a
        # roundtrip artifact) — outside the portable intersection
        return (f"SELECT {g1} AS a, {g2} AS b, count(*) AS n, "
                f"sum({self.pick(icols)}) AS s, "
                f"grouping({g1}) AS ga, grouping({g2}) AS gb "
                f"FROM {t} GROUP BY {kind}({g1}, {g2})")

    def dec_query(self) -> str:
        """Fixed-scale decimal tier (r11): grouped exact-decimal aggregates
        with a decimal WHERE; round(x, 1) only at the outermost layer."""
        t = self.pick(list(DEC_COLS))
        icols, scols, dcol, uniq = TABLES[t]
        d = self.pick(DEC_COLS[t])
        g = self.pick(scols)
        measures = [
            f"sum({self.dec_expr(t)}) AS ds",
            f"min(CAST({d} AS DECIMAL(18,2))) AS dmn",
            f"max({self.dec_expr(t, 1)}) AS dmx",
            f"count(DISTINCT CAST({d} AS DECIMAL(18,2))) AS dn",
            f"round(sum({self.dec_expr(t, 1)}), 1) AS dr",
        ]
        self.r.shuffle(measures)
        measures = measures[:3]
        if self.r.random() < 0.4:
            measures.append(
                f"sum(CAST({d} AS DECIMAL(18,2))) FILTER "
                f"(WHERE {self.cmp(icols, scols, dcol)}) AS df")
        lo = self.r.randint(0, 5000)
        where = self.pick([
            f"CAST({d} AS DECIMAL(18,2)) BETWEEN {lo}.25 AND {lo + 4000}.75",
            f"CAST({d} AS DECIMAL(18,2)) > {lo}.{self.r.randint(0, 99):02d}",
            self.bool_expr(icols, scols, dcol, 1),
        ])
        return (f"SELECT {g} AS grp, {', '.join(measures)} FROM {t} "
                f"WHERE {where} GROUP BY {g}")

    def array_query(self) -> str:
        """HOF/array tier (r11): filter-lambda, array_sort, array_contains
        over literal-separator splits — the portable array dialect."""
        t, c, sep = self.pick(SPLITS)
        icols, scols, dcol, uniq = TABLES[t]
        arr = f"split({c}, '{sep}')"
        pred = self.pick([
            f"length(x) > {self.r.randint(1, 5)}",
            f"x LIKE '{self.pick('ABCMPSE')}%'",
            f"upper(x) <> x",
        ])
        items = [
            f"filter({arr}, x -> {pred}) AS fa",
            f"array_sort({arr}) AS sa",
            f"array_contains({arr}, '{self.pick(['URGENT', 'STANDARD', 'PROMO', 'HIGH'])}') AS ac",
        ]
        self.r.shuffle(items)
        items = items[:2]
        items.append(f"{self.pick(icols)} AS k")
        return (f"SELECT {', '.join(items)} FROM {t} "
                f"WHERE {self.bool_expr(icols, scols, dcol, 1)}")

    def date_query(self) -> str:
        """Date tier (r11) — pre-probed portable forms only: date_trunc /
        date_part / extract / + INTERVAL (CAST AS DATE pins the type on
        both engines) / last_day / quarter. NOT portable: dayofweek
        (Sunday=1 Spark vs 0 DuckDB), date subtraction (timedelta vs
        int), week() (absent in Spark)."""
        t = self.pick([t for t in TABLES if TABLES[t][2]])
        icols, scols, dcol, _ = TABLES[t]
        part = self.pick(["year", "month", "day"])
        unit = self.pick(["month", "year", "quarter", "week"])
        items = [
            f"CAST(date_trunc('{unit}', {dcol}) AS DATE) AS dt",
            f"date_part('{part}', {dcol}) AS dp",
            f"extract({self.pick(['year', 'month', 'day'])} "
            f"FROM {dcol}) AS ex",
            f"CAST({dcol} + INTERVAL {self.r.randint(1, 45)} DAY "
            f"AS DATE) AS shifted",
            f"last_day({dcol}) AS ld",
            f"quarter({dcol}) AS q",
        ]
        self.r.shuffle(items)
        items = items[:3] + [f"{self.pick(icols)} AS k"]
        return (f"SELECT {', '.join(items)} FROM {t} "
                f"WHERE {self.bool_expr(icols, scols, dcol, 1)}")

    def query(self) -> str:
        shape = self.r.choices(
            ["select", "agg", "join", "join_agg", "exists", "setop",
             "scalar_sub", "distinct", "window", "rollup", "dec", "array",
             "date", "range_window"],
            weights=[14, 15, 10, 9, 8, 6, 5, 5, 6, 5, 8, 5, 4, 5],
        )[0]
        return getattr(self, f"{shape}_query")()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


# Default in-suite sweep is seeds [0, 400) (200 → 400 r11: the widened
# grammar gets its own 200 seeds). Ad-hoc wide sweeps are REPRODUCIBLE
# via SPARK_GRAFT_SQL_FUZZ_SEEDS=a:b (half-open [a, b)), the same knob
# convention as test_foreign_fuzz's SPARK_GRAFT_FUZZ_SEEDS — the
# generator is seed-deterministic, so any recorded sweep replays
# exactly; commands recorded in COVERAGE.md next to each result.
_SEED_RANGE = os.environ.get("SPARK_GRAFT_SQL_FUZZ_SEEDS")
if _SEED_RANGE:
    _LO, _HI = (int(x) for x in _SEED_RANGE.split(":"))
else:
    _LO, _HI = 0, 400
_BATCH = 10


@pytest.mark.parametrize("start", range(_LO, _HI, _BATCH))
def test_differential_values_vs_duckdb(spark, duck, start):
    for seed in range(start, min(start + _BATCH, _HI)):
        sql = DiffGen(seed).query()
        direct = spark.sql(sql)
        rt = roundtrip(direct)
        assert schema_of(rt) == schema_of(direct), (
            f"consumed schema differs for seed {seed}:\n{sql}")
        got = rows_set(rt)
        want = sorted((tuple(r) for r in duck.sql(sql).fetchall()), key=repr)
        assert got == want, (
            f"value divergence vs DuckDB for seed {seed}:\n{sql}\n"
            f"spark {len(got)} rows vs duckdb {len(want)} rows")
