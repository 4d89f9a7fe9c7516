"""Scalar + aggregate function tables, both translation directions.

The scalar core is the reference's 26 binary operators
(``operator_to_name`` producer.rs:288-318 ⇄ ``name_to_op`` consumer.rs:37-71)
— we use the Substrait-spec spelling ``subtract`` on BOTH sides rather than
replicating the reference's roundtrip-breaking ``"substract"`` typo
(producer.rs:297 vs consumer.rs:46; SURVEY.md §2.3).

Extensions beyond the reference (needed for real Catalyst optimized plans,
which inject null guards / coercions the reference never sees):
``not``, ``is_null``, ``is_not_null`` (unary), n-ary ``str_concat``,
``coalesce``, ``abs``, ``negate``.

Aggregates: the reference hardcodes no list — any name DataFusion 15's
``AggregateFunction::from_str`` resolves is accepted (consumer.rs:401-407).
We implement that effective set per the SURVEY.md §2.4 table.
"""

from __future__ import annotations

from datafusion_substrait_spark.plans.proto import SubstraitError

# ---------------------------------------------------------------------------
# produce direction: Catalyst expression class simpleName → substrait name
# (≡ operator_to_name, producer.rs:288-318)
# ---------------------------------------------------------------------------

CATALYST_BINARY_TO_NAME: dict[str, str] = {
    "EqualTo": "equal",
    "LessThan": "lt",
    "LessThanOrEqual": "lte",
    "GreaterThan": "gt",
    "GreaterThanOrEqual": "gte",
    "Add": "add",
    "Subtract": "subtract",
    "Multiply": "multiply",
    "Divide": "divide",
    "IntegralDivide": "div",  # integer division, trunc-toward-zero semantics
    "Remainder": "mod",
    # NO Pmod entry: pmod(a, b) != a % b for negative operands, so mapping
    # it to "mod" would silently change results — it falls to the
    # catch-all unsupported-expression error instead
    "And": "and",
    "Or": "or",
    "Like": "like",
    "RLike": "regex_match",
    # Catalyst optimizes LIKE 'A%' / '%A' / '%A%' into these
    "StartsWith": "starts_with",
    "EndsWith": "ends_with",
    "Contains": "contains",
    "EqualNullSafe": "is_not_distinct_from",
    "BitwiseAnd": "bitwise_and",
    "BitwiseOr": "bitwise_or",
    "BitwiseXor": "bitwise_xor",
    "ShiftLeft": "bitwise_shift_left",
    "ShiftRight": "bitwise_shift_right",
    "DateAdd": "date_add",
    "DateSub": "date_sub",
    "DateDiff": "date_diff",  # (end, start) argument order on both sides
    "Pow": "power",
    "Atan2": "atan2",
    # r11 produce-sweep additions
    "Hypot": "hypot",
    "BRound": "bround",            # half-even rounding (scale rides as arg)
    # (sec, format); like unix_timestamp, the timeZoneId node field rides
    # the SESSION zone (UTC-pinned), not the plan
    "FromUnixTime": "from_unixtime",
    "ToUnixTimestamp": "to_unix_timestamp",  # same session-zone convention
    "FindInSet": "find_in_set",
    # date/time + string/hash battery (r9, part 2)
    "AddMonths": "add_months",
    "TruncDate": "trunc_date",      # (date, format-literal)
    # (format, timestamp) — Catalyst's TruncTimestamp arg order matches
    # SQL date_trunc(fmt, ts); like UnixTimestamp, the timeZoneId node
    # field rides the SESSION zone (UTC-pinned by register_testdata),
    # not the plan (r11, surfaced by the differential date tier)
    "TruncTimestamp": "date_trunc",
    "StringRepeat": "repeat",
    "StringInstr": "instr",         # (str, substr) → 1-based position
    "Levenshtein": "levenshtein",   # 2-arg form (threshold form is 3-child
                                    # and fails arity cleanly)
    "Sha2": "sha2",                 # (binary, numBits-literal)
    # 0-based array indexing. Consumed as get() (NULL on out-of-bounds),
    # so only the LENIENT form (failOnError=false, i.e. get()) produces
    # this name; the strict ANSI arr[i] form is rewritten by the producer
    # to strict element_at(arr, i+1) when the ordinal is a non-negative
    # literal (value-identical incl. throw-on-OOB) and fenced otherwise
    # — see producer._binary (r10, ADVICE).
    "GetArrayItem": "array_get",
    # m[k]: NULL on missing key in BOTH ANSI modes (SPARK-40066), which
    # try_element_at reproduces exactly on consume
    "GetMapValue": "map_get",
    "ArrayContains": "array_contains",
    "ArrayPosition": "array_position",
    "ArrayRemove": "array_remove",
    "ArraysOverlap": "arrays_overlap",
    "ArrayUnion": "array_union",
    "ArrayIntersect": "array_intersect",
    "ArrayExcept": "array_except",
    "ArrayRepeat": "array_repeat",
    # raw-crawl JSON extraction + timestamp formatting (2-child forms;
    # DateFormatClass' optional timezone rides session state, not a child)
    "GetJsonObject": "get_json_object",
    "DateFormatClass": "date_format",
    # r9 part 3 (found by the expression-gap sweep)
    # Substrait functions_string.yaml string_split: LITERAL-delimiter
    # split (split_part's array source). Produce fences a non-literal /
    # empty delimiter; consume rebuilds via regex split over the
    # \Q..\E-quoted delimiter (r11)
    "StringSplitSQL": "string_split",
    "ElementAt": "element_at",    # 1-based arrays / map keys; the
                                  # split_part default-value form encodes
                                  # as a guarded CASE (producer, r11)
    "FormatNumber": "format_number",
    # epoch seconds; like timestamp literals, tz-sensitive parsing rides
    # the SESSION zone (UTC-pinned by register_testdata), not the plan
    "UnixTimestamp": "unix_timestamp",
}

# Not(inner-class) → negated substrait name (producer's NotEq/NotLike/… forms)
CATALYST_NOT_TO_NAME: dict[str, str] = {
    "EqualTo": "not_equal",
    "Like": "not_like",
    "RLike": "regex_not_match",
    "EqualNullSafe": "is_distinct_from",
}

CATALYST_UNARY_TO_NAME: dict[str, str] = {
    "Not": "not",
    "IsNull": "is_null",
    "IsNotNull": "is_not_null",
    "UnaryMinus": "negate",
    "Abs": "abs",
    "Floor": "floor",
    "Ceil": "ceil",
    "Sqrt": "sqrt",
    "Lower": "lower",
    "Upper": "upper",
    "Length": "char_length",
    "Year": "year",
    "Month": "month",
    "DayOfMonth": "day",
    "Md5": "md5",
    # trimStr is an Option-child: these classes are unary in the common
    # no-trim-string form; the 2-child form fails arity and errors cleanly
    "StringTrim": "trim",
    "StringTrimLeft": "ltrim",
    "StringTrimRight": "rtrim",
    "InitCap": "initcap",
    "BitwiseNot": "bitwise_not",
    # size(array|map); ANSI-era semantics (size(NULL) = NULL) on both sides
    "Size": "size",
    # math battery (r9): substrait-spec spellings; consumed by the
    # same-named Spark builders, so values are bit-identical both ways
    "Exp": "exp",
    "Log": "ln",
    # r11 produce-sweep additions (math unaries every SQL dialect has)
    "Cbrt": "cbrt",
    "Expm1": "expm1",
    "Log1p": "log1p",
    "Rint": "rint",
    # r11 sweep batch 2: epoch/date conversions (pure integer math — no
    # session-zone sensitivity except where noted on the binary table)
    "SecondsToTimestamp": "timestamp_seconds",
    "MicrosToTimestamp": "timestamp_micros",
    "UnixDate": "unix_date",
    "DateFromUnixDate": "date_from_unix_date",
    "UnixMicros": "unix_micros",
    "MonthName": "monthname",
    "DayName": "dayname",
    "Log10": "log10",
    "Log2": "log2",
    "Sin": "sin",
    "Cos": "cos",
    "Tan": "tan",
    "Asin": "asin",
    "Acos": "acos",
    "Atan": "atan",
    "Sinh": "sinh",
    "Cosh": "cosh",
    "Tanh": "tanh",
    "Signum": "sign",
    "ToDegrees": "degrees",
    "ToRadians": "radians",
    # date/time parts
    "Hour": "hour",
    "Minute": "minute",
    "Second": "second",
    "DayOfWeek": "day_of_week",
    "DayOfYear": "day_of_year",
    "Quarter": "quarter",
    "WeekOfYear": "week_of_year",
    "LastDay": "last_day",
    # string / numeric encodings + hashes
    "Reverse": "reverse",           # strings AND arrays, both sides
    "Ascii": "ascii",
    "Chr": "chr",
    "Factorial": "factorial",
    "Hex": "hex",
    "Unhex": "unhex",
    "Bin": "bin",
    "Crc32": "crc32",
    "Sha1": "sha1",
    # r9 part 3
    "OctetLength": "octet_length",
    # collection battery (r9 part 4)
    "MapKeys": "map_keys",
    "MapValues": "map_values",
    "Flatten": "flatten",
    # NO ArrayCompact: the optimizer rewrites it to ArrayFilter with an
    # isnotnull LAMBDA pre-produce — which now rides the lambda encoding
    # (CATALYST_HOF_TO_NAME below), un-fencing array_compact (r10)
    "BitLength": "bit_length",
    "ArrayDistinct": "array_distinct",
    "ArrayMax": "array_max",
    "ArrayMin": "array_min",
    "BitwiseCount": "bit_count",
    "IsNaN": "is_nan",
    "SoundEx": "soundex",
}

CATALYST_NARY_TO_NAME: dict[str, str] = {
    "Concat": "str_concat",
    "Coalesce": "coalesce",
    "Substring": "substring",
    "Round": "round",
    "Greatest": "greatest",
    "Least": "least",
    "ConcatWs": "concat_ws",  # separator literal special-cased on consume
    "StringReplace": "replace",
    "StringSplit": "regexp_split",  # (str, pattern, limit) — Spark's split()
    "SortArray": "sort_array",      # (array, asc) — asc rides as a literal
    "ArrayJoin": "array_join",      # (array, delimiter)
    # complex-type constructors (r8): Catalyst's children are already the
    # interleaved (name/key literal, value, …) the Spark builders take, so
    # user STRUCT FIELD NAMES survive the roundtrip as literal arguments —
    # the core Expression.Nested.Struct is positional and would drop them
    "CreateNamedStruct": "named_struct",
    "CreateMap": "map",
    # r11 produce-sweep additions (variadic / 3-child forms)
    "FormatString": "format_string",
    "StringToMap": "str_to_map",
    "RegExpInStr": "regexp_instr",
    "Mask": "mask",  # (str, upper, lower, digit, other) — defaults ride
                     # as the literal children Catalyst materializes
    # r9 part 2: 3-child string/date forms
    "StringLPad": "lpad",
    "StringRPad": "rpad",
    "StringTranslate": "translate",
    "SubstringIndex": "substring_index",
    "Sequence": "sequence",            # (start, stop[, step])
    "Conv": "conv",                    # (num-string, from-base, to-base)
    "MonthsBetween": "months_between",  # (d1, d2, roundOff-literal)
    # r9 part 3: regex family (Java regex both directions — the produce
    # side is the same engine, so patterns need no dialect mapping),
    # locate/slice/overlay/width_bucket positional forms
    "RegExpExtract": "regexp_extract",
    "RegExpExtractAll": "regexp_extract_all",
    "RegExpReplace": "regexp_replace",   # (str, pattern, rep, pos)
    "StringLocate": "locate",            # (substr, str, start)
    "Slice": "slice",                    # (array, 1-based start, length)
    "Overlay": "overlay",                # (str, replace, pos, len)
    "WidthBucket": "width_bucket",
}

# ---------------------------------------------------------------------------
# higher-order functions (r10): Catalyst class → extension scalar name.
# A Catalyst LambdaFunction child rides as the extension call
# ``lambda(n_params: i32, body)``; a NamedLambdaVariable in the body rides
# as ``lambda_var(depth: i32, index: i32)`` — de-Bruijn-style (depth 0 =
# innermost enclosing lambda), so NESTED lambdas roundtrip without carrying
# Catalyst exprIds across the plan boundary. Both helper names are plain
# extension scalar functions, so the binary wire codec handles them for
# free. The reference has no lambda surface (catch-all, consumer.rs:69);
# this closes the r9 verdict's top capability gap.
# ---------------------------------------------------------------------------

CATALYST_HOF_TO_NAME: dict[str, str] = {
    "ArrayTransform": "transform",
    "ArrayFilter": "filter",           # also array_compact's optimized form
    "ArrayExists": "exists",           # followThreeValuedLogic fence (producer)
    "ArrayForAll": "forall",
    "ArrayAggregate": "aggregate",     # SQL aggregate() AND reduce()
    "ZipWith": "zip_with",
    "MapFilter": "map_filter",
    "TransformKeys": "transform_keys",
    "TransformValues": "transform_values",
    "MapZipWith": "map_zip_with",
    "ArraySort": "array_sort",         # comparator lambda (default or custom)
}

# lambda argument shape per HOF: {arg position: allowed n_params}. The
# consumer validates against this BEFORE rendering, so a corrupted plan
# (lambda at a data position, or an arity the builder would only reject
# later as a JVM AnalysisException) fails as a clean SubstraitError.
HOF_LAMBDA_SHAPE: dict[str, dict[int, set[int]]] = {
    "transform": {1: {1, 2}},        # (x) or (x, i)
    "filter": {1: {1, 2}},
    "exists": {1: {1}},
    "forall": {1: {1}},
    "aggregate": {2: {2}, 3: {1}},   # merge(acc, x), finish(acc)
    "zip_with": {2: {2}},
    "map_filter": {1: {2}},          # (k, v)
    "transform_keys": {1: {2}},
    "transform_values": {1: {2}},
    "map_zip_with": {2: {3}},        # (k, v1, v2)
    "array_sort": {1: {2}},          # comparator(l, r)
}

# ---------------------------------------------------------------------------
# consume direction: substrait name → Spark SQL (≡ consumer.rs:37-71). The
# consumer renders a plan to one SQL string, so each entry is
# (SQL text, arity): a bare name renders as a call over the arguments, a
# template fills {0}, {1}, … with the argument texts. Arity None = variadic.
# ---------------------------------------------------------------------------

# ``a div b`` with trunc-toward-zero semantics, exact over full-range int64:
# subtracting the truncated remainder first (`%` keeps the dividend's sign,
# exact on decimals) makes the decimal quotient mathematically integral, so
# the division's scale-6 HALF_UP rounding can never move it (a floor/ceil of
# the ROUNDED raw quotient is off by one whenever a/b lands within 5e-7 of an
# integer, e.g. 1999999 div 2000000). Double division loses low bits past
# 2^53.
_DIV = ("CAST((CAST({0} AS DECIMAL(38,0)) - CAST({0} AS DECIMAL(38,0)) % "
        "CAST({1} AS DECIMAL(38,0))) / CAST({1} AS DECIMAL(38,0)) AS BIGINT)")

SCALAR_SQL: dict[str, tuple[str, int | None]] = {
    "equal": ("({0} = {1})", 2),
    "not_equal": ("(NOT ({0} = {1}))", 2),
    "lt": ("({0} < {1})", 2),
    "lte": ("({0} <= {1})", 2),
    "gt": ("({0} > {1})", 2),
    "gte": ("({0} >= {1})", 2),
    "add": ("({0} + {1})", 2),
    "subtract": ("({0} - {1})", 2),
    "multiply": ("({0} * {1})", 2),
    "divide": ("({0} / {1})", 2),
    "mod": ("({0} % {1})", 2),
    "div": (_DIV, 2),
    "and": ("({0} AND {1})", 2),
    "or": ("({0} OR {1})", 2),
    "like": ("({0} LIKE {1})", 2),
    "starts_with": ("startswith", 2),
    "ends_with": ("endswith", 2),
    "contains": ("contains", 2),
    "not_like": ("(NOT ({0} LIKE {1}))", 2),
    "regex_match": ("({0} RLIKE {1})", 2),
    "regex_imatch": ("({0} RLIKE concat('(?i)', {1}))", 2),
    "regex_not_match": ("(NOT ({0} RLIKE {1}))", 2),
    "regex_not_imatch": ("(NOT ({0} RLIKE concat('(?i)', {1})))", 2),
    "is_distinct_from": ("(NOT ({0} <=> {1}))", 2),
    "is_not_distinct_from": ("({0} <=> {1})", 2),
    "bitwise_and": ("({0} & {1})", 2),
    "bitwise_or": ("({0} | {1})", 2),
    "bitwise_xor": ("({0} ^ {1})", 2),
    "bitwise_shift_left": ("shiftleft", 2),
    "bitwise_shift_right": ("shiftright", 2),
    "str_concat": ("concat", None),
    "coalesce": ("coalesce", None),
    "not": ("(NOT {0})", 1),
    "is_null": ("({0} IS NULL)", 1),
    "is_not_null": ("({0} IS NOT NULL)", 1),
    "negate": ("(- {0})", 1),
    "bitwise_not": ("(~ {0})", 1),
    "char_length": ("length", 1),
    "day": ("dayofmonth", 1),
    "substring": ("substring", 3),
    "greatest": ("greatest", None),
    "least": ("least", None),
    "concat_ws": ("concat_ws", None),  # separator literal checked on consume
    "date_diff": ("datediff", 2),
    "array_get": ("get", 2),               # 0-based, NULL on OOB
    "map_get": ("try_element_at", 2),      # NULL on missing key
    "ln": ("ln", 1),
    "sign": ("signum", 1),
    "power": ("power", 2),
    "day_of_week": ("dayofweek", 1),
    "day_of_year": ("dayofyear", 1),
    "week_of_year": ("weekofyear", 1),
    "trunc_date": ("trunc", 2),
    "is_nan": ("isnan", 1),
    "murmur3_hash": ("hash", None),
    "regexp_split": ("split", 3),
    "round": ("round", 1),  # the 2-arg form takes a literal scale (consumer)
    "named_struct": ("named_struct", None),  # interleaved (name, value, …)
    "map": ("map", None),                    # interleaved (key, value, …)
    "xxhash64": ("xxhash64", None),
    "sequence": ("sequence", None),          # 2- or 3-arg (step)
    "format_string": ("format_string", None),
    "str_to_map": ("str_to_map", None),
    "regexp_instr": ("regexp_instr", None),
    "mask": ("mask", None),
}

# the rest share Spark's SQL spelling, by arity
for _arity, _names in {
    1: ("abs", "floor", "ceil", "sqrt", "lower", "upper", "year", "month",
        "md5", "trim", "ltrim", "rtrim", "initcap", "size", "exp", "log10",
        "log2", "sin", "cos", "tan", "asin", "acos", "atan", "sinh", "cosh",
        "tanh", "degrees", "radians", "hour", "minute", "second", "quarter",
        "last_day", "cbrt", "expm1", "log1p", "rint", "timestamp_seconds",
        "timestamp_micros", "unix_date", "date_from_unix_date",
        "unix_micros", "monthname", "dayname", "octet_length", "bit_length",
        "array_distinct", "array_max", "array_min", "bit_count", "soundex",
        "map_keys", "map_values", "flatten", "reverse", "ascii", "chr",
        "factorial", "hex", "unhex", "bin", "crc32", "sha1"),
    2: ("date_add", "date_sub", "array_contains", "atan2", "add_months",
        "date_trunc", "hypot", "bround", "from_unixtime", "to_unix_timestamp",
        "find_in_set", "get_json_object", "date_format", "element_at",
        "try_element_at", "format_number", "unix_timestamp", "try_add",
        "try_subtract", "try_multiply", "try_divide", "try_mod",
        "array_position", "array_remove", "arrays_overlap", "array_union",
        "array_intersect", "array_except", "array_repeat", "repeat", "instr",
        "levenshtein", "sha2", "sort_array", "array_join"),
    3: ("regexp_extract", "regexp_extract_all", "locate", "slice", "lpad",
        "rpad", "translate", "substring_index", "conv", "months_between",
        "replace"),
    4: ("regexp_replace", "overlay", "width_bucket"),
}.items():
    for _n in _names:
        SCALAR_SQL[_n] = (_n, _arity)

# Foreign-producer compatibility alias: the reference's PRODUCER emits the
# typo "substract" (producer.rs:297) that even its own consumer rejects
# (name_to_op only knows "subtract", consumer.rs:46) — the documented
# roundtrip-breaking asymmetry. We PRODUCE the spec spelling, but a plan
# produced by the reference must still consume here.
SCALAR_SQL["substract"] = SCALAR_SQL["subtract"]


def scalar_sql(name: str, args: list[str]) -> str:
    entry = SCALAR_SQL.get(name)
    if entry is None:
        raise SubstraitError(f"unknown scalar function {name!r} (≡ consumer.rs:69)")
    text, arity = entry
    if arity is not None and len(args) != arity:
        raise SubstraitError(
            f"scalar function {name!r} expects {arity} args, got {len(args)} "
            "(reference asserts arity 2, consumer.rs:531; we report instead)"
        )
    if "{" in text:
        # positional fill by concatenation: argument text may hold braces
        out, rest = [], text
        while "{" in rest:
            head, _, tail = rest.partition("{")
            idx, _, rest = tail.partition("}")
            out += [head, args[int(idx)]]
        return "".join(out) + rest
    return f"{text}({', '.join(args)})"


# ---------------------------------------------------------------------------
# aggregates (SURVEY.md §2.4: DataFusion 15 from_str set)
# ---------------------------------------------------------------------------

# produce: Catalyst AggregateFunction.prettyName() → substrait name
CATALYST_AGG_TO_NAME: dict[str, str] = {
    "count": "count",
    "sum": "sum",
    "avg": "avg",
    "mean": "avg",
    "min": "min",
    "max": "max",
    "median": "median",
    "approx_count_distinct": "approx_distinct",
    "collect_list": "array_agg",
    "var_samp": "var",
    "var_pop": "var_pop",
    "stddev_samp": "stddev",
    "stddev": "stddev_samp",
    "stddev_pop": "stddev_pop",
    "covar_samp": "covar",
    "covar_pop": "covar_pop",
    "corr": "corr",
    "percentile_approx": "approx_percentile_cont",
    "percentile": "percentile",  # Spark desugars median() to percentile(c, 0.5)
    "first": "first_value",
    "last": "last_value",
    # the SQL window spellings: First/Last prettyName is "first_value"/
    # "last_value" unless the FUNC_ALIAS tag says "first"/"last" (how the
    # aggregate-call form presents) — both arrive here
    "first_value": "first_value",
    "last_value": "last_value",
}

# consume: substrait name → Spark SQL aggregate (a template fills {0})
AGG_SQL: dict[str, str] = {
    "count": "count",
    "sum": "sum",
    "avg": "avg",
    "mean": "avg",
    "min": "min",
    "max": "max",
    "median": "median",
    "approx_distinct": "approx_count_distinct",
    "array_agg": "collect_list",
    "var": "var_samp",
    "variance": "var_samp",
    "var_pop": "var_pop",
    "stddev": "stddev_samp",
    "stddev_samp": "stddev_samp",
    "stddev_pop": "stddev_pop",
    "covar": "covar_samp",
    "covariance": "covar_samp",
    "covar_pop": "covar_pop",
    "corr": "corr",
    "approx_percentile_cont": "percentile_approx",
    "percentile": "percentile",
    "approx_median": "percentile_approx({0}, 0.5)",
    "grouping": "grouping",
    # ignoreNulls stays false, the SQL default (the producer fences true)
    "first_value": "first",
    "last_value": "last",
}

# aggregates that take DISTINCT (count over any arity, the rest over one
# argument); DISTINCT is a no-op for min/max
AGG_DISTINCT = frozenset((
    "count", "sum", "min", "max", "avg", "mean", "median", "approx_distinct",
    "array_agg", "var", "variance", "var_pop", "stddev", "stddev_samp",
    "stddev_pop"))


def agg_sql(name: str, args: list[str], distinct: bool) -> str:
    fn = AGG_SQL.get(name)
    if fn is None:
        raise SubstraitError(
            f"unknown aggregate function {name!r} (≡ consumer.rs:401-407)")
    if "{0}" in fn:
        return fn.replace("{0}", args[0] if args else "")
    if name == "count" and not args:
        return "count(*)"
    return f"{fn}({'DISTINCT ' if distinct else ''}{', '.join(args)})"
