"""Consumer: Substrait-shaped plan → executable Spark DataFrame.

≡ ``from_substrait_plan`` (consumer.rs:74-112), which turns a plan into one
logical plan and optimizes it once. Here the plan is rendered, in pure
Python, to ONE Spark SQL string and built with ONE ``spark.sql`` call: one
parse and one Catalyst analysis per consume, whatever the plan's size, and
no Column objects or metadata round trips on the way. ``spark.sql`` is
public API on classic and Spark Connect sessions alike.

Query blocks. Each single-input chain in SQL clause order (Read → Filter →
Project → Aggregate → Sort → Fetch) renders as one ``SELECT``; a derived
table is opened only where SQL scoping needs one (a filter above a LIMIT,
an aggregate above an aggregate, ...). Column references are always
qualified by the alias of the FROM item that defines them (``q3.f0``,
``q1.`l_orderkey```), so SELECT-list aliases never capture them.

Ordinal discipline: Substrait references columns positionally
(consumer.rs:455-458 does ordinal→name via the input schema). Every
rendered block names its output ``f0..fn-1`` in Substrait ordinal order and
keeps, per ordinal, the SQL text that computes it, so a reference is
resolved in Python; widths and the types the plan declares are carried the
same way. The user-visible names are restored at the root from
``RelRoot.names`` (which the reference *ignores* on consume,
consumer.rs:100-102). Join inputs are aliased ``l<n>``/``r<n>`` — our
analogue of DataFusion's ``build_join_schema`` combined ordinal space
(consumer.rs:288-290).

Rels with no SQL syntax (today: ``sample`` with replacement, or with a
fraction or seed ``TABLESAMPLE`` cannot state exactly) are built as a
DataFrame from their rendered input and spliced into the same ``spark.sql``
call as a DataFrame argument.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import math
import warnings

from pyspark.sql import DataFrame, SparkSession

from datafusion_substrait_spark.functions import ops
from datafusion_substrait_spark.plans import proto
from datafusion_substrait_spark.plans.proto import SubstraitError
from datafusion_substrait_spark.plans.types import (spark_type_to_substrait,
                                                    substrait_type_to_spark,
                                                    user_type_map)

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH = datetime.datetime(1970, 1, 1)
_EXACT = decimal.Context(prec=80)  # wider than any decimal(38, s)


def from_substrait_plan(spark: SparkSession, plan: dict) -> DataFrame:
    root, names = proto.root_of(plan)
    r = _Renderer(spark, proto.extension_map(plan),
                  plan.get("relations", []), user_type_map(plan))
    blk = r.rel(root)
    if names and len(names) != len(blk.cols):
        raise SubstraitError(
            f"RelRoot.names has {len(names)} names but plan yields "
            f"{len(blk.cols)} columns")
    if not blk.cols:
        raise SubstraitError("plan yields no columns")
    return r.run(r.select_text(blk, names or None))


def _mask_ordinals(body: dict, width: int, what: str) -> list[int] | None:
    """Projection-mask ordinals of a ReadRel, bounds-checked; None when the
    plan carries no mask (select everything)."""
    items = body.get("projection", {}).get("select", {}).get("structItems", [])
    if not items:
        return None
    mask = [int(it.get("field", 0)) for it in items]
    bad = [i for i in mask if i >= width or i < 0]
    if bad:
        raise SubstraitError(
            f"{what}: projection ordinals {bad} outside baseSchema width "
            f"{width} (negatives would silently python-index from the end)"
        )
    return mask


# -- SQL text primitives ------------------------------------------------------

def _ident(name: str) -> str:
    """Backtick-quoted identifier; the quote itself is doubled, so a name
    can never close the quote and run as SQL. Spark substitutes
    ``${...}`` variables (``spark.sql.variable.substitute``) in the whole
    command text before lexing, quotes included, and an identifier has no
    other spelling, so a name holding ``${`` is refused."""
    if "\x00" in name:
        raise SubstraitError(f"identifier {name!r} holds a NUL character")
    if "${" in name:
        raise SubstraitError(
            f"identifier {name!r} holds '${{', which Spark's SQL parser "
            "would substitute as a variable reference")
    return "`" + name.replace("`", "``") + "`"


def _sql_string(s: str) -> str:
    """String literal. Text holding a quote, a backslash or a ``$`` goes as
    UTF-8 hex bytes cast to STRING, which no escape setting
    (``spark.sql.parser.escapedStringLiterals``) reads differently, no
    quote can close and no ``${...}`` variable substitution touches; the
    cast folds to the same literal."""
    if "'" in s or "\\" in s or "\x00" in s or "$" in s:
        return f"CAST(X'{s.encode('utf-8').hex().upper()}' AS STRING)"
    return "'" + s + "'"


def _num(text: str, negative: bool) -> str:
    # parenthesized negatives: `a - -1` must never render as `a --1`,
    # which the lexer reads as a comment
    return f"({text})" if negative else text


def _int_sql(n: int) -> str:
    return _num(str(n), n < 0)


def _sql_double(v: float) -> str:
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    # repr is the shortest text that round-trips; -0.0 keeps its sign
    return _num(f"{v!r}D", math.copysign(1.0, v) < 0)


_SIMPLE_LIT_TYPES = {"boolean": "bool", "i8": "i8", "i16": "i16", "i32": "i32",
                     "i64": "i64", "fp32": "fp32", "fp64": "fp64",
                     "string": "string", "binary": "binary", "date": "date",
                     "timestamp": "timestamp", "timestampTz": "timestampTz",
                     "intervalYearToMonth": "intervalYear",
                     "intervalDayToSecond": "intervalDay"}


def _literal_kind(body: dict) -> tuple[str, object]:
    kinds = [k for k in body if k not in ("nullable", "typeVariationReference")]
    if len(kinds) != 1:
        raise SubstraitError(f"bad literal {body}")
    return kinds[0], body[kinds[0]]


def _literal_type(body: dict) -> dict | None:
    kind, v = _literal_kind(body)
    if kind == "null":
        return v
    if kind == "decimal":
        return {"decimal": {"precision": int(v["precision"]),
                            "scale": int(v.get("scale", 0))}}
    t = _SIMPLE_LIT_TYPES.get(kind)
    return {t: {}} if t else None


def _int_literal(e: dict, what: str) -> int:
    lit = e.get("literal", {})
    for k in ("i8", "i16", "i32", "i64"):
        if k in lit:
            return int(lit[k])
    raise SubstraitError(f"{what} must be an integer literal, got {e}")


# -- blocks -------------------------------------------------------------------

# block stages: how far a SELECT has come in SQL clause order
_SCAN, _PROJ, _AGG, _WIN, _SORT, _FETCH, _SEALED = range(7)
# per-column flag: the text is more than a column reference or literal
_COMPUTED = 1


class _Block:
    """One ``SELECT`` under construction: its FROM item, its clauses, and
    per output ordinal the SQL text (over the FROM scope), the declared
    Substrait type (None when the plan does not carry it) and flags."""

    __slots__ = ("src", "alias", "cols", "types", "flags", "where", "group",
                 "having", "order", "local_order", "limit", "offset",
                 "hints", "stage")

    def __init__(self, src: str, alias: str | None, cols: list[str],
                 types: list, flags: list[int] | None = None) -> None:
        self.src, self.alias = src, alias
        self.cols, self.types = cols, types
        self.flags = flags if flags is not None else [0] * len(cols)
        self.where: list[str] = []
        self.group: str | None = None  # GROUP BY body ("" = global)
        self.having: list[str] = []
        self.order: list[str] = []
        self.local_order = False
        self.limit: int | None = None
        self.offset = 0
        self.hints: list[str] = []
        self.stage = _SCAN


class _Resolver:
    """Ordinal → SQL text over one input, bounds-checked, recording which
    ordinals each rendered expression read (inlining decisions)."""

    def __init__(self, cols: list[str],
                 what: str = "field reference {i} outside the input's "
                             "width {n}", blk: _Block | None = None) -> None:
        self.cols, self.what, self.blk = cols, what, blk
        self.seen: list[int] = []

    def __call__(self, i: int) -> str:
        if not 0 <= i < len(self.cols):
            raise SubstraitError(self.what.format(i=i, n=len(self.cols)))
        self.seen.append(i)
        return self.cols[i]


class _Renderer:
    def __init__(self, spark: SparkSession, extensions: dict[int, str],
                 relations: list[dict], user_types: dict[int, str]) -> None:
        # the session is used only to splice rels with no SQL syntax and to
        # read the columns of a table whose ReadRel names none
        self.spark = spark
        self.extensions = extensions  # anchor → name (consumer.rs:76-91)
        self.user_types = user_types  # type anchor → declared name
        # ReferenceRel targets: rendered once each as a WITH entry; the
        # in-progress set fences cycles
        self._relations = relations or []
        self._ctes: list[str] = []
        self._cte_of: dict[int, tuple[str, list]] = {}
        self._ref_in_progress: set[int] = set()
        self._splices: dict[str, DataFrame] = {}
        self._subqueries: dict[str, str] = {}
        # lambda frames: the SQL names bound by the lambdas currently being
        # rendered, innermost last — lambda_var(depth, index) reads them
        self._lambda_stack: list[list[str]] = []
        self._n = 0

    def _fresh(self, prefix: str) -> str:
        self._n += 1
        return f"{prefix}{self._n}"

    def _fn_name(self, anchor: int) -> str:
        name = self.extensions.get(int(anchor))
        if name is None:
            raise SubstraitError(f"function anchor {anchor} not registered "
                                 "(≡ consumer.rs:536-541)")
        return name

    def _stype(self, t: dict) -> str:
        return substrait_type_to_spark(t, self.user_types)

    # -- building -----------------------------------------------------------

    def run(self, sql: str) -> DataFrame:
        from pyspark.errors import AnalysisException

        if self._ctes:
            sql = "WITH " + ", ".join(self._ctes) + " " + sql
        splices = dict(self._splices)
        if splices:
            # the DataFrame arguments ride str.format placeholders: escape
            # every other brace, then turn the NUL-fenced splice tokens
            # (no rendered text can hold a NUL) into placeholders
            sql = sql.replace("{", "{{").replace("}", "}}")
            for name in splices:
                sql = sql.replace(f"\x00{name}\x00", "{" + name + "}")
        try:
            return self.spark.sql(sql, **splices)
        except AnalysisException as exc:
            raise SubstraitError(
                f"Spark rejected the SQL rendered from the plan: {exc}"
            ) from exc

    # -- block plumbing -----------------------------------------------------

    def select_text(self, blk: _Block, names: list[str] | None = None,
                    extra: list[str] = ()) -> str:
        # a column passed through under its own name keeps its attribute
        # (an alias would mint a new one, which hides from the planner that
        # a partitioning on it already holds)
        items = [c if not names and c.endswith(f".f{i}") and
                 c.split(".")[0].isalnum() else
                 f"{c} AS {_ident(names[i]) if names else f'f{i}'}"
                 for i, c in enumerate(blk.cols)]
        items.extend(extra)
        if not items:
            items = ["1 AS __z"]  # zero-width intermediates (OneRowRelation)
        return self._clauses(blk, ", ".join(items))

    @staticmethod
    def _clauses(blk: _Block, items: str) -> str:
        hint = f"/*+ {', '.join(blk.hints)} */ " if blk.hints else ""
        parts = [f"SELECT {hint}{items} FROM {blk.src}"]
        if blk.where:
            parts.append("WHERE " + " AND ".join(blk.where))
        if blk.group is not None:
            if blk.group:
                parts.append("GROUP BY " + blk.group)
            if blk.having:
                parts.append("HAVING " + " AND ".join(blk.having))
        if blk.order:
            parts.append(("SORT BY " if blk.local_order else "ORDER BY ")
                         + ", ".join(blk.order))
        if blk.limit is not None:
            parts.append(f"LIMIT {blk.limit}")
        if blk.offset:
            parts.append(f"OFFSET {blk.offset}")
        return " ".join(parts)

    def _derived(self, text: str, width: int, types: list,
                 prefix: str = "q") -> _Block:
        alias = self._fresh(prefix)
        return _Block(f"({text}) {alias}", alias,
                      [f"{alias}.f{i}" for i in range(width)], list(types))

    def wrap(self, blk: _Block, prefix: str = "q") -> _Block:
        return self._derived(self.select_text(blk), len(blk.cols),
                             blk.types, prefix)

    def _render_over(self, blk: _Block, fn, allow=(_SCAN, _PROJ)):
        """Render expressions over ``blk``'s columns inline when its stage
        allows it and no computed column would be copied more than once
        (copies keep the text linear in the plan); otherwise over a derived
        table of ``blk``. Returns (block, fn's result, per-call seen)."""
        if blk.stage in allow:
            res = _Resolver(blk.cols, blk=blk)
            out = fn(res)
            seen = res.seen
            counts: dict[int, int] = {}
            for i in seen:
                counts[i] = counts.get(i, 0) + 1
            if all(c == 1 or not blk.flags[i] for i, c in counts.items()):
                return blk, out, seen
        blk = self.wrap(blk)
        res = _Resolver(blk.cols, blk=blk)
        return blk, fn(res), res.seen

    # -- relations ----------------------------------------------------------

    def rel(self, rel: dict) -> _Block:
        kind = proto.rel_kind(rel)
        body = rel[kind]
        # spec asymmetry: optimization "can be ignored by a consumer",
        # enhancement "MUST be understood or the plan is invalid" — this
        # engine defines no enhancements, so any present one is a semantic
        # requirement it cannot honor
        if isinstance(body, dict) and \
                body.get("advancedExtension", {}).get("enhancement") \
                is not None:
            raise SubstraitError(
                f"{kind} advanced_extension.enhancement is not understood "
                "by this consumer (spec: enhancements alter semantics and "
                "must not be ignored)")
        mapping = proto.emit_mapping(body)
        if mapping is None:
            return getattr(self, f"_rel_{kind}")(body)
        # RelCommon.emit: spec-conformant foreign producers remap a rel's
        # output through emit.outputMapping. The ordinal space is the rel's
        # direct output for every kind EXCEPT ProjectRel, where the spec
        # defines it as input ++ expressions (the reference's direct
        # convention — the expressions ARE the output row,
        # consumer.rs:122-137 — stays the default when emit is absent).
        if kind == "project":
            blk = self._rel_project(body, keep_input=True)
        else:
            blk = getattr(self, f"_rel_{kind}")(body)
        width = len(blk.cols)
        bad = [m for m in mapping if m < 0 or m >= width]
        if bad:
            raise SubstraitError(
                f"{kind} emit.outputMapping ordinals {bad} outside the "
                f"rel's emit space of width {width}"
            )
        # trailing ordinal remap; duplicates are spec-legal (a column may be
        # emitted more than once), so plain positional selection
        blk.cols = [blk.cols[m] for m in mapping]
        blk.types = [blk.types[m] for m in mapping]
        blk.flags = [blk.flags[m] for m in mapping]
        return blk

    def _rel_read(self, body: dict) -> _Block:
        if "virtualTable" in body:
            return self._read_virtual(body)
        names = body["namedTable"]["names"]  # 1-3 part (consumer.rs:320-338)
        table = ".".join(_ident(n) for n in names)
        alias = self._fresh("q")
        # columns are selected by the NAMES the plan recorded, every one of
        # them, so a table whose schema changed since produce reads the
        # right columns or fails naming the missing one, never positionally
        # wrong; Catalyst prunes the unused ones again
        struct = body.get("baseSchema", {})
        source = struct.get("names") or []
        if source:
            table = (f"(SELECT {', '.join(_ident(n) for n in source)} "
                     f"FROM {table})")
        else:
            source = self.spark.table(table).columns
        types = struct.get("struct", {}).get("types") or []
        if len(types) != len(source):
            types = [None] * len(source)
        base = [f"{alias}.{_ident(n)}" for n in source]
        blk = _Block(f"{table} {alias}", alias, base, types)
        return self._read_rest(body, blk, f"table {'.'.join(names)}")

    def _read_rest(self, body: dict, blk: _Block, what: str) -> _Block:
        # ReadRel.filter / best_effort_filter: spec-conformant foreign
        # producers (DuckDB's substrait extension pushes scan predicates
        # here) express both against the BASE schema, before the projection
        # mask. `filter` is mandatory; applying `best_effort_filter` fully is
        # always sound (the plan's exact FilterRel above re-checks)
        for key in ("filter", "bestEffortFilter"):
            cond = body.get(key)
            if cond is not None:
                res = _Resolver(blk.cols, "ReadRel filter ordinal {i} "
                                    "outside base schema width {n}")
                blk.where.append(self.rex(cond, res))
        mask = _mask_ordinals(body, len(blk.cols), what)
        if mask is not None:
            blk.cols = [blk.cols[i] for i in mask]
            blk.types = [blk.types[i] for i in mask]
            blk.flags = [blk.flags[i] for i in mask]
        return blk

    def _read_virtual(self, body: dict) -> _Block:
        """ReadRel{virtualTable} → typed ``VALUES`` (Substrait spec
        read_type; spec-superset — the reference reads only NamedTable,
        consumer.rs:371-373). Every cell is cast to its declared column
        type, so an all-NULL column keeps its type (``void`` included);
        Spark plans the list as a LocalRelation."""
        struct = body.get("baseSchema", {}).get("struct", {})
        types = struct.get("types")
        names = body.get("baseSchema", {}).get("names")
        n_cols = len(names or types or [])
        if types is None and n_cols:
            raise SubstraitError(
                "virtual table with columns requires baseSchema struct types"
            )
        if names and types is not None and len(names) != len(types):
            raise SubstraitError(
                f"virtual table baseSchema has {len(names)} names but "
                f"{len(types)} struct types"
            )
        types = list(types or [])
        sql_types = [self._stype(t) for t in types]
        rows = []
        for v in body["virtualTable"].get("values", []):
            fields = v.get("fields", [])
            if len(fields) != n_cols:
                raise SubstraitError(
                    f"virtual table row has {len(fields)} fields, "
                    f"baseSchema has {n_cols} columns"
                )
            cells = [f"CAST({self._literal(f)} AS {st})"
                     for f, st in zip(fields, sql_types)]
            rows.append("(" + ", ".join(cells or ["1"]) + ")")
        fnames = [f"f{i}" for i in range(n_cols)] or ["__z"]
        if rows:
            text = (f"SELECT * FROM VALUES {', '.join(rows)} "
                    f"AS v({', '.join(fnames)})")
        else:
            cells = [f"CAST(NULL AS {st}) AS f{i}"
                     for i, st in enumerate(sql_types)] or ["1 AS __z"]
            text = f"SELECT {', '.join(cells)} WHERE false"
        blk = self._derived(text, n_cols, types)
        return self._read_rest(body, blk, "virtual table")

    def _rel_project(self, body: dict, keep_input: bool = False) -> _Block:
        blk = self.rel(body["input"])
        exprs = body.get("expressions", [])
        # projection is row-wise, so a SELECT list can change under the
        # block's GROUP BY, ORDER BY or LIMIT
        allow = (_SCAN, _PROJ, _AGG, _WIN, _SORT, _FETCH)

        def render(res):
            outs = []
            for e in exprs:
                start = len(res.seen)
                outs.append((self.rex(e, res), res.seen[start:], e))
            return outs

        blk, outs, _ = self._render_over(blk, render, allow)
        cols = list(blk.cols) if keep_input else []
        types = list(blk.types) if keep_input else []
        flags = list(blk.flags) if keep_input else []
        for text, seen, e in outs:
            cols.append(text)
            types.append(self._etype(e, blk.types))
            flags.append(0 if _is_plain(e) and not any(
                blk.flags[i] for i in seen) else _COMPUTED)
        blk.cols, blk.types, blk.flags = cols, types, flags
        if blk.stage == _SCAN:
            blk.stage = _PROJ
        return blk

    def _rel_filter(self, body: dict) -> _Block:
        blk = self.rel(body["input"])
        cond = body["condition"]
        if blk.stage == _AGG:
            res = _Resolver(blk.cols)
            blk.having.append(self.rex(cond, res))
            return blk
        blk, text, _ = self._render_over(
            blk, lambda res: self.rex(cond, res))
        blk.where.append(text)
        return blk

    def _rel_fetch(self, body: dict) -> _Block:
        blk = self.rel(body["input"])
        offset = int(body.get("offset", 0))
        count = int(body.get("count", proto.NO_LIMIT))
        # newer-spec expression bounds: foreign producers may carry
        # LIMIT/OFFSET as Expressions — the LITERAL forms (how every SQL
        # frontend writes them) rebuild exactly; dynamic expressions fence
        # by name rather than silently dropping the bound
        if "offsetExpr" in body:
            offset = _int_literal(
                body["offsetExpr"],
                "FetchRel.offset_expr (dynamic offsets not consumable)")
            if offset < 0:
                raise SubstraitError(
                    f"FetchRel.offset_expr is negative ({offset}); the "
                    "expression form has no sentinel values")
        if "countExpr" in body:
            count = _int_literal(
                body["countExpr"],
                "FetchRel.count_expr (dynamic counts not consumable)")
            if count < 0:
                # -1 would alias the deprecated field's NO_LIMIT sentinel
                # (silently unlimited rows)
                raise SubstraitError(
                    f"FetchRel.count_expr is negative ({count}); the "
                    "expression form has no sentinel values (omit "
                    "count_expr for no limit)")
        if offset <= 0 and count == proto.NO_LIMIT:
            return blk
        return self._fetch(blk, max(offset, 0), count)

    def _fetch(self, blk: _Block, offset: int, count: int) -> _Block:
        if blk.stage > _SORT:
            blk = self.wrap(blk)
        if count != proto.NO_LIMIT:
            blk.limit = count
        blk.offset = offset
        blk.stage = _FETCH
        return blk

    _SORT_SQL = {
        proto.SORT_ASC_NULLS_FIRST: "ASC NULLS FIRST",
        proto.SORT_ASC_NULLS_LAST: "ASC NULLS LAST",
        proto.SORT_DESC_NULLS_FIRST: "DESC NULLS FIRST",
        proto.SORT_DESC_NULLS_LAST: "DESC NULLS LAST",
    }

    def _sort_keys(self, sorts: list[dict], res) -> list[str]:
        """SortField list → ``expr ASC NULLS FIRST`` texts (global sort,
        LocalSortRel, window order specs). Clustered / comparison-function
        sorts rejected, like consumer.rs:187-203."""
        keys = []
        for sf in sorts:
            if "comparisonFunctionReference" in sf:
                # oneof sort_kind: a custom comparator cannot be rebuilt as
                # asc/desc; silently sorting ascending would reorder rows
                raise SubstraitError(
                    "SortField with a comparison function is not "
                    "consumable (≡ consumer.rs:187-203 clustered sorts)")
            d = self._SORT_SQL.get(sf.get("direction"))
            if d is None:
                raise SubstraitError(f"unsupported sort kind {sf}")
            keys.append(f"{_not_ordinal(self.rex(sf['expr'], res))} {d}")
        return keys

    def _rel_sort(self, body: dict, local: bool = False,
                  sorts: list[dict] | None = None) -> _Block:
        blk = self.rel(body["input"])
        sorts = body.get("sorts", []) if sorts is None else sorts
        blk, keys, _ = self._render_over(
            blk, lambda res: self._sort_keys(sorts, res),
            (_SCAN, _PROJ, _AGG))
        if local and not keys:
            raise SubstraitError("LocalSortRel requires at least one key")
        blk.order, blk.local_order = keys, local
        blk.stage = _SORT
        return blk

    def _rel_aggregate(self, body: dict) -> _Block:
        blk = self.rel(body["input"])
        groupings = body.get("groupings", [])
        if body.get("groupingExpressions") or len(groupings) > 1:
            return self._aggregate_grouping_sets(blk, body)
        if len(groupings) != 1:
            raise SubstraitError("exactly one grouping set (consumer.rs:230-235)")
        g_exprs = groupings[0].get("groupingExpressions", [])
        measures = body.get("measures", [])

        def render(res):
            g = [self.rex(e, res) for e in g_exprs]
            return g, [self._measure(m, res) for m in measures]

        blk, (g_cols, m_cols), _ = self._render_over(blk, render)
        types = [self._etype(e, blk.types) for e in g_exprs] + \
            [m["measure"].get("outputType") for m in measures]
        # grouping-only aggregates are SELECT DISTINCT
        # (producer.rs:203-222, tests/roundtrip.rs:88-103) — as GROUP BY,
        # which Catalyst plans identically
        blk.group = ", ".join(_not_ordinal(g) for g in g_cols)
        blk.cols = g_cols + m_cols
        blk.types = types
        blk.flags = [_COMPUTED] * len(blk.cols)
        blk.stage = _AGG
        return blk

    def _aggregate_grouping_sets(self, blk: _Block, body: dict) -> _Block:
        """Multi-grouping AggregateRel (GROUPING SETS / ROLLUP / CUBE).
        Output follows the producer's documented convention: grouping
        expressions (declaration order, null when absent from a row's set)
        ++ measures ++ i32 grouping-set index — reconstructed from Spark's
        ``grouping_id()`` bitmask (bit j, MSB-first, set ⇔ grouping column
        j absent). The grouping expressions are first projected as their
        own ``__g<j>`` columns, so two equal expressions keep two bits."""
        flat = body.get("groupingExpressions", [])
        if not flat:
            raise SubstraitError(
                "multiple grouping sets require rel-level groupingExpressions"
            )
        n_g = len(flat)
        sets = [[int(i) for i in g.get("expressionReferences", [])]
                for g in body.get("groupings", [])]
        blk, g_texts, _ = self._render_over(
            blk, lambda res: [self.rex(g, res) for g in flat])
        g_types = [self._etype(g, blk.types) for g in flat]
        extra = [f"{t} AS __g{j}" for j, t in enumerate(g_texts)]
        inner = self._derived(self.select_text(blk, extra=extra),
                              len(blk.cols), blk.types)
        a = inner.alias
        measures = body.get("measures", [])
        m_cols = [self._measure(m, _Resolver(inner.cols))
                  for m in measures]
        gcols = [f"{a}.__g{j}" for j in range(n_g)]
        whens = []
        for r, s in enumerate(sets):
            mask = sum(1 << (n_g - 1 - j) for j in range(n_g) if j not in s)
            whens.append(f"WHEN grouping_id() = {mask} THEN {r}")
        set_idx = f"CAST(CASE {' '.join(whens)} END AS INT)"
        inner.group = "GROUPING SETS (" + ", ".join(
            "(" + ", ".join(gcols[j] for j in s) + ")" for s in sets) + ")"
        inner.cols = gcols + m_cols + [set_idx]
        inner.types = g_types + [m["measure"].get("outputType")
                                 for m in measures] + [{"i32": {}}]
        inner.flags = [_COMPUTED] * len(inner.cols)
        inner.stage = _AGG
        return inner

    _CONSUMABLE_PHASES = (None, "AGGREGATION_PHASE_UNSPECIFIED",
                          "AGGREGATION_PHASE_INITIAL_TO_RESULT")

    def _measure(self, m: dict, res) -> str:
        body = m["measure"]
        name = self._fn_name(body["functionReference"])
        # a partial phase means the input rows are pre-aggregated states —
        # consuming as a full aggregate double-counts; `sorts` makes the
        # aggregate order-sensitive and dropping it silently reorders
        if body.get("phase") not in self._CONSUMABLE_PHASES:
            raise SubstraitError(
                f"aggregate phase {body['phase']!r} is not consumable: "
                "this engine rebuilds full aggregations only "
                "(INITIAL_TO_RESULT)")
        if body.get("sorts"):
            return self._ordered_measure(name, body, m, res)
        args = [self.rex(a["value"], res) for a in body.get("arguments", [])]
        distinct = body.get("invocation") == proto.AGG_DISTINCT
        if distinct and (name not in ops.AGG_DISTINCT
                         or (name != "count" and len(args) != 1)):
            raise SubstraitError(f"DISTINCT not supported for {name!r}")
        call = ops.agg_sql(name, args, distinct)
        filt = m.get("filter")
        if filt is not None:
            # native FILTER excludes rows, which is exact for every
            # aggregate, null-keeping first/last included
            call += f" FILTER (WHERE {self.rex(filt, res)})"
        return call

    _ORDERED_REBUILDS = frozenset(("array_agg", "first_value", "last_value"))

    def _ordered_measure(self, name: str, body: dict, m: dict, res) -> str:
        """``AggregateFunction.sorts`` rebuild, for the ordered aggregates
        Spark can express exactly: ``array_agg(x ORDER BY k…)`` ≡
        ``transform(array_sort(collect_list(struct(k…, x)), cmp), s ->
        s.v)``, first/last_value ≡ ``get(sorted, 0 | size-1).v``. The
        struct keeps rows whose value is null (DataFusion/DuckDB
        semantics); ``cmp`` is a nested CASE honoring each direction and
        null placement; a FILTER nulls the whole struct, so collect_list
        drops exactly the non-matching rows. DISTINCT consumes only when the
        single sort key IS the argument (dedup-then-sort is total there).
        Consume-only foreign surface."""
        if name not in self._ORDERED_REBUILDS:
            raise SubstraitError(
                f"ordered aggregate {name!r} (AggregateFunction.sorts) has "
                "no exact Spark rebuild; dropping the sort would silently "
                "reorder the result")
        distinct = body.get("invocation") == proto.AGG_DISTINCT
        if distinct:
            sorts = body.get("sorts", [])
            raw_args = [a["value"] for a in body.get("arguments", [])]
            if (len(sorts) != 1 or len(raw_args) != 1
                    or sorts[0].get("expr") != raw_args[0]):
                raise SubstraitError(
                    f"ordered DISTINCT aggregate {name!r} is only "
                    "consumable when its single sort key IS the aggregated "
                    "argument (dedup-then-sort is total there); any other "
                    "key keeps an unspecified row's sort key, so no "
                    "rebuild is exact")
        args = [self.rex(a["value"], res) for a in body.get("arguments", [])]
        if len(args) != 1:
            raise SubstraitError(
                f"ordered aggregate {name!r} expects 1 argument, "
                f"got {len(args)}")
        dirs: list[tuple[bool, bool]] = []  # (ascending, nulls_first)
        keys: list[str] = []
        for sf in body["sorts"]:
            if "comparisonFunctionReference" in sf:
                raise SubstraitError(
                    "SortField with a comparison function is not "
                    "consumable (≡ consumer.rs:187-203 clustered sorts)")
            d = sf.get("direction")
            if d not in proto.SORT_DIRECTIONS:
                raise SubstraitError(f"unsupported sort kind {sf}")
            dirs.append((
                d in (proto.SORT_ASC_NULLS_FIRST, proto.SORT_ASC_NULLS_LAST),
                d in (proto.SORT_ASC_NULLS_FIRST, proto.SORT_DESC_NULLS_FIRST),
            ))
            keys.append(self.rex(sf["expr"], res))
        st = "named_struct(" + ", ".join(
            [f"'k{i}', {k}" for i, k in enumerate(keys)]
            + [f"'v', {args[0]}"]) + ")"
        filt = m.get("filter")
        if filt is not None:
            st = f"CASE WHEN {self.rex(filt, res)} THEN {st} END"
        collected = f"collect_list({st})"
        if distinct:
            # key ≡ value (guarded above): dedup the null-keeping struct
            # array before the sort; FILTER already excluded its rows
            collected = f"array_distinct({collected})"
        a, b = self._fresh("__ca"), self._fresh("__cb")
        cmp = "0"
        for i in reversed(range(len(dirs))):
            asc, nulls_first = dirs[i]
            ka, kb = f"{a}.k{i}", f"{b}.k{i}"
            lt, nf = (-1 if asc else 1), (-1 if nulls_first else 1)
            cmp = (f"CASE WHEN {ka} IS NULL AND {kb} IS NULL THEN {cmp} "
                   f"WHEN {ka} IS NULL THEN {_int_sql(nf)} "
                   f"WHEN {kb} IS NULL THEN {_int_sql(-nf)} "
                   f"WHEN {ka} < {kb} THEN {_int_sql(lt)} "
                   f"WHEN {ka} > {kb} THEN {_int_sql(-lt)} "
                   f"ELSE {cmp} END")
        srt = f"array_sort({collected}, ({a}, {b}) -> {cmp})"
        if name == "array_agg":
            s = self._fresh("__s")
            return (f"CASE WHEN size({collected}) = 0 THEN NULL ELSE "
                    f"transform({srt}, {s} -> {s}.v) END")
        idx = "0" if name == "first_value" else f"size({collected}) - 1"
        return f"get({srt}, {idx}).v"

    _JOIN_SQL = {
        proto.JOIN_TYPE_INNER: "JOIN",
        proto.JOIN_TYPE_LEFT: "LEFT JOIN",
        proto.JOIN_TYPE_RIGHT: "RIGHT JOIN",
        proto.JOIN_TYPE_OUTER: "FULL OUTER JOIN",
        proto.JOIN_TYPE_SEMI: "LEFT SEMI JOIN",
        proto.JOIN_TYPE_ANTI: "LEFT ANTI JOIN",
    }

    _JOIN_HINT_NAMES = frozenset(
        ("broadcast", "merge", "shuffle_hash", "shuffle_replicate_nl"))

    def _join_hints(self, body: dict) -> dict[str, str]:
        """Per-side strategy hints (Any-wrapped JoinHintInfo in the spec
        advanced_extension optimization slot), re-applied as SQL hints on
        the side's alias so the rebuilt plan keeps the join strategy."""
        out: dict[str, str] = {}
        for opt in body.get("advancedExtension", {}).get("optimization", []):
            if not opt.get("@type", "").endswith("JoinHintInfo"):
                continue
            for key, side in (("leftStrategy", "left"),
                              ("rightStrategy", "right")):
                name = opt.get(key)
                if name is None:
                    continue
                if name not in self._JOIN_HINT_NAMES:
                    # optimizations "can be ignored by a consumer": a hint
                    # is physical and semantics-neutral, so an unknown
                    # strategy name warns and is skipped
                    warnings.warn(
                        f"ignoring unknown join-strategy hint {name!r} "
                        f"(supported: {sorted(self._JOIN_HINT_NAMES)})",
                        stacklevel=3)
                    continue
                out[side] = name.upper()
        return out

    def _from_item(self, blk: _Block, prefix: str, hinted: bool,
                   chain_ok: bool) -> _Block:
        """A join input as a FROM item: a plain scan (or, on the left, a
        join chain) joins as it stands; anything else, or a hinted chain
        (a hint needs one alias), becomes a derived table."""
        if blk.stage == _SCAN and not blk.where and not blk.hints and \
                (blk.alias is not None or (chain_ok and not hinted)):
            return blk
        return self.wrap(blk, prefix)

    def _rel_join(self, body: dict) -> _Block:
        hints = self._join_hints(body)
        single = body.get("type") == proto.JOIN_TYPE_SINGLE
        how = "LEFT JOIN" if single else self._JOIN_SQL.get(body.get("type"))
        if how is None:
            raise SubstraitError(f"unsupported join type {body.get('type')} "
                                 "(consumer.rs:417-439)")
        left = self.rel(body["left"])
        right = self.rel(body["right"])
        if single:
            # LEFT SINGLE join (DuckDB's substrait producer emits it for
            # scalar subqueries): exactly like LEFT, except >1 match for a
            # left ROW is a runtime error. Tag each physical left row so
            # the guard can count matches per row.
            tagged = self.select_text(
                left, extra=["monotonically_increasing_id() AS __srow"])
            left = self._derived(tagged, len(left.cols), left.types, "l")
        else:
            left = self._from_item(left, "l", "left" in hints, True)
        right = self._from_item(right, "r", "right" in hints, False)
        n_left = len(left.cols)
        cond = self.rex(body["expression"], _Resolver(left.cols + right.cols))
        out = _Block(f"{left.src} {how} {right.src} ON {cond}", None,
                     left.cols + ([] if "SEMI" in how or "ANTI" in how
                                  else right.cols),
                     left.types + ([] if "SEMI" in how or "ANTI" in how
                                   else right.types))
        for side, blk in (("left", left), ("right", right)):
            if side in hints:
                out.hints.append(f"{hints[side]}({blk.alias})")
        if single:
            out = self._single_join_guard(out, left.alias, n_left)
        post = body.get("postJoinFilter")
        if post is not None:
            # JoinRel.post_join_filter: applied AFTER the join over the
            # combined left++right space — for outer joins this is NOT
            # foldable into the join condition (it must also see the
            # null-extended rows). Semi/anti outputs carry only the left
            # side, so a post filter over the combined space cannot be
            # applied post-hoc — fence, don't guess.
            if "SEMI" in how or "ANTI" in how:
                kind = "left_semi" if "SEMI" in how else "left_anti"
                raise SubstraitError(
                    f"postJoinFilter on a {kind} join is not consumable: "
                    "the output no longer carries the right side the "
                    "filter may reference")
            out.where.append(self.rex(post, _Resolver(out.cols)))
        return out

    def _single_join_guard(self, joined: _Block, l_alias: str,
                           n_left: int) -> _Block:
        """SINGLE-join multi-match guard: one window over the unique
        ``__srow`` tag counts matches per left row. The ``assert_true``
        rides INSIDE the ``row_number() = 1`` filter, so the cardinality and
        the error survive any downstream pruning (an emit keeping only left
        ordinals included); right columns stay wrapped in the guard. A left
        row with no match counts 1 and passes, as in LEFT. The tag is
        partition-layout-dependent: a recomputed nondeterministic upstream
        stage could regroup matches, failing as a spurious error or dedup,
        never as a wrong value."""
        spec = f"PARTITION BY {l_alias}.__srow ORDER BY {l_alias}.__srow"
        guard = ("assert_true(count(1) OVER (" + spec + " ROWS BETWEEN "
                 "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) <= 1, "
                 "'single join matched more than one right row for a "
                 "left row')")
        cols = joined.cols[:n_left] + [
            f"CASE WHEN {guard} IS NULL THEN {c} END"
            for c in joined.cols[n_left:]]
        joined.cols = cols
        text = self.select_text(joined, extra=[
            f"row_number() OVER ({spec}) AS __srn", f"{guard} AS __sguard"])
        out = self._derived(text, len(cols), joined.types)
        out.where.append(f"{out.alias}.__sguard IS NULL")
        out.where.append(f"{out.alias}.__srn = 1")
        return out

    def _rel_cross(self, body: dict) -> _Block:
        """CrossRel → ``CROSS JOIN`` in the spec's left++right ordinal
        space. Foreign producers (DuckDB's substrait extension) emit it;
        our own producer keeps the reference's inner-on-true encoding."""
        left = self._from_item(self.rel(body["left"]), "l", False, True)
        right = self._from_item(self.rel(body["right"]), "r", False, False)
        return _Block(f"{left.src} CROSS JOIN {right.src}", None,
                      left.cols + right.cols, left.types + right.types)

    _SET_SQL = {
        "SET_OP_UNION_ALL": "UNION ALL",
        "SET_OP_UNION_DISTINCT": "UNION",
        "SET_OP_INTERSECTION_PRIMARY": "INTERSECT",
        # PRIMARY = distinct semantics (SQL EXCEPT), like INTERSECT above
        "SET_OP_MINUS_PRIMARY": "EXCEPT",
    }

    def _rel_set(self, body: dict) -> _Block:
        op = self._SET_SQL.get(body.get("op"))
        if op is None:
            raise SubstraitError(f"unsupported set op {body.get('op')}")
        blks = [self.rel(r) for r in body["inputs"]]
        text = f" {op} ".join(f"({self.select_text(b)})" for b in blks)
        return self._derived(text, len(blks[0].cols), blks[0].types)

    _RANKING_FNS = frozenset(("row_number", "rank", "dense_rank",
                              "percent_rank", "cume_dist"))

    def _rel_window(self, body: dict) -> _Block:
        """ConsistentPartitionWindowRel → ``fn(...) OVER (...)`` columns
        appended to the input (extension beyond the reference)."""
        blk = self.rel(body["input"])
        wfs = body.get("windowFunctions", [])
        # windows read the f-named columns of a derived table, never the
        # expressions behind them: a partition key that is an alias here
        # and a raw column in the next window would cost an extra shuffle
        if blk.stage != _SCAN or blk.where or blk.hints or \
                blk.cols != [f"{blk.alias}.f{i}" for i in range(len(blk.cols))]:
            blk = self.wrap(blk)
        res = _Resolver(blk.cols, blk=blk)
        part = [self.rex(p, res) for p in body.get("partitionExpressions", [])]
        order = self._sort_keys(body.get("sorts", []), res)
        head = []
        if part:
            head.append("PARTITION BY " + ", ".join(part))
        if order:
            head.append("ORDER BY " + ", ".join(order))
        outs = [self._window_fn(wf, head, res, blk.types) for wf in wfs]
        blk.cols = blk.cols + outs
        blk.types = blk.types + [None] * len(outs)
        blk.flags = blk.flags + [_COMPUTED] * len(outs)
        blk.stage = _WIN
        return blk

    def _window_fn(self, wf: dict, head: list[str], res, types) -> str:
        name = self._fn_name(wf["functionReference"])
        if wf.get("phase") not in self._CONSUMABLE_PHASES:
            raise SubstraitError(
                f"window function phase {wf['phase']!r} is not "
                "consumable (full computation only)")
        raw = [a["value"] for a in wf.get("arguments", [])]
        framed = True  # ranking/offset functions forbid explicit frames
        post = None    # wraps the windowed value AFTER OVER
        if wf.get("invocation") == proto.AGG_DISTINCT:
            # Spark has no native DISTINCT window aggregates, but the
            # value-set forms rebuild exactly: count(DISTINCT x) OVER w ≡
            # size(collect_set(x) OVER w) — collect_set drops nulls like
            # count DISTINCT and respects the frame; DISTINCT is a no-op
            # for min/max; sum/avg fold the value set with an accumulator
            # cast to Spark's native result type
            if name == "count" and len(raw) == 1:
                call = f"collect_set({self.rex(raw[0], res)})"
                # count's native type is bigint; size returns int
                post = lambda c: f"CAST(size({c}) AS BIGINT)"  # noqa: E731
            elif name in ("min", "max") and len(raw) == 1:
                call = f"{name}({self.rex(raw[0], res)})"
            elif name in ("sum", "avg") and len(raw) == 1:
                arg = self.rex(raw[0], res)
                t = self._etype(raw[0], types)
                if t is None:
                    # a plan that does not declare the argument's type (an
                    # untyped baseSchema) pays one analysis of the input
                    probe = self.run(self._clauses(res.blk, f"{arg} AS t"))
                    t = spark_type_to_substrait(
                        probe.schema.fields[0].dataType.simpleString())
                # the fold's accumulator follows the argument's declared
                # (or learned) type, so the values are cast to it too: a
                # declaration that disagrees with the table folds what it
                # declares, never a mix of two types
                call = f"collect_set(CAST({arg} AS {self._stype(t)}))"
                post = self._distinct_fold(name, t)
            else:
                raise SubstraitError(
                    f"DISTINCT window aggregate {name!r} has no exact "
                    "Spark rebuild (count/min/max/sum/avg rebuild via "
                    "the frame's value set)")
        elif name in self._RANKING_FNS:
            call, framed = f"{name}()", False
        elif name == "ntile":
            call = f"ntile({_int_literal(raw[0], 'ntile buckets')})"
            framed = False
        elif name in ("lag", "lead"):
            off = _int_literal(raw[1], f"{name} offset")
            args = [self.rex(raw[0], res), _int_sql(off)]
            if len(raw) > 2:
                if "literal" not in raw[2]:
                    raise SubstraitError(f"expected a literal, got {raw[2]}")
                args.append(self._literal(raw[2]["literal"]))
            call, framed = f"{name}({', '.join(args)})", False
        elif name == "nth_value":
            call = (f"nth_value({self.rex(raw[0], res)}, "
                    f"{_int_literal(raw[1], 'nth_value n')})")
        else:
            if name not in ops.AGG_SQL:
                raise SubstraitError(f"unknown window function {name!r}")
            call = ops.agg_sql(name, [self.rex(a, res) for a in raw], False)
        spec = list(head)
        if framed:
            lo = _frame_bound(wf.get("lowerBound"), lower=True)
            hi = _frame_bound(wf.get("upperBound"), lower=False)
            unit = "RANGE" if wf.get("boundsType") == proto.BOUNDS_RANGE \
                else "ROWS"
            spec.append(f"{unit} BETWEEN {lo} AND {hi}")
        over = f"{call} OVER ({' '.join(spec)})"
        return post(over) if post is not None else over

    def _distinct_fold(self, name: str, t: dict):
        """sum/avg DISTINCT window rebuild: an ``aggregate`` fold over
        ``array_sort(collect_set(x) OVER w)`` with the accumulator cast to
        Spark's native result type each step, so a decimal overflow nulls
        and stays null where native sum does; an empty frame yields NULL
        through a size guard; avg divides by a BIGINT set size, as native
        Average does, then casts to the avg result type."""
        sum_t, avg_t = _distinct_fold_types(name, t)
        # integral avg accumulates in double (native Average's DoubleType
        # buffer); everything else folds in the sum type
        acc_t = avg_t if name == "avg" and sum_t == "bigint" else sum_t
        a, x = self._fresh("__a"), self._fresh("__x")

        def post(c: str) -> str:
            folded = (f"CASE WHEN size({c}) > 0 THEN aggregate("
                      f"array_sort({c}), CAST(0 AS {acc_t}), ({a}, {x}) -> "
                      f"CAST({a} + CAST({x} AS {acc_t}) AS {acc_t})) END")
            if name == "sum":
                return folded
            if avg_t.startswith("decimal"):
                # divide the FULL-precision sum (native divides sum by
                # count and only then casts to the avg result type)
                return (f"CAST({folded} / CAST(size({c}) AS BIGINT) "
                        f"AS {avg_t})")
            return f"(CAST({folded} AS DOUBLE) / size({c}))"

        return post

    def _rel_reference(self, body: dict) -> _Block:
        """ReferenceRel (consume-only DAG reuse): ``Plan.relations
        [subtree_ordinal]`` rendered once as a ``WITH`` entry. Fences:
        out-of-range ordinals, a ROOT target, and cycles."""
        i = int(body.get("subtreeOrdinal", 0))
        if not (0 <= i < len(self._relations)):
            raise SubstraitError(
                f"ReferenceRel subtree_ordinal {i} out of range for "
                f"{len(self._relations)} plan relation(s)")
        if i not in self._cte_of:
            entry = self._relations[i]
            if "rel" not in entry:
                raise SubstraitError(
                    f"ReferenceRel subtree_ordinal {i} targets a root "
                    "entry; references must point at plain `rel` subtrees")
            if i in self._ref_in_progress:
                raise SubstraitError(
                    f"ReferenceRel cycle through subtree_ordinal {i}")
            self._ref_in_progress.add(i)
            try:
                blk = self.rel(entry["rel"])
            finally:
                self._ref_in_progress.discard(i)
            name = f"__ref{i}"
            self._ctes.append(f"{name} AS ({self.select_text(blk)})")
            self._cte_of[i] = (name, blk.types)
        name, types = self._cte_of[i]
        alias = self._fresh("q")
        return _Block(f"{name} {alias}", alias,
                      [f"{alias}.f{j}" for j in range(len(types))],
                      list(types))

    def _rel_expand(self, body: dict) -> _Block:
        """ExpandRel (consume-only; Isthmus and DataFusion emit it for
        grouping sets): the UNION ALL of one projection per duplicate index
        over the input — the shape our producer lowers Catalyst's Expand
        to, so each branch prunes and pushes down on its own."""
        blk = self.rel(body["input"])
        if blk.stage not in (_SCAN, _PROJ):
            blk = self.wrap(blk)
        fields = body.get("fields", [])
        if not fields:
            raise SubstraitError("ExpandRel requires at least one field")
        n_dup = None
        for f in fields:
            if "switchingField" in f:
                k = len(f["switchingField"].get("duplicates", []))
                if n_dup is not None and n_dup != k:
                    raise SubstraitError(
                        "ExpandRel switching fields disagree on duplicate "
                        f"count ({n_dup} vs {k})")
                n_dup = k
        if n_dup == 0:
            raise SubstraitError(
                "ExpandRel switching field with zero duplicates")
        if n_dup is None:
            # the spec defines the per-input-row output count solely via
            # switching fields — with none, it is undefined
            raise SubstraitError(
                "ExpandRel with no switching fields has an undefined "
                "duplicate count")
        branches, branch_types = [], []
        for d in range(n_dup):
            exprs = []
            for f in fields:
                if "switchingField" in f:
                    exprs.append(f["switchingField"]["duplicates"][d])
                elif "consistentField" in f:
                    exprs.append(f["consistentField"])
                else:
                    raise SubstraitError(
                        "ExpandField must carry switchingField or "
                        "consistentField")
            branch_types.append([self._etype(e, blk.types) for e in exprs])
            res = _Resolver(blk.cols)
            texts = [self.rex(e, res) for e in exprs]
            branches.append(self._clauses(blk, ", ".join(
                f"{t} AS f{j}" for j, t in enumerate(texts))))
        for d, td in enumerate(branch_types[1:], start=1):
            t0 = branch_types[0]
            if any(_family(a) and _family(b) and _family(a) != _family(b)
                   for a, b in zip(t0, td)):
                # would otherwise surface as a raw Spark union
                # AnalysisException; legal widenings (i32 null vs i64 key
                # in grouping-set shapes) stay Spark's own union coercions
                raise SubstraitError(
                    "ExpandRel duplicate branches disagree on output "
                    f"types: branch 0 yields {[_tname(t) for t in t0]}, "
                    f"branch {d} yields {[_tname(t) for t in td]}")
        text = " UNION ALL ".join(f"({b})" for b in branches)
        return self._derived(text, len(fields), branch_types[0])

    def _rel_exchange(self, body: dict) -> _Block:
        """ExchangeRel → a repartition / broadcast SQL hint (see
        proto.exchange_rel). Rows and ordinals pass through unchanged; only
        the physical distribution boundary is rebuilt, and Catalyst/AQE
        remain free to plan around it."""
        blk = self.rel(body["input"])
        if body.get("targets"):
            raise SubstraitError(
                "ExchangeRel.targets (per-target routing to sub-relations/"
                "URIs) has no DataFrame equivalent; refusing to silently "
                "drop declared routing semantics"
            )
        n = int(body.get("partitionCount", 0))
        if "scatterByFields" in body:
            width = len(blk.cols)

            def key(f, res):
                if "expression" in f and "directReference" not in f:
                    # expression-rooted FieldReference with no segment = the
                    # computed scatter key itself
                    return self.rex(f["expression"], res)
                if "expression" in f:
                    # a segment INTO a computed expression's output needs
                    # nested-struct navigation — same class as the
                    # structField.child fence in rex()
                    raise SubstraitError(
                        "scatter field with both an expression root and a "
                        "reference segment is not consumable"
                    )
                i = _selection_ordinal({"selection": f})
                if not (0 <= i < width):
                    raise SubstraitError(
                        f"scatter field ordinal {i} out of range for "
                        f"{width}-column input")
                return res(i)

            fields = body["scatterByFields"].get("fields", [])
            if not fields:
                # legitimately reachable: an empty repeated field has no
                # wire presence, so {fields: []} decodes as {}
                raise SubstraitError(
                    "scatter exchange requires at least one field reference"
                )
            if blk.stage > _WIN:
                blk = self.wrap(blk)
            res = _Resolver(blk.cols)
            keys = [key(f, res) for f in fields]
            extra = [f"{k} AS __k{j}" for j, k in enumerate(keys)]
            args = ([str(n)] if n > 0 else []) + \
                [f"__k{j}" for j in range(len(keys))]
            blk.hints.append(f"REPARTITION({', '.join(args)})")
            text = self.select_text(blk, extra=extra)
        elif "roundRobin" in body:
            if n <= 0:
                raise SubstraitError(
                    "round-robin exchange requires an explicit partitionCount"
                )
            if blk.stage > _WIN:
                blk = self.wrap(blk)
            blk.hints.append(f"REPARTITION({n})")
            text = self.select_text(blk)
        elif "broadcast" in body:
            # replicate-to-every-partition ≡ Spark's broadcast hint: the
            # planner replicates the relation for the next join. The hint
            # overrides autoBroadcastJoinThreshold (accepted interop trade,
            # docs/foreign_producers.md)
            blk = self.wrap(blk)
            blk.hints.append(f"BROADCAST({blk.alias})")
            text = self.select_text(blk)
        else:
            raise SubstraitError(
                "unsupported exchange kind (scatterByFields/roundRobin/"
                "broadcast only; single/multi-bucket per-row routing has no "
                "DataFrame equivalent)"
            )
        out = self._derived(text, len(blk.cols), blk.types)
        out.stage = _SEALED
        return out

    def _rel_extensionLeaf(self, body: dict) -> _Block:
        """ExtensionLeafRel dispatch by the detail's Any @type."""
        t = body.get("detail", {}).get("@type", "")
        if t.endswith("RangeRel"):
            d = body["detail"]
            args = [str(int(d.get(k, dflt))) for k, dflt in
                    (("start", 0), ("end", 0), ("step", 1))]
            if "numSlices" in d:
                args.append(str(int(d["numSlices"])))
            alias = self._fresh("q")
            return _Block(f"range({', '.join(args)}) {alias}", alias,
                          [f"{alias}.id"], [{"i64": {}}])
        raise SubstraitError(f"unknown leaf extension relation type {t!r}")

    def _rel_extensionSingle(self, body: dict) -> _Block:
        """ExtensionSingleRel dispatch by the detail's Any @type."""
        t = body.get("detail", {}).get("@type", "")
        if t.endswith("GenerateRel"):
            return self._generate(body)
        if t.endswith("SampleRel"):
            return self._sample(body)
        if t.endswith("LocalSortRel"):
            # partition-local sort (sortWithinPartitions / SORT BY, and
            # under randomSplit) — a global ORDER BY would change both the
            # plan (range shuffle) and, under sampling, the rows
            return self._rel_sort(body, local=True,
                                  sorts=body["detail"].get("sorts", []))
        raise SubstraitError(f"unknown extension relation type {t!r}")

    def _sample(self, body: dict) -> _Block:
        """SampleRel → ``TABLESAMPLE (p PERCENT) REPEATABLE (seed)``, the
        same Sample node ``DataFrame.sample`` builds. Sampling with
        replacement, or a fraction or seed the SQL syntax cannot state
        exactly, has no SQL form: that input is built as a DataFrame,
        sampled, and spliced into the query."""
        d = body["detail"]
        blk = self.rel(body["input"])
        lb = float(d.get("lowerBound", 0.0))
        if lb != 0.0:
            raise SubstraitError(
                "SampleRel with lowerBound != 0 has no DataFrame.sample "
                "equivalent (Spark SQL TABLESAMPLE always produces 0)"
            )
        fraction = float(d.get("upperBound", 0.0))
        seed = int(d.get("seed", 0))
        replace = bool(d.get("withReplacement", False))
        pct = _exact_percent(fraction)
        if not replace and pct is not None and 0 <= seed < 2 ** 31:
            alias = self._fresh("q")
            return _Block(
                f"({self.select_text(blk)}) TABLESAMPLE ({pct} PERCENT) "
                f"REPEATABLE ({seed}) {alias}", alias,
                [f"{alias}.f{i}" for i in range(len(blk.cols))],
                list(blk.types))
        return self._splice(self.run(self.select_text(blk)).sample(
            withReplacement=replace, fraction=fraction, seed=seed),
            blk.types)

    def _splice(self, df: DataFrame, types: list) -> _Block:
        name = f"s{len(self._splices)}"
        self._splices[name] = df
        alias = self._fresh("q")
        return _Block(f"\x00{name}\x00 {alias}", alias,
                      [f"{alias}.f{i}" for i in range(len(types))],
                      list(types))

    def _generate(self, body: dict) -> _Block:
        """GenerateRel (explode/posexplode, and Catalyst's ReplicateRows) —
        see proto.generate_rel for the layout. Output =
        requiredChildIndices columns ++ generated columns; the generator
        renders in its own SELECT, so its block becomes a derived table."""
        detail = body["detail"]
        blk = self.rel(body["input"])
        req_idx = [int(i) for i in detail.get("requiredChildIndices", [])]
        n_out = int(detail.get("generatorOutputs", 1))
        mode = detail.get("mode")
        outer = bool(detail.get("outer"))
        first = len(req_idx)  # ordinal of the first generated column
        exprs: list[dict] = []
        if mode == "replicaterows":
            # emit each row `argument` times: array_repeat's count <= 0
            # yields an empty array, so explode drops the row — exactly the
            # vanish-on-nonpositive-multiplicity the set-op rewrite needs
            if outer:
                # an OUTER replicate would KEEP zero-multiplicity rows
                raise SubstraitError(
                    "replicaterows with outer=true is not supported "
                    "(inner drop-on-nonpositive semantics only)")
            exprs = detail.get("arguments", [])
            if len(exprs) != n_out:
                raise SubstraitError(
                    f"replicaterows carries {len(exprs)} column "
                    f"expressions but declares {n_out} outputs")
            gen = ("explode(array_repeat(1, CAST(", " AS INT))) AS __rep")
        else:
            fn = {("explode", False): "explode",
                  ("explode", True): "explode_outer",
                  ("posexplode", False): "posexplode",
                  ("posexplode", True): "posexplode_outer"}.get((mode, outer))
            if fn is None:
                raise SubstraitError(f"unsupported generator mode {mode!r}")
            names = ", ".join(f"f{first + j}" for j in range(n_out))
            gen = (fn + "(", ") AS (" + names + ")")

        def render(res):
            cols = [res(i) for i in req_idx] + [self.rex(a, res) for a in exprs]
            return cols, gen[0] + self.rex(detail["argument"], res) + gen[1]

        blk, (cols, gen_item), _ = self._render_over(blk, render)
        types = [blk.types[i] for i in req_idx] + (
            [self._etype(a, blk.types) for a in exprs] if exprs
            else [None] * n_out)
        items = [f"{c} AS f{j}" for j, c in enumerate(cols)] + [gen_item]
        return self._derived(self._clauses(blk, ", ".join(items)),
                             len(types), types)

    # -- expressions --------------------------------------------------------

    def rex(self, e: dict, res) -> str:
        kind = proto.expr_kind(e)
        body = e[kind]
        if kind == "selection":
            return res(_selection_ordinal(e))
        if kind == "scalarFunction":
            return self._scalar(body, res)
        if kind == "literal":
            return self._literal(body)
        if kind == "ifThen":
            return self._if_then(body, res)
        if kind == "cast":
            fn = "TRY_CAST" if body.get("failureBehavior") == \
                "FAILURE_BEHAVIOR_RETURN_NULL" else "CAST"
            return (f"{fn}({self.rex(body['input'], res)} AS "
                    f"{self._stype(body['type'])})")
        if kind == "singularOrList":
            v = self.rex(body["value"], res)
            opts = [self.rex(o, res) for o in body.get("options", [])]
            if not opts:
                # reachable off the wire: an empty repeated field has no
                # presence, so zero options decode as a missing key
                raise SubstraitError(
                    "singularOrList requires at least one option"
                )
            return "(" + " OR ".join(f"({v} = {o})" for o in opts) + ")"
        if kind == "subquery":
            return self._scalar_subquery(e)
        if kind == "nested":
            if "list" in body:
                return "array(" + ", ".join(
                    self.rex(v, res)
                    for v in body["list"].get("values", [])) + ")"
            raise SubstraitError("only Nested.List is supported")
        raise SubstraitError(f"unsupported expression {kind} (consumer.rs:611-613)")

    def _scalar_subquery(self, e: dict) -> str:
        """Scalar subquery as native SQL. The inner query collapses through
        an ungrouped aggregate over at most two of its rows, which always
        yields exactly one row: none → NULL, more than one → a runtime
        error naming the subquery."""
        if "scalar" not in e["subquery"]:
            raise SubstraitError(
                "only scalar subqueries are consumable, got "
                f"{sorted(e['subquery'])}")
        key = json.dumps(e, sort_keys=True)
        text = self._subqueries.get(key)
        if text is None:
            inner = self._fetch(self.rel(e["subquery"]["scalar"]["input"]),
                                0, 2)
            q = self.wrap(inner)
            text = (f"(SELECT CASE WHEN assert_true(count(1) <= 1, "
                    "'scalar subquery returned more than one row') IS NULL "
                    f"THEN first({q.cols[0]}) END FROM {q.src})")
            self._subqueries[key] = text
        return text

    def _scalar(self, body: dict, res) -> str:
        name = self._fn_name(body["functionReference"])
        raw = [a["value"] for a in body.get("arguments", [])]
        if name in ops.HOF_LAMBDA_SHAPE:
            return self._hof(name, raw, res)
        if name == "lambda_var":
            return self._lambda_var(raw)
        if name == "lambda":
            raise SubstraitError(
                "lambda is only consumable as a direct argument of a "
                "higher-order function")
        if name == "round" and len(raw) == 2:
            lit = raw[1].get("literal", {})
            if not lit.keys() & {"i8", "i16", "i32", "i64"}:
                raise SubstraitError("round scale must be an integer literal")
            return (f"round({self.rex(raw[0], res)}, "
                    f"{_int_literal(raw[1], 'round scale')})")
        if name == "string_split" and len(raw) == 2:
            # LITERAL-delimiter split (functions_string.yaml; Catalyst
            # StringSplitSQL, split_part's array source): a regex split
            # over the \Q..\E-quoted delimiter — value-identical for every
            # delimiter that cannot close the quote itself
            sep = raw[1].get("literal", {}).get("string")
            if not sep:
                raise SubstraitError(
                    "string_split delimiter must be a non-empty string "
                    "literal (Spark errors on the empty delimiter)")
            if "\\E" in sep:
                raise SubstraitError(
                    r"string_split delimiter containing \E cannot be "
                    "regex-quoted for the rebuild")
            return (f"split({self.rex(raw[0], res)}, "
                    f"{_sql_string(chr(92) + 'Q' + sep + chr(92) + 'E')}, -1)")
        if name == "concat_ws" and raw:
            if raw[0].get("literal", {}).get("string") is None:
                raise SubstraitError("concat_ws separator must be a string literal")
        return ops.scalar_sql(name, [self.rex(a, res) for a in raw])

    def _hof(self, name: str, raw: list[dict], res) -> str:
        """Higher-order function: data arguments render as expressions, and
        each ``lambda(n, body)`` argument as ``(v1, …) -> body`` over fresh
        variable names, so a lambda variable can never collide with a
        column or with another lambda's variables (nested lambdas stack)."""
        shape = ops.HOF_LAMBDA_SHAPE[name]
        args = []
        for i, a in enumerate(raw):
            fn = a.get("scalarFunction")
            if fn is not None and \
                    self._fn_name(fn["functionReference"]) == "lambda":
                allowed = shape.get(i)
                if allowed is None:
                    raise SubstraitError(
                        f"{name!r} takes no lambda at argument {i} "
                        f"(lambda positions: {sorted(shape)})")
                args.append(self._lambda(fn, res, allowed))
            else:
                args.append(self.rex(a, res))
        return f"{name}({', '.join(args)})"

    def _lambda(self, fn: dict, res, allowed: set[int]) -> str:
        args = [a["value"] for a in fn.get("arguments", [])]
        if len(args) != 2:
            raise SubstraitError(
                "lambda encoding is lambda(n_params: i32, body)")
        n = args[0].get("literal", {}).get("i32")
        if n is None:
            raise SubstraitError("lambda n_params must be an i32 literal")
        n = int(n)
        if n not in allowed:
            raise SubstraitError(
                f"lambda with {n} parameter(s) where this position "
                f"allows {sorted(allowed)}")
        if not 1 <= n <= 3:
            raise SubstraitError(
                f"lambda with {n} parameters (Spark lambdas take 1-3)")
        names = [self._fresh("__lv") for _ in range(n)]
        self._lambda_stack.append(names)
        try:
            body = self.rex(args[1], res)
        finally:
            self._lambda_stack.pop()
        # the grammar takes a bare name for one parameter, a list for more
        params = names[0] if n == 1 else f"({', '.join(names)})"
        return f"{params} -> {body}"

    def _lambda_var(self, raw: list[dict]) -> str:
        if len(raw) != 2:
            raise SubstraitError(
                "lambda_var encoding is lambda_var(depth: i32, index: i32)")
        vals = []
        for a in raw:
            v = a.get("literal", {}).get("i32")
            if v is None:
                raise SubstraitError(
                    "lambda_var args must be i32 literals")
            vals.append(int(v))
        depth, idx = vals
        if not (0 <= depth < len(self._lambda_stack)) or \
                not (0 <= idx < len(self._lambda_stack[-1 - depth])):
            raise SubstraitError(
                f"lambda_var({depth}, {idx}) is out of scope "
                f"({len(self._lambda_stack)} frame(s) open)")
        return self._lambda_stack[-1 - depth][idx]

    def _if_then(self, body: dict, res) -> str:
        ifs = list(body.get("ifs", []))
        if not ifs:
            raise SubstraitError("ifThen with no branches")
        # reference convention (consumer.rs:474-490): a leading IfClause with
        # no `then` carries the base expression of `CASE x WHEN v ...`
        base = None
        if "then" not in ifs[0]:
            base = self.rex(ifs[0]["if"], res)
            ifs = ifs[1:]
        parts = ["CASE"]
        for clause in ifs:
            pred = self.rex(clause["if"], res)
            if base is not None:
                pred = f"({base} = {pred})"
            parts.append(f"WHEN {pred} THEN {self.rex(clause['then'], res)}")
        if "else" in body:
            parts.append(f"ELSE {self.rex(body['else'], res)}")
        parts.append("END")
        return " ".join(parts)

    def _literal(self, body: dict) -> str:
        """Substrait literal → typed Spark SQL literal text (≡
        consumer.rs:563-610 + typed nulls consumer.rs:617-639). Each form
        keeps the plan's type: ``1.5`` would be a decimal in SQL, so a
        double is ``1.5D``; NaN/±inf go through a cast; ``-0.0`` keeps its
        sign; timestamps are built from their micros, not from text in
        the session time zone."""
        kind, v = _literal_kind(body)
        if kind == "boolean":
            return "TRUE" if v else "FALSE"
        if kind in ("i8", "i16", "i64"):
            n = int(v)
            suffix = {"i8": "Y", "i16": "S", "i64": "L"}[kind]
            if kind == "i64" and n == -(2 ** 63):
                return "(-9223372036854775807L - 1L)"
            return _num(f"{n}{suffix}", n < 0)
        if kind == "i32":
            return _int_sql(int(v))
        if kind == "fp32":
            return f"CAST({_sql_double(float(v))} AS FLOAT)"
        if kind == "fp64":
            return _sql_double(float(v))
        if kind == "string":
            return _sql_string(str(v))
        if kind == "binary":
            return f"X'{base64.b64decode(v).hex().upper()}'"
        if kind == "date":  # epoch days (consumer.rs:579-581)
            d = _EPOCH_DATE + datetime.timedelta(days=int(v))
            return f"DATE '{d.isoformat()}'"
        if kind == "intervalYearToMonth":
            return (f"make_ym_interval({_int_sql(int(v.get('years', 0)))}, "
                    f"{_int_sql(int(v.get('months', 0)))})")
        if kind == "intervalDayToSecond":
            # the spec's precision/subseconds mode is a newer alternative to
            # the deprecated-but-ubiquitous microseconds field; fence it
            # rather than guess a scale
            if v.get("precision") is not None or v.get("subseconds") is not None:
                raise SubstraitError(
                    "intervalDayToSecond precision/subseconds mode is not "
                    "consumable (microseconds form only)")
            secs = (decimal.Decimal(int(v.get("seconds", 0)))
                    + decimal.Decimal(int(v.get("microseconds", 0)))
                    .scaleb(-6))
            return (f"make_dt_interval({_int_sql(int(v.get('days', 0)))}, 0, 0, "
                    f"CAST('{secs}' AS DECIMAL(18,6)))")
        if kind == "timestampTz":  # epoch micros, UTC instant
            n = int(v)
            return f"timestamp_micros({_num(f'{n}L', n < 0)})"
        if kind == "timestamp":  # wall-clock micros: no time zone involved
            ts = _EPOCH + datetime.timedelta(microseconds=int(v))
            return f"TIMESTAMP_NTZ '{ts.isoformat(sep=' ')}'"
        if kind == "decimal":
            # 16-byte LE two's-complement unscaled (consumer.rs:588-594
            # i128::from_le_bytes)
            unscaled = int.from_bytes(base64.b64decode(v["value"]),
                                      "little", signed=True)
            p, s = int(v["precision"]), int(v.get("scale", 0))
            # exact: the default context would round to 28 digits
            d = decimal.Decimal(unscaled).scaleb(-s, _EXACT)
            return f"CAST('{d:f}' AS DECIMAL({p},{s}))"
        if kind == "null":
            return f"CAST(NULL AS {self._stype(v)})"
        raise SubstraitError(f"unsupported literal kind {kind!r} (consumer.rs:604-609)")

    # -- declared types -----------------------------------------------------

    def _etype(self, e: dict, types: list) -> dict | None:
        """The Substrait type an expression is declared with, where the plan
        states it: a field's input type, a literal, a cast, a function's
        ``outputType`` or a CASE's branches. None otherwise."""
        kind = proto.expr_kind(e)
        body = e[kind]
        if kind == "selection":
            i = _selection_ordinal(e)
            return types[i] if 0 <= i < len(types) else None
        if kind == "literal":
            return _literal_type(body)
        if kind == "cast":
            return body["type"]
        if kind == "ifThen":
            for c in body.get("ifs", []):
                if "then" in c:
                    t = self._etype(c["then"], types)
                    if t is not None:
                        return t
            return self._etype(body["else"], types) if "else" in body \
                else None
        if kind == "scalarFunction":
            return body.get("outputType")
        return None


def _selection_ordinal(e: dict) -> int:
    body = e["selection"]
    if "outerReference" in body or "expression" in body:
        # root_type other than RootReference: an outer-reference selection
        # resolved against the CURRENT relation's schema would return wrong
        # data, not an error. Absent root_type is tolerated — it means
        # RootReference for every producer seen in the wild.
        raise SubstraitError(
            "selection root_type must be rootReference — outer/"
            "expression-rooted references are not consumable"
        )
    seg = body.get("directReference", {})
    if "structField" not in seg:
        # mapKey / listElement reference segments (spec-valid)
        raise SubstraitError(
            f"unsupported reference segment {sorted(seg)} — only "
            "top-level structField references are consumable"
        )
    sf = seg["structField"]
    if sf.get("child"):
        # nested struct-member access: silently returning the whole
        # top-level column would be wrong DATA; the reference rejects
        # nested references too (consumer.rs:451-454)
        raise SubstraitError(
            "nested field reference (structField.child) is not "
            "consumable (≡ consumer.rs:451-454)"
        )
    return int(sf.get("field", 0))


def _is_plain(e: dict) -> bool:
    return "selection" in e or "literal" in e


def _not_ordinal(text: str) -> str:
    """A GROUP BY / ORDER BY key that is a bare integer literal would be
    read as a column ordinal; cast it so it stays a value."""
    t = text.strip("()")
    if t.lstrip("-").isdigit():
        return f"CAST({text} AS INT)"
    return text


def _frame_bound(b: dict | None, lower: bool) -> str:
    unbounded = "UNBOUNDED PRECEDING" if lower else "UNBOUNDED FOLLOWING"
    if not b or "unbounded" in b:
        return unbounded
    if "currentRow" in b:
        return "CURRENT ROW"
    if "preceding" in b:
        off = -int(b["preceding"]["offset"])
    elif "following" in b:
        off = int(b["following"]["offset"])
    else:
        raise SubstraitError(f"unsupported frame bound {b}")
    if off == 0:
        return "CURRENT ROW"
    return f"{-off} PRECEDING" if off < 0 else f"{off} FOLLOWING"


def _exact_percent(fraction: float) -> str | None:
    """Text ``p`` with ``float(p) / 100 == fraction`` (how the SQL parser
    turns ``TABLESAMPLE (p PERCENT)`` into a fraction), or None."""
    p = repr(fraction * 100)
    ok = 0.0 <= fraction <= 1.0 and "e" not in p and float(p) / 100 == fraction
    return p if ok else None


_FAMILIES = {"i8": "numeric", "i16": "numeric", "i32": "numeric",
             "i64": "numeric", "fp32": "numeric", "fp64": "numeric",
             "varchar": "string", "fixedChar": "string",
             "fixedBinary": "binary", "date": "datetime",
             "timestamp": "datetime", "timestampTz": "datetime"}


def _tname(t: dict | None) -> str | None:
    if t is None:
        return None
    kind = next((k for k in t if k != "nullability"), None)
    if kind == "decimal":
        return f"decimal({t[kind].get('precision')},{t[kind].get('scale', 0)})"
    return kind


def _family(t: dict | None) -> str | None:
    """Coercion family of a declared type; None (unknown, or a void NULL)
    is compatible with everything."""
    kind = _tname(t)
    if kind is None or kind == "userDefined":
        return None
    return "numeric" if kind.startswith("decimal") else \
        _FAMILIES.get(kind, kind)


def _distinct_fold_types(name: str, t: dict) -> tuple[str, str]:
    """(sum type, avg type) Spark's native sum/avg give an argument of
    Substrait type ``t``: bigint/double for integral, double/double for
    floating point, decimal(min(38, p+10), s) / decimal(min(38, p+4),
    min(38, s+4)) for decimals. Non-numeric inputs keep a named fence."""
    kind = _tname(t)
    if kind in ("i8", "i16", "i32", "i64"):
        return "bigint", "double"
    if kind in ("fp32", "fp64"):
        return "double", "double"
    if kind is not None and kind.startswith("decimal"):
        p, s = int(t["decimal"]["precision"]), int(t["decimal"].get("scale", 0))
        return (f"decimal({min(38, p + 10)},{s})",
                f"decimal({min(38, p + 4)},{min(38, s + 4)})")
    raise SubstraitError(
        f"DISTINCT window {name!r} over {kind} has no exact Spark rebuild "
        "(numeric value-set folds only)")
