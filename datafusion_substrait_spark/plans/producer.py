"""Producer: Spark DataFrame → Substrait-shaped plan.

≡ ``to_substrait_plan`` (producer.rs:37-62). The reference walks DataFusion's
*optimized* ``LogicalPlan`` (it errors if column pruning hasn't run,
producer.rs:111-115); we walk Catalyst's optimized logical plan over py4j
(``df._jdf.queryExecution().optimizedPlan()``) so Catalyst's column pruning,
constant folding and filter pushdown are inherited the same way.

The one genuinely hard mapping (SURVEY.md §7): Substrait references columns by
**ordinal**, Catalyst by **exprId**. Every ``_rel`` method therefore returns
``(rel_dict, out_ids)`` where ``out_ids[i]`` is the Catalyst exprId owning
Substrait output ordinal ``i``; expression translation resolves an
``AttributeReference`` to ``out_ids.index(id)`` — the equivalent of the
reference's ``schema.index_of_column`` (producer.rs:532).
"""

from __future__ import annotations

import base64
import decimal
import json
import re

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import types as _sql_types

from datafusion_substrait_spark.functions import ops
from datafusion_substrait_spark.functions.registry import ExtensionRegistry
from datafusion_substrait_spark.plans import proto
from datafusion_substrait_spark.plans.proto import NO_LIMIT, SubstraitError
from datafusion_substrait_spark.plans.types import (VOID_TYPE_NAME,
                                                    holds_user_type,
                                                    spark_type_to_substrait)
from datafusion_substrait_spark.sources import catalog

_DECIMAL_RE = re.compile(r"^decimal\((\d+),\s*(-?\d+)\)$")

# one table for BOTH _rel_Sort and _rel_Window order specs (a per-site copy
# once risked the two drifting)
_SORT_DIRECTIONS = {
    ("Ascending", "NullsFirst"): proto.SORT_ASC_NULLS_FIRST,
    ("Ascending", "NullsLast"): proto.SORT_ASC_NULLS_LAST,
    ("Descending", "NullsFirst"): proto.SORT_DESC_NULLS_FIRST,
    ("Descending", "NullsLast"): proto.SORT_DESC_NULLS_LAST,
}

# ---------------------------------------------------------------------------
# py4j helpers
# ---------------------------------------------------------------------------


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt(jopt):
    return jopt.get() if jopt.isDefined() else None


def _cls(jobj) -> str:
    return jobj.getClass().getSimpleName()


def _cls_fast(jobj) -> str:
    """Class simple name in ONE py4j round trip (r18, guide §4 driver
    boundary): for Scala case classes — every Catalyst plan/expression
    node — ``productPrefix`` is compiler-generated as exactly the class's
    simple name, and unlike ``getClass().getSimpleName()`` it returns a
    string directly, so there is no intermediate Class proxy to call
    through or finalize (2 round trips + 1 deferred delete → 1 round
    trip). Non-Product objects and manual Products (empty prefix) fall
    back to the reflective walk. NOT used where the value can be a case
    OBJECT (``RowFrame$``, ``IntegerType$`` …): their productPrefix drops
    the trailing ``$`` that those comparison sites pin.
    ``test_batched_walk_primitives_match_reflective_walk``
    (tests/test_roundtrip.py) pins the equality over every node of a plan
    corpus."""
    try:
        p = jobj.productPrefix()
    except Py4JError:
        return _cls(jobj)
    return p if p else _cls(jobj)


# Attribute.toString is ``name#id`` with an ``L`` suffix iff the type is
# bigint (verified on Spark 4.1.2, scratch/spike_batch_prims_r18.py; the
# same render Spark prints in every plan dump). The trailing ``#digits[L]``
# is appended by toString itself AFTER the name, so taking the LAST such
# group (greedy ``.*``) decomposes unambiguously even for names that
# themselves contain ``#7L``. Any element that does not match — or a name
# containing the separator — sends ``_attrs_of`` to the per-attribute py4j
# walk.
_ATTR_STR_RE = re.compile(r"\A(.*)#(\d+)L?\Z", re.DOTALL)
_ATTR_SEP = ""


def _parse_attr_strs(s: str) -> list[tuple[str, int]] | None:
    """``Seq[Attribute].mkString(_ATTR_SEP)`` → [(name, exprId)] or None
    on any element that is not the pinned ``name#id[L]`` render."""
    if s == "":
        return []
    out = []
    for part in s.split(_ATTR_SEP):
        m = _ATTR_STR_RE.match(part)
        if m is None:
            return None
        out.append((m.group(1), int(m.group(2))))
    return out


def _attrs_of(jseq, n: int | None = None) -> list[tuple[str, int]]:
    """(name, exprId) of each element of a Seq[Attribute] in one mkString
    round trip (plus one for the size when the caller does not pass ``n``)
    instead of 1 + 4 per attribute. The size cross-check closes the one
    silent-mis-split hazard: a name CONTAINING the separator plus a
    ``#digits`` tail would split into fragments that individually still
    match the attr regex — the element count then disagrees with the Seq's
    size and the per-attribute walk decides, as it does on any render the
    parser does not recognise."""
    parsed = _parse_attr_strs(jseq.mkString(_ATTR_SEP))
    if parsed is not None and len(parsed) == (jseq.size() if n is None else n):
        return parsed
    return [(a.name(), a.exprId().id()) for a in _seq(jseq)]


def _ids_of(jseq) -> list[int]:
    return [eid for _, eid in _attrs_of(jseq)]


def _attr_eid(e) -> int:
    """exprId of one Attribute/NamedExpression whose toString ends with
    its own ``#id[L]`` render (AttributeReference, NamedLambdaVariable) —
    1 round trip, no ExprId proxy; falls back to the 2-trip accessor."""
    m = _ATTR_STR_RE.match(e.toString())
    if m is not None:
        return int(m.group(2))
    return e.exprId().id()


def _attr_ids(jnode) -> list[int]:
    return _ids_of(jnode.output())


def _refs(jnode) -> set[int]:
    """exprIds referenced by a plan node's own expressions."""
    return set(_ids_of(jnode.references().toSeq()))


# ---------------------------------------------------------------------------


def to_substrait_plan(df: DataFrame) -> dict:
    """DataFrame → plan dict (≡ producer.rs:37-62). Root carries the
    DataFrame's user-visible column names (RelRoot.names, producer.rs:45-50).

    Spark Connect constraint: this walk needs the driver-side Catalyst
    optimized plan via py4j (``df._jdf``), which a Connect session's
    DataFrame does not expose — the client holds only an unresolved proto
    plan; analysis and optimization happen server-side. Rather than an
    opaque ``AttributeError`` deep in the walk, detect Connect up front
    and raise a named error. (Round-7 feasibility spike,
    docs/spark_connect_spike.md: the client plan is UNRESOLVED — no
    schemas, no exprIds, no Catalyst rewrites — so a faithful producer
    would re-implement analysis or need per-node schema RPCs; an M1
    Read+Project+Filter client-side slice is the concrete next step in
    a grpc-capable environment. The CONSUME path is already bridge-free
    and expected to work on Connect as-is, pinned by
    tests/test_connect_surface.py.)
    """
    if not hasattr(df, "_jdf"):
        # pyspark.sql.connect.DataFrame has no _jdf (no py4j bridge at all)
        raise SubstraitError(
            "to_substrait_plan requires a classic (JVM-bridged) "
            "SparkSession: Spark Connect DataFrames expose no driver-side "
            "optimized plan to walk. Run the producer in a classic "
            "session, or serialize SQL text and produce there."
        )
    producer = _Producer()
    jplan = df._jdf.queryExecution().optimizedPlan()
    rel, _ = producer.rel(jplan)
    return proto.plan(rel, df.columns, producer.registry.declarations())


class _Producer:
    def __init__(self) -> None:
        self.registry = ExtensionRegistry()
        self._sentinel = 0  # fresh negative ids for non-named output expressions
        # rex-translation hook: maps a Catalyst node to a substrait expr (or
        # None); used by _rel_Aggregate to splice measure/grouping field refs
        # into post-aggregation scalar expressions
        self._override = None
        # lambda frames (r10): exprIds of the LambdaFunction currently being
        # produced, innermost last — NamedLambdaVariable refs encode as
        # (depth, index) against this stack
        self._lambda_stack: list[list[int]] = []

    def _type(self, simple_string: str) -> dict:
        """``spark_type_to_substrait`` that declares ``spark:void`` in the
        plan's extensions when the returned type holds it (the only
        user-defined type the producer makes)."""
        t = spark_type_to_substrait(simple_string)
        if holds_user_type(t):
            self.registry.register_type(VOID_TYPE_NAME)
        return t

    def _fresh_id(self) -> int:
        self._sentinel -= 1
        return self._sentinel

    # -- relations ----------------------------------------------------------

    def rel(self, node, needed: set[int] | None = None) -> tuple[dict, list[int]]:
        """Produce ``node``; ``needed`` is the set of exprIds the parent will
        reference, threaded top-down so every ReadRel gets a column-projection
        mask — the reference *requires* pruned scans (producer.rs:111-115),
        and an unpruned 100 TB scan is exactly the plan we must not emit."""
        kind = _cls_fast(node)
        handler = getattr(self, f"_rel_{kind}", None)
        if handler is None:
            raise SubstraitError(
                f"unsupported logical operator {kind} "
                "(≡ producer.rs:281-285 catch-all)"
            )
        return handler(node, needed)

    def _rel_LogicalRelation(self, node, needed=None, mask_ids=None):
        ct = _opt(node.catalogTable())
        if ct is not None:
            table_names = list(ct.identifier().unquotedString().split("."))
        else:
            relation = node.relation()
            if _cls(relation) != "HadoopFsRelation":
                raise SubstraitError(f"unsupported relation {_cls(relation)}")
            paths = _seq(relation.location().rootPaths())
            if len(paths) != 1:
                raise SubstraitError("multi-path scans not nameable as NamedTable")
            table_names = [catalog.table_name_for_path(paths[0].toString())]
        base_names, base_types, all_ids = self._scan_schema(node)
        if mask_ids is None and needed is not None:
            # top-down pruning: scan only the columns referenced above; keep
            # one column if nothing is referenced (e.g. bare COUNT(*)) so the
            # scan stays non-degenerate
            mask_ids = [i for i in all_ids if i in needed] or all_ids[:1]
        if mask_ids is None:
            mask = list(range(len(all_ids)))
            out_ids = all_ids
        else:
            mask = [all_ids.index(i) for i in mask_ids]
            out_ids = list(mask_ids)
        return proto.read_rel(table_names, base_names, base_types, mask), out_ids

    def _scan_schema(self, node) -> tuple[list[str], list, list[int]]:
        """(names, substrait types, exprIds) of a scan's output in ~4 round
        trips instead of 1 + 6 per column (r18, guide §4): types come from
        ONE ``schema().json()`` decoded python-side via pyspark's own
        StructType.fromJson (simpleString computed locally, pinned equal
        to the JVM's per-attribute render in ``tests/test_roundtrip.py``),
        names and ids from ``_attrs_of``."""
        fields = _sql_types.StructType.fromJson(
            json.loads(node.schema().json())).fields
        attrs = _attrs_of(node.output(), len(fields))
        return ([n for n, _ in attrs],
                [self._type(f.dataType.simpleString()) for f in fields],
                [eid for _, eid in attrs])

    # InternalRow accessor per Spark simpleString type (LocalRelation rows)
    _ROW_GETTERS = {
        "tinyint": lambda r, i: r.getByte(i),
        "smallint": lambda r, i: r.getShort(i),
        "int": lambda r, i: r.getInt(i),
        "bigint": lambda r, i: r.getLong(i),
        "boolean": lambda r, i: r.getBoolean(i),
        "float": lambda r, i: r.getFloat(i),
        "double": lambda r, i: r.getDouble(i),
        "string": lambda r, i: r.getUTF8String(i).toString(),
        "date": lambda r, i: r.getInt(i),          # epoch days
        "timestamp": lambda r, i: r.getLong(i),    # epoch micros
        "timestamp_ntz": lambda r, i: r.getLong(i),
        "binary": lambda r, i: bytes(r.getBinary(i)),
    }

    def _rel_LocalRelation(self, node, needed=None):
        """Catalyst LocalRelation → ReadRel{virtualTable}. This is how
        constant-folded-away subtrees arrive (an always-false predicate
        optimizes the whole branch to an EMPTY LocalRelation — found by the
        SQL fuzzer) as well as inline ``VALUES`` lists. The reference has no
        virtual-table read (consumer.rs:371-373); the Substrait spec does."""
        out = _seq(node.output())
        names = [a.name() for a in out]
        dts = [a.dataType().simpleString() for a in out]
        types = [self._type(dt) for dt in dts]
        rows = []
        for jrow in _seq(node.data()):
            row = []
            for i, dt in enumerate(dts):
                if jrow.isNullAt(i):
                    row.append(proto.null_literal(types[i]))
                    continue
                getter = self._ROW_GETTERS.get(dt)
                if getter is None and _DECIMAL_RE.match(dt):
                    m = _DECIMAL_RE.match(dt)
                    v = jrow.getDecimal(i, int(m.group(1)), int(m.group(2))) \
                        .toJavaBigDecimal()
                    row.append(self._literal_value(v, dt))
                    continue
                if getter is None:
                    raise SubstraitError(
                        f"LocalRelation value of type {dt!r} is not "
                        "serializable as a virtual-table literal"
                    )
                row.append(self._literal_value(getter(jrow, i), dt))
            rows.append(row)
        return (proto.virtual_table_read_rel(names, types, rows),
                [a.exprId().id() for a in out])

    def _rel_OneRowRelation(self, node, needed=None):
        # SELECT <literals> with no FROM: one zero-column row
        return proto.virtual_table_read_rel([], None, [[]]), []

    def _rel_SubqueryAlias(self, node, needed=None):
        # aliases have no Substrait counterpart; skip (producer.rs:276-280)
        return self.rel(node.child(), needed)

    def _rel_Project(self, node, needed=None):
        exprs = _seq(node.projectList())
        kinds = [_cls_fast(e) for e in exprs]
        child = node.child()
        # pure column selection directly over a scan folds into the ReadRel
        # projection mask (≡ producer.rs:74-116 requiring scan projection)
        if _cls_fast(child) == "LogicalRelation" and all(
            k == "AttributeReference" for k in kinds
        ):
            mask_ids = [eid for _, eid in
                        _attrs_of(node.projectList(), len(exprs))]
            return self._rel_LogicalRelation(child, mask_ids=mask_ids)
        crel, cids = self.rel(child, _refs(node))
        out_ids = []
        expressions = []
        for e, kind in zip(exprs, kinds):
            expressions.append(self.rex(e, cids, kind))
            out_ids.append(self._named_out_id(e, kind))
        return proto.project_rel(crel, expressions), out_ids

    def _named_out_id(self, e, kind: str) -> int:
        """Output exprId for a NamedExpression slot: the attribute's own id
        (1 round trip via the toString parse for AttributeReference, the
        2-trip accessor for Alias whose toString renders its whole child),
        or a fresh sentinel for anonymous expressions."""
        if kind == "AttributeReference":
            return _attr_eid(e)
        if kind == "Alias":
            return e.exprId().id()
        return self._fresh_id()

    def _rel_Filter(self, node, needed=None):
        crel, cids = self.rel(
            node.child(), needed | _refs(node) if needed is not None else None
        )
        cond = self.rex(node.condition(), cids)
        return proto.filter_rel(crel, cond), cids

    def _rel_Sort(self, node, needed=None):
        crel, cids = self.rel(
            node.child(), needed | _refs(node) if needed is not None else None
        )
        sorts = []
        for so in _seq(node.order()):
            direction = _SORT_DIRECTIONS[
                (so.direction().toString(), so.nullOrdering().toString())]
            sorts.append(proto.sort_field(self.rex(so.child(), cids), direction))
        if not bool(getattr(node, "global")()):
            # sortWithinPartitions / SORT BY (and randomSplit's internal
            # deterministic-split sort): SortRel is a TOTAL order, so
            # producing it there silently rebuilt a global orderBy — a
            # range-partition shuffle the user avoided, and a row-set
            # CHANGE under sampling. Rides the extension rel instead (r10).
            return proto.local_sort_rel(crel, sorts), cids
        return proto.sort_rel(crel, sorts), cids

    def _rel_GlobalLimit(self, node, needed=None):
        # Catalyst shapes (spiked on 4.1.2):
        #   LIMIT n           → GlobalLimit(n, LocalLimit(n, child))
        #   LIMIT n OFFSET o  → GlobalLimit(n, Offset(o, LocalLimit(n+o, child)))
        count = node.limitExpr().value()
        inner = node.child()
        offset = 0
        if _cls_fast(inner) == "Offset":
            offset = inner.offsetExpr().value()
            inner = inner.child()
        if _cls_fast(inner) == "LocalLimit":
            inner = inner.child()
        crel, cids = self.rel(inner, needed)
        return proto.fetch_rel(crel, offset, count), cids

    def _rel_Offset(self, node, needed=None):
        # OFFSET without LIMIT; count=NO_LIMIT (NOT the reference's lossy 0,
        # producer.rs:147-150 — SURVEY.md §2.1 R4 decision)
        offset = node.offsetExpr().value()
        crel, cids = self.rel(node.child(), needed)
        return proto.fetch_rel(crel, offset, NO_LIMIT), cids

    def _rel_LocalLimit(self, node, needed=None):
        crel, cids = self.rel(node.child(), needed)
        return proto.fetch_rel(crel, 0, node.limitExpr().value()), cids

    def _rel_Aggregate(self, node, needed=None):
        """Substrait AggregateRel output is groupings++measures
        (producer.rs:177-202). Catalyst's Aggregate output is arbitrary
        NamedExpressions that may (a) reorder groupings/measures and (b) wrap
        measures in scalar expressions (e.g. ``round(sum(x), 2)``). We
        therefore extract every AggregateExpression as a measure, then — if
        outputs are not exactly the identity over groupings++measures — wrap
        the AggregateRel in a ProjectRel that rebuilds each Catalyst output
        over the (groupings ++ measures) ordinal space."""
        if _cls_fast(node.child()) == "Expand" and \
                self._is_grouping_sets_expand(node.child()):
            # GROUPING SETS / ROLLUP / CUBE → native multi-grouping
            # AggregateRel. An Expand that is NOT the grouping-sets shape
            # (no synthetic grouping-id column — e.g. aggregate over
            # UNPIVOT, or a user column merely NAMED spark_grouping_id)
            # falls through to the generic path, where _rel_Expand (r9)
            # produces it as UNION-ALL-of-projections under a plain
            # aggregate.
            return self._rel_Aggregate_grouping_sets(node)
        crel, cids = self.rel(node.child(), _refs(node))
        g_exprs = _seq(node.groupingExpressions())
        a_exprs = _seq(node.aggregateExpressions())
        g_kinds = [_cls_fast(g) for g in g_exprs]
        groupings = [self.rex(g, cids, k) for g, k in zip(g_exprs, g_kinds)]
        n_g = len(g_exprs)

        # grouping-slot matching: when every grouping is a plain attribute
        # (the overwhelmingly common GROUP BY columns shape), attribute
        # identity IS semantic equality (AttributeReference.semanticEquals
        # compares exprIds), so the per-node O(n_g) JVM semanticEquals loop
        # collapses to one python dict probe on the id already parsed from
        # toString. Aliases/strip-wrappers over a grouping attr reach the
        # same field_ref through rex's own recursion (it unwraps them and
        # re-consults the override), so the emitted tree is unchanged.
        g_attr_ids: dict[int, int] | None = None
        if all(k == "AttributeReference" for k in g_kinds):
            g_attr_ids = {}
            for j, (_, eid) in enumerate(
                    _attrs_of(node.groupingExpressions(), n_g)):
                g_attr_ids.setdefault(eid, j)

        def agg_override(e, kind):
            if kind == "AggregateExpression":
                if _cls_fast(e.aggregateFunction()) == "PivotFirst":
                    return self._lower_pivot_first(
                        e, cids, n_g, measures, measure_nodes)
                for idx, m in enumerate(measure_nodes):
                    if m.semanticEquals(e):
                        return proto.field_ref(n_g + idx)
                measure_nodes.append(e)
                measures.append(self._measure(e, cids))
                return proto.field_ref(n_g + len(measures) - 1)
            if g_attr_ids is not None:
                if kind != "AttributeReference":
                    return None
                j = g_attr_ids.get(_attr_eid(e))
                return proto.field_ref(j) if j is not None else None
            for j, g in enumerate(g_exprs):
                if g.semanticEquals(e):
                    return proto.field_ref(j)
            return None

        measures: list[dict] = []
        measure_nodes: list = []
        out_exprs: list[dict] = []
        out_ids: list[int] = []
        prev_override = self._override
        self._override = agg_override
        try:
            for e in a_exprs:
                kind = _cls_fast(e)
                out_exprs.append(self.rex(e, cids, kind))
                out_ids.append(self._named_out_id(e, kind))
        finally:
            self._override = prev_override

        rel = proto.aggregate_rel(crel, groupings, measures)
        identity = [proto.field_ref(i) for i in range(n_g + len(measures))]
        if out_exprs != identity:
            rel = proto.project_rel(rel, out_exprs)
        return rel, out_ids

    @staticmethod
    def _is_grouping_sets_expand(ex) -> bool:
        """True iff ``ex`` is Catalyst's grouping-sets Expand: exactly one
        output named ``spark_grouping_id`` AND every projection row holds
        a non-null integer literal in that slot (the per-set bitmask).
        Name alone is not enough — a USER column named spark_grouping_id
        (e.g. as an UNPIVOT key) would misroute into the grouping-sets
        reconstruction and die in ``int()`` instead of taking the r9
        Expand lowering."""
        out_names = [n for n, _ in _attrs_of(ex.output())]
        if out_names.count("spark_grouping_id") != 1:
            return False
        gid_pos = out_names.index("spark_grouping_id")
        for r in _seq(ex.projections()):
            slot = _seq(r)[gid_pos]
            if _cls(slot) != "Literal" or slot.value() is None:
                return False
            if str(slot.dataType().simpleString()) not in (
                    "int", "bigint", "smallint", "tinyint"):
                return False
        return True

    def _rel_Aggregate_grouping_sets(self, node):
        """GROUP BY GROUPING SETS / ROLLUP / CUBE.

        Catalyst lowers these to Aggregate over Expand: Expand replicates
        each input row once per grouping set, nulling the grouping columns
        absent from that set and tagging rows with a ``spark_grouping_id``
        bitmask (bit j, MSB-first, set ⇔ grouping column j is NOT in the
        set). Substrait models the same natively — AggregateRel.groupings
        is a LIST (the reference rejects >1, consumer.rs:230-235; the spec
        does not) — so we recover the sets from the Expand projections and
        emit ``aggregate_rel_multi``. References to ``spark_grouping_id``
        in post-agg expressions (``grouping()``/``grouping_id()`` lower to
        bit-ops over it during analysis) become a CASE over the trailing
        grouping-set-index column that rebuilds each set's bitmask.
        """
        ex = node.child()
        rows = [_seq(r) for r in _seq(ex.projections())]
        # every projection row is as wide as the Expand's output
        out = _attrs_of(ex.output(), len(rows[0]))
        out_names = [n for n, _ in out]
        out_ids = [eid for _, eid in out]
        gid_positions = [i for i, n in enumerate(out_names)
                         if n == "spark_grouping_id"]
        if len(gid_positions) != 1:
            raise SubstraitError(
                "Expand without exactly one spark_grouping_id output is not "
                "a grouping-sets aggregate"
            )
        gid_pos = gid_positions[0]
        gid_id = out_ids[gid_pos]
        g_positions: list[int] = []
        for g in _seq(node.groupingExpressions()):
            if _cls_fast(g) != "AttributeReference":
                raise SubstraitError(
                    "grouping-sets aggregate with a non-attribute grouping "
                    f"expression {_cls(g)}"
                )
            geid = _attr_eid(g)
            if geid != gid_id:
                g_positions.append(out_ids.index(geid))

        def is_null_slot(e) -> bool:
            return _cls_fast(e) == "Literal" and e.value() is None

        used = {eid for r in rows for e in r
                for eid in _ids_of(e.references().toSeq())}
        crel, cids = self.rel(ex.child(), used or None)

        g_exprs_sub: list[dict] = []
        for j in g_positions:
            src = next((r[j] for r in rows if not is_null_slot(r[j])), None)
            if src is None:
                raise SubstraitError(
                    "grouping column absent from every grouping set"
                )
            g_exprs_sub.append(self.rex(src, cids))
        sets: list[list[int]] = []
        masks: list[int] = []
        for r in rows:
            sets.append([k for k, j in enumerate(g_positions)
                         if not is_null_slot(r[j])])
            masks.append(int(r[gid_pos].value()))
        if len({tuple(s) for s in sets}) != len(sets):
            raise SubstraitError(
                "duplicate grouping sets cannot be reconstructed from "
                "grouping_id on consume"
            )

        n_g = len(g_positions)
        measures: list[dict] = []
        measure_nodes: list = []
        a_exprs = _seq(node.aggregateExpressions())
        g_pos_by_id = {out_ids[j]: k for k, j in enumerate(g_positions)}

        def make_override(set_idx_ordinal: int | None):
            def agg_override(e, kind):
                if kind == "AggregateExpression":
                    for idx, m in enumerate(measure_nodes):
                        if m.semanticEquals(e):
                            return proto.field_ref(n_g + idx)
                    measure_nodes.append(e)
                    measures.append(self._measure(e, cids))
                    return proto.field_ref(n_g + len(measures) - 1)
                if kind == "AttributeReference":
                    eid = _attr_eid(e)
                    if eid == gid_id:
                        if set_idx_ordinal is None:
                            return proto.literal("i64", 0)  # pass-1 stub
                        eq = self.registry.register("equal")
                        ref = proto.field_ref(set_idx_ordinal)
                        return proto.if_then(
                            [(proto.scalar_function(
                                eq, [ref, proto.literal("i32", r)]),
                              proto.literal("i64", masks[r]))
                             for r in range(len(masks) - 1)],
                            proto.literal("i64", masks[-1]),
                        )
                    if eid in g_pos_by_id:
                        return proto.field_ref(g_pos_by_id[eid])
                return None
            return agg_override

        # pass 1: collect the full measure list — the set-index column sits
        # AFTER the measures, and a spark_grouping_id reference may appear in
        # the output list before some measures do
        prev_override = self._override
        self._override = make_override(None)
        try:
            for e in a_exprs:
                self.rex(e, cids)
        finally:
            self._override = prev_override
        set_idx_ord = n_g + len(measures)
        # pass 2: real outputs (measure ordinals are now stable;
        # semanticEquals dedup resolves repeats to the same refs)
        out_exprs: list[dict] = []
        out_ids_out: list[int] = []
        self._override = make_override(set_idx_ord)
        try:
            for e in a_exprs:
                kind = _cls_fast(e)
                out_exprs.append(self.rex(e, cids, kind))
                out_ids_out.append(self._named_out_id(e, kind))
        finally:
            self._override = prev_override

        rel = proto.aggregate_rel_multi(crel, g_exprs_sub, sets, measures)
        identity = [proto.field_ref(i) for i in range(set_idx_ord + 1)]
        if out_exprs != identity:
            rel = proto.project_rel(rel, out_exprs)
        return rel, out_ids_out

    def _rel_Generate(self, node, needed=None):
        """Explode/posexplode → ExtensionSingleRel GenerateRel (the spec's
        engine-specific escape hatch; neither core Substrait nor the
        reference has an unnest relation — SURVEY.md §2.5 beyond-fence)."""
        gen = node.generator()
        modes = {"Explode": "explode", "PosExplode": "posexplode",
                 "ReplicateRows": "replicaterows"}
        mode = modes.get(_cls_fast(gen))
        if mode is None:
            raise SubstraitError(
                f"unsupported generator {_cls(gen)} "
                "(explode/posexplode/replicaterows only)"
            )
        req_ids = _ids_of(node.requiredChildOutput())
        child_needed = (
            set(req_ids) | set(_ids_of(gen.references().toSeq()))
        ) if needed is not None else None
        crel, cids = self.rel(node.child(), child_needed)
        gen_children = _seq(gen.children())
        # explode: the one array argument. replicaterows (Catalyst's
        # INTERSECT/EXCEPT ALL building block): child 0 is the row
        # multiplier, children 1..N are the replicated column exprs
        arg = self.rex(gen_children[0], cids)
        extra = ([self.rex(c, cids) for c in gen_children[1:]]
                 if mode == "replicaterows" else None)
        req_ordinals = [cids.index(i) for i in req_ids]
        gen_out_ids = _ids_of(node.generatorOutput())
        if mode == "replicaterows" and len(gen_out_ids) != len(extra or []):
            raise SubstraitError(
                f"ReplicateRows outputs {len(gen_out_ids)} columns but has "
                f"{len(extra or [])} column expressions")
        out_ids = req_ids + gen_out_ids
        return (
            proto.generate_rel(crel, arg, mode, bool(node.outer()),
                               req_ordinals, len(gen_out_ids),
                               arguments=extra),
            out_ids,
        )

    def _rel_Repartition(self, node, needed=None):
        """``df.repartition(n)`` → ExchangeRel round_robin. ``coalesce(n)``
        (shuffle=false) is a purely physical partition merge with no
        Substrait encoding — translate-or-error."""
        if not bool(node.shuffle()):
            raise SubstraitError(
                "coalesce() (Repartition shuffle=false) has no Substrait "
                "encoding; use repartition(n) if redistribution is intended"
            )
        crel, cids = self.rel(node.child(), needed)
        return proto.exchange_rel(crel, int(node.numPartitions())), cids

    def _rel_RepartitionByExpression(self, node, needed=None):
        """DISTRIBUTE BY / ``df.repartition(cols...)`` → ExchangeRel
        scatter_by_fields. Attribute-reference keys encode as plain
        FieldReferences; computed keys (r13; was a fence) ride the
        FieldReference ``expression`` root the spec defines for exactly
        this — no trailing projection/trim round-trip needed.
        ``repartitionByRange`` keeps a named fence: the spec's exchange
        kinds have no range-distribution analogue."""
        exprs = _seq(node.partitionExpressions())
        if any(_cls_fast(e) == "SortOrder" for e in exprs):
            raise SubstraitError(
                "repartitionByRange (range distribution) has no "
                "ExchangeRel analogue in the spec's exchange kinds"
            )
        wanted = needed | _refs(node) if needed is not None else None
        crel, cids = self.rel(node.child(), wanted)
        fields: list = []
        for e in exprs:
            if _cls_fast(e) == "AttributeReference":
                eid = _attr_eid(e)
                if eid not in cids:
                    # translate-or-error contract: a partition key absent
                    # from the child ordinal space must surface as
                    # SubstraitError, not a bare ValueError (mirrors
                    # rex()'s AttributeReference handling); .toString()
                    # because str(e) on a py4j JavaObject names no column
                    raise SubstraitError(
                        f"repartition key {e.toString()} not found in "
                        "child output"
                    )
                fields.append(cids.index(eid))
            else:
                fields.append(self.rex(e, cids))
        n = _opt(node.optNumPartitions())
        return proto.exchange_rel(crel, int(n) if n is not None else 0,
                                  fields), cids

    def _rel_Sample(self, node, needed=None):
        """TABLESAMPLE / DataFrame.sample → ExtensionSingleRel SampleRel.
        The seed is always concrete in the optimized plan (Spark fills a
        random one at parse time if REPEATABLE is absent), so the sampled
        row set replays exactly on consume."""
        if float(node.lowerBound()) != 0.0:
            # every randomSplit slice after the first; the consumer cannot
            # rebuild a bounded-range sample via DataFrame.sample, so fence
            # at produce time (translate-or-error) rather than emitting a
            # plan that fails only when consumed
            raise SubstraitError(
                "Sample with lowerBound != 0 (randomSplit slice) has no "
                "consumable SampleRel form; sample() slices are encodable"
            )
        crel, cids = self.rel(node.child(), needed)
        return (
            proto.sample_rel(crel, float(node.lowerBound()),
                             float(node.upperBound()),
                             bool(node.withReplacement()), int(node.seed())),
            cids,
        )

    class _NeverEqual:
        """Placeholder in measure_nodes for synthesized (non-Catalyst)
        measures — never deduplicated against real AggregateExpressions."""

        @staticmethod
        def semanticEquals(_other) -> bool:  # noqa: N802 (Catalyst API shape)
            return False

    def _lower_pivot_first(self, agg_expr, cids, n_g, measures,
                           measure_nodes) -> dict:
        """Auto-lower Catalyst's PivotFirst (SQL PIVOT / DataFrame
        ``.pivot()``) into per-pivot-value FILTER measures — the
        reference-surface mechanism the consumer already executes
        (per-measure FILTER, consumer.rs:242-251) instead of an r8-style
        named fence.

        ResolvePivot emits ``Aggregate [gby] [gby, pivotfirst(pivotCol,
        value#ref, v1..vn)] <- Aggregate [gby, pivotCol] [...]``: the
        inner aggregate leaves exactly ONE row per (group, pivot value),
        so ``pivotfirst``'s slot i — "the value from the row where
        pivotCol = v_i" — equals ``max(value) FILTER (WHERE pivotCol <=>
        v_i)`` over the inner output, including missing-combination NULLs
        (max over the empty filtered set). The slots are emitted as plain
        measures and reassembled into the array the parent Project
        indexes (``__pivot_...[i]``) with Expression.Nested.List +
        ``array_get``; Catalyst's SimplifyExtractValueOps collapses the
        array back out of the consumed plan, leaving flat FILTER
        aggregates."""
        pf = agg_expr.aggregateFunction()
        if agg_expr.isDistinct() or _opt(agg_expr.filter()) is not None:
            raise SubstraitError(
                "pivotfirst with DISTINCT or FILTER has no lowering "
                "(Catalyst's ResolvePivot never emits one)")
        kids = _seq(pf.children())
        if len(kids) != 2:
            # the 3-child ordered form carries an orderColumn Spark only
            # uses for struct-reassembly of multi-agg pivots pre-3.0
            raise SubstraitError(
                f"pivotfirst with {len(kids)} children is not the "
                "2-child (pivotColumn, valueColumn) ResolvePivot shape")
        pivot_e, value_e = kids
        pdt = pivot_e.dataType().simpleString()
        # measure args/filters live in the input ordinal space — suspend
        # the output-space override (same rule as _measure)
        prev, self._override = self._override, None
        try:
            pivot_ref = self.rex(pivot_e, cids)
            value_ref = self.rex(value_e, cids)
        finally:
            self._override = prev
        slot_refs = []
        for v in _seq(pf.pivotColumnValues()):
            filt = proto.scalar_function(
                self.registry.register("is_not_distinct_from"),
                [pivot_ref, self._literal_value(v, pdt)])
            measure_nodes.append(self._NeverEqual)
            measures.append(proto.measure(
                self.registry.register("max"), [value_ref],
                filter_expr=filt))
            slot_refs.append(proto.field_ref(n_g + len(measures) - 1))
        return proto.nested_list(slot_refs)

    def _measure(self, agg_expr, cids) -> dict:
        # measure args/filters live in the aggregate's INPUT ordinal space —
        # the output-space override must not apply inside them
        prev, self._override = self._override, None
        try:
            return self._measure_inner(agg_expr, cids)
        finally:
            self._override = prev

    def _measure_inner(self, agg_expr, cids) -> dict:
        fn = agg_expr.aggregateFunction()
        pretty = fn.prettyName()
        name = ops.CATALYST_AGG_TO_NAME.get(pretty)
        if name is None:
            raise SubstraitError(
                f"unsupported aggregate function {pretty!r} "
                "(effective surface = DataFusion 15 from_str set, SURVEY.md §2.4)"
            )
        if pretty in ("first", "last", "first_value", "last_value") \
                and bool(fn.ignoreNulls()):
            # the flag is not in children(), so it cannot ride through the
            # plan as an argument; consuming would silently rebuild with
            # ignorenulls=False — translate-or-error, like the fences above
            raise SubstraitError(
                f"{pretty}(expr, ignoreNulls=true) has no Substrait encoding "
                "in the DataFusion-15 surface; rewrite without ignoreNulls"
            )
        args = [self.rex(c, cids) for c in _seq(fn.children())]
        filt = _opt(agg_expr.filter())
        if pretty in ("first", "last", "first_value",
                      "last_value") and filt is not None:
            # the measure-filter consume path rewrites fn(x) FILTER (WHERE p)
            # to fn(CASE WHEN p THEN x END), sound only for null-SKIPPING
            # aggregates; first/last keep nulls, so the rewrite would return
            # the first row's NULL instead of the first row passing p —
            # translate-or-error, like the ignoreNulls fence above
            raise SubstraitError(
                f"{pretty}(expr) FILTER (WHERE ...) has no sound Substrait "
                "measure-filter encoding (the CASE rewrite keeps non-passing "
                "rows visible to a null-keeping aggregate); rewrite the query"
            )
        return proto.measure(
            self.registry.register(name),
            args,
            distinct=agg_expr.isDistinct(),
            filter_expr=self.rex(filt, cids) if filt is not None else None,
        )

    _JOIN_TYPES = {
        "Inner": proto.JOIN_TYPE_INNER,
        "LeftOuter": proto.JOIN_TYPE_LEFT,
        "RightOuter": proto.JOIN_TYPE_RIGHT,
        "FullOuter": proto.JOIN_TYPE_OUTER,
        "LeftSemi": proto.JOIN_TYPE_SEMI,
        "LeftAnti": proto.JOIN_TYPE_ANTI,
        # cross join = inner join on TRUE (valid Substrait; reference rejects
        # non-equi joins, consumer.rs:289-313 — ours is a documented superset)
        "Cross": proto.JOIN_TYPE_INNER,
    }

    def _rel_Join(self, node, needed=None):
        jt = node.joinType().toString()
        join_type = self._JOIN_TYPES.get(jt)
        if join_type is None:
            raise SubstraitError(f"unsupported join type {jt} (producer.rs:378-391)")
        if needed is not None:
            wanted = needed | _refs(node)  # parent refs + ON-condition refs
            l_needed = wanted & set(_attr_ids(node.left()))
            r_needed = wanted & set(_attr_ids(node.right()))
        else:
            l_needed = r_needed = None
        l_rel, lids = self.rel(node.left(), l_needed)
        r_rel, rids = self.rel(node.right(), r_needed)
        cond = _opt(node.condition())
        # ON resolved against the combined left++right ordinal space
        # (≡ build_join_schema, consumer.rs:288-290)
        expr = (
            self.rex(cond, lids + rids)
            if cond is not None
            else proto.literal("boolean", True)
        )
        out_ids = lids if join_type in (proto.JOIN_TYPE_SEMI, proto.JOIN_TYPE_ANTI) \
            else lids + rids
        return proto.join_rel(l_rel, r_rel, expr, join_type,
                              hints=self._join_hints(node)), out_ids

    @staticmethod
    def _join_hints(node) -> tuple[str | None, str | None]:
        """Per-side join-strategy hints (r10): an explicit broadcast /
        merge / shuffle_hash / shuffle_replicate_nl hint is a plan
        decision the user made — dropping it silently rebuilt a shuffle
        join where a broadcast was demanded. Strategy.toString() IS the
        DataFrame.hint() name on rebuild."""
        out = []
        jh = node.hint()
        for side in (jh.leftHint(), jh.rightHint()):
            name = None
            if side.isDefined():
                st = side.get().strategy()
                if st.isDefined():
                    name = str(st.get().toString())
            out.append(name)
        return out[0], out[1]

    def _rel_Range(self, node, needed=None):
        """``spark.range`` / SQL range() → ExtensionLeafRel RangeRel (r10):
        four integers through the plan, zero inline data — the virtual-
        table alternative would inline end-start literal rows. numSlices
        rides only when the user pinned it."""
        slices = _opt(node.numSlices())
        rel = proto.range_rel(
            int(node.start()), int(node.end()), int(node.step()),
            None if slices is None else int(slices))
        return rel, _attr_ids(node)

    def _rel_Deduplicate(self, node, needed=None):
        # df.distinct() → AggregateRel grouping on all columns, zero measures
        # (≡ producer.rs:203-222). Optimizer usually rewrites this to
        # Aggregate already; handle the raw node for robustness.
        crel, cids = self.rel(node.child())
        keys = _ids_of(node.keys())
        if sorted(keys) != sorted(cids):
            raise SubstraitError(
                "dropDuplicates(subset) keeps an arbitrary row per key and has "
                "no deterministic Substrait encoding; only full distinct maps "
                "to group-by-all (producer.rs:203-222)"
            )
        groupings = [proto.field_ref(cids.index(k)) for k in keys]
        return proto.aggregate_rel(crel, groupings, []), keys

    def _rel_Expand(self, node, needed=None):
        """Bare Catalyst Expand (UNPIVOT, and any other row-replication
        outside the grouping-sets shape that _rel_Aggregate intercepts) —
        auto-lowered to the UNION-ALL-of-projections it is semantically:
        each Expand projection row becomes one ProjectRel branch over the
        SHARED child rel, combined with SetRel UNION ALL (exactly the
        manual spelling the r8 fence test pinned as the equivalent).
        Replaces the r8 named fence. The child rel is produced once and
        shared by every branch. On consume Spark plans one scan per
        branch, but each branch column-prunes to its own value column +
        the id columns, so total scan BYTES match the original Expand's
        single all-columns read — and the n× row multiplication is
        identical either way."""
        rows = [_seq(r) for r in _seq(node.projections())]
        out_ids = _attr_ids(node)
        if needed is not None:
            # push the parent's pruning through every branch (r10, ADVICE):
            # positions are aligned across projection rows, so dropping an
            # unneeded output drops one expression from each branch — and
            # with it any column the dropped expressions alone referenced,
            # shrinking every consumed branch scan. Keep position 0 if the
            # parent somehow needs nothing (an empty projection is invalid).
            keep = [i for i, oid in enumerate(out_ids) if oid in needed] \
                or [0]
            rows = [[r[i] for i in keep] for r in rows]
            out_ids = [out_ids[i] for i in keep]
        used = {eid for r in rows for e in r
                for eid in _ids_of(e.references().toSeq())}
        crel, cids = self.rel(node.child(), used or None)
        branches = [
            proto.project_rel(crel, [self.rex(e, cids) for e in row])
            for row in rows
        ]
        return proto.set_rel(branches, "SET_OP_UNION_ALL"), out_ids

    def _rel_Union(self, node, needed=None):
        # Substrait SetRel (spec §SetRel; NOT in the reference — extension).
        # ``needed`` is deliberately not propagated: this walks the
        # OPTIMIZED plan, where Catalyst's ColumnPruning has already pushed
        # a Project into every union branch (verified: a one-column select
        # over a union emits single-field scan masks per branch), so each
        # child subtree prunes itself; positional re-mapping of union
        # output ids onto per-child exprIds would duplicate that for
        # nothing.
        rels = [self.rel(child)[0] for child in _seq(node.children())]
        return proto.set_rel(rels, "SET_OP_UNION_ALL"), _attr_ids(node)

    _WINDOW_FN_NAMES = {
        "RowNumber": "row_number",
        "Rank": "rank",
        "DenseRank": "dense_rank",
        "PercentRank": "percent_rank",
        "CumeDist": "cume_dist",
        "NTile": "ntile",
        "Lag": "lag",
        "Lead": "lead",
        "NthValue": "nth_value",
    }

    def _rel_Window(self, node, needed=None):
        """Catalyst Window → ConsistentPartitionWindowRel (extension beyond
        the reference, which has no window surface — SURVEY.md §2.5).
        Catalyst already groups same-spec window expressions into one node
        and stacks nodes for differing specs, matching Substrait's
        one-spec-per-rel shape exactly. Output = child ++ window columns."""
        crel, cids = self.rel(
            node.child(), needed | _refs(node) if needed is not None else None
        )
        part = [self.rex(p, cids) for p in _seq(node.partitionSpec())]
        temporal_scale = self._temporal_range_scale(node)
        sorts = []
        for so in _seq(node.orderSpec()):
            direction = _SORT_DIRECTIONS[
                (so.direction().toString(), so.nullOrdering().toString())]
            key = self.rex(so.child(), cids)
            if temporal_scale is not None:
                # interval RANGE lowering (r12): wrap the temporal sort key
                # in unix_micros/unix_date so the frame distance becomes an
                # i64 the spec WindowBound can carry (see
                # _temporal_range_scale). The transform is monotone, so row
                # order — and every ROWS/ranking function in the same rel —
                # is unchanged.
                key = proto.scalar_function(
                    self.registry.register(
                        "unix_micros" if temporal_scale == "us"
                        else "unix_date"),
                    [key])
            sorts.append(proto.sort_field(key, direction))

        wfs = []
        out_ids = list(cids)
        for we in _seq(node.windowExpressions()):
            if _cls_fast(we) != "Alias" or \
                    _cls_fast(we.child()) != "WindowExpression":
                raise SubstraitError(
                    f"unsupported window output {_cls(we)}: {we.toString()}"
                )
            wexpr = we.child()
            fn = wexpr.windowFunction()
            kind = _cls_fast(fn)
            if kind == "AggregateExpression":
                if fn.isDistinct():
                    raise SubstraitError("DISTINCT window aggregates unsupported")
                inner = fn.aggregateFunction()
                name = ops.CATALYST_AGG_TO_NAME.get(inner.prettyName())
                if name is None:
                    raise SubstraitError(
                        f"unsupported window aggregate {inner.prettyName()!r}"
                    )
                if inner.prettyName() in ("first", "last",
                                          "first_value", "last_value") \
                        and bool(inner.ignoreNulls()):
                    # same fence as the aggregate-measure path: the flag has
                    # no Substrait encoding, and dropping it would silently
                    # return leading NULLs
                    raise SubstraitError(
                        f"window {inner.prettyName()}(expr, ignoreNulls=true) "
                        "has no Substrait encoding; rewrite without ignoreNulls"
                    )
                args = [self.rex(c, cids) for c in _seq(inner.children())]
            elif kind in self._WINDOW_FN_NAMES:
                name = self._WINDOW_FN_NAMES[kind]
                if kind in ("Lag", "Lead", "NthValue") \
                        and bool(fn.ignoreNulls()):
                    # translate-or-error: the consumer would rebuild with
                    # ignorenulls=False and silently return NULL rows
                    raise SubstraitError(
                        f"{kind} IGNORE NULLS has no Substrait encoding; "
                        "rewrite without IGNORE NULLS"
                    )
                if kind in ("Lag", "Lead"):
                    # children[1] is the user-facing positive offset (Lag's
                    # toString/frame show the negated internal form — do NOT
                    # re-negate)
                    children = _seq(fn.children())
                    args = [self.rex(children[0], cids),
                            proto.literal("i32", int(children[1].value())),
                            self.rex(children[2], cids)]
                elif kind == "NTile":
                    args = [self.rex(_seq(fn.children())[0], cids)]
                elif kind == "NthValue":
                    children = _seq(fn.children())
                    args = [self.rex(children[0], cids), self.rex(children[1], cids)]
                else:
                    # ranking functions: Catalyst keeps the order exprs as
                    # children for internal bookkeeping; Substrait takes none
                    args = []
            else:
                raise SubstraitError(f"unsupported window function {kind}")
            lb, ub, btype = self._frame(
                wexpr.windowSpec().frameSpecification(), temporal_scale)
            wfs.append(proto.window_function(
                self.registry.register(name), args, lb, ub, btype
            ))
            out_ids.append(we.exprId().id())
        return proto.window_rel(crel, wfs, part, sorts), out_ids

    def _temporal_range_scale(self, node) -> str | None:
        """Interval RANGE frame lowering (r12; was a producer fence).

        ``RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW`` over a
        timestamp order key has no direct encoding — the spec WindowBound
        carries only an i64 offset. But the semantics ARE losslessly
        i64-expressible: transform the sort key to epoch micros
        (``unix_micros``, a registered extension function any consumer can
        implement) and the bound to total microseconds — ``|unix_micros(a)
        - unix_micros(b)| <= X_us  ⟺  |a - b| <= INTERVAL X``, and the
        transform is monotone so row order is identical. DATE order keys
        use ``unix_date`` with whole-day offsets.

        Returns the bound scale ("us" | "days") when any window function
        in this rel carries a day-time-interval RANGE bound, else None
        (sorts stay untransformed). Named fences: multiple order keys
        (Spark itself rejects value-RANGE frames over them, so an analyzed
        plan here is malformed), TIMESTAMP_NTZ keys (lowering via a
        session-timezone cast would silently distort distances across DST
        transitions — the user must cast explicitly, making the timezone
        semantics theirs), and non-temporal keys. Year-month interval
        bounds stay fenced in ``_frame``: calendar months have no fixed
        microsecond width."""
        has_interval_range = False
        for we in _seq(node.windowExpressions()):
            if _cls_fast(we) != "Alias" or \
                    _cls_fast(we.child()) != "WindowExpression":
                continue  # the main loop raises its named error
            frame = we.child().windowSpec().frameSpecification()
            if _cls_fast(frame) != "SpecifiedWindowFrame" or \
                    _cls(frame.frameType()) == "RowFrame$":
                continue
            for b in (frame.lower(), frame.upper()):
                if _cls_fast(b) == "Literal" and \
                        _cls(b.dataType()).startswith("DayTimeIntervalType"):
                    has_interval_range = True
        if not has_interval_range:
            return None
        order = _seq(node.orderSpec())
        if len(order) != 1:
            raise SubstraitError(
                "interval RANGE frames require exactly one order key")
        kt = _cls(order[0].child().dataType())
        if kt == "TimestampType$":
            return "us"
        if kt == "DateType$":
            return "days"
        if kt == "TimestampNTZType$":
            raise SubstraitError(
                "interval RANGE frame over a TIMESTAMP_NTZ order key: the "
                "unix_micros lowering would bind the session timezone into "
                "the plan; cast the order key to TIMESTAMP explicitly to "
                "choose the timezone semantics")
        raise SubstraitError(
            f"interval RANGE frame over a non-temporal order key "
            f"({kt}) is not encodable")

    def _frame(self, frame,
               temporal_scale: str | None = None) -> tuple[dict, dict, str]:
        if _cls(frame) != "SpecifiedWindowFrame":
            raise SubstraitError(f"unsupported window frame {_cls(frame)}")
        btype = proto.BOUNDS_ROWS if _cls(frame.frameType()) == "RowFrame$" \
            else proto.BOUNDS_RANGE

        def bound(b):
            k = _cls(b)
            if k in ("UnboundedPreceding$", "UnboundedFollowing$"):
                return proto.bound_unbounded()
            if k == "CurrentRow$":
                return proto.bound_current_row()
            if k == "Literal":
                # WindowBound carries only an i64 offset. Integer-typed and
                # integral-VALUED fractional bounds (RANGE 5 PRECEDING over
                # a double order column arrives as Literal(5.0)) encode
                # losslessly; interval bounds (date/timestamp RANGE) and
                # fractional values (RANGE 2.5 PRECEDING) have no encoding
                # and must fence, not round to a wrong frame
                if "Interval" in _cls(b.dataType()):
                    dt = _cls(b.dataType())
                    if temporal_scale is not None and \
                            dt.startswith("DayTimeIntervalType"):
                        # r12: day-time interval bounds lower to an i64
                        # distance over the unix_micros/unix_date-wrapped
                        # sort key (see _temporal_range_scale) — exact,
                        # spec-conformant, NULL interval impossible post-
                        # analysis (frame bounds must be foldable non-null)
                        us = int(str(b.value()))
                        if temporal_scale == "days":
                            if us % 86_400_000_000:
                                raise SubstraitError(
                                    "sub-day interval RANGE bound over a "
                                    "DATE order key: the unix_date lowering "
                                    "carries whole-day distances only; cast "
                                    "the order key to TIMESTAMP for sub-day "
                                    "frames")
                            us //= 86_400_000_000
                        return proto.bound_preceding(-us) if us < 0 \
                            else proto.bound_following(us)
                    # year-month intervals shift by calendar months (no
                    # fixed-microsecond width); CalendarIntervalType mixes
                    # both components — neither has an i64 distance form
                    raise SubstraitError(
                        "interval RANGE bounds lower to i64 distances only "
                        "for day-time intervals over timestamp/date order "
                        f"keys; got {dt} — use a ROWS frame or pre-bucket "
                        "the time column"
                    )
                raw = b.value()
                try:
                    v = int(raw)
                    lossless = (v == raw or v == float(raw))
                except (TypeError, ValueError):
                    lossless = False
                if not lossless:
                    raise SubstraitError(
                        "window frame bound must be an integral literal; "
                        f"got {b.toString()} of {_cls(b.dataType())} "
                        "(interval/fractional RANGE bounds have no i64 "
                        "WindowBound encoding)"
                    )
                return proto.bound_preceding(-v) if v < 0 else proto.bound_following(v)
            raise SubstraitError(f"unsupported frame bound {k}")

        return bound(frame.lower()), bound(frame.upper()), btype

    # -- expressions --------------------------------------------------------

    def rex(self, e, input_ids: list[int], kind: str | None = None) -> dict:
        if kind is None:
            kind = _cls_fast(e)
        if self._override is not None:
            hit = self._override(e, kind)
            if hit is not None:
                return hit
        if kind == "AttributeReference":
            eid = _attr_eid(e)
            try:
                ordinal = input_ids.index(eid)
            except ValueError:
                raise SubstraitError(
                    f"column {e.name()}#{eid} not found in input ordinal space "
                    "(≡ producer.rs:532 index_of_column)"
                ) from None
            return proto.field_ref(ordinal)
        if kind == "Alias":  # stripped; names live in RelRoot (producer.rs:605)
            return self.rex(e.child(), input_ids)
        if kind == "Literal":
            return self._literal(e)
        if kind in ("Cast", "TryCast", "AnsiCast"):
            safe = kind == "TryCast"
            dt = e.dataType().simpleString()
            if "struct<" in dt:
                # Substrait Type.Struct carries NO field names, so a cast to
                # a struct — top-level or nested inside an array — would
                # consume back with renamed (f0..fn) members: silently
                # different schema. Translate-or-error.
                raise SubstraitError(
                    f"cast to struct-bearing type {dt!r} is not encodable: "
                    "Substrait struct types carry no field names, so the "
                    "names cannot survive the plan boundary"
                )
            return proto.cast(
                self.rex(e.child(), input_ids),
                self._type(dt),
                safe=safe,
            )
        if kind == "CheckOverflow":  # decimal-arithmetic guard → explicit cast
            return proto.cast(
                self.rex(e.child(), input_ids),
                self._type(e.dataType().simpleString()),
            )
        if kind in ("KnownFloatingPointNormalized", "NormalizeNaNAndZero",
                    "PromotePrecision", "KnownNotNull",
                    "KnownNotContainsNull"):
            return self.rex(e.child(), input_ids)
        if kind == "CaseWhen":
            ifs = [
                (self.rex(t._1(), input_ids), self.rex(t._2(), input_ids))
                for t in _seq(e.branches())
            ]
            els = _opt(e.elseValue())
            return proto.if_then(
                ifs, self.rex(els, input_ids) if els is not None else None
            )
        if kind == "If":
            return proto.if_then(
                [(self.rex(e.predicate(), input_ids),
                  self.rex(e.trueValue(), input_ids))],
                self.rex(e.falseValue(), input_ids),
            )
        if kind == "Not":
            inner = e.child()
            neg = ops.CATALYST_NOT_TO_NAME.get(_cls_fast(inner))
            if neg is not None:
                return self._binary(neg, inner, input_ids)
            return proto.scalar_function(
                self.registry.register("not"), [self.rex(inner, input_ids)]
            )
        if kind == "ScalarSubquery":
            return self._scalar_subquery(e)
        if kind == "GetStructField" and _cls_fast(e.child()) == "ScalarSubquery":
            # Spark 4 wraps subquery output in a struct access; Catalyst's
            # MergeScalarSubqueries also packs SEVERAL subqueries into one
            # struct — each field access becomes its own 1-column subquery
            return self._scalar_subquery(e.child(), int(e.ordinal()))
        if kind == "CreateArray":
            return proto.nested_list(
                [self.rex(c, input_ids) for c in _seq(e.children())]
            )
        if kind in ("Murmur3Hash", "XxHash64"):
            # seed is a node FIELD; SQL hash()/xxhash64() always use 42 —
            # any other seed (internal shuffle-hash shapes) cannot ride
            if int(e.seed()) != 42:
                raise SubstraitError(
                    f"{kind} with non-default seed {e.seed()} has no "
                    "encoding (SQL hash functions pin seed 42)")
            return proto.scalar_function(
                self.registry.register(
                    "murmur3_hash" if kind == "Murmur3Hash" else "xxhash64"),
                [self.rex(c, input_ids) for c in _seq(e.children())],
            )
        if kind == "In":
            return proto.singular_or_list(
                self.rex(e.value(), input_ids),
                [self.rex(x, input_ids) for x in _seq(e.list())],
            )
        if kind == "InSet":
            return self._inset(e, input_ids)
        if kind == "NamedLambdaVariable":
            eid = _attr_eid(e)
            for depth, frame in enumerate(reversed(self._lambda_stack)):
                if eid in frame:
                    return proto.scalar_function(
                        self.registry.register("lambda_var"),
                        [proto.literal("i32", depth),
                         proto.literal("i32", frame.index(eid))],
                    )
            raise SubstraitError(
                f"lambda variable {e.name()}#{eid} referenced outside its "
                "enclosing lambda")
        if kind in ("TimestampAddYMInterval", "DateAddYMInterval"):
            # ts/date ± year-month INTERVAL (r11): Catalyst value is TOTAL
            # MONTHS; rides as Literal.intervalYearToMonth on the spec
            # datetime "add" (calendar-shift semantics are rebuilt
            # natively by make_ym_interval on consume; date + ym stays
            # DATE, timestamp + ym stays timestamp — Spark's own rules).
            right = e.right()
            if _cls_fast(right) != "Literal" or right.value() is None:
                raise SubstraitError(
                    "timestamp/date + year-month interval requires a "
                    "literal interval to encode")
            months = int(str(right.value()))
            sign = -1 if months < 0 else 1
            y, m = divmod(abs(months), 12)
            return proto.scalar_function(
                self.registry.register("add"),
                [self.rex(e.left(), input_ids),
                 {"literal": {"intervalYearToMonth": {
                     "years": sign * y, "months": sign * m}}}])
        if kind == "TimestampAddInterval":
            # ts ± INTERVAL (r11, surfaced by the differential date tier):
            # Catalyst holds the interval as a Literal of
            # DayTimeIntervalType whose value is TOTAL MICROSECONDS
            # (negative for minus). Rides as the spec datetime "add" with
            # a Literal.intervalDayToSecond — sign-consistent
            # (days, seconds, microseconds) decomposition.
            right = e.right()
            # any DayTimeIntervalType start field qualifies: simpleString
            # is "interval day[ to x]" but also "interval hour/minute/
            # second[ to x]" — all carry a total-microseconds value
            # (review catch r11: the 'interval day' prefix rejected
            # INTERVAL 3 HOUR). Year-month prefixes are the other node.
            rdt = right.dataType().simpleString()
            if rdt == "interval":
                # CalendarIntervalType (r12, ADVICE): Spark 4.1's
                # TimestampAddInterval also accepts it (e.g. a constant-
                # folded make_interval(...)); its value mixes months AND
                # microseconds, so it has no fixed-microsecond form and
                # int(value) would raise a raw ValueError instead of the
                # named fence below
                raise SubstraitError(
                    "timestamp + interval with a CalendarIntervalType "
                    "literal is not encodable: a calendar interval mixes "
                    "month and microsecond components (use a day-time "
                    "interval literal)")
            if _cls(right) != "Literal" or right.value() is None or \
                    not rdt.startswith("interval") or \
                    rdt.startswith(("interval year", "interval month")):
                raise SubstraitError(
                    "timestamp + interval requires a literal day-time "
                    "interval to encode (year-month intervals shift by "
                    "calendar months and have no fixed-microsecond form)")
            total_us = int(str(right.value()))
            sign = -1 if total_us < 0 else 1
            a_us = abs(total_us)
            days, rem = divmod(a_us, 86_400_000_000)
            secs, us = divmod(rem, 1_000_000)
            return proto.scalar_function(
                self.registry.register("add"),
                [self.rex(e.left(), input_ids),
                 {"literal": {"intervalDayToSecond": {
                     "days": sign * days, "seconds": sign * secs,
                     "microseconds": sign * us}}}])
        name = ops.CATALYST_HOF_TO_NAME.get(kind)
        if name is not None:
            return self._hof(name, e, input_ids)
        name = ops.CATALYST_BINARY_TO_NAME.get(kind)
        if name is not None:
            return self._binary(name, e, input_ids)
        name = ops.CATALYST_UNARY_TO_NAME.get(kind)
        if name is not None:
            children = _seq(e.children())  # generic accessor: StringTrim etc.
            if len(children) != 1:        # have srcStr/trimStr, not child()
                raise SubstraitError(
                    f"{kind} with {len(children)} args unsupported "
                    f"(only the unary form maps to {name!r})"
                )
            return proto.scalar_function(
                self.registry.register(name), [self.rex(children[0], input_ids)]
            )
        name = ops.CATALYST_NARY_TO_NAME.get(kind)
        if name is not None:
            return proto.scalar_function(
                self.registry.register(name),
                [self.rex(c, input_ids) for c in _seq(e.children())],
            )
        raise SubstraitError(
            f"unsupported expression {kind}: {e.toString()} "
            "(≡ producer.rs:606-609 catch-all)"
        )

    def _scalar_subquery(self, sq, field_ordinal: int | None = None) -> dict:
        """Uncorrelated scalar subquery → Expression.Subquery.Scalar
        (extension; the reference has no subquery surface, SURVEY.md §2.5).

        ``field_ordinal`` handles the MergeScalarSubqueries shape — a root
        ``Project [named_struct(n0, v0, n1, v1, …)]`` — by emitting a
        subquery that projects only ``v_i``; the shared child aggregate
        appears once per field in the plan, and Spark's exchange reuse
        de-duplicates it at execution."""
        if sq.outerAttrs().size() > 0:
            raise SubstraitError(
                "correlated scalar subquery unsupported (only uncorrelated "
                "subqueries have a self-contained plan to serialize)"
            )
        # the subquery plan is self-contained: suspend any aggregate-output
        # override while producing it
        prev, self._override = self._override, None
        try:
            plan = sq.plan()
            if field_ordinal is not None and _cls(plan) == "Project":
                outs = _seq(plan.projectList())
                inner = outs[0].child() if _cls(outs[0]) == "Alias" else outs[0]
                if len(outs) == 1 and _cls(inner) == "CreateNamedStruct":
                    crel, cids = self.rel(plan.child())
                    vals = _seq(inner.children())[1::2]  # (name, val) pairs
                    return proto.scalar_subquery(
                        proto.project_rel(crel, [self.rex(vals[field_ordinal], cids)])
                    )
            sub_rel, _ = self.rel(plan)
        finally:
            self._override = prev
        return proto.scalar_subquery(sub_rel)

    _TRY_ARITH = {"add": "try_add", "subtract": "try_subtract",
                  "multiply": "try_multiply", "divide": "try_divide",
                  "mod": "try_mod"}

    def _hof(self, name: str, e, input_ids) -> dict:
        """Higher-order function call (r10): children in Catalyst order —
        data arguments produce normally, each LambdaFunction child rides as
        the ``lambda(n_params, body)`` extension call (see
        ops.CATALYST_HOF_TO_NAME). The consumer rebuilds via the matching
        pyspark.sql.functions builder, so the consumed plan is the SAME
        codegen HOF — no interpreted path is introduced."""
        if name == "exists" and not bool(e.followThreeValuedLogic()):
            # the flag is a node FIELD tied to a legacy session conf; the
            # consumer rebuilds F.exists with the session default (3VL on),
            # so the legacy two-valued form would silently change NULL
            # handling — translate-or-error, like the other field fences
            raise SubstraitError(
                "exists() with followThreeValuedLogic=false (legacy conf) "
                "has no Substrait encoding")
        args = []
        for c in _seq(e.children()):
            if _cls_fast(c) == "LambdaFunction":
                args.append(self._lambda(c, input_ids))
            else:
                args.append(self.rex(c, input_ids))
        return proto.scalar_function(self.registry.register(name), args)

    def _lambda(self, lf, input_ids) -> dict:
        if bool(lf.hidden()):
            # `hidden` marks analyzer-internal variables not bound to a
            # declared parameter slot; consuming positionally would bind
            # the wrong columns
            raise SubstraitError("hidden LambdaFunction has no encoding")
        params = _ids_of(lf.arguments())
        self._lambda_stack.append(params)
        try:
            body = self.rex(lf.function(), input_ids)
        finally:
            self._lambda_stack.pop()
        return proto.scalar_function(
            self.registry.register("lambda"),
            [proto.literal("i32", len(params)), body])

    def _binary(self, name: str, e, input_ids) -> dict:
        if name in ("add", "subtract", "multiply", "divide", "mod", "div"):
            # Spark 4 arithmetic carries evalMode (LEGACY/ANSI/TRY) as a
            # node FIELD, not a child: try_divide(a, b) is Divide with
            # evalMode=TRY. Producing it as plain "divide" would silently
            # swap NULL-on-error for throw-on-error — translate to the
            # try_* name (or error for the one form with no builder).
            mode = e.evalMode().toString()
            if mode == "TRY":
                tname = self._TRY_ARITH.get(name)
                if tname is None:
                    raise SubstraitError(
                        "TRY-mode integral divide has no try_div builder "
                        "to consume with; rewrite without try semantics")
                name = tname
        if name == "array_get" and bool(e.failOnError()):
            # GetArrayItem carries failOnError as a node FIELD (true by
            # default under Spark 4 ANSI mode). We consume array_get as
            # F.get (NULL on out-of-bounds), so producing the strict form
            # as array_get would silently swap throw-on-OOB for NULL — the
            # same silent-semantics swap the ElementAt/TRY fences prevent.
            # For a literal non-negative ordinal (every ``arr[i]`` in SQL,
            # incl. the PIVOT slot extraction) the strict 0-based form is
            # EXACTLY strict 1-based element_at(arr, i+1) — both throw on
            # OOB and on NULL-free in-bounds agree — so produce that;
            # anything else (dynamic ordinal) has no faithful encoding.
            right = e.right()
            if _cls_fast(right) == "Literal" and right.value() is not None:
                ordinal = int(str(right.value()))
                if ordinal >= 0:
                    return proto.scalar_function(
                        self.registry.register("element_at"),
                        [self.rex(e.left(), input_ids),
                         proto.literal("i32", ordinal + 1)],
                    )
                raise SubstraitError(
                    f"ANSI-mode arr[{ordinal}] (GetArrayItem "
                    "failOnError=true, negative literal ordinal — always "
                    "out of bounds) has no faithful Substrait encoding; "
                    "strict element_at counts negatives from the END")
            raise SubstraitError(
                "ANSI-mode arr[i] (GetArrayItem failOnError=true) with a "
                "non-literal ordinal has no faithful Substrait encoding; "
                "use get()/try_element_at for NULL-on-OOB semantics")
        if name == "element_at":
            default = _opt(e.defaultValueOutOfBound())
            if default is not None:
                # split_part desugars to ElementAt(split(s, d, -1), n, '')
                # — the OOB default is a node FIELD with no Substrait slot.
                # r11 (surfaced by the widened differential fuzzer): for a
                # literal non-zero ordinal over an ARRAY the node is
                # exactly expressible with existing spec ops:
                #   CASE WHEN arr IS NULL THEN NULL
                #        WHEN size(arr) >= |n| THEN element_at(arr, n)
                #        ELSE default END
                # First arm: a NULL input propagates NULL (ElementAt is
                # null-intolerant), never the default — without it,
                # size(NULL) is NULL and the CASE would fall through to
                # the default, silently rewriting split_part(NULL,..)=''.
                # Second arm is guaranteed in-bounds, where strict and
                # lenient element_at agree (negative n counts from the
                # end on both sides of the boundary).
                right = e.right()
                if not e.left().dataType().simpleString().startswith("array"):
                    raise SubstraitError(
                        "element_at with an out-of-bounds default is only "
                        "encodable over arrays")
                if _cls_fast(right) != "Literal" or right.value() is None:
                    raise SubstraitError(
                        "element_at with an out-of-bounds default needs a "
                        "literal non-null ordinal to encode (the in-bounds "
                        "guard must be computable)")
                ordinal = int(str(right.value()))
                if ordinal == 0:
                    raise SubstraitError(
                        "element_at(arr, 0, default) always errors in "
                        "Spark (index 0); refusing to encode the default "
                        "as its value")
                arr = self.rex(e.left(), input_ids)
                reg = self.registry.register
                return proto.if_then(
                    [
                        (proto.scalar_function(reg("is_null"), [arr]),
                         proto.null_literal(self._type(
                             e.dataType().simpleString()))),
                        (proto.scalar_function(reg("gte"), [
                            proto.scalar_function(reg("size"), [arr]),
                            proto.literal("i32", abs(ordinal))]),
                         proto.scalar_function(reg("element_at"), [
                             arr, self.rex(right, input_ids)])),
                    ],
                    self.rex(default, input_ids),
                )
            if not bool(e.failOnError()):
                # try_element_at: NULL-on-OOB rides the failOnError FIELD;
                # producing as plain element_at would rebuild the strict
                # ANSI form (throw-on-OOB) — the same silent
                # NULL→throw swap the TRY-arithmetic fence prevents
                name = "try_element_at"
        if name == "string_split":
            # literal-delimiter split (StringSplitSQL): the consumer
            # rebuilds it as a \Q..\E-quoted regex split, which needs the
            # delimiter as a plan-time string — fence what can't rebuild
            right = e.right()
            if _cls_fast(right) != "Literal" or right.value() is None:
                raise SubstraitError(
                    "string_split (split_part) requires a literal non-null "
                    "delimiter to encode")
            if str(right.value()) == "" or "\\E" in str(right.value()):
                raise SubstraitError(
                    "string_split delimiter is empty or contains \\E — "
                    "not regex-quotable for the consume-side rebuild")
        if name in ("regex_match", "regex_not_match"):
            # Spark has no case-insensitive RLike operator class; a literal
            # "(?i)"-prefixed pattern IS the case-insensitive form, so strip
            # the flag and produce the reference's imatch pair
            # (consumer.rs:56-59, producer.rs:305-308) — the consumer
            # re-prepends "(?i)" on rebuild.
            right = e.right()
            if _cls_fast(right) == "Literal":
                pat = right.value()
                pat = None if pat is None else str(pat)
                if pat is not None and pat.startswith("(?i)") \
                        and "(?" not in pat[4:]:
                    iname = name.replace("match", "imatch")
                    return proto.scalar_function(
                        self.registry.register(iname),
                        [self.rex(e.left(), input_ids),
                         proto.literal("string", pat[4:])],
                    )
        return proto.scalar_function(
            self.registry.register(name),
            [self.rex(e.left(), input_ids), self.rex(e.right(), input_ids)],
        )

    def _inset(self, e, input_ids) -> dict:
        child = e.child()
        dt = child.dataType().simpleString()
        it = e.hset().iterator()
        options = []
        while it.hasNext():
            options.append(self._literal_value(it.next(), dt))
        # stable plan bytes: InSet's hash-set iteration order is unspecified
        options.sort(key=lambda d: str(sorted(d["literal"].items())))
        return proto.singular_or_list(self.rex(child, input_ids), options)

    # -- literals (producer.rs:576-655) -------------------------------------

    def _literal(self, e) -> dict:
        dt = e.dataType().simpleString()
        v = e.value()
        if v is None:
            return proto.null_literal(self._type(dt))
        if dt.startswith("array<") and dt.endswith(">"):
            # constant-folded array literal (e.g. array('x') under concat)
            # → Expression.Nested.List of element literals; ArrayData
            # implements the same SpecializedGetters as InternalRow, so
            # the LocalRelation getter table is reused
            inner = dt[6:-1]
            getter = self._ROW_GETTERS.get(inner)
            dm = _DECIMAL_RE.match(inner)
            if getter is None and dm:
                # same decimal fallback as the LocalRelation rows above
                getter = lambda a, i, _dm=dm: a.getDecimal(  # noqa: E731
                    i, int(_dm.group(1)), int(_dm.group(2))
                ).toJavaBigDecimal()
            if getter is None:
                raise SubstraitError(
                    f"unsupported array-literal element type {inner!r}")
            if v.numElements() == 0:
                raise SubstraitError(
                    "empty array literal has no element to carry its type "
                    "through Nested.List; rewrite without the fold")
            return proto.nested_list([
                proto.null_literal(self._type(inner))
                if v.isNullAt(i) else self._literal_value(getter(v, i), inner)
                for i in range(v.numElements())
            ])
        return self._literal_value(v, dt)

    def _literal_value(self, v, dt: str) -> dict:
        if v is None:
            return proto.null_literal(self._type(dt))
        if dt == "tinyint":
            return proto.literal("i8", int(v))
        if dt == "smallint":
            return proto.literal("i16", int(v))
        if dt == "int":
            return proto.literal("i32", int(v))
        if dt == "bigint":
            return proto.literal("i64", int(v))
        if dt == "boolean":
            return proto.literal("boolean", bool(v))
        if dt == "float":
            return proto.literal("fp32", float(v))
        if dt == "double":
            return proto.literal("fp64", float(v))
        if dt == "string":
            return proto.literal("string", v if isinstance(v, str) else v.toString())
        if dt == "date":  # Date32 epoch-days (producer.rs:594)
            return proto.literal("date", int(v))
        if dt == "timestamp":  # UTC instant, micros
            return proto.literal("timestampTz", int(v))
        if dt == "timestamp_ntz":
            return proto.literal("timestamp", int(v))
        if dt == "binary":
            return proto.literal("binary", base64.b64encode(bytes(v)).decode("ascii"))
        m = _DECIMAL_RE.match(dt)
        if m:
            # 16-byte little-endian two's-complement unscaled value, exactly the
            # reference's i128::to_le_bytes wire format (producer.rs:585-589)
            precision, scale = int(m.group(1)), int(m.group(2))
            if not isinstance(v, decimal.Decimal):
                # org.apache.spark.sql.types.Decimal → java BigDecimal, which
                # py4j auto-converts to python decimal.Decimal
                v = v.toJavaBigDecimal()
            # exact: the default context rounds to 28 significant digits
            unscaled = int(decimal.Decimal(v).scaleb(
                scale, decimal.Context(prec=80)))
            return proto.literal(
                "decimal",
                {
                    "value": base64.b64encode(
                        unscaled.to_bytes(16, "little", signed=True)
                    ).decode("ascii"),
                    "precision": precision,
                    "scale": scale,
                },
            )
        raise SubstraitError(
            f"unsupported literal type {dt!r} (≡ producer.rs:595 catch-all)"
        )
