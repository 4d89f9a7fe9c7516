"""Producer: Spark DataFrame → Substrait-shaped plan.

≡ ``to_substrait_plan`` (producer.rs:37-62). The reference walks DataFusion's
*optimized* ``LogicalPlan`` (it errors if column pruning hasn't run,
producer.rs:111-115); we translate Catalyst's optimized logical plan, so
Catalyst's column pruning, constant folding and filter pushdown are inherited
the same way.

The plan is read from the JVM in one piece: ``PlanEncoder.java`` (next to
this module, compiled once per JVM with Janino) writes the whole optimized
plan as one JSON text, fetched in parts that each fit py4j's reply buffer.
The translation then runs over ``_Node`` views of that text, whose accessors
keep Catalyst's names (``node.child()``, ``e.evalContext()``).

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
import math
import os
import re
import threading

from pyspark.sql import DataFrame

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


def _day_time(t: str) -> bool:
    """Whether a Spark type string names a day-time interval (``interval
    day``, ``interval hour to second`` …): its values are total
    microseconds. Year-month intervals count months; the calendar
    ``interval`` mixes both."""
    return t.startswith("interval ") and \
        not t.startswith(("interval year", "interval month"))


def _day_time_literal(total_us: int) -> dict:
    """Literal.intervalDayToSecond of a day-time interval's total
    microseconds: a sign-consistent (days, seconds, microseconds)."""
    sign = -1 if total_us < 0 else 1
    days, rem = divmod(abs(total_us), 86_400_000_000)
    secs, us = divmod(rem, 1_000_000)
    return {"literal": {"intervalDayToSecond": {
        "days": sign * days, "seconds": sign * secs,
        "microseconds": sign * us}}}


# ---------------------------------------------------------------------------
# the bulk read
# ---------------------------------------------------------------------------

_ENCODER_SOURCE = os.path.join(os.path.dirname(__file__), "PlanEncoder.java")
_encoders: dict = {}  # py4j gateway client → PlanEncoder instance
_compile_lock = threading.Lock()


def _encoder(session):
    """The ``PlanEncoder`` of ``session``'s JVM, compiled on first use (about
    0.3 s, once per JVM) so that it never lands in session set-up."""
    jvm = session._jvm
    key = jvm._gateway_client
    enc = _encoders.get(key)
    if enc is None:
        with _compile_lock:
            enc = _encoders.get(key)
            if enc is None:
                with open(_ENCODER_SOURCE) as fh:
                    source = fh.read()
                compiler = jvm.org.codehaus.janino.SimpleCompiler()
                compiler.setParentClassLoader(
                    jvm.org.apache.spark.util.Utils
                    .getContextOrSparkClassLoader())
                compiler.cook(source)
                enc = compiler.getClassLoader().loadClass(
                    "PlanEncoder").newInstance()
                _encoders[key] = enc
    return enc


class _Node:
    """A plan or expression node of the dump. A constructor field reads as
    Catalyst's accessor does (``node.projectList()``, ``getattr(node,
    "global")()``); ``child``/``left``/``right`` are the first and second
    children, as for Catalyst's unary and binary nodes. The encoder's
    additions are attributes: ``kind`` (productPrefix), ``dtype`` (the
    type's catalogString), ``eid`` (exprId), ``pretty`` (an aggregate
    function's prettyName) and ``sem`` (equal ids ⇔ semanticEquals)."""

    __slots__ = ("_d",)

    def __init__(self, d: dict) -> None:
        self._d = d

    def __getattr__(self, name):
        try:
            v = self._d[name]
        except KeyError:
            raise AttributeError(
                f"{self._d['#k']} has no field {name!r}") from None
        return lambda: v

    kind = property(lambda self: self._d["#k"])
    dtype = property(lambda self: self._d.get("#t"))
    eid = property(lambda self: self._d["#i"])
    pretty = property(lambda self: self._d["#p"])
    sem = property(lambda self: self._d.get("#s"))

    def children(self) -> list:
        return self._d.get("#c", [])

    def child(self):
        return self._d["#c"][0]

    def left(self):
        return self._d["#c"][0]

    def right(self):
        return self._d["#c"][1]

    def output(self) -> list:
        """A plan's output as [name, exprId, type] triples."""
        return self._d["#o"]

    def references(self) -> list[int]:
        return self._d["#r"]


class _Ref:
    __slots__ = ("i",)

    def __init__(self, i: int) -> None:
        self.i = i


def _resolve(v, children):
    if isinstance(v, _Ref):
        return children[v.i]
    if isinstance(v, list):
        return [_resolve(x, children) for x in v]
    return v


def _hook(d: dict):
    """json object hook: nodes become ``_Node`` and a field holding one of
    the node's children (``{"#": i}``) becomes that child."""
    if "#k" in d:
        kids = d.get("#c")
        if kids:
            for k, v in d.items():
                if k[0] != "#":
                    d[k] = _resolve(v, kids)
        return _Node(d)
    if "#" in d:
        return _Ref(d["#"])
    return d


def _read(df: DataFrame) -> tuple[list[str], _Node]:
    """(column names, optimized plan) of ``df`` in 1 + parts py4j calls."""
    parts = _encoder(df.sparkSession).optimizedPlan(df._jdf)
    count, _, text = parts.part(0).partition(":")
    if int(count) > 1:
        text += "".join(parts.part(i) for i in range(1, int(count)))
    dump = json.loads(text, object_hook=_hook)
    return dump["names"], dump["plan"]


def _ids(attrs) -> list[int]:
    """exprIds of an ``output()``."""
    return [eid for _, eid, _ in attrs]


# ---------------------------------------------------------------------------


def to_substrait_plan(df: DataFrame) -> dict:
    """DataFrame → plan dict (≡ producer.rs:37-62). Root carries the
    DataFrame's user-visible column names (RelRoot.names, producer.rs:45-50).

    Spark Connect constraint: this needs the driver-side Catalyst
    optimized plan via py4j (``df._jdf``), which a Connect session's
    DataFrame does not expose — the client holds only an unresolved proto
    plan; analysis and optimization happen server-side. Rather than an
    opaque ``AttributeError`` deep in the read, detect Connect up front
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
    names, plan = _read(df)
    producer = _Producer()
    rel, _ = producer.rel(plan)
    return proto.plan(rel, names, producer.registry.declarations())


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
        kind = node.kind
        handler = getattr(self, f"_rel_{kind}", None)
        if handler is None:
            raise SubstraitError(
                f"unsupported logical operator {kind} "
                "(≡ producer.rs:281-285 catch-all)"
            )
        return handler(node, needed)

    def _rel_LogicalRelation(self, node, needed=None, mask_ids=None):
        table = node.catalogTable()
        if table is not None:
            table_names = table.split(".")
        else:
            relation = node.relation()
            if relation.kind != "HadoopFsRelation":
                raise SubstraitError(f"unsupported relation {relation.kind}")
            paths = relation.rootPaths()
            if len(paths) != 1:
                raise SubstraitError("multi-path scans not nameable as NamedTable")
            table_names = [catalog.table_name_for_path(paths[0])]
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
        """(names, substrait types, exprIds) of a scan's output."""
        out = node.output()
        return ([n for n, _, _ in out], [self._type(t) for _, _, t in out],
                _ids(out))

    def _rel_LocalRelation(self, node, needed=None):
        """Catalyst LocalRelation → ReadRel{virtualTable}. This is how
        constant-folded-away subtrees arrive (an always-false predicate
        optimizes the whole branch to an EMPTY LocalRelation — found by the
        SQL fuzzer) as well as inline ``VALUES`` lists. The reference has no
        virtual-table read (consumer.rs:371-373); the Substrait spec does."""
        out = node.output()
        dts = [t for _, _, t in out]
        types = [self._type(dt) for dt in dts]
        rows = [[self._literal_value(v, dt) for v, dt in zip(row, dts)]
                for row in node.data()]
        return (proto.virtual_table_read_rel([n for n, _, _ in out], types,
                                             rows), _ids(out))

    def _rel_OneRowRelation(self, node, needed=None):
        # SELECT <literals> with no FROM: one zero-column row
        return proto.virtual_table_read_rel([], None, [[]]), []

    def _rel_SubqueryAlias(self, node, needed=None):
        # aliases have no Substrait counterpart; skip (producer.rs:276-280)
        return self.rel(node.child(), needed)

    def _rel_Project(self, node, needed=None):
        exprs = node.projectList()
        child = node.child()
        # pure column selection directly over a scan folds into the ReadRel
        # projection mask (≡ producer.rs:74-116 requiring scan projection)
        if child.kind == "LogicalRelation" and all(
            e.kind == "AttributeReference" for e in exprs
        ):
            return self._rel_LogicalRelation(
                child, mask_ids=[e.eid for e in exprs])
        crel, cids = self.rel(child, set(node.references()))
        out_ids = []
        expressions = []
        for e in exprs:
            expressions.append(self.rex(e, cids))
            out_ids.append(self._named_out_id(e))
        return proto.project_rel(crel, expressions), out_ids

    def _named_out_id(self, e) -> int:
        """Output exprId for a NamedExpression slot: the attribute's or
        alias's own id, or a fresh sentinel for anonymous expressions."""
        if e.kind in ("AttributeReference", "Alias"):
            return e.eid
        return self._fresh_id()

    def _rel_Filter(self, node, needed=None):
        crel, cids = self.rel(
            node.child(),
            needed | set(node.references()) if needed is not None else None
        )
        cond = self.rex(node.condition(), cids)
        return proto.filter_rel(crel, cond), cids

    def _rel_Sort(self, node, needed=None):
        crel, cids = self.rel(
            node.child(),
            needed | set(node.references()) if needed is not None else None
        )
        sorts = []
        for so in node.order():
            direction = _SORT_DIRECTIONS[(so.direction(), so.nullOrdering())]
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
        if inner.kind == "Offset":
            offset = inner.offsetExpr().value()
            inner = inner.child()
        if inner.kind == "LocalLimit":
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
        if node.child().kind == "Expand" and \
                self._is_grouping_sets_expand(node.child()):
            # GROUPING SETS / ROLLUP / CUBE → native multi-grouping
            # AggregateRel. An Expand that is NOT the grouping-sets shape
            # (no synthetic grouping-id column — e.g. aggregate over
            # UNPIVOT, or a user column merely NAMED spark_grouping_id)
            # falls through to the generic path, where _rel_Expand (r9)
            # produces it as UNION-ALL-of-projections under a plain
            # aggregate.
            return self._rel_Aggregate_grouping_sets(node)
        crel, cids = self.rel(node.child(), set(node.references()))
        g_exprs = node.groupingExpressions()
        a_exprs = node.aggregateExpressions()
        groupings = [self.rex(g, cids) for g in g_exprs]
        n_g = len(g_exprs)

        # grouping-slot matching: when every grouping is a plain attribute
        # (the overwhelmingly common GROUP BY columns shape), attribute
        # identity IS semantic equality (AttributeReference.semanticEquals
        # compares exprIds), so matching is one dict probe on the exprId.
        # Aliases/strip-wrappers over a grouping attr reach the same
        # field_ref through rex's own recursion (it unwraps them and
        # re-consults the override), so the emitted tree is unchanged.
        # Otherwise the encoder gave every expression of this Aggregate a
        # semantic class id (``sem``).
        g_attr_ids: dict[int, int] | None = None
        if all(g.kind == "AttributeReference" for g in g_exprs):
            g_attr_ids = {}
            for j, g in enumerate(g_exprs):
                g_attr_ids.setdefault(g.eid, j)

        def agg_override(e):
            if e.kind == "AggregateExpression":
                if e.aggregateFunction().kind == "PivotFirst":
                    return self._lower_pivot_first(
                        e, cids, n_g, measures, measure_sems)
                return self._measure_ref(e, cids, n_g, measures, measure_sems)
            if g_attr_ids is not None:
                if e.kind != "AttributeReference":
                    return None
                j = g_attr_ids.get(e.eid)
                return proto.field_ref(j) if j is not None else None
            for j, g in enumerate(g_exprs):
                if g.sem is not None and g.sem == e.sem:
                    return proto.field_ref(j)
            return None

        measures: list[dict] = []
        measure_sems: list = []
        out_exprs: list[dict] = []
        out_ids: list[int] = []
        prev_override = self._override
        self._override = agg_override
        try:
            for e in a_exprs:
                out_exprs.append(self.rex(e, cids))
                out_ids.append(self._named_out_id(e))
        finally:
            self._override = prev_override

        rel = proto.aggregate_rel(crel, groupings, measures)
        identity = [proto.field_ref(i) for i in range(n_g + len(measures))]
        if out_exprs != identity:
            rel = proto.project_rel(rel, out_exprs)
        return rel, out_ids

    def _measure_ref(self, e, cids, n_g, measures, sems) -> dict:
        """Field ref to the measure of AggregateExpression ``e`` in the
        (groupings ++ measures) space; the measure is added unless a
        semantically equal one is already there (``sems`` holds each
        measure's semantic class, None for synthesized ones)."""
        if e.sem in sems:
            return proto.field_ref(n_g + sems.index(e.sem))
        sems.append(e.sem)
        measures.append(self._measure(e, cids))
        return proto.field_ref(n_g + len(measures) - 1)

    @staticmethod
    def _is_grouping_sets_expand(ex) -> bool:
        """True iff ``ex`` is Catalyst's grouping-sets Expand: exactly one
        output named ``spark_grouping_id`` AND every projection row holds
        a non-null integer literal in that slot (the per-set bitmask).
        Name alone is not enough — a USER column named spark_grouping_id
        (e.g. as an UNPIVOT key) would misroute into the grouping-sets
        reconstruction and die in ``int()`` instead of taking the r9
        Expand lowering."""
        out_names = [n for n, _, _ in ex.output()]
        if out_names.count("spark_grouping_id") != 1:
            return False
        gid_pos = out_names.index("spark_grouping_id")
        for r in ex.projections():
            slot = r[gid_pos]
            if slot.kind != "Literal" or slot.value() is None:
                return False
            if slot.dtype not in ("int", "bigint", "smallint", "tinyint"):
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
        rows = ex.projections()
        out_names = [n for n, _, _ in ex.output()]
        out_ids = _ids(ex.output())
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
        for g in node.groupingExpressions():
            if g.kind != "AttributeReference":
                raise SubstraitError(
                    "grouping-sets aggregate with a non-attribute grouping "
                    f"expression {g.kind}"
                )
            if g.eid != gid_id:
                g_positions.append(out_ids.index(g.eid))

        def is_null_slot(e) -> bool:
            return e.kind == "Literal" and e.value() is None

        used = {eid for r in rows for e in r for eid in e.references()}
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
        measure_sems: list = []
        a_exprs = node.aggregateExpressions()
        g_pos_by_id = {out_ids[j]: k for k, j in enumerate(g_positions)}

        def make_override(set_idx_ordinal: int | None):
            def agg_override(e):
                if e.kind == "AggregateExpression":
                    return self._measure_ref(e, cids, n_g, measures,
                                             measure_sems)
                if e.kind == "AttributeReference":
                    eid = e.eid
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
                out_exprs.append(self.rex(e, cids))
                out_ids_out.append(self._named_out_id(e))
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
        mode = modes.get(gen.kind)
        if mode is None:
            raise SubstraitError(
                f"unsupported generator {gen.kind} "
                "(explode/posexplode/replicaterows only)"
            )
        # Catalyst's requiredChildOutput
        unrequired = set(node.unrequiredChildIndex())
        req_ids = [eid for i, eid in enumerate(_ids(node.child().output()))
                   if i not in unrequired]
        child_needed = (
            set(req_ids) | set(gen.references())
        ) if needed is not None else None
        crel, cids = self.rel(node.child(), child_needed)
        gen_children = gen.children()
        # explode: the one array argument. replicaterows (Catalyst's
        # INTERSECT/EXCEPT ALL building block): child 0 is the row
        # multiplier, children 1..N are the replicated column exprs
        arg = self.rex(gen_children[0], cids)
        extra = ([self.rex(c, cids) for c in gen_children[1:]]
                 if mode == "replicaterows" else None)
        req_ordinals = [cids.index(i) for i in req_ids]
        gen_out_ids = [a.eid for a in node.generatorOutput()]
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
        exprs = node.partitionExpressions()
        if any(e.kind == "SortOrder" for e in exprs):
            raise SubstraitError(
                "repartitionByRange (range distribution) has no "
                "ExchangeRel analogue in the spec's exchange kinds"
            )
        wanted = needed | set(node.references()) if needed is not None \
            else None
        crel, cids = self.rel(node.child(), wanted)
        fields: list = []
        for e in exprs:
            if e.kind == "AttributeReference":
                if e.eid not in cids:
                    # translate-or-error contract: a partition key absent
                    # from the child ordinal space must surface as
                    # SubstraitError, not a bare ValueError (mirrors
                    # rex()'s AttributeReference handling)
                    raise SubstraitError(
                        f"repartition key {e.name()}#{e.eid} not found in "
                        "child output"
                    )
                fields.append(cids.index(e.eid))
            else:
                fields.append(self.rex(e, cids))
        n = node.optNumPartitions()
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

    def _lower_pivot_first(self, agg_expr, cids, n_g, measures,
                           measure_sems) -> dict:
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
        if agg_expr.isDistinct() or agg_expr.filter() is not None:
            raise SubstraitError(
                "pivotfirst with DISTINCT or FILTER has no lowering "
                "(Catalyst's ResolvePivot never emits one)")
        kids = pf.children()
        if len(kids) != 2:
            # the 3-child ordered form carries an orderColumn Spark only
            # uses for struct-reassembly of multi-agg pivots pre-3.0
            raise SubstraitError(
                f"pivotfirst with {len(kids)} children is not the "
                "2-child (pivotColumn, valueColumn) ResolvePivot shape")
        pivot_e, value_e = kids
        pdt = pivot_e.dtype
        # measure args/filters live in the input ordinal space — suspend
        # the output-space override (same rule as _measure)
        prev, self._override = self._override, None
        try:
            pivot_ref = self.rex(pivot_e, cids)
            value_ref = self.rex(value_e, cids)
        finally:
            self._override = prev
        slot_refs = []
        for v in pf.pivotColumnValues():
            filt = proto.scalar_function(
                self.registry.register("is_not_distinct_from"),
                [pivot_ref, self._literal_value(v, pdt)])
            measure_sems.append(None)  # never deduplicated
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
        pretty = fn.pretty
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
        args = [self.rex(c, cids) for c in fn.children()]
        filt = agg_expr.filter()
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
        jt = node.joinType()
        join_type = self._JOIN_TYPES.get(jt)
        if join_type is None:
            raise SubstraitError(f"unsupported join type {jt} (producer.rs:378-391)")
        if needed is not None:
            # parent refs + ON-condition refs
            wanted = needed | set(node.references())
            l_needed = wanted & set(_ids(node.left().output()))
            r_needed = wanted & set(_ids(node.right().output()))
        else:
            l_needed = r_needed = None
        l_rel, lids = self.rel(node.left(), l_needed)
        r_rel, rids = self.rel(node.right(), r_needed)
        cond = node.condition()
        # ON resolved against the combined left++right ordinal space
        # (≡ build_join_schema, consumer.rs:288-290)
        expr = (
            self.rex(cond, lids + rids)
            if cond is not None
            else proto.literal("boolean", True)
        )
        out_ids = lids if join_type in (proto.JOIN_TYPE_SEMI, proto.JOIN_TYPE_ANTI) \
            else lids + rids
        # per-side join-strategy hints (r10): an explicit broadcast /
        # merge / shuffle_hash / shuffle_replicate_nl hint is a plan
        # decision the user made — dropping it silently rebuilt a shuffle
        # join where a broadcast was demanded. The encoder writes each
        # side's strategy name, which IS the DataFrame.hint() name on
        # rebuild, or null
        left_hint, right_hint = node.hint()
        return proto.join_rel(l_rel, r_rel, expr, join_type,
                              hints=(left_hint, right_hint)), out_ids

    def _rel_Range(self, node, needed=None):
        """``spark.range`` / SQL range() → ExtensionLeafRel RangeRel (r10):
        four integers through the plan, zero inline data — the virtual-
        table alternative would inline end-start literal rows. numSlices
        rides only when the user pinned it."""
        slices = node.numSlices()
        rel = proto.range_rel(
            int(node.start()), int(node.end()), int(node.step()),
            None if slices is None else int(slices))
        return rel, _ids(node.output())

    def _rel_Deduplicate(self, node, needed=None):
        # df.distinct() → AggregateRel grouping on all columns, zero measures
        # (≡ producer.rs:203-222). Optimizer usually rewrites this to
        # Aggregate already; handle the raw node for robustness.
        crel, cids = self.rel(node.child())
        keys = [k.eid for k in node.keys()]
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
        rows = node.projections()
        out_ids = _ids(node.output())
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
        used = {eid for r in rows for e in r for eid in e.references()}
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
        rels = [self.rel(child)[0] for child in node.children()]
        return proto.set_rel(rels, "SET_OP_UNION_ALL"), _ids(node.output())

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
            node.child(),
            needed | set(node.references()) if needed is not None else None
        )
        part = [self.rex(p, cids) for p in node.partitionSpec()]
        temporal_scale = self._temporal_range_scale(node)
        sorts = []
        for so in node.orderSpec():
            direction = _SORT_DIRECTIONS[(so.direction(), so.nullOrdering())]
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
        for we in node.windowExpressions():
            if we.kind != "Alias" or we.child().kind != "WindowExpression":
                raise SubstraitError(
                    f"unsupported window output {we.kind}: {we.name()}"
                )
            wexpr = we.child()
            fn = wexpr.windowFunction()
            kind = fn.kind
            if kind == "AggregateExpression":
                if fn.isDistinct():
                    raise SubstraitError("DISTINCT window aggregates unsupported")
                inner = fn.aggregateFunction()
                name = ops.CATALYST_AGG_TO_NAME.get(inner.pretty)
                if name is None:
                    raise SubstraitError(
                        f"unsupported window aggregate {inner.pretty!r}"
                    )
                if inner.pretty in ("first", "last",
                                    "first_value", "last_value") \
                        and bool(inner.ignoreNulls()):
                    # same fence as the aggregate-measure path: the flag has
                    # no Substrait encoding, and dropping it would silently
                    # return leading NULLs
                    raise SubstraitError(
                        f"window {inner.pretty}(expr, ignoreNulls=true) "
                        "has no Substrait encoding; rewrite without ignoreNulls"
                    )
                args = [self.rex(c, cids) for c in inner.children()]
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
                    children = fn.children()
                    args = [self.rex(children[0], cids),
                            proto.literal("i32", int(children[1].value())),
                            self.rex(children[2], cids)]
                elif kind == "NTile":
                    args = [self.rex(fn.children()[0], cids)]
                elif kind == "NthValue":
                    children = fn.children()
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
            out_ids.append(we.eid)
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
        for we in node.windowExpressions():
            if we.kind != "Alias" or we.child().kind != "WindowExpression":
                continue  # the main loop raises its named error
            frame = we.child().windowSpec().frameSpecification()
            if frame.kind != "SpecifiedWindowFrame" or \
                    frame.frameType() == "RowFrame":
                continue
            for b in (frame.lower(), frame.upper()):
                if b.kind == "Literal" and _day_time(b.dtype):
                    has_interval_range = True
        if not has_interval_range:
            return None
        order = node.orderSpec()
        if len(order) != 1:
            raise SubstraitError(
                "interval RANGE frames require exactly one order key")
        kt = order[0].child().dtype
        if kt == "timestamp":
            return "us"
        if kt == "date":
            return "days"
        if kt == "timestamp_ntz":
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
        if frame.kind != "SpecifiedWindowFrame":
            raise SubstraitError(f"unsupported window frame {frame.kind}")
        btype = proto.BOUNDS_ROWS if frame.frameType() == "RowFrame" \
            else proto.BOUNDS_RANGE

        def bound(b):
            k = b.kind
            if k in ("UnboundedPreceding", "UnboundedFollowing"):
                return proto.bound_unbounded()
            if k == "CurrentRow":
                return proto.bound_current_row()
            if k == "Literal":
                # WindowBound carries only an i64 offset. Integer-typed and
                # integral-VALUED fractional bounds (RANGE 5 PRECEDING over
                # a double order column arrives as Literal(5.0)) encode
                # losslessly; interval bounds (date/timestamp RANGE) and
                # fractional values (RANGE 2.5 PRECEDING) have no encoding
                # and must fence, not round to a wrong frame
                dt = b.dtype
                if dt.startswith("interval"):
                    if temporal_scale is not None and _day_time(dt):
                        # r12: day-time interval bounds lower to an i64
                        # distance over the unix_micros/unix_date-wrapped
                        # sort key (see _temporal_range_scale) — exact,
                        # spec-conformant, NULL interval impossible post-
                        # analysis (frame bounds must be foldable non-null)
                        us = int(b.value())
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
                # integral and floating values only: a decimal value is its
                # exact text and never counts as integral here
                raw = b.value()
                if not (isinstance(raw, (int, float)) and math.isfinite(raw)
                        and raw == int(raw)):
                    raise SubstraitError(
                        "window frame bound must be an integral literal; "
                        f"got {raw} of type {dt} "
                        "(interval/fractional RANGE bounds have no i64 "
                        "WindowBound encoding)"
                    )
                v = int(raw)
                return proto.bound_preceding(-v) if v < 0 else proto.bound_following(v)
            raise SubstraitError(f"unsupported frame bound {k}")

        return bound(frame.lower()), bound(frame.upper()), btype

    # -- expressions --------------------------------------------------------

    def rex(self, e, input_ids: list[int]) -> dict:
        kind = e.kind
        if self._override is not None:
            hit = self._override(e)
            if hit is not None:
                return hit
        if kind == "AttributeReference":
            eid = e.eid
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
            dt = e.dtype
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
                self._type(e.dtype),
            )
        if kind in ("KnownFloatingPointNormalized", "NormalizeNaNAndZero",
                    "PromotePrecision", "KnownNotNull",
                    "KnownNotContainsNull"):
            return self.rex(e.child(), input_ids)
        if kind == "CaseWhen":
            ifs = [
                (self.rex(c, input_ids), self.rex(v, input_ids))
                for c, v in e.branches()
            ]
            els = e.elseValue()
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
            neg = ops.CATALYST_NOT_TO_NAME.get(inner.kind)
            if neg is not None:
                return self._binary(neg, inner, input_ids)
            return proto.scalar_function(
                self.registry.register("not"), [self.rex(inner, input_ids)]
            )
        if kind == "ScalarSubquery":
            return self._scalar_subquery(e)
        if kind == "GetStructField" and e.child().kind == "ScalarSubquery":
            # Spark 4 wraps subquery output in a struct access; Catalyst's
            # MergeScalarSubqueries also packs SEVERAL subqueries into one
            # struct — each field access becomes its own 1-column subquery
            return self._scalar_subquery(e.child(), int(e.ordinal()))
        if kind == "CreateArray":
            return proto.nested_list(
                [self.rex(c, input_ids) for c in e.children()]
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
                [self.rex(c, input_ids) for c in e.children()],
            )
        if kind == "In":
            return proto.singular_or_list(
                self.rex(e.value(), input_ids),
                [self.rex(x, input_ids) for x in e.list()],
            )
        if kind == "InSet":
            return self._inset(e, input_ids)
        if kind == "NamedLambdaVariable":
            eid = e.eid
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
            if right.kind != "Literal" or right.value() is None:
                raise SubstraitError(
                    "timestamp/date + year-month interval requires a "
                    "literal interval to encode")
            months = int(right.value())
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
            # any DayTimeIntervalType start field qualifies: the type
            # is "interval day[ to x]" but also "interval hour/minute/
            # second[ to x]" — all carry a total-microseconds value
            # (review catch r11: the 'interval day' prefix rejected
            # INTERVAL 3 HOUR). Year-month prefixes are the other node.
            rdt = right.dtype
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
            if right.kind != "Literal" or right.value() is None or \
                    not _day_time(rdt):
                raise SubstraitError(
                    "timestamp + interval requires a literal day-time "
                    "interval to encode (year-month intervals shift by "
                    "calendar months and have no fixed-microsecond form)")
            return proto.scalar_function(
                self.registry.register("add"),
                [self.rex(e.left(), input_ids),
                 _day_time_literal(right.value())])
        name = ops.CATALYST_HOF_TO_NAME.get(kind)
        if name is not None:
            return self._hof(name, e, input_ids)
        name = ops.CATALYST_BINARY_TO_NAME.get(kind)
        if name is not None:
            return self._binary(name, e, input_ids)
        name = ops.CATALYST_UNARY_TO_NAME.get(kind)
        if name is not None:
            children = e.children()  # generic accessor: StringTrim etc.
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
                [self.rex(c, input_ids) for c in e.children()],
            )
        raise SubstraitError(
            f"unsupported expression {kind} "
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
        if sq.outerAttrs():
            raise SubstraitError(
                "correlated scalar subquery unsupported (only uncorrelated "
                "subqueries have a self-contained plan to serialize)"
            )
        # the subquery plan is self-contained: suspend any aggregate-output
        # override while producing it
        prev, self._override = self._override, None
        try:
            plan = sq.plan()
            if field_ordinal is not None and plan.kind == "Project":
                outs = plan.projectList()
                inner = outs[0].child() if outs[0].kind == "Alias" else outs[0]
                if len(outs) == 1 and inner.kind == "CreateNamedStruct":
                    crel, cids = self.rel(plan.child())
                    vals = inner.children()[1::2]  # (name, val) pairs
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
        for c in e.children():
            if c.kind == "LambdaFunction":
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
        params = [a.eid for a in lf.arguments()]
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
            # Spark 4 arithmetic carries evalMode (LEGACY/ANSI/TRY) in a
            # node FIELD, not a child: try_divide(a, b) is Divide with
            # evalMode=TRY. Producing it as plain "divide" would silently
            # swap NULL-on-error for throw-on-error — translate to the
            # try_* name (or error for the one form with no builder).
            mode = e.evalContext().evalMode()
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
            if right.kind == "Literal" and right.value() is not None:
                ordinal = int(right.value())
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
            default = e.defaultValueOutOfBound()
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
                if not e.left().dtype.startswith("array"):
                    raise SubstraitError(
                        "element_at with an out-of-bounds default is only "
                        "encodable over arrays")
                if right.kind != "Literal" or right.value() is None:
                    raise SubstraitError(
                        "element_at with an out-of-bounds default needs a "
                        "literal non-null ordinal to encode (the in-bounds "
                        "guard must be computable)")
                ordinal = int(right.value())
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
                         proto.null_literal(self._type(e.dtype))),
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
            if right.kind != "Literal" or right.value() is None:
                raise SubstraitError(
                    "string_split (split_part) requires a literal non-null "
                    "delimiter to encode")
            if right.value() == "" or "\\E" in right.value():
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
            if right.kind == "Literal":
                pat = right.value()
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
        options = [self._literal_value(v, child.dtype) for v in e.hset()]
        # stable plan bytes: InSet's hash-set iteration order is unspecified
        options.sort(key=lambda d: str(sorted(d["literal"].items())))
        return proto.singular_or_list(self.rex(child, input_ids), options)

    # -- literals (producer.rs:576-655) -------------------------------------

    def _literal(self, e) -> dict:
        dt = e.dtype
        v = e.value()
        if v is None:
            return proto.null_literal(self._type(dt))
        if dt.startswith("array<") and dt.endswith(">"):
            # constant-folded array literal (e.g. array('x') under concat)
            # → Expression.Nested.List of element literals
            inner = dt[6:-1]
            if not v:
                raise SubstraitError(
                    "empty array literal has no element to carry its type "
                    "through Nested.List; rewrite without the fold")
            return proto.nested_list(
                [self._literal_value(x, inner) for x in v])
        return self._literal_value(v, dt)

    def _literal_value(self, v, dt: str) -> dict:
        """One value of Spark type ``dt`` as the encoder writes it: numbers,
        booleans and strings as themselves, binary as base64 text, decimals
        as exact plain text, intervals as their total count."""
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
            return proto.literal("string", v)
        if dt == "date":  # Date32 epoch-days (producer.rs:594)
            return proto.literal("date", int(v))
        if dt == "timestamp":  # UTC instant, micros
            return proto.literal("timestampTz", int(v))
        if dt == "timestamp_ntz":
            return proto.literal("timestamp", int(v))
        if dt == "binary":
            return proto.literal("binary", v)
        if dt == "interval day to second":  # total microseconds
            return _day_time_literal(int(v))
        m = _DECIMAL_RE.match(dt)
        if m:
            # 16-byte little-endian two's-complement unscaled value, exactly the
            # reference's i128::to_le_bytes wire format (producer.rs:585-589)
            precision, scale = int(m.group(1)), int(m.group(2))
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
