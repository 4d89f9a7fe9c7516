"""Substrait-shaped plan IR.

The reference (``/root/reference``) uses prost-generated protobuf bindings for
the Substrait ``Plan`` message (``Cargo.toml:10``). No Substrait/protobuf
Python packages are installable in this environment, so the IR here is a
**dict tree using proto3-JSON field names** (``readRel``-style camelCase keys)
— structurally the JSON serialization of the same messages, so real Substrait
tooling could ingest it; ``plans/wire.py`` additionally encodes/decodes the
same dicts to the binary protobuf wire format. See SURVEY.md §7.

Message shapes mirrored (reference cites):
  * ``Plan { version, extensions, relations }``    — producer.rs:45-60
  * ``PlanRel::Root(RelRoot { input, names })``    — producer.rs:45-50
  * Rel variants read/project/filter/fetch/sort/aggregate/join
                                                   — producer.rs:66-285
  * Expression variants selection/scalarFunction/literal/ifThen/cast
                                                   — producer.rs:464-611

Deliberate deviations from the reference (SURVEY.md §7 "non-bug-compatible"):
  * absent fetch limit encoded as ``count: -1`` — NOT the lossy ``0`` of
    producer.rs:147-150.
  * ``subtract`` spelling on both sides (reference producer writes
    "substract", producer.rs:297 — a roundtrip-breaking typo).
  * expression surface is a Substrait-spec-compliant superset: unary/n-ary
    scalar functions (is_null / is_not_null / not / str_concat-n), explicit
    ``cast`` and ``singularOrList`` — required because Spark's optimizer
    injects ``isnotnull`` guards and type-coercion casts that the reference's
    26-binary-op surface (consumer.rs:37-71) cannot express.
"""

from __future__ import annotations

import json
from typing import Any

PRODUCER_TAG = "datafusion-substrait-spark v0.1"

# ---------------------------------------------------------------------------
# enums (string values follow proto3-JSON enum-name serialization)
# ---------------------------------------------------------------------------

SORT_ASC_NULLS_FIRST = "SORT_DIRECTION_ASC_NULLS_FIRST"
SORT_ASC_NULLS_LAST = "SORT_DIRECTION_ASC_NULLS_LAST"
SORT_DESC_NULLS_FIRST = "SORT_DIRECTION_DESC_NULLS_FIRST"
SORT_DESC_NULLS_LAST = "SORT_DIRECTION_DESC_NULLS_LAST"
SORT_DIRECTIONS = {
    SORT_ASC_NULLS_FIRST,
    SORT_ASC_NULLS_LAST,
    SORT_DESC_NULLS_FIRST,
    SORT_DESC_NULLS_LAST,
}

JOIN_TYPE_INNER = "JOIN_TYPE_INNER"
JOIN_TYPE_LEFT = "JOIN_TYPE_LEFT"
JOIN_TYPE_RIGHT = "JOIN_TYPE_RIGHT"
JOIN_TYPE_OUTER = "JOIN_TYPE_OUTER"
JOIN_TYPE_SEMI = "JOIN_TYPE_SEMI"
JOIN_TYPE_ANTI = "JOIN_TYPE_ANTI"
JOIN_TYPE_SINGLE = "JOIN_TYPE_SINGLE"
JOIN_TYPES = {
    JOIN_TYPE_SINGLE,
    JOIN_TYPE_INNER,
    JOIN_TYPE_LEFT,
    JOIN_TYPE_RIGHT,
    JOIN_TYPE_OUTER,
    JOIN_TYPE_SEMI,
    JOIN_TYPE_ANTI,
}

AGG_ALL = "AGGREGATION_INVOCATION_ALL"
AGG_DISTINCT = "AGGREGATION_INVOCATION_DISTINCT"

REL_KINDS = ("read", "project", "filter", "fetch", "sort", "aggregate", "join", "set", "cross",
             "window", "extensionSingle", "extensionLeaf", "exchange", "expand",
             "reference")

BOUNDS_ROWS = "BOUNDS_TYPE_ROWS"
BOUNDS_RANGE = "BOUNDS_TYPE_RANGE"
EXPR_KINDS = ("selection", "scalarFunction", "literal", "ifThen", "cast",
              "singularOrList", "subquery", "nested")

NO_LIMIT = -1  # fetch.count sentinel; see module docstring


class SubstraitError(Exception):
    """Translation error (≡ the reference's DataFusionError::NotImplemented)."""


# ---------------------------------------------------------------------------
# constructors — rels
# ---------------------------------------------------------------------------


def plan(root_rel: dict, names: list[str], extensions: list[dict]) -> dict:
    """Top-level Plan; single relation tree rooted at RelRoot (producer.rs:44-60)."""
    p: dict[str, Any] = {
        "version": {"minorNumber": 53, "producer": PRODUCER_TAG},
        "relations": [{"root": {"input": root_rel, "names": list(names)}}],
    }
    if extensions:  # canonical: empty repeated fields have no wire presence
        p["extensions"] = extensions
    return p


def extension_function(anchor: int, name: str) -> dict:
    """SimpleExtensionDeclaration (producer.rs:407-424)."""
    return {
        "extensionFunction": {
            "extensionUriReference": 0,
            "functionAnchor": anchor,
            "name": name,
        }
    }


def extension_type(anchor: int, name: str) -> dict:
    """SimpleExtensionDeclaration of a user-defined type."""
    return {
        "extensionType": {
            "extensionUriReference": 0,
            "typeAnchor": anchor,
            "name": name,
        }
    }


def read_rel(table_names: list[str], base_schema_names: list[str],
             base_schema_types: list[dict] | None, mask: list[int]) -> dict:
    """ReadRel + NamedTable + projection MaskExpression (producer.rs:74-116).

    Unlike the reference we always emit a mask (identity mask for SELECT *);
    the reference errors on a maskless scan (producer.rs:111-115).
    """
    struct: dict[str, Any] = {"nullability": "NULLABILITY_REQUIRED"}
    if base_schema_types is not None:
        struct["types"] = base_schema_types
    return {
        "read": {
            "common": {"direct": {}},
            "baseSchema": {"names": list(base_schema_names), "struct": struct},
            "projection": {
                "select": {"structItems": [{"field": i} for i in mask]},
                "maintainSingularStruct": True,
            },
            "namedTable": {"names": list(table_names)},
        }
    }


def virtual_table_read_rel(base_schema_names: list[str],
                           base_schema_types: list[dict] | None,
                           rows: list[list[dict]]) -> dict:
    """ReadRel + VirtualTable: inline literal rows (Substrait spec
    ``read_type.virtual_table``; NOT in the reference, which reads only
    NamedTable — consumer.rs:371-373). Produced for Catalyst's
    ``LocalRelation`` (constant-folded-empty subtrees, inline VALUES) and
    ``OneRowRelation`` (``SELECT 1``), which otherwise have no catalog name
    to serialize. Each row is a list of Expression.Literal dicts (the
    ``{"literal": {...}}`` wrapper is stripped into Literal.Struct fields).
    """
    struct: dict[str, Any] = {"nullability": "NULLABILITY_REQUIRED"}
    if base_schema_types is not None:
        struct["types"] = base_schema_types
    # canonical form omits empty repeated fields (proto3 wire semantics:
    # an empty repeated field has no presence, so the binary codec could
    # not round-trip an explicit empty list)
    values = []
    for row in rows:
        fields = [lit["literal"] for lit in row]
        values.append({"fields": fields} if fields else {})
    vt: dict[str, Any] = {"values": values} if values else {}
    base: dict[str, Any] = {"struct": struct}
    if base_schema_names:  # empty repeated = no wire presence, keep canonical
        base["names"] = list(base_schema_names)
    return {
        "read": {
            "common": {"direct": {}},
            "baseSchema": base,
            "virtualTable": vt,
        }
    }


def project_rel(input_rel: dict, expressions: list[dict]) -> dict:
    """ProjectRel. Reference semantics: ``expressions`` IS the full output row
    (DataFusion Projection), not Substrait's input++expressions emit form
    (consumer.rs:122-137 consumes it that way; we keep that convention)."""
    return {"project": {"common": {"direct": {}}, "input": input_rel,
                        "expressions": expressions}}


def filter_rel(input_rel: dict, condition: dict) -> dict:
    """FilterRel (producer.rs:132-144)."""
    return {"filter": {"common": {"direct": {}}, "input": input_rel,
                       "condition": condition}}


def fetch_rel(input_rel: dict, offset: int, count: int) -> dict:
    """FetchRel (producer.rs:145-160); count==NO_LIMIT means no limit."""
    return {"fetch": {"common": {"direct": {}}, "input": input_rel,
                      "offset": int(offset), "count": int(count)}}


def sort_rel(input_rel: dict, sorts: list[dict]) -> dict:
    """SortRel (producer.rs:161-176)."""
    return {"sort": {"common": {"direct": {}}, "input": input_rel, "sorts": sorts}}


def sort_field(expr: dict, direction: str) -> dict:
    """SortField with direction enum (producer.rs:657-688)."""
    if direction not in SORT_DIRECTIONS:
        raise SubstraitError(f"bad sort direction {direction}")
    return {"expr": expr, "direction": direction}


def local_sort_rel(input_rel: dict, sorts: list[dict]) -> dict:
    """Partition-LOCAL sort (sortWithinPartitions / SORT BY — Catalyst
    Sort with global=false) as an ExtensionSingleRel LocalSortRel (r10).
    SortRel is a total order, so producing local sorts there silently
    converted them to a global orderBy on consume — a full range-partition
    shuffle the user avoided, and a value CHANGE under sampling
    (randomSplit sorts partitions locally for deterministic splits)."""
    return {
        "extensionSingle": {
            "common": {"direct": {}},
            "input": input_rel,
            "detail": {
                "@type": "type.googleapis.com/"
                         "spark.substrait_spark.LocalSortRel",
                "sorts": sorts,
            },
        }
    }


def aggregate_rel(input_rel: dict, grouping_expressions: list[dict],
                  measures: list[dict]) -> dict:
    """AggregateRel with exactly ONE grouping set (producer.rs:177-202;
    consumer.rs:230-235 rejects >1). Output = groupings ++ measures."""
    return {
        "aggregate": {
            "common": {"direct": {}},
            "input": input_rel,
            "groupings": [{"groupingExpressions": grouping_expressions}],
            "measures": measures,
        }
    }


def aggregate_rel_multi(input_rel: dict, grouping_expressions: list[dict],
                        sets: list[list[int]], measures: list[dict]) -> dict:
    """AggregateRel with MULTIPLE grouping sets (GROUPING SETS / ROLLUP /
    CUBE) in the Substrait-native shape: the rel carries the distinct
    grouping expressions once, and each Grouping selects a subset via
    ``expressionReferences``. The reference rejects >1 grouping
    (consumer.rs:230-235) — this is a documented spec-superset.

    Output = grouping expressions (in declaration order; columns absent
    from a row's grouping set are null) ++ measures ++ one trailing i32
    grouping-set index (the 0-based index into ``groupings``), per the
    Substrait spec's multi-grouping output convention.
    """
    return {
        "aggregate": {
            "common": {"direct": {}},
            "input": input_rel,
            "groupingExpressions": list(grouping_expressions),
            "groupings": [
                {"expressionReferences": [int(i) for i in s]} for s in sets
            ],
            "measures": measures,
        }
    }


def generate_rel(input_rel: dict, argument: dict, mode: str, outer: bool,
                 required_child_ordinals: list[int], n_outputs: int,
                 arguments: list[dict] | None = None) -> dict:
    """Generate (explode/posexplode) as a Substrait ExtensionSingleRel —
    the spec's escape hatch for engine-specific single-input rels (core
    Substrait has no unnest relation; DataFusion's consumer has none
    either). ``detail`` is the proto3 ``Any`` JSON form.

    Output = input columns selected by ``requiredChildIndices`` (ordinals
    into the input) ++ ``generatorOutputs`` generated columns (1 for
    array explode, 2 for posexplode / map explode; N for replicaterows,
    whose replicated column expressions travel in ``arguments`` while
    ``argument`` carries the row multiplier — Catalyst's ReplicateRows,
    the INTERSECT ALL / EXCEPT ALL building block).
    """
    return {
        "extensionSingle": {
            "common": {"direct": {}},
            "input": input_rel,
            "detail": {
                "@type": "type.googleapis.com/spark.substrait_spark.GenerateRel",
                "mode": mode,
                "outer": bool(outer),
                "argument": argument,
                **({"arguments": list(arguments)} if arguments else {}),
                "requiredChildIndices": [int(i) for i in required_child_ordinals],
                "generatorOutputs": int(n_outputs),
            },
        }
    }


def exchange_rel(input_rel: dict, partition_count: int,
                 scatter_field_ordinals: list[int] | None = None) -> dict:
    """ExchangeRel (Substrait spec; NOT in the reference — capability
    extension): an explicit redistribution boundary. ``scatter_by_fields``
    carries Catalyst's hash RepartitionByExpression (DISTRIBUTE BY /
    ``df.repartition(cols...)``); ``round_robin`` carries
    ``df.repartition(n)``. ``partition_count`` 0 = unspecified (consumer
    uses the session's shuffle-partitions default). At 100 TB this is the
    interchange form of a user's deliberate pre-shuffle (e.g. co-locating
    rows before a bucketed write), so it must survive the plan boundary
    rather than erroring."""
    body: dict[str, Any] = {
        "common": {"direct": {}},
        "input": input_rel,
        "partitionCount": int(partition_count),
    }
    if scatter_field_ordinals is not None:
        # each entry: an int child ordinal (plain column key) or an
        # Expression dict (computed key, r13 — FieldReference's
        # expression root carries it per spec, no trailing projection)
        body["scatterByFields"] = {
            "fields": [field_ref(f)["selection"] if isinstance(f, int)
                       else {"expression": f}
                       for f in scatter_field_ordinals]
        }
    else:
        # Spark's round-robin repartition distributes exactly
        body["roundRobin"] = {"exact": True}
    return {"exchange": body}


def sample_rel(input_rel: dict, lower: float, upper: float,
               with_replacement: bool, seed: int) -> dict:
    """TABLESAMPLE / ``DataFrame.sample`` as an ExtensionSingleRel SampleRel
    (same escape hatch as GenerateRel: core Substrait and the reference have
    no sample relation). The seed rides in the plan, and Spark's Sample is
    deterministic given (seed, partitioning), so produce→consume reproduces
    the exact row set. For seedless *deterministic* sampling use
    ``operators.sampling.hash_sample`` instead."""
    return {
        "extensionSingle": {
            "common": {"direct": {}},
            "input": input_rel,
            "detail": {
                "@type": "type.googleapis.com/spark.substrait_spark.SampleRel",
                "lowerBound": float(lower),
                "upperBound": float(upper),
                "withReplacement": bool(with_replacement),
                "seed": int(seed),
            },
        }
    }


def range_rel(start: int, end: int, step: int,
              num_slices: int | None = None) -> dict:
    """``spark.range`` / Catalyst Range as an ExtensionLeafRel RangeRel
    (r10; the SampleRel escape hatch for a LEAF — core Substrait has no
    range source, and inlining as a virtual table would put end-start
    literal rows in the plan). Four integers, zero inline data; numSlices
    is carried only when the user pinned it (the default rides session
    parallelism like other session-state)."""
    detail: dict[str, Any] = {
        "@type": "type.googleapis.com/spark.substrait_spark.RangeRel",
        "start": int(start),
        "end": int(end),
        "step": int(step),
    }
    if num_slices is not None:
        detail["numSlices"] = int(num_slices)
    return {"extensionLeaf": {"common": {"direct": {}}, "detail": detail}}


def measure(function_anchor: int, arguments: list[dict], distinct: bool = False,
            filter_expr: dict | None = None) -> dict:
    """AggregateRel.Measure: fn + DISTINCT invocation + optional FILTER
    (producer.rs:320-376, consumer.rs:242-258)."""
    m: dict[str, Any] = {
        "measure": {
            "functionReference": function_anchor,
            "arguments": [{"value": a} for a in arguments],
            "invocation": AGG_DISTINCT if distinct else AGG_ALL,
            "phase": "AGGREGATION_PHASE_INITIAL_TO_RESULT",
        }
    }
    if filter_expr is not None:
        m["filter"] = filter_expr
    return m


def join_rel(left: dict, right: dict, expression: dict, join_type: str,
             hints: tuple[str | None, str | None] = (None, None)) -> dict:
    """JoinRel (producer.rs:223-275). The reference accepts only AND-chains of
    column equalities (consumer.rs:289-313); we accept any boolean expression
    (superset — Spark executes arbitrary join conditions).

    ``hints`` carries Catalyst's per-side join-strategy hints ('broadcast',
    'merge', 'shuffle_hash', 'shuffle_replicate_nl') through the spec
    ``advanced_extension`` slot as an Any-wrapped JoinHintInfo (r10) —
    dropping an explicit broadcast hint silently rebuilt a shuffle join
    when autoBroadcastJoinThreshold was off."""
    if join_type not in JOIN_TYPES:
        raise SubstraitError(f"bad join type {join_type}")
    rel = {"join": {"common": {"direct": {}}, "left": left, "right": right,
                    "expression": expression, "type": join_type}}
    lh, rh = hints
    if lh or rh:
        info = {"@type": "type.googleapis.com/"
                         "spark.substrait_spark.JoinHintInfo"}
        if lh:
            info["leftStrategy"] = lh
        if rh:
            info["rightStrategy"] = rh
        rel["join"]["advancedExtension"] = {"optimization": [info]}
    return rel


def set_rel(inputs: list[dict], op: str) -> dict:
    """SetRel (Substrait spec; NOT in the reference — capability extension).

    op ∈ {SET_OP_UNION_ALL, SET_OP_UNION_DISTINCT, SET_OP_INTERSECTION_PRIMARY,
    SET_OP_MINUS_PRIMARY}.
    """
    return {"set": {"common": {"direct": {}}, "inputs": inputs, "op": op}}


def window_rel(input_rel: dict, window_functions: list[dict],
               partition_expressions: list[dict], sorts: list[dict]) -> dict:
    """ConsistentPartitionWindowRel (Substrait spec; NOT in the reference —
    SURVEY.md §2.5 lists window functions as absent there. Capability
    extension). All functions in one rel share the partition/sort spec —
    exactly Catalyst's Window node grouping. Output = input ++ one column
    per window function."""
    return {
        "window": {
            "common": {"direct": {}},
            "input": input_rel,
            "windowFunctions": window_functions,
            "partitionExpressions": partition_expressions,
            "sorts": sorts,
        }
    }


def window_function(anchor: int, arguments: list[dict], lower_bound: dict,
                    upper_bound: dict, bounds_type: str) -> dict:
    """ConsistentPartitionWindowRel.WindowRelFunction."""
    if bounds_type not in (BOUNDS_ROWS, BOUNDS_RANGE):
        raise SubstraitError(f"bad bounds type {bounds_type}")
    return {
        "functionReference": anchor,
        "arguments": [{"value": a} for a in arguments],
        "lowerBound": lower_bound,
        "upperBound": upper_bound,
        "boundsType": bounds_type,
        "phase": "AGGREGATION_PHASE_INITIAL_TO_RESULT",
        "invocation": AGG_ALL,
    }


def bound_unbounded() -> dict:
    return {"unbounded": {}}


def bound_current_row() -> dict:
    return {"currentRow": {}}


def bound_preceding(offset: int) -> dict:
    return {"preceding": {"offset": int(offset)}}


def bound_following(offset: int) -> dict:
    return {"following": {"offset": int(offset)}}


# ---------------------------------------------------------------------------
# constructors — expressions
# ---------------------------------------------------------------------------


def field_ref(ordinal: int) -> dict:
    """Direct StructField reference by ordinal (producer.rs:690-704)."""
    return {
        "selection": {
            "directReference": {"structField": {"field": int(ordinal)}},
            "rootReference": {},
        }
    }


def scalar_function(anchor: int, arguments: list[dict],
                    output_type: dict | None = None) -> dict:
    """ScalarFunction call (producer.rs:434-461). N-ary (superset of the
    reference's exactly-2 assertion, consumer.rs:531)."""
    f: dict[str, Any] = {
        "functionReference": anchor,
        "arguments": [{"value": a} for a in arguments],
    }
    if output_type is not None:
        f["outputType"] = output_type
    return {"scalarFunction": f}


def if_then(ifs: list[tuple[dict, dict]], else_expr: dict | None) -> dict:
    """IfThen for CASE WHEN (producer.rs:541-575). Catalyst desugars the
    base-expression CASE form during analysis, so the reference's
    leading-then=None convention (consumer.rs:474-490) never arises here."""
    node: dict[str, Any] = {"ifs": [{"if": i, "then": t} for i, t in ifs]}
    if else_expr is not None:
        node["else"] = else_expr
    return {"ifThen": node}


def cast(input_expr: dict, to_type: dict, safe: bool = False) -> dict:
    """Explicit cast (Substrait spec; reference has none — SURVEY.md §2.2 E-gap)."""
    return {
        "cast": {
            "type": to_type,
            "input": input_expr,
            "failureBehavior": (
                "FAILURE_BEHAVIOR_RETURN_NULL" if safe
                else "FAILURE_BEHAVIOR_THROW_EXCEPTION"
            ),
        }
    }


def singular_or_list(value: dict, options: list[dict]) -> dict:
    """IN-list (Substrait SingularOrList; reference has none)."""
    return {"singularOrList": {"value": value, "options": options}}


def scalar_subquery(input_rel: dict) -> dict:
    """Expression.Subquery.Scalar (Substrait spec; reference has no subquery
    surface — SURVEY.md §2.5. Uncorrelated only)."""
    return {"subquery": {"scalar": {"input": input_rel}}}


def nested_list(values: list[dict]) -> dict:
    """Expression.Nested.List — an array built from element expressions
    (Substrait spec; Catalyst CreateArray)."""
    return {"nested": {"list": {"values": values}}}


def literal(kind: str, value: Any) -> dict:
    """Literal; kind is the proto3-JSON oneof field name (producer.rs:576-604)."""
    return {"literal": {kind: value}}


def null_literal(of_type: dict) -> dict:
    """Typed null (producer.rs:613-655)."""
    return {"literal": {"null": of_type}}


# ---------------------------------------------------------------------------
# serde + structural helpers
# ---------------------------------------------------------------------------


def dumps(p: dict) -> bytes:
    return json.dumps(p, separators=(",", ":"), sort_keys=True).encode("utf-8")


def loads(b: bytes) -> dict:
    p = json.loads(b.decode("utf-8"))
    validate_plan(p)
    return p


# spec rel kinds this engine does not consume (wire-decodable so richer
# plans fail with a targeted message, not a structural one). `cross`
# moved to REL_KINDS in r11: foreign producers (DuckDB substrait) emit
# CrossRel directly; our own producer still encodes cross joins as
# inner-on-true.
_UNSUPPORTED_REL_KINDS = ("extensionMulti",)


def rel_kind(rel: dict) -> str:
    kinds = [k for k in rel if k in REL_KINDS]
    if len(kinds) != 1:
        known_unsupported = [k for k in rel if k in _UNSUPPORTED_REL_KINDS]
        if not kinds and known_unsupported:
            raise SubstraitError(
                f"unsupported relation kind {known_unsupported[0]!r}: valid "
                "Substrait, but this engine consumes only "
                f"{sorted(REL_KINDS)}"
            )
        raise SubstraitError(f"rel must have exactly one kind, got {sorted(rel)}")
    return kinds[0]


def emit_mapping(body: dict) -> list[int] | None:
    """``RelCommon.emit.output_mapping`` ordinals of a rel body, or None for
    direct emit (the reference's only convention — its RelCommon is always
    ``direct``, consumer.rs never reads emit). Spec-conformant foreign
    producers (DuckDB's substrait extension, Isthmus, newer DataFusion) DO
    emit output mappings, so ignoring this field silently returns wrong
    columns — the r11 consume path honors it instead.

    Fences (translate-or-error):
    - ``direct`` and ``emit`` together: proto3 ``oneof emit_kind`` makes this
      unrepresentable on the wire, so a JSON plan carrying both is malformed.
    - empty ``outputMapping``: a zero-column relation; far more likely a
      producer bug than intent, and proto3 cannot distinguish an explicitly
      empty list from an omitted one on re-encode — refuse rather than guess.
    """
    common = body.get("common") or {}
    if "emit" not in common:
        return None
    if "direct" in common:
        raise SubstraitError(
            "RelCommon carries both direct and emit (oneof emit_kind)")
    mapping = [int(i) for i in common["emit"].get("outputMapping", [])]
    if not mapping:
        raise SubstraitError(
            "RelCommon.emit with empty outputMapping: a zero-column output "
            "is unrepresentable on re-encode (proto3 empty repeated has no "
            "presence) — refusing rather than guessing direct emit"
        )
    return mapping


def expr_kind(expr: dict) -> str:
    kinds = [k for k in expr if k in EXPR_KINDS]
    if len(kinds) != 1:
        raise SubstraitError(f"expression must have exactly one kind, got {sorted(expr)}")
    return kinds[0]


def extension_map(p: dict) -> dict[int, str]:
    """anchor → function name, built before walking rels (consumer.rs:76-91)."""
    out: dict[int, str] = {}
    for decl in p.get("extensions", []):
        f = decl.get("extensionFunction")
        if f is not None:
            out[int(f["functionAnchor"])] = f["name"]
    return out


def root_of(p: dict) -> tuple[dict, list[str]]:
    """One ROOT tree (consumer.rs:93-111). r12 superset: additional bare
    `rel` entries are legal alongside the root — they are the subtrees
    `ReferenceRel.subtree_ordinal` points at (spec DAG reuse); a plan
    that is nothing but one bare `rel` keeps the reference's tolerant
    consume (consumer.rs:96-105)."""
    rels = p.get("relations", [])
    for e in rels:
        # review catch r12: an entry with neither key must error loudly —
        # silently dropping it would hide a producer bug (pre-r12 ANY
        # multi-entry plan was rejected, so this is the guard that keeps
        # the relaxation from loosening translate-or-error)
        if "root" not in e and "rel" not in e:
            raise SubstraitError("relation entry must be 'root' or 'rel'")
    roots = [e for e in rels if "root" in e]
    if len(roots) == 1:
        return roots[0]["root"]["input"], \
            list(roots[0]["root"].get("names", []))
    if len(roots) > 1:
        raise SubstraitError(
            f"plan must have exactly 1 ROOT relation tree, got {len(roots)}")
    if len(rels) == 1 and "rel" in rels[0]:
        return rels[0]["rel"], []
    if rels:
        # every entry passed the shape guard above and there is no root,
        # so all remaining entries are bare `rel` subtrees
        raise SubstraitError(
            "plan has multiple relation trees but no root to consume")
    # ADVICE r12: the generic entry-shape error is misleading when there
    # are no entries at all
    raise SubstraitError("plan has no relation trees")


def validate_plan(p: dict) -> None:
    root, _ = root_of(p)
    _validate_rel(root)
    # referenceable subtrees are part of the executable plan: a malformed
    # one must fail validation even if nothing references it yet
    for e in p.get("relations", []):
        if "rel" in e and e["rel"] is not root:
            _validate_rel(e["rel"])


def _validate_rel(rel: dict) -> None:
    kind = rel_kind(rel)
    body = rel[kind]
    if kind == "read":
        if "namedTable" not in body and "virtualTable" not in body:
            raise SubstraitError(
                "only NamedTable and VirtualTable reads are supported "
                "(consumer.rs:371-373; virtual tables are our spec-superset)"
            )
    elif kind in ("project", "filter", "fetch", "sort", "aggregate"):
        _validate_rel(body["input"])
        if kind == "aggregate":
            groupings = body.get("groupings", [])
            if len(groupings) < 1:
                raise SubstraitError("aggregate requires at least one grouping set")
            if len(groupings) > 1 and not body.get("groupingExpressions"):
                raise SubstraitError(
                    "multiple grouping sets require rel-level "
                    "groupingExpressions + per-grouping expressionReferences"
                )
    elif kind == "join":
        _validate_rel(body["left"])
        _validate_rel(body["right"])
        if body.get("type") not in JOIN_TYPES:
            raise SubstraitError(f"unsupported join type {body.get('type')}")
    elif kind == "cross":
        _validate_rel(body["left"])
        _validate_rel(body["right"])
    elif kind == "set":
        for i in body["inputs"]:
            _validate_rel(i)
    elif kind == "window":
        _validate_rel(body["input"])
        for wf in body.get("windowFunctions", []):
            if wf.get("boundsType") not in (BOUNDS_ROWS, BOUNDS_RANGE):
                raise SubstraitError(f"bad window bounds type in {wf}")
    elif kind == "reference":
        pass  # ordinal validity needs plan context — checked at consume
    elif kind == "expand":
        _validate_rel(body["input"])
        if not body.get("fields"):
            raise SubstraitError("ExpandRel requires at least one field")
        for f in body["fields"]:
            if ("switchingField" in f) == ("consistentField" in f):
                raise SubstraitError(
                    "ExpandField must carry exactly one of switchingField/"
                    "consistentField")
    elif kind == "extensionSingle":
        _validate_rel(body["input"])
        if "@type" not in body.get("detail", {}):
            raise SubstraitError("extensionSingle detail must carry an Any @type")
    elif kind == "extensionLeaf":
        if "@type" not in body.get("detail", {}):
            raise SubstraitError("extensionLeaf detail must carry an Any @type")
    elif kind == "exchange":
        _validate_rel(body["input"])
        kinds = [k for k in ("scatterByFields", "singleTarget", "multiTarget",
                             "roundRobin", "broadcast") if k in body]
        if len(kinds) != 1:
            raise SubstraitError(
                f"exchange requires exactly one exchange_kind, got {kinds}"
            )
