"""Binary protobuf wire format for the Substrait plan IR.

The reference serializes plans with prost-generated protobuf bindings
(``Cargo.toml:10``, ``serializer.rs:12-33``). This environment has no
protobuf package, so this module hand-rolls the proto3 **wire format**
(varints, tags, length-delimited submessages — the format is public and
stable) driven by a declarative schema table transcribed from the public
Substrait spec (github.com/substrait-io/substrait,
``proto/substrait/{plan,algebra,type,extensions}.proto`` at the spec
version the producer stamps: v0.53 — ``proto.plan()``'s minorNumber).

The in-memory IR stays the proto3-JSON dict tree of ``plans/proto.py``;
``encode_plan``/``decode_plan`` convert dict ⇄ wire bytes. Design points:

* **Schema-table driven**: every message is a dict of
  ``jsonFieldName -> (field_number, kind[, repeated])``; a transcription
  error in any one field number is a one-line fix, and the table doubles
  as documentation of exactly which spec subset is emitted.
* **Explicit presence**: fields present in the IR dict are encoded even at
  proto3 default values (legal on the wire; canonical encoders merely
  elide them), so ``decode(encode(p)) == p`` exactly — the same contract
  ``proto.loads(proto.dumps(p))`` has — with ONE carve-out: ``fp32``
  literals pass through the 4-byte fixed32 wire slot, so a JSON-authored
  fp32 value not representable in float32 (e.g. 0.1) decodes as its
  float32 rounding; our own producer emits fp32 only from Spark FloatType
  values, which are float32-exact by construction. Oneof members are
  always encoded by conformant serializers regardless of value, and the
  consumer reads elidable non-oneof scalars with ``.get(..., default)``,
  so third-party canonical encodings also decode into consumable plans.
* **Packed repeated scalars** are written packed (proto3 default) and
  accepted in both packed and unpacked form on decode.
* **Unknown fields** are skipped on decode (standard proto semantics), so
  plans from richer producers degrade to the supported surface instead of
  failing to parse. Unknown ENUM NUMBERS, by contrast, fail loudly: the
  IR carries enum names, so an unmapped number has no representation —
  a newer producer's enum value surfaces as a targeted SubstraitError
  here rather than a silently wrong plan downstream.
* The ``ExtensionSingleRel.detail`` ``google.protobuf.Any`` wraps our own
  ``spark.substrait_spark.GenerateRel`` extension message (we own its
  numbering; the type URL is the registry key).

Self-verification: ``tests/test_wire.py`` hand-checks wire primitives
against the protobuf encoding spec (varint/tag/fixed64 byte goldens) and
roundtrips every produced plan shape. No protobuf bindings exist in this
environment to cross-validate field numbers against generated code; the
schema cites the upstream .proto file for each message so a reviewer can
diff the table line-by-line against the spec.
"""

from __future__ import annotations

import base64
import struct
from typing import Any

from datafusion_substrait_spark.plans.proto import SubstraitError

# ---------------------------------------------------------------------------
# enums (substrait proto enum name -> number)
# ---------------------------------------------------------------------------

ENUMS: dict[str, dict[str, int]] = {
    # type.proto Type.Nullability
    "Nullability": {
        "NULLABILITY_UNSPECIFIED": 0,
        "NULLABILITY_NULLABLE": 1,
        "NULLABILITY_REQUIRED": 2,
    },
    # algebra.proto SortField.SortDirection
    "SortDirection": {
        "SORT_DIRECTION_UNSPECIFIED": 0,
        "SORT_DIRECTION_ASC_NULLS_FIRST": 1,
        "SORT_DIRECTION_ASC_NULLS_LAST": 2,
        "SORT_DIRECTION_DESC_NULLS_FIRST": 3,
        "SORT_DIRECTION_DESC_NULLS_LAST": 4,
        "SORT_DIRECTION_CLUSTERED": 5,
    },
    # algebra.proto JoinRel.JoinType
    "JoinType": {
        "JOIN_TYPE_UNSPECIFIED": 0,
        "JOIN_TYPE_INNER": 1,
        "JOIN_TYPE_OUTER": 2,
        "JOIN_TYPE_LEFT": 3,
        "JOIN_TYPE_RIGHT": 4,
        "JOIN_TYPE_SEMI": 5,
        "JOIN_TYPE_ANTI": 6,
        "JOIN_TYPE_SINGLE": 7,
    },
    # algebra.proto SetRel.SetOp
    "SetOp": {
        "SET_OP_UNSPECIFIED": 0,
        "SET_OP_MINUS_PRIMARY": 1,
        "SET_OP_MINUS_MULTISET": 2,
        "SET_OP_INTERSECTION_PRIMARY": 3,
        "SET_OP_INTERSECTION_MULTISET": 4,
        "SET_OP_UNION_DISTINCT": 5,
        "SET_OP_UNION_ALL": 6,
    },
    # algebra.proto AggregationPhase
    "AggregationPhase": {
        "AGGREGATION_PHASE_UNSPECIFIED": 0,
        "AGGREGATION_PHASE_INITIAL_TO_INTERMEDIATE": 1,
        "AGGREGATION_PHASE_INTERMEDIATE_TO_INTERMEDIATE": 2,
        "AGGREGATION_PHASE_INITIAL_TO_RESULT": 3,
        "AGGREGATION_PHASE_INTERMEDIATE_TO_RESULT": 4,
    },
    # algebra.proto AggregateFunction.AggregationInvocation
    "AggregationInvocation": {
        "AGGREGATION_INVOCATION_UNSPECIFIED": 0,
        "AGGREGATION_INVOCATION_ALL": 1,
        "AGGREGATION_INVOCATION_DISTINCT": 2,
    },
    # algebra.proto Expression.WindowFunction.BoundsType
    "BoundsType": {
        "BOUNDS_TYPE_UNSPECIFIED": 0,
        "BOUNDS_TYPE_ROWS": 1,
        "BOUNDS_TYPE_RANGE": 2,
    },
    # algebra.proto Expression.Cast.FailureBehavior
    "FailureBehavior": {
        "FAILURE_BEHAVIOR_UNSPECIFIED": 0,
        "FAILURE_BEHAVIOR_RETURN_NULL": 1,
        "FAILURE_BEHAVIOR_THROW_EXCEPTION": 2,
    },
}

# ---------------------------------------------------------------------------
# message schemas
#
# jsonFieldName -> (field_number, kind) or (field_number, kind, "rep")
# kinds: u32 u64 i32 i64 bool f32 f64 str bytes(base64-str in the IR)
#        e:<Enum>  m:<Message>  any
# Source .proto file and message are cited per block.
# ---------------------------------------------------------------------------

MESSAGES: dict[str, dict[str, tuple]] = {
    # plan.proto Plan
    "Plan": {
        "extensionUris": (1, "m:SimpleExtensionURI", "rep"),
        "extensions": (2, "m:SimpleExtensionDeclaration", "rep"),
        "relations": (3, "m:PlanRel", "rep"),
        "version": (6, "m:Version"),
    },
    # plan.proto Version
    "Version": {
        "majorNumber": (1, "u32"),
        "minorNumber": (2, "u32"),
        "patchNumber": (3, "u32"),
        "gitHash": (4, "str"),
        "producer": (5, "str"),
    },
    # plan.proto PlanRel (oneof rel_type)
    "PlanRel": {
        "rel": (1, "m:Rel"),
        "root": (2, "m:RelRoot"),
    },
    # extensions/extensions.proto SimpleExtensionURI
    "SimpleExtensionURI": {
        "extensionUriAnchor": (1, "u32"),
        "uri": (2, "str"),
    },
    # extensions/extensions.proto SimpleExtensionDeclaration (oneof)
    "SimpleExtensionDeclaration": {
        "extensionType": (1, "m:ExtensionType"),
        "extensionTypeVariation": (2, "m:ExtensionTypeVariation"),
        "extensionFunction": (3, "m:ExtensionFunction"),
    },
    "ExtensionType": {
        "extensionUriReference": (1, "u32"),
        "typeAnchor": (2, "u32"),
        "name": (3, "str"),
    },
    "ExtensionTypeVariation": {
        "extensionUriReference": (1, "u32"),
        "typeVariationAnchor": (2, "u32"),
        "name": (3, "str"),
    },
    "ExtensionFunction": {
        "extensionUriReference": (1, "u32"),
        "functionAnchor": (2, "u32"),
        "name": (3, "str"),
    },
    # algebra.proto RelRoot
    "RelRoot": {
        "input": (1, "m:Rel"),
        "names": (2, "str", "rep"),
    },
    # algebra.proto Rel (oneof rel_type)
    "Rel": {
        "read": (1, "m:ReadRel"),
        "filter": (2, "m:FilterRel"),
        "fetch": (3, "m:FetchRel"),
        "aggregate": (4, "m:AggregateRel"),
        "sort": (5, "m:SortRel"),
        "join": (6, "m:JoinRel"),
        "project": (7, "m:ProjectRel"),
        "set": (8, "m:SetRel"),
        "extensionSingle": (9, "m:ExtensionSingleRel"),
        "extensionMulti": (10, "m:ExtensionMultiRel"),
        "extensionLeaf": (11, "m:ExtensionLeafRel"),
        "cross": (12, "m:CrossRel"),
        "exchange": (15, "m:ExchangeRel"),
        "expand": (16, "m:ExpandRel"),
        "window": (17, "m:ConsistentPartitionWindowRel"),
        "reference": (21, "m:ReferenceRel"),
    },
    # algebra.proto ReferenceRel (DAG reuse: points at Plan.relations[i])
    "ReferenceRel": {
        "subtreeOrdinal": (1, "i32"),
    },
    # algebra.proto ExpandRel (+ nested ExpandField/SwitchingField; the
    # ExpandField oneof numbering starts at 2 per the spec). The spec
    # text is transcribed from memory in this offline environment and
    # `fields` is believed to be tag 4 with 3 unused — a decode alias in
    # _DECODE_ALIASES accepts tag 3 too, so a producer using either
    # numbering interoperates (review catch r12). r13 (ADVICE): the
    # alias is FALLBACK-ONLY — it activates only when tag 4 is absent
    # from the message, so a future field assigned tag 3 can never be
    # misdecoded as `fields` on plans from tag-4 producers.
    "ExpandRel": {
        "common": (1, "m:RelCommon"),
        "input": (2, "m:Rel"),
        "fields": (4, "m:ExpandField", "rep"),
    },
    "ExpandField": {
        "switchingField": (2, "m:SwitchingField"),
        "consistentField": (3, "m:Expression"),
    },
    "SwitchingField": {
        "duplicates": (1, "m:Expression", "rep"),
    },
    # algebra.proto ExchangeRel (+ nested exchange_kind members)
    "ExchangeRel": {
        "common": (1, "m:RelCommon"),
        "input": (2, "m:Rel"),
        "partitionCount": (3, "i32"),
        "targets": (4, "m:ExchangeTarget", "rep"),
        "scatterByFields": (5, "m:ExchScatterFields"),
        "singleTarget": (6, "m:ExchSingleBucket"),
        "multiTarget": (7, "m:ExchMultiBucket"),
        "roundRobin": (8, "m:ExchRoundRobin"),
        "broadcast": (9, "m:ExchBroadcast"),
        "advancedExtension": (10, "m:AdvancedExtension"),
    },
    "ExchScatterFields": {"fields": (1, "m:FieldReference", "rep")},
    "ExchSingleBucket": {"expression": (1, "m:Expression")},
    "ExchMultiBucket": {
        "expression": (1, "m:Expression"),
        "constrainedToCount": (2, "bool"),
    },
    "ExchRoundRobin": {"exact": (1, "bool")},
    "ExchBroadcast": {},
    "ExchangeTarget": {
        "partitionId": (1, "i32", "rep"),
        "uri": (2, "str"),
        "rel": (3, "m:Rel"),
    },
    # algebra.proto RelCommon (+ nested Direct/Emit)
    "RelCommon": {
        "direct": (1, "m:RelCommonDirect"),
        "emit": (2, "m:RelCommonEmit"),
    },
    "RelCommonDirect": {},
    "RelCommonEmit": {
        "outputMapping": (1, "i32", "rep"),
    },
    # algebra.proto ReadRel (+ NamedTable read_type member)
    "ReadRel": {
        "common": (1, "m:RelCommon"),
        "baseSchema": (2, "m:NamedStruct"),
        "filter": (3, "m:Expression"),
        "projection": (4, "m:MaskExpression"),
        "virtualTable": (5, "m:VirtualTable"),
        "namedTable": (7, "m:NamedTable"),
        "bestEffortFilter": (11, "m:Expression"),
        "advancedExtension": (10, "m:AdvancedExtension"),
    },
    "NamedTable": {
        "names": (1, "str", "rep"),
    },
    # algebra.proto ReadRel.VirtualTable; rows are Expression.Literal.Struct
    "VirtualTable": {
        "values": (1, "m:LiteralStruct", "rep"),
    },
    # type.proto NamedStruct
    "NamedStruct": {
        "names": (1, "str", "rep"),
        "struct": (2, "m:TypeStruct"),
    },
    # algebra.proto Expression.MaskExpression (+ StructSelect/StructItem)
    "MaskExpression": {
        "select": (1, "m:MaskStructSelect"),
        "maintainSingularStruct": (2, "bool"),
    },
    "MaskStructSelect": {
        "structItems": (1, "m:MaskStructItem", "rep"),
    },
    "MaskStructItem": {
        "field": (1, "i32"),
        "child": (2, "m:MaskExpression"),
    },
    # algebra.proto ProjectRel
    "ProjectRel": {
        "common": (1, "m:RelCommon"),
        "input": (2, "m:Rel"),
        "expressions": (3, "m:Expression", "rep"),
        "advancedExtension": (10, "m:AdvancedExtension"),
    },
    # algebra.proto FilterRel
    "FilterRel": {
        "common": (1, "m:RelCommon"),
        "input": (2, "m:Rel"),
        "condition": (3, "m:Expression"),
        "advancedExtension": (10, "m:AdvancedExtension"),
    },
    # algebra.proto FetchRel
    "FetchRel": {
        "common": (1, "m:RelCommon"),
        "input": (2, "m:Rel"),
        "offset": (3, "i64"),
        "count": (4, "i64"),
        # the newer spec's expression bounds (oneof with the deprecated
        # i64 forms above); silently skipping them would drop a LIMIT —
        # wrong rows with no error (r12)
        "offsetExpr": (5, "m:Expression"),
        "countExpr": (6, "m:Expression"),
        "advancedExtension": (10, "m:AdvancedExtension"),
    },
    # algebra.proto SortRel
    "SortRel": {
        "common": (1, "m:RelCommon"),
        "input": (2, "m:Rel"),
        "sorts": (3, "m:SortField", "rep"),
        "advancedExtension": (10, "m:AdvancedExtension"),
    },
    # algebra.proto SortField
    "SortField": {
        "expr": (1, "m:Expression"),
        "direction": (2, "e:SortDirection"),
        "comparisonFunctionReference": (3, "u32"),
    },
    # algebra.proto AggregateRel (+ Grouping/Measure)
    "AggregateRel": {
        "common": (1, "m:RelCommon"),
        "input": (2, "m:Rel"),
        "groupings": (3, "m:AggGrouping", "rep"),
        "measures": (4, "m:AggMeasure", "rep"),
        "groupingExpressions": (5, "m:Expression", "rep"),
        "advancedExtension": (10, "m:AdvancedExtension"),
    },
    "AggGrouping": {
        "groupingExpressions": (1, "m:Expression", "rep"),
        "expressionReferences": (2, "u32", "rep"),
    },
    "AggMeasure": {
        "measure": (1, "m:AggregateFunction"),
        "filter": (2, "m:Expression"),
    },
    # algebra.proto AggregateFunction
    "AggregateFunction": {
        "functionReference": (1, "u32"),
        "sorts": (3, "m:SortField", "rep"),
        "phase": (4, "e:AggregationPhase"),
        "outputType": (5, "m:Type"),
        "invocation": (6, "e:AggregationInvocation"),
        "arguments": (7, "m:FunctionArgument", "rep"),
    },
    # algebra.proto JoinRel
    "JoinRel": {
        "common": (1, "m:RelCommon"),
        "left": (2, "m:Rel"),
        "right": (3, "m:Rel"),
        "expression": (4, "m:Expression"),
        "postJoinFilter": (5, "m:Expression"),
        "type": (6, "e:JoinType"),
        "advancedExtension": (10, "m:AdvancedExtension"),
    },
    # extensions/extensions.proto AdvancedExtension (optimization is
    # repeated Any in v0.53; enhancement unused here). Carries the r10
    # JoinHintInfo so user join-strategy hints survive the plan boundary.
    "AdvancedExtension": {
        # optimization is kind any_opt: the spec says a consumer MAY
        # ignore optimizations, so an unregistered third-party Any here
        # decodes to an opaque passthrough instead of failing the plan
        # (extension-rel `detail` Anys stay strict — the rel is
        # meaningless without a consumable detail)
        "optimization": (1, "any_opt", "rep"),
        "enhancement": (2, "any_opt"),
    },
    # spark.substrait_spark.JoinHintInfo (Any-wrapped, like SampleRel):
    # Catalyst JoinHint strategies per side ('broadcast', 'merge',
    # 'shuffle_hash', 'shuffle_replicate_nl')
    "JoinHintInfo": {
        "leftStrategy": (1, "str"),
        "rightStrategy": (2, "str"),
    },
    # spark.substrait_spark.LocalSortRel (Any-wrapped in
    # ExtensionSingleRel): partition-local sort — sortWithinPartitions /
    # SORT BY / randomSplit's deterministic-split sort (r10)
    "LocalSortRel": {
        "sorts": (1, "m:SortField", "rep"),
    },
    # spark.substrait_spark.RangeRel (Any-wrapped in ExtensionLeafRel):
    # spark.range(start, end, step[, numSlices]) — r10 leaf source
    "RangeRel": {
        "start": (1, "i64"),
        "end": (2, "i64"),
        "step": (3, "i64"),
        "numSlices": (4, "i32"),
    },
    # algebra.proto CrossRel (produced as inner-join-on-true today; decodable)
    "CrossRel": {
        "common": (1, "m:RelCommon"),
        "left": (2, "m:Rel"),
        "right": (3, "m:Rel"),
        "advancedExtension": (10, "m:AdvancedExtension"),
    },
    # algebra.proto SetRel
    "SetRel": {
        "common": (1, "m:RelCommon"),
        "inputs": (2, "m:Rel", "rep"),
        "op": (3, "e:SetOp"),
        "advancedExtension": (10, "m:AdvancedExtension"),
    },
    # algebra.proto ConsistentPartitionWindowRel (+ WindowRelFunction).
    # WindowRelFunction keeps Expression.WindowFunction's field numbering
    # for the shared fields (upperBound=4 / lowerBound=5 — the spec's
    # order), minus partitions/sorts which live on the rel.
    "ConsistentPartitionWindowRel": {
        "common": (1, "m:RelCommon"),
        "input": (2, "m:Rel"),
        "windowFunctions": (3, "m:WindowRelFunction", "rep"),
        "partitionExpressions": (4, "m:Expression", "rep"),
        "sorts": (5, "m:SortField", "rep"),
        "advancedExtension": (10, "m:AdvancedExtension"),
    },
    "WindowRelFunction": {
        "functionReference": (1, "u32"),
        "upperBound": (4, "m:WindowBound"),
        "lowerBound": (5, "m:WindowBound"),
        "phase": (6, "e:AggregationPhase"),
        "outputType": (7, "m:Type"),
        "arguments": (9, "m:FunctionArgument", "rep"),
        "invocation": (10, "e:AggregationInvocation"),
        "boundsType": (12, "e:BoundsType"),
    },
    # algebra.proto Expression.WindowFunction.Bound (oneof kind)
    "WindowBound": {
        "preceding": (1, "m:BoundPreceding"),
        "following": (2, "m:BoundFollowing"),
        "currentRow": (3, "m:BoundCurrentRow"),
        "unbounded": (4, "m:BoundUnbounded"),
    },
    "BoundPreceding": {"offset": (1, "i64")},
    "BoundFollowing": {"offset": (1, "i64")},
    "BoundCurrentRow": {},
    "BoundUnbounded": {},
    # algebra.proto ExtensionSingleRel / ExtensionMultiRel / ExtensionLeafRel
    "ExtensionSingleRel": {
        "common": (1, "m:RelCommon"),
        "input": (2, "m:Rel"),
        "detail": (3, "any"),
    },
    "ExtensionMultiRel": {
        "common": (1, "m:RelCommon"),
        "detail": (2, "any"),
        "inputs": (3, "m:Rel", "rep"),
    },
    "ExtensionLeafRel": {
        "common": (1, "m:RelCommon"),
        "detail": (2, "any"),
    },
    # google/protobuf/any.proto
    "Any": {
        "typeUrl": (1, "str"),
        "value": (2, "rawbytes"),
    },
    # OUR extension message (spark.substrait_spark.GenerateRel — numbering
    # owned by this project, carried only inside the Any above)
    "GenerateRel": {
        "mode": (1, "str"),
        "outer": (2, "bool"),
        "argument": (3, "m:Expression"),
        "requiredChildIndices": (4, "u32", "rep"),
        "generatorOutputs": (5, "u32"),
        # replicaterows (INTERSECT/EXCEPT ALL): the replicated column
        # expressions; `argument` carries the multiplier. Absent for
        # explode/posexplode, so pre-r8 plans decode unchanged.
        "arguments": (6, "m:Expression", "rep"),
    },
    # OUR extension message (spark.substrait_spark.SampleRel)
    "SampleRel": {
        "lowerBound": (1, "f64"),
        "upperBound": (2, "f64"),
        "withReplacement": (3, "bool"),
        "seed": (4, "i64"),
    },
    # algebra.proto Expression (oneof rex_type)
    "Expression": {
        "literal": (1, "m:Literal"),
        "selection": (2, "m:FieldReference"),
        "scalarFunction": (3, "m:ScalarFunction"),
        "ifThen": (6, "m:IfThen"),
        # cast is 11 in the spec (7 is switch_expression, 10 the deprecated
        # enum) — an earlier transcription had 7, which a conformant decoder
        # would read as SwitchExpression
        "cast": (11, "m:Cast"),
        "singularOrList": (8, "m:SingularOrList"),
        "subquery": (12, "m:Subquery"),
        "nested": (13, "m:Nested"),
    },
    # algebra.proto Expression.ScalarFunction
    "ScalarFunction": {
        "functionReference": (1, "u32"),
        "outputType": (3, "m:Type"),
        "arguments": (4, "m:FunctionArgument", "rep"),
    },
    # algebra.proto FunctionArgument (oneof arg_type)
    "FunctionArgument": {
        "enum": (1, "str"),
        "type": (2, "m:Type"),
        "value": (3, "m:Expression"),
    },
    # algebra.proto Expression.IfThen (+ IfClause)
    "IfThen": {
        "ifs": (1, "m:IfClause", "rep"),
        "else": (2, "m:Expression"),
    },
    "IfClause": {
        "if": (1, "m:Expression"),
        "then": (2, "m:Expression"),
    },
    # algebra.proto Expression.Cast
    "Cast": {
        "type": (1, "m:Type"),
        "input": (2, "m:Expression"),
        "failureBehavior": (3, "e:FailureBehavior"),
    },
    # algebra.proto Expression.SingularOrList
    "SingularOrList": {
        "value": (1, "m:Expression"),
        "options": (2, "m:Expression", "rep"),
    },
    # algebra.proto Expression.Subquery (oneof; Scalar only today)
    "Subquery": {
        "scalar": (1, "m:SubqueryScalar"),
    },
    "SubqueryScalar": {
        "input": (1, "m:Rel"),
    },
    # algebra.proto Expression.Nested (oneof struct/list/map)
    "Nested": {
        "nullable": (1, "bool"),
        "typeVariationReference": (2, "u32"),
        "struct": (3, "m:NestedStruct"),
        "list": (4, "m:NestedList"),
    },
    "NestedStruct": {"fields": (1, "m:Expression", "rep")},
    "NestedList": {"values": (1, "m:Expression", "rep")},
    # algebra.proto Expression.FieldReference (+ ReferenceSegment)
    "FieldReference": {
        "directReference": (1, "m:ReferenceSegment"),
        "expression": (3, "m:Expression"),
        "rootReference": (4, "m:RootReference"),
        "outerReference": (5, "m:OuterReference"),
    },
    "RootReference": {},
    "OuterReference": {"stepsOut": (1, "u32")},
    "ReferenceSegment": {
        "mapKey": (1, "m:RefSegMapKey"),
        "structField": (2, "m:RefSegStructField"),
        "listElement": (3, "m:RefSegListElement"),
    },
    "RefSegMapKey": {
        "mapKey": (1, "m:Literal"),
        "child": (2, "m:ReferenceSegment"),
    },
    "RefSegStructField": {
        "field": (1, "i32"),
        "child": (2, "m:ReferenceSegment"),
    },
    "RefSegListElement": {
        "offset": (1, "i32"),
        "child": (2, "m:ReferenceSegment"),
    },
    # algebra.proto Expression.Literal (oneof literal_type; the number gaps
    # are the spec's, including i32=5 / i64=7 / date=16 / timestampTz=27)
    "Literal": {
        "boolean": (1, "bool"),
        "i8": (2, "i32"),
        "i16": (3, "i32"),
        "i32": (5, "i32"),
        "i64": (7, "i64"),
        "fp32": (10, "f32"),
        "fp64": (11, "f64"),
        "string": (12, "str"),
        "binary": (13, "bytes"),
        "timestamp": (14, "i64"),
        "date": (16, "i32"),
        "time": (17, "i64"),
        "intervalYearToMonth": (19, "m:IntervalYearToMonth"),
        "intervalDayToSecond": (20, "m:IntervalDayToSecond"),
        "fixedChar": (21, "str"),
        "decimal": (24, "m:LiteralDecimal"),
        "struct": (25, "m:LiteralStruct"),
        "timestampTz": (27, "i64"),
        "null": (29, "m:Type"),
        "nullable": (50, "bool"),
        "typeVariationReference": (51, "u32"),
    },
    # algebra.proto Expression.Literal.IntervalYearToMonth: years=1, months=2
    "IntervalYearToMonth": {
        "years": (1, "i32"),
        "months": (2, "i32"),
    },
    # algebra.proto Expression.Literal.IntervalDayToSecond: days=1,
    # seconds=2, then oneof precision_mode { microseconds=3 (deprecated,
    # ubiquitous), precision=4 } and subseconds=5 — this codec emits the
    # microseconds form; the consumer fences precision/subseconds
    "IntervalDayToSecond": {
        "days": (1, "i32"),
        "seconds": (2, "i32"),
        "microseconds": (3, "i32"),
        "precision": (4, "i32"),
        "subseconds": (5, "i64"),
    },
    "LiteralDecimal": {
        "value": (1, "bytes"),
        "precision": (2, "i32"),
        "scale": (3, "i32"),
    },
    # algebra.proto Expression.Literal.Struct
    "LiteralStruct": {
        "fields": (1, "m:Literal", "rep"),
    },
    # type.proto Type (oneof kind; numbering parallels Literal for the
    # scalar kinds, then list=27 / map=28 / timestampTz=29 diverge)
    "Type": {
        "bool": (1, "m:TypeParam"),
        "i8": (2, "m:TypeParam"),
        "i16": (3, "m:TypeParam"),
        "i32": (5, "m:TypeParam"),
        "i64": (7, "m:TypeParam"),
        "fp32": (10, "m:TypeParam"),
        "fp64": (11, "m:TypeParam"),
        "string": (12, "m:TypeParam"),
        "binary": (13, "m:TypeParam"),
        "timestamp": (14, "m:TypeParam"),
        "date": (16, "m:TypeParam"),
        "time": (17, "m:TypeParam"),
        "intervalYear": (19, "m:TypeParam"),
        "intervalDay": (20, "m:TypeParam"),
        "fixedChar": (21, "m:TypeFixed"),
        "varchar": (22, "m:TypeFixed"),
        "fixedBinary": (23, "m:TypeFixed"),
        "decimal": (24, "m:TypeDecimal"),
        "struct": (25, "m:TypeStruct"),
        "list": (27, "m:TypeList"),
        "map": (28, "m:TypeMap"),
        "timestampTz": (29, "m:TypeParam"),
        "userDefined": (30, "m:TypeUserDefined"),
    },
    # type.proto Type.UserDefined (type_parameters not carried)
    "TypeUserDefined": {
        "typeReference": (1, "u32"),
        "typeVariationReference": (2, "u32"),
        "nullability": (3, "e:Nullability"),
    },
    # type.proto parameterless type payload (Boolean/I8/.../TimestampTZ)
    "TypeParam": {
        "typeVariationReference": (1, "u32"),
        "nullability": (2, "e:Nullability"),
    },
    # type.proto FixedChar/VarChar/FixedBinary
    "TypeFixed": {
        "length": (1, "i32"),
        "typeVariationReference": (2, "u32"),
        "nullability": (3, "e:Nullability"),
    },
    # type.proto Type.Decimal (scale=1 before precision=2 — the spec's order)
    "TypeDecimal": {
        "scale": (1, "i32"),
        "precision": (2, "i32"),
        "typeVariationReference": (3, "u32"),
        "nullability": (4, "e:Nullability"),
    },
    # type.proto Type.Struct
    "TypeStruct": {
        "types": (1, "m:Type", "rep"),
        "typeVariationReference": (2, "u32"),
        "nullability": (3, "e:Nullability"),
    },
    # type.proto Type.List
    "TypeList": {
        "type": (1, "m:Type"),
        "typeVariationReference": (2, "u32"),
        "nullability": (3, "e:Nullability"),
    },
    # type.proto Type.Map
    "TypeMap": {
        "key": (1, "m:Type"),
        "value": (2, "m:Type"),
        "typeVariationReference": (3, "u32"),
        "nullability": (4, "e:Nullability"),
    },
}

# google.protobuf.Any type URL -> schema name (extension messages we carry)
ANY_TYPES: dict[str, str] = {
    "type.googleapis.com/spark.substrait_spark.GenerateRel": "GenerateRel",
    "type.googleapis.com/spark.substrait_spark.SampleRel": "SampleRel",
    "type.googleapis.com/spark.substrait_spark.JoinHintInfo": "JoinHintInfo",
    "type.googleapis.com/spark.substrait_spark.RangeRel": "RangeRel",
    "type.googleapis.com/spark.substrait_spark.LocalSortRel": "LocalSortRel",
}

_SCALAR_KINDS = {"u32", "u64", "i32", "i64", "bool", "f32", "f64",
                 "str", "bytes", "rawbytes"}
_VARINT_KINDS = {"u32", "u64", "i32", "i64", "bool"}

# wire types
_WT_VARINT, _WT_FIXED64, _WT_LEN, _WT_FIXED32 = 0, 1, 2, 5


def _wire_type(kind: str) -> int:
    if kind in _VARINT_KINDS or kind.startswith("e:"):
        return _WT_VARINT
    if kind == "f64":
        return _WT_FIXED64
    if kind == "f32":
        return _WT_FIXED32
    return _WT_LEN  # str, bytes, rawbytes, messages, any


# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------


def encode_uvarint(n: int) -> bytes:
    if n < 0:
        raise SubstraitError(f"uvarint of negative {n}")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        if pos >= len(buf):
            raise SubstraitError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise SubstraitError("varint too long")


def _tag(num: int, wt: int) -> bytes:
    return encode_uvarint((num << 3) | wt)


def _encode_scalar(kind: str, v: Any) -> bytes:
    if kind in ("u32", "u64"):
        return encode_uvarint(int(v))
    if kind in ("i32", "i64"):
        n = int(v)
        if n < 0:
            n += 1 << 64  # two's-complement 64-bit, per proto int32/int64
        return encode_uvarint(n)
    if kind == "bool":
        return encode_uvarint(1 if v else 0)
    if kind == "f64":
        return struct.pack("<d", float(v))
    if kind == "f32":
        return struct.pack("<f", float(v))
    if kind == "str":
        b = str(v).encode("utf-8")
        return encode_uvarint(len(b)) + b
    if kind == "bytes":  # IR carries base64 text (proto3-JSON bytes form)
        b = base64.b64decode(v)
        return encode_uvarint(len(b)) + b
    if kind == "rawbytes":  # already bytes (internal Any payload)
        return encode_uvarint(len(v)) + v
    raise SubstraitError(f"unknown scalar kind {kind}")


def _decode_scalar(kind: str, buf: bytes, pos: int, wt: int) -> tuple[Any, int]:
    if kind in _VARINT_KINDS:
        if wt != _WT_VARINT:
            raise SubstraitError(f"wire type {wt} for varint field")
        n, pos = decode_uvarint(buf, pos)
        if kind in ("i32", "i64") and n >= 1 << 63:
            n -= 1 << 64
        if kind == "bool":
            return bool(n), pos
        return n, pos
    if kind == "f64":
        if wt != _WT_FIXED64 or pos + 8 > len(buf):
            raise SubstraitError("bad or truncated fixed64 field")
        return struct.unpack("<d", buf[pos:pos + 8])[0], pos + 8
    if kind == "f32":
        if wt != _WT_FIXED32 or pos + 4 > len(buf):
            raise SubstraitError("bad or truncated fixed32 field")
        return struct.unpack("<f", buf[pos:pos + 4])[0], pos + 4
    if wt != _WT_LEN:
        # without this check a varint-typed corruption would be misread as
        # a LENGTH prefix and silently decode garbage (e.g. empty string)
        raise SubstraitError(f"wire type {wt} for length-delimited field")
    ln, pos = decode_uvarint(buf, pos)
    raw = buf[pos:pos + ln]
    if len(raw) != ln:
        raise SubstraitError("truncated length-delimited field")
    pos += ln
    if kind == "str":
        return raw.decode("utf-8"), pos
    if kind == "bytes":
        return base64.b64encode(raw).decode("ascii"), pos
    return raw, pos  # rawbytes


# ---------------------------------------------------------------------------
# message encode / decode
# ---------------------------------------------------------------------------


def encode_message(schema_name: str, msg: dict) -> bytes:
    try:
        schema = MESSAGES[schema_name]
    except KeyError:
        raise SubstraitError(f"no wire schema for message {schema_name!r}")
    out = bytearray()
    # deterministic output: fields in field-number order
    for name, spec in sorted(schema.items(), key=lambda kv: kv[1][0]):
        if name not in msg:
            continue
        num, kind = spec[0], spec[1]
        repeated = len(spec) > 2
        values = msg[name] if repeated else [msg[name]]
        if repeated and not values:
            continue  # empty repeated field: no wire representation
        if repeated and kind in _VARINT_KINDS:
            # packed (proto3 default for repeated scalars)
            payload = b"".join(_encode_scalar(kind, v) for v in values)
            out += _tag(num, _WT_LEN) + encode_uvarint(len(payload)) + payload
            continue
        for v in values:
            if kind.startswith("m:"):
                body = encode_message(kind[2:], v)
                out += _tag(num, _WT_LEN) + encode_uvarint(len(body)) + body
            elif kind in ("any", "any_opt"):
                out += _tag(num, _WT_LEN)
                body = _encode_any(v, tolerant=kind == "any_opt")
                out += encode_uvarint(len(body)) + body
            elif kind.startswith("e:"):
                enum = ENUMS[kind[2:]]
                if v not in enum:
                    raise SubstraitError(f"unknown {kind[2:]} value {v!r}")
                out += _tag(num, _WT_VARINT) + encode_uvarint(enum[v])
            else:
                out += _tag(num, _wire_type(kind)) + _encode_scalar(kind, v)
    extra = set(msg) - set(schema)
    if extra:
        raise SubstraitError(
            f"{schema_name} has fields with no wire mapping: {sorted(extra)}")
    return bytes(out)


def _encode_any(detail: dict, tolerant: bool = False) -> bytes:
    url = detail.get("@type")
    if "@opaqueValue" in detail:
        # passthrough of a foreign Any we decoded opaquely (see
        # _decode_any tolerant path) — re-emit the original bytes
        return encode_message("Any", {
            "typeUrl": url,
            "value": base64.b64decode(detail["@opaqueValue"])})
    if url not in ANY_TYPES:
        raise SubstraitError(f"unregistered Any type {url!r}")
    inner = {k: v for k, v in detail.items() if k != "@type"}
    value = encode_message(ANY_TYPES[url], inner)
    return encode_message("Any", {"typeUrl": url, "value": value})


def _skip_field(buf: bytes, pos: int, wt: int) -> int:
    # skipped fields still bounds-check: a corrupt length claiming bytes
    # past the buffer must fail loudly, not silently end the message
    if wt == _WT_VARINT:
        _, pos = decode_uvarint(buf, pos)
        return pos
    if wt == _WT_FIXED64:
        end = pos + 8
    elif wt == _WT_FIXED32:
        end = pos + 4
    elif wt == _WT_LEN:
        ln, pos = decode_uvarint(buf, pos)
        end = pos + ln
    else:
        raise SubstraitError(f"unsupported wire type {wt}")
    if end > len(buf):
        raise SubstraitError("truncated field while skipping unknown data")
    return end


# Fields that must NOT be silently skipped as unknown. Expression field 7
# is switch_expression in the spec (unsupported here), but it is ALSO where
# a pre-fix build of this encoder wrote Cast (renumbered to the spec's 11).
# Skipping it would decode an old payload as an empty Expression that errors
# later with no hint why; the producer tag is unchanged across that fix, so
# old payloads are otherwise indistinguishable.
_POISON_FIELDS: dict[tuple[str, int], str] = {
    ("Expression", 7): (
        "Expression field 7 encountered: either switch_expression "
        "(spec-valid, not consumable here) or a Cast serialized by a "
        "pre-fix build of this producer (cast was renumbered 7→11 to "
        "match the spec) — re-serialize the plan with the current producer"
    ),
    # spec-valid features with no consumable mapping: skipping them decodes
    # a hollowed-out expression that errors later with no hint what was
    # dropped, so they fail loudly at the byte layer instead. Window
    # functions ARE supported — at the rel level (Rel.window=17); only the
    # inline-expression form has no mapping.
    ("Expression", 5): (
        "Expression field 5 (inline window_function) is not consumable — "
        "this implementation carries window functions in "
        "ConsistentPartitionWindowRel (Rel.window), not inline expressions"
    ),
    ("Expression", 9): (
        "Expression field 9 (multi_or_list) is not consumable — rewrite "
        "as singular_or_list per value or an OR chain"
    ),
    ("FieldReference", 2): (
        "FieldReference field 2 (masked_reference) is not consumable — "
        "only direct struct-field references are supported"
    ),
    # spec-valid Rel kinds with no consumable mapping (r12): skipping the
    # unknown tag would decode a HOLLOW Rel that errors later as
    # 'relation must set exactly one kind' with no hint what was dropped.
    # The physical join rels carry key lists and their own JoinType enum
    # whose numbering cannot be verified in this offline environment —
    # fencing loudly beats transcribing a schema that might misread a
    # real producer's bytes.
    ("Rel", 13): (
        "Rel field 13 (HashJoinRel) is not consumable — re-plan with the "
        "logical JoinRel (a strategy hint rides "
        "JoinRel.advanced_extension)"
    ),
    ("Rel", 14): (
        "Rel field 14 (MergeJoinRel) is not consumable — re-plan with "
        "the logical JoinRel (a strategy hint rides "
        "JoinRel.advanced_extension)"
    ),
    ("Rel", 18): (
        "Rel field 18 (NestedLoopJoinRel) is not consumable — re-plan "
        "with the logical JoinRel or CrossRel"
    ),
    ("Rel", 19): (
        "Rel field 19 (WriteRel) is not consumable — this engine's sinks "
        "are driven from the DataFrame side (sources/sinks), not the plan"
    ),
    ("Rel", 20): (
        "Rel field 20 (DdlRel) is not consumable — DDL is out of scope "
        "for plan interchange here"
    ),
    ("Rel", 23): (
        "Rel field 23 (UpdateRel) is not consumable — mutations are out "
        "of scope for plan interchange here"
    ),
}


# Decode-side tag aliases: accepted IN ADDITION to the schema-table tag.
# Used where the offline transcription of algebra.proto leaves a genuine
# numbering ambiguity — decoding both tags keeps interop with a real
# producer whichever numbering is right (encode uses the schema table).
# FALLBACK-ONLY (ADVICE r12): an alias applies only when the schema-table
# field is entirely absent from the message — if real bytes carry the
# published tag, a future field assigned the alias tag can never be
# silently misdecoded as it.
_DECODE_ALIASES: dict[str, dict[int, str]] = {
    "ExpandRel": {3: "fields"},
}


def _field_nums(buf: bytes) -> set[int]:
    """Field numbers present in a raw message buffer (keys walked, values
    skipped) — the pre-scan behind fallback-only decode aliases."""
    nums: set[int] = set()
    pos = 0
    while pos < len(buf):
        key, pos = decode_uvarint(buf, pos)
        nums.add(key >> 3)
        pos = _skip_field(buf, pos, key & 7)
    return nums


def decode_message(schema_name: str, buf: bytes) -> dict:
    try:
        schema = MESSAGES[schema_name]
    except KeyError:
        raise SubstraitError(f"no wire schema for message {schema_name!r}")
    by_num = {spec[0]: (name, spec[1], len(spec) > 2)
              for name, spec in schema.items()}
    aliases = _DECODE_ALIASES.get(schema_name, {})
    if aliases:
        # fallback-only: activate an alias tag ONLY when the message
        # carries no occurrence of the published tag (one cheap key walk;
        # a malformed buffer falls through to the main loop's error)
        try:
            present = _field_nums(buf)
        except SubstraitError:
            present = frozenset()
        for num, alias in aliases.items():
            if schema[alias][0] in present:
                continue
            spec = schema[alias]
            by_num.setdefault(num, (alias, spec[1], len(spec) > 2))
    msg: dict[str, Any] = {}
    pos = 0
    while pos < len(buf):
        key, pos = decode_uvarint(buf, pos)
        num, wt = key >> 3, key & 7
        if num not in by_num:
            poison = _POISON_FIELDS.get((schema_name, num))
            if poison is not None:
                raise SubstraitError(poison)
            pos = _skip_field(buf, pos, wt)  # unknown field: proto skip
            continue
        name, kind, repeated = by_num[num]
        if repeated and kind in _VARINT_KINDS and wt == _WT_LEN:
            ln, pos = decode_uvarint(buf, pos)
            end = pos + ln
            if end > len(buf):
                raise SubstraitError("truncated packed repeated field")
            vals = []
            while pos < end:
                v, pos = _decode_scalar(kind, buf, pos, _WT_VARINT)
                vals.append(v)
            if vals:  # zero-length packed ≡ absent (canonical() invariant)
                msg.setdefault(name, []).extend(vals)
            continue
        if kind.startswith("m:") or kind in ("any", "any_opt"):
            if wt != _WT_LEN:
                raise SubstraitError(f"wire type {wt} for message field {name}")
            ln, pos = decode_uvarint(buf, pos)
            raw = buf[pos:pos + ln]
            if len(raw) != ln:
                raise SubstraitError("truncated message field")
            pos += ln
            v = (_decode_any(raw, tolerant=kind == "any_opt")
                 if kind in ("any", "any_opt")
                 else decode_message(kind[2:], raw))
        elif kind.startswith("e:"):
            n, pos = decode_uvarint(buf, pos)
            names = {v: k for k, v in ENUMS[kind[2:]].items()}
            if n not in names:
                raise SubstraitError(f"unknown {kind[2:]} number {n}")
            v = names[n]
        else:
            v = None
            v, pos = _decode_scalar(kind, buf, pos, wt)
        if repeated:
            msg.setdefault(name, []).append(v)
        else:
            msg[name] = v
    return msg


def _decode_any(raw: bytes, tolerant: bool = False) -> dict:
    envelope = decode_message("Any", raw)
    url = envelope.get("typeUrl")
    if url not in ANY_TYPES:
        if tolerant:
            # spec: optimizations "may be ignored by a consumer" — keep
            # the foreign bytes opaquely so decode(encode(p)) == p and
            # the JSON consumer can skip by @type
            return {"@type": url,
                    "@opaqueValue": base64.b64encode(
                        envelope.get("value", b"")).decode("ascii")}
        raise SubstraitError(f"unregistered Any type {url!r}")
    inner = decode_message(ANY_TYPES[url], envelope.get("value", b""))
    return {"@type": url, **inner}


# ---------------------------------------------------------------------------
# public entry points
# ---------------------------------------------------------------------------


def canonical(p: Any) -> Any:
    """Strip empty-list fields recursively. Proto3 cannot represent an
    empty repeated field on the wire (absent and empty are the same state),
    so ``decode_plan(encode_plan(p)) == canonical(p)`` is the exact
    roundtrip contract. The consumer treats absent and empty repeated
    fields identically (``.get(..., [])``)."""
    if isinstance(p, dict):
        return {k: canonical(v) for k, v in p.items()
                if not (isinstance(v, list) and not v)}
    if isinstance(p, list):
        return [canonical(v) for v in p]
    return p


def encode_plan(p: dict) -> bytes:
    """Plan IR dict → substrait.Plan wire bytes."""
    return encode_message("Plan", p)


def decode_plan(b: bytes) -> dict:
    """substrait.Plan wire bytes → plan IR dict (validated)."""
    from datafusion_substrait_spark.plans.proto import validate_plan
    p = decode_message("Plan", b)
    validate_plan(p)
    return p
