"""Substrait Type ⇄ Spark SQL type mapping (SURVEY.md §1.2 table).

Reference type surface: producer.rs:576-604 / consumer.rs:563-610 plus typed
nulls producer.rs:613-655 / consumer.rs:617-639. We add the
Substrait-spec-standard ``timestamp``/``timestampTz``/``list``/``struct``
types the reference rejects (producer.rs:649-654, consumer.rs:629-632),
because the driver's test tables carry timestamp and array<float> columns.

Substrait types are dicts keyed by the proto3-JSON oneof field name, e.g.
``{"i64": {"nullability": ...}}`` or
``{"decimal": {"precision": 5, "scale": 2, "nullability": ...}}``.

Spark's ``void`` (the type of an untyped NULL) has no Substrait counterpart,
so it travels as the user-defined type ``spark:void``, declared in the
plan's extensions under ``VOID_TYPE_ANCHOR``.
"""

from __future__ import annotations

import re

from datafusion_substrait_spark.plans.proto import SubstraitError

_NULLABLE = "NULLABILITY_NULLABLE"

# simple (parameterless) types: spark simpleString ↔ substrait oneof key
_SIMPLE_SPARK_TO_SUBSTRAIT = {
    "tinyint": "i8",
    "smallint": "i16",
    "int": "i32",
    "bigint": "i64",
    "boolean": "bool",
    "float": "fp32",
    "double": "fp64",
    "string": "string",
    "binary": "binary",
    "date": "date",
    # Spark TimestampType is UTC-normalized instant → timestampTz;
    # TimestampNTZType is wall-clock → timestamp.
    "timestamp": "timestampTz",
    "timestamp_ntz": "timestamp",
    "interval day to second": "intervalDay",
}
_SIMPLE_SUBSTRAIT_TO_SPARK = {
    "i8": "tinyint",
    "i16": "smallint",
    "i32": "int",
    "i64": "bigint",
    "bool": "boolean",
    "fp32": "float",
    "fp64": "double",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "timestampTz": "timestamp",
    "timestamp": "timestamp_ntz",
    "intervalDay": "interval day to second",
}

# declared user-defined types: extension name → Spark SQL type, and the
# fixed anchor each is declared under
VOID_TYPE_NAME = "spark:void"
VOID_TYPE_ANCHOR = 0
_USER_TYPES = {VOID_TYPE_NAME: "void"}
USER_TYPE_ANCHORS = {VOID_TYPE_NAME: VOID_TYPE_ANCHOR}

_DECIMAL_RE = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")
_ARRAY_RE = re.compile(r"^array<(.*)>$")


def spark_type_to_substrait(simple_string: str) -> dict:
    """Spark ``DataType.simpleString()`` → Substrait type dict."""
    s = simple_string.strip()
    if s == "void":
        return {"userDefined": {"typeReference": VOID_TYPE_ANCHOR,
                                "nullability": _NULLABLE}}
    if s in _SIMPLE_SPARK_TO_SUBSTRAIT:
        return {_SIMPLE_SPARK_TO_SUBSTRAIT[s]: {"nullability": _NULLABLE}}
    m = _DECIMAL_RE.match(s)
    if m:
        return {"decimal": {"precision": int(m.group(1)), "scale": int(m.group(2)),
                            "nullability": _NULLABLE}}
    m = _ARRAY_RE.match(s)
    if m:
        return {"list": {"type": spark_type_to_substrait(m.group(1)),
                         "nullability": _NULLABLE}}
    if s.startswith("struct<"):
        # struct<name:type,...> — split on top-level commas. Field NAMES are
        # dropped: Substrait Type.Struct carries none. Safe for base-schema
        # columns (the consumer re-reads names from the live catalog table);
        # the producer FENCES the one path where dropped names would leak
        # into results (cast-to-struct, producer.rex).
        inner = s[len("struct<"):-1]
        types = []
        for part in _split_top_level(inner):
            _, _, t = part.partition(":")
            types.append(spark_type_to_substrait(t))
        return {"struct": {"types": types, "nullability": _NULLABLE}}
    raise SubstraitError(f"unsupported Spark type for interchange: {s!r} "
                         "(reference fence: producer.rs:649-654)")


def holds_user_type(t: dict) -> bool:
    """Whether the Substrait type ``t`` holds a user-defined type at any
    depth (list elements and struct fields included)."""
    if "userDefined" in t:
        return True
    if "list" in t:
        return holds_user_type(t["list"]["type"])
    if "struct" in t:
        return any(holds_user_type(ft) for ft in t["struct"]["types"])
    return False


def user_type_map(plan: dict) -> dict[int, str]:
    """type anchor → name of the plan's declared extension types."""
    out: dict[int, str] = {}
    for decl in plan.get("extensions", []):
        t = decl.get("extensionType")
        if t is not None:
            out[int(t.get("typeAnchor", 0))] = t.get("name", "")
    return out


def substrait_type_to_spark(t: dict,
                            user_types: dict[int, str] | None = None) -> str:
    """Substrait type dict → Spark SQL type string usable in ``CAST``;
    ``user_types`` is the plan's ``user_type_map``."""
    kinds = [k for k in t if k != "nullability"]
    if len(kinds) != 1:
        raise SubstraitError(f"bad substrait type {t}")
    kind = kinds[0]
    body = t[kind] if isinstance(t[kind], dict) else {}
    if kind in _SIMPLE_SUBSTRAIT_TO_SPARK:
        return _SIMPLE_SUBSTRAIT_TO_SPARK[kind]
    if kind == "decimal":
        return f"decimal({int(body['precision'])},{int(body.get('scale', 0))})"
    if kind == "list":
        return f"array<{substrait_type_to_spark(body['type'], user_types)}>"
    if kind == "struct":
        fields = ",".join(
            f"f{i}:{substrait_type_to_spark(ft, user_types)}"
            for i, ft in enumerate(body["types"])
        )
        return f"struct<{fields}>"
    if kind == "userDefined":
        ref = int(body.get("typeReference", 0))
        name = (user_types or {}).get(ref)
        if name is None:
            raise SubstraitError(
                f"user-defined type reference {ref} is not declared in the "
                "plan's extensions")
        if name not in _USER_TYPES:
            raise SubstraitError(
                f"user-defined type {name!r} is not consumable (known: "
                f"{sorted(_USER_TYPES)})")
        return _USER_TYPES[name]
    raise SubstraitError(f"unsupported substrait type kind {kind!r} "
                         "(reference fence: consumer.rs:629-632)")


def _split_top_level(s: str) -> list[str]:
    # both bracket kinds nest: struct<a:decimal(10,2)> carries a comma
    # inside (), not just <>
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts
