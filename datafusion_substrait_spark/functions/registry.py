"""Extension-function registry: anchors assigned 0,1,2,… on first use.

Mirrors the reference producer's mutable ``(Vec<SimpleExtensionDeclaration>,
HashMap<String, u32>)`` pair (producer.rs:39-42, 393-431): re-registering an
already-seen name returns its existing anchor (pinned by the reference test
``select_with_reused_functions``, tests/roundtrip.rs:28-40).
"""

from __future__ import annotations

from datafusion_substrait_spark.plans import proto
from datafusion_substrait_spark.plans.types import USER_TYPE_ANCHORS


class ExtensionRegistry:
    def __init__(self) -> None:
        self._anchor_by_name: dict[str, int] = {}
        self._type_anchor_by_name: dict[str, int] = {}

    def register_type(self, name: str) -> None:
        """Declare a user-defined type under its fixed anchor
        (``USER_TYPE_ANCHORS``; type anchors are their own namespace)."""
        self._type_anchor_by_name[name] = USER_TYPE_ANCHORS[name]

    def register(self, name: str) -> int:
        """Return the anchor for ``name``, assigning the next one on first use
        (producer.rs:397-406)."""
        if name not in self._anchor_by_name:
            self._anchor_by_name[name] = len(self._anchor_by_name)
        return self._anchor_by_name[name]

    def declarations(self) -> list[dict]:
        """SimpleExtensionDeclaration list in anchor order (producer.rs:407-424)."""
        return [
            proto.extension_function(anchor, name)
            for name, anchor in sorted(self._anchor_by_name.items(), key=lambda kv: kv[1])
        ] + [
            proto.extension_type(anchor, name)
            for name, anchor in sorted(self._type_anchor_by_name.items())
        ]

    def names(self) -> list[str]:
        return [n for n, _ in sorted(self._anchor_by_name.items(), key=lambda kv: kv[1])]
