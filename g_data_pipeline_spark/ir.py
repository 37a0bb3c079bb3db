"""The structured query IR.

Mirrors the reference's ``StructuredQuery`` JSON shape
(``/root/reference/src/services/query_translator.rs:14-53``):

    {"intent": "aggregate|filter|sort|describe|visualize",
     "columns": ["a", "b"],
     "operations": [{"type": "filter", "column": "x", "operator": ">", "value": "10"},
                    {"type": "mean", "column": "y"},
                    {"type": "sort", "column": "y", "ascending": false}, ...]}

This module is pure data modelling + validation; compilation to a Spark plan
lives in :mod:`g_data_pipeline_spark.plans.compiler`.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from enum import Enum
from typing import Any


class QueryIntent(str, Enum):
    """Intent taxonomy (reference ``query_translator.rs:14-25``, N1)."""

    AGGREGATE = "aggregate"
    FILTER = "filter"
    SORT = "sort"
    DESCRIBE = "describe"
    VISUALIZE = "visualize"


# Row caps by intent (reference ``query_translator.rs:313-316, 460``, R11).
DESCRIBE_ROW_CAP = 10
VISUALIZE_ROW_CAP = 100

FILTER_OPERATORS = ("=", "==", "!=", "<>", ">", "<", ">=", "<=")
OP_TYPES = ("filter", "mean", "sum", "count", "group_by_count", "sort", "limit")


@dataclass(frozen=True)
class ColumnOperation:
    """One operation of the reference's ``ColumnOperation`` enum
    (``query_translator.rs:29-42``), extended with ``by`` — an optional
    grouping column for the aggregate ops (the reference can only express
    group-by-COUNT; grouped mean/sum are the natural completion and what
    NL queries like "average price by segment" need)."""

    type: str  # one of OP_TYPES
    column: str
    operator: str | None = None  # filter only
    value: str | None = None  # filter only (always a string in the IR)
    ascending: bool = True  # sort only
    n: int | None = None  # limit only
    by: str | None = None  # aggregates only: grouping column

    def validate(self) -> None:
        if self.type not in OP_TYPES:
            raise ValueError(f"unknown operation type {self.type!r}")
        if self.type == "filter":
            if self.operator not in FILTER_OPERATORS:
                raise ValueError(f"unknown filter operator {self.operator!r}")
            if self.value is None:
                raise ValueError("filter requires a value")
        if self.type == "limit" and (self.n is None or self.n < 0):
            raise ValueError("limit requires n >= 0")


@dataclass
class StructuredQuery:
    """The whole-query IR (reference ``query_translator.rs:45-53``)."""

    intent: QueryIntent = QueryIntent.DESCRIBE
    columns: list[str] = field(default_factory=list)
    operations: list[ColumnOperation] = field(default_factory=list)

    def validate(self, available_columns: list[str] | None = None) -> None:
        for op in self.operations:
            op.validate()
        if available_columns is not None:
            known = set(available_columns)
            for c in self.columns:
                if c not in known:
                    raise ValueError(f"unknown column {c!r}")
            for op in self.operations:
                if op.column and op.column not in known:
                    raise ValueError(f"unknown column {op.column!r} in {op.type}")
                if op.by is not None and op.by not in known:
                    raise ValueError(f"unknown grouping column {op.by!r} in {op.type}")

    def to_json(self) -> str:
        """The IR as canonical JSON (sorted keys, compact): the inverse of
        :meth:`from_json`, so two requests that mean the same query give
        the same string."""
        return json.dumps(
            {
                "intent": self.intent.value,
                "columns": self.columns,
                "operations": [asdict(op) for op in self.operations],
            },
            sort_keys=True,
            separators=(",", ":"),
        )

    @classmethod
    def from_json(cls, payload: str | dict[str, Any]) -> StructuredQuery:
        """Parse the reference's JSON IR (including what its LLM translator
        emits but never parses — SURVEY.md §2.5 N3 calls out the stub; here
        parsing is implemented for real). Every field is type-checked, so a
        malformed IR raises ValueError and never reaches validation or the
        compiler with the wrong type."""
        obj = json.loads(payload) if isinstance(payload, str) else payload
        if not isinstance(obj, dict):
            raise ValueError("the IR must be a JSON object")
        intent = QueryIntent(str(obj.get("intent", "describe")).lower())
        columns = obj.get("columns", [])
        if not isinstance(columns, list) or not all(
            isinstance(c, str) for c in columns
        ):
            raise ValueError("columns must be a list of strings")
        raw_ops = obj.get("operations", [])
        if not isinstance(raw_ops, list):
            raise ValueError("operations must be a list")
        ops = []
        for raw in raw_ops:
            if not isinstance(raw, dict):
                raise ValueError("each operation must be a JSON object")
            ops.append(
                ColumnOperation(
                    type=str(raw.get("type", "")).lower(),
                    column=_typed(raw, "column", str, ""),
                    operator=_typed(raw, "operator", str, None),
                    value=None if raw.get("value") is None else str(raw["value"]),
                    ascending=_typed(raw, "ascending", bool, True),
                    n=_typed(raw, "n", int, None),
                    by=_typed(raw, "by", str, None),
                )
            )
        q = cls(intent=intent, columns=columns, operations=ops)
        q.validate()
        return q


def _typed(raw: dict[str, Any], key: str, kind: type, default: Any) -> Any:
    """``raw[key]`` when absent/null -> ``default``; else it must be a JSON
    value of ``kind`` (exactly: a bool is not an int, "false" not a bool)."""
    value = raw.get(key)
    if value is None:
        return default
    if type(value) is not kind:
        raise ValueError(f"operation field {key!r} must be a {kind.__name__}")
    return value
