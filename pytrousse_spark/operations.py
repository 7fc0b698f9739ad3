"""Operation records and lineage log.

Parity with reference ``src/trousse/operations_list.py:11-193`` (L1-L6 in
SURVEY.md §2.9) plus JSON (de)serialization, replacing the reference's
``shelve`` persistence (dataset.py:668-704) with a portable sidecar format.

Everything here is driver-side metadata — O(#operations), never O(rows).
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import Any

from .exceptions import MultipleOperationsFoundError


@dataclass(frozen=True, eq=False)
class OpRecord:
    """One applied operation.

    Mirrors the information content of the reference's ``FeatureOperation``
    history entries (feature_operations.py:15-38): which columns were read,
    which were produced, and operator-specific details (e.g. encoding maps,
    bin ranges) needed to reproduce or audit the transform.

    Two records are equal when their JSON forms are: JSON has no tuples and
    no integer keys, so a record read back from a dataset sidecar holds
    lists and string keys where the written one held tuples and ints.
    """

    name: str
    columns: tuple[str, ...] = ()
    derived_columns: tuple[str, ...] = ()
    details: dict[str, Any] = field(default_factory=dict)

    def to_json_dict(self) -> dict[str, Any]:
        return {
            "name": self.name,
            "columns": list(self.columns),
            "derived_columns": list(self.derived_columns),
            "details": _jsonable(self.details),
        }

    def _json_key(self) -> str:
        return json.dumps(self.to_json_dict(), sort_keys=True)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, OpRecord):
            return NotImplemented
        return self._json_key() == other._json_key()

    def __hash__(self) -> int:
        return hash(self._json_key())

    @staticmethod
    def from_json_dict(d: dict[str, Any]) -> "OpRecord":
        return OpRecord(
            name=d["name"],
            columns=tuple(d.get("columns", ())),
            derived_columns=tuple(d.get("derived_columns", ())),
            details=dict(d.get("details", {})),
        )


def _jsonable(obj: Any) -> Any:
    """Best-effort conversion of operator details to JSON-safe values."""
    if isinstance(obj, dict):
        return {str(k): _jsonable(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple, set, frozenset)):
        return [_jsonable(v) for v in obj]
    if isinstance(obj, (str, int, float, bool)) or obj is None:
        return obj
    return str(obj)


class OperationsList:
    """Append-only operation log with a per-column index.

    Reference: operations_list.py:118-193. ``log[i]`` returns the i-th
    operation; ``log[col]`` returns every operation that read or produced
    ``col`` (operations_list.py:138-168).
    """

    def __init__(self, ops: list[OpRecord] | None = None) -> None:
        self._ops: list[OpRecord] = []
        self._by_column: dict[str, list[int]] = {}
        for op in ops or ():
            self.append(op)

    # -- L1: append + index (operations_list.py:170-180) -------------------
    def append(self, op: OpRecord) -> "OperationsList":
        idx = len(self._ops)
        self._ops.append(op)
        for col in set(op.columns) | set(op.derived_columns):
            self._by_column.setdefault(col, []).append(idx)
        return self

    def __iadd__(self, op: OpRecord) -> "OperationsList":
        return self.append(op)

    # -- L2: lookup by position or column (operations_list.py:138-168) -----
    def __getitem__(self, key: int | str) -> OpRecord | list[OpRecord]:
        if isinstance(key, int):
            return self._ops[key]
        return [self._ops[i] for i in self._by_column.get(key, ())]

    def __len__(self) -> int:
        return len(self._ops)

    def __iter__(self) -> Iterator[OpRecord]:
        return iter(self._ops)

    def __eq__(self, other: object) -> bool:
        return isinstance(other, OperationsList) and self._ops == other._ops

    # -- L3 (operations_list.py:16-36) --------------------------------------
    def derived_columns_from_col(self, column: str) -> set[str]:
        out: set[str] = set()
        for op in self._ops:
            if column in op.columns:
                out.update(op.derived_columns)
        return out

    # -- L4 (operations_list.py:38-81) --------------------------------------
    def operations_from_derived_column(self, derived_column: str) -> list[OpRecord]:
        return [op for op in self._ops if derived_column in op.derived_columns]

    def operations_from_original_column(self, original_column: str) -> list[OpRecord]:
        return [op for op in self._ops if original_column in op.columns]

    # -- L5 (operations_list.py:83-116) --------------------------------------
    def original_columns_from_derived_column(self, derived_column: str) -> tuple[str, ...]:
        producers = self.operations_from_derived_column(derived_column)
        if len(producers) == 0:
            raise MultipleOperationsFoundError(
                f"No operation produced column {derived_column!r}"
            )
        if len(producers) > 1:
            raise MultipleOperationsFoundError(
                f"Multiple operations produced column {derived_column!r}"
            )
        return producers[0].columns

    # -- serialization (replaces shelve, dataset.py:668-704) ----------------
    def to_json(self) -> str:
        return json.dumps([op.to_json_dict() for op in self._ops], indent=0)

    @staticmethod
    def from_json(payload: str) -> "OperationsList":
        return OperationsList(
            [OpRecord.from_json_dict(d) for d in json.loads(payload)]
        )
