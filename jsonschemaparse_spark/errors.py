"""Error and annotation records.

Mirrors the *fields* of the reference's error classes
(/root/reference/lib/error.js:21-49) — ``ValidationError(message, layer,
schema, keyword, expected, actual)`` — re-expressed as plain picklable
dataclasses so they can cross the driver/executor boundary inside Arrow
batches. Byte-offset provenance (line/column) is replaced by (row key, path)
provenance per SURVEY.md §1.2.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any


class SchemaError(ValueError):
    """Raised at rule-compile time for malformed schemas.

    The reference throws plain ``Error`` from the Schema constructor
    (/root/reference/lib/schema.js:242-741); we use a dedicated subclass so
    tests can assert on it.
    """


class ResourceLimitError(RuntimeError):
    """Parser/validator resource cap exceeded (reference lib/error.js:12-19)."""


@dataclass(frozen=True)
class ValidationRecord:
    """One violation. Field names follow SURVEY.md §1.2's violations table:
    (constraint_id, path, keyword, expected, actual, message)."""

    message: str
    path: str
    keyword: str
    constraint_id: str = ""
    expected: Any = None
    actual: Any = None
    # reference ValidationError.position (test/ValidationError.test.js:19-20):
    # {'line','column'} of the offending VALUE's layer anchor — root at 0:0,
    # property values at their colon, array items at the first value char
    # (anchors pinned by executing the reference, r4). None outside the
    # text-parsing API paths (table scope has no text positions).
    position: Any = None

    def as_row(self) -> dict[str, str | None]:
        """Stringified form used for the violations DataFrame columns."""
        return {
            "constraint_id": self.constraint_id,
            "path": self.path,
            "keyword": self.keyword,
            "expected": None if self.expected is None else _show(self.expected),
            "actual": None if self.actual is None else _show(self.actual),
            "message": self.message,
        }


@dataclass(frozen=True)
class AnnotationRecord:
    """Annotation(value, layer, schema, keyword) analog (error.js:39-49)."""

    value: Any
    path: str
    keyword: str
    constraint_id: str = ""
    # reference Annotation.position (test/Annotation.test.js:18-24): same
    # value-layer anchor convention as ValidationRecord.position
    position: Any = None


def _show(v: Any) -> str:
    import json

    try:
        return json.dumps(v, sort_keys=True, ensure_ascii=False, default=str)
    except (TypeError, ValueError):
        return str(v)


def expected_type(actual: str, allowed_types: list[str]) -> str:
    """Exact message contract of the reference's expectedType()
    (/root/reference/lib/schema.js:1010-1014)."""
    if len(allowed_types) == 0:
        return "Unexpected " + actual + ": No value allowed"
    if len(allowed_types) == 1:
        return "Unexpected " + actual + ": Expected " + allowed_types[0]
    return "Unexpected " + actual + ": Expected one of " + ", ".join(allowed_types)
