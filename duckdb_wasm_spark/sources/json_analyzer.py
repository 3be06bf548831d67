"""JSON table-shape detection + type inference — a pure-Python
reimplementation of the reference's analyzer semantics
(ref lib/src/json_analyzer.cc:140-296 inference, :420-700 SAX shape
walk; value tests lib/src/json_parser.cc:700-790; golden cases
lib/test/json_analyzer_test.cc:66-407 reproduced in
tests/test_json_analyzer.py).

Two recognized table shapes (ref json_insert_options.h:17-26):
  ROW_ARRAY      [{"a":1}, {"a":2}]        — rows of objects
  COLUMN_OBJECT  {"a":[1,2], "b":[...]}    — object of column arrays
anything else → UNRECOGNIZED.

The promotion lattice (faithful, including the reference's quirks):
  - objects/arrays win over everything → inferred "directly" from the
    sample; the MEDIAN of the canonically-sorted per-sample types wins
  - strings win over numbers → every candidate type is scored on the
    sample (nulls hit every candidate); best hit count wins, ties break
    on preference TIMESTAMP(100) > INT32(40) > UINT32(39) > INT64(38)
    > UINT64(37) > DOUBLE(20) > BOOL(10) > STRING(1).
    Numeric STRINGS only ever hit STRING/TIMESTAMP — candidate number
    tests check the JSON value type, not string content.
  - doubles win over integers
  - integer narrowing from value-range counters: uint64-max conflict
    with signed → double; ROW-shape "forced into 64 bit" yields uint64
    while COLUMN-shape yields int64 (the reference's own asymmetry,
    json_analyzer.cc:354-357 vs :294 — kept for golden parity)
  - bool, then null

Sampling: the reference reservoir-samples up to 1024 top-level
elements; this implementation takes the FIRST 1024 (deterministic, and
identical whenever the input has ≤1024 rows — every golden does).

Spark mapping of the inferred (arrow-flavored) types happens in
`JType.to_spark()` with the unsigned widening policy of
sources/typenames.py.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field as dfield
from enum import Enum

from pyspark.sql import types as T

SAMPLE_CAP = 1024

INT32_MIN = -(2**31)
INT32_MAX = 2**31 - 1
UINT32_MAX = 2**32 - 1
INT64_MIN = -(2**63)
INT64_MAX = 2**63 - 1
UINT64_MAX = 2**64 - 1


class Shape(Enum):
    ROW_ARRAY = "row-array"
    COLUMN_OBJECT = "column-object"
    UNRECOGNIZED = "unrecognized"


# --------------------------------------------------------------- types
@dataclass
class JType:
    """Inference-layer type (arrow-flavored names for golden parity)."""

    kind: str  # null bool int32 uint32 int64 uint64 double string
    #           timestamp[s] list struct
    fields: list[tuple[str, "JType"]] = dfield(default_factory=list)
    child: "JType | None" = None

    def arrow_string(self) -> str:
        if self.kind == "struct":
            inner = ", ".join(f"{n}: {t.arrow_string()}" for n, t in self.fields)
            return f"struct<{inner}>"
        if self.kind == "list":
            return f"list<item: {self.child.arrow_string()}>"
        return self.kind

    def to_spark(self) -> T.DataType:
        m = {
            "null": T.NullType(),
            "bool": T.BooleanType(),
            "int32": T.IntegerType(),
            "uint32": T.LongType(),  # widening policy
            "int64": T.LongType(),
            "uint64": T.DecimalType(20, 0),
            "double": T.DoubleType(),
            "string": T.StringType(),
            "timestamp[s]": T.TimestampType(),
        }
        if self.kind == "struct":
            return T.StructType(
                [T.StructField(n, t.to_spark(), True) for n, t in self.fields]
            )
        if self.kind == "list":
            return T.ArrayType(self.child.to_spark())
        return m[self.kind]


# --------------------------------------------------------- value stats
@dataclass
class Stats:
    """Per-column value-class counters (ref JSONArrayStats)."""

    bool_: int = 0
    string: int = 0
    int32: int = 0
    int64: int = 0
    uint32: int = 0
    uint32_max: int = 0
    uint64: int = 0
    uint64_max: int = 0
    double: int = 0
    object_: int = 0
    array: int = 0

    def add(self, v) -> None:
        """Classify one JSON value the way the rapidjson SAX events do."""
        if v is None:
            return
        if isinstance(v, bool):
            self.bool_ += 1
        elif isinstance(v, int):
            if v < 0:
                if v >= INT32_MIN:
                    self.int32 += 1
                elif v >= INT64_MIN:
                    self.int64 += 1
                else:
                    self.double += 1
            elif v <= UINT32_MAX:
                self.uint32 += 1
                if v >= INT32_MAX:
                    self.uint32_max += 1
            elif v <= INT64_MAX:
                self.int64 += 1
            elif v <= UINT64_MAX:
                self.uint64 += 1
                self.uint64_max += 1
            else:
                self.double += 1
        elif isinstance(v, float):
            self.double += 1
        elif isinstance(v, str):
            self.string += 1
        elif isinstance(v, dict):
            self.object_ += 1
        elif isinstance(v, list):
            self.array += 1


# --------------------------------------------- candidate string tests
_TS_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2})?)?$"
)


def _is_timestamp_string(s: str) -> bool:
    """Arrow's ISO parser for timestamp[s]: date, or date + HH:MM[:SS]."""
    if not _TS_RE.match(s):
        return False
    try:
        y, mo, d = int(s[0:4]), int(s[5:7]), int(s[8:10])
        if not (1 <= mo <= 12 and 1 <= d <= 31):
            return False
        if len(s) > 10:
            h, mi = int(s[11:13]), int(s[14:16])
            sec = int(s[17:19]) if len(s) > 16 else 0
            if not (h < 24 and mi < 60 and sec < 60):
                return False
        return True
    except ValueError:
        return False


def _is_int_jsonvalue(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


_CANDIDATES = (
    # (kind, preference, test(value) -> bool) — nulls hit everything
    ("timestamp[s]", 100, lambda v: (
        (_is_int_jsonvalue(v) and INT64_MIN <= v <= INT64_MAX)
        or (isinstance(v, str) and _is_timestamp_string(v))
    )),
    ("int32", 40, lambda v: _is_int_jsonvalue(v) and INT32_MIN <= v <= INT32_MAX),
    ("uint32", 39, lambda v: _is_int_jsonvalue(v) and 0 <= v <= UINT32_MAX),
    ("int64", 38, lambda v: _is_int_jsonvalue(v) and INT64_MIN <= v <= INT64_MAX),
    ("uint64", 37, lambda v: _is_int_jsonvalue(v) and 0 <= v <= UINT64_MAX),
    ("double", 20, lambda v: isinstance(v, (int, float)) and not isinstance(v, bool)),
    ("bool", 10, lambda v: isinstance(v, bool)
     or (_is_int_jsonvalue(v) and INT32_MIN <= v <= INT32_MAX)),
    ("string", 1, lambda v: isinstance(v, str)),
)


def _infer_from_candidates(samples: list) -> JType:
    """Score each candidate on the sample; max hits wins, ties break on
    preference (ref InferDataTypeImpl(hits), json_analyzer.cc:218-239)."""
    scored = []
    for kind, pref, test in _CANDIDATES:
        hits = sum(1 for v in samples if v is None or test(v))
        scored.append((hits, pref, kind))
    scored.sort()
    return JType(scored[-1][2])


# ----------------------------------------------------- direct inference
def _infer_direct(v) -> JType:
    """Type of one nested value (ref InferDataTypeImpl(value),
    json_analyzer.cc:157-190): numbers → double, first non-null array
    element decides the list type (empty/all-null arrays → string)."""
    if v is None:
        return JType("null")
    if isinstance(v, bool):
        return JType("bool")
    if isinstance(v, (int, float)):
        return JType("double")
    if isinstance(v, str):
        return JType("string")
    if isinstance(v, list):
        for e in v:
            if e is not None:
                return JType("list", child=_infer_direct(e))
        return JType("string")
    if isinstance(v, dict):
        fields = sorted(
            ((k, _infer_direct(val)) for k, val in v.items()), key=lambda kv: kv[0]
        )
        return JType("struct", fields=list(fields))
    return JType("null")


def _median_type(types: list[JType]) -> JType:
    """Median of the canonically-sorted sample types (the reference sorts
    arrow fingerprints; the canonical string is our ordering proxy)."""
    if not types:
        return JType("null")
    ordered = sorted(types, key=lambda t: t.arrow_string())
    return ordered[len(ordered) >> 1]


# ------------------------------------------------------ lattice bottom
def _infer_scalar(stats: Stats, samples: list, row_shape: bool) -> JType:
    """The stats-driven promotion lattice (ref json_analyzer.cc:242-296
    column variant, :318-375 row variant — including their int64/uint64
    asymmetry)."""
    any_i32 = stats.int32 > 0 or stats.uint32 > 0
    any_i64 = stats.int64 > 0 or stats.uint64 > 0
    if stats.object_ > 0 or stats.array > 0:
        return _median_type([_infer_direct(v) for v in samples])
    if stats.string > 0:
        return _infer_from_candidates(samples)
    if stats.double > 0:
        return JType("double")
    if stats.uint64_max > 0:
        if stats.int64 > 0 or stats.int32 > 0:
            return JType("double")  # sign conflict → silent double
        return JType("uint64")
    if any_i64 or (stats.int32 > 0 and stats.uint32_max > 0):
        # the reference's row/column asymmetry, reproduced
        return JType("uint64" if row_shape else "int64")
    if stats.uint32_max > 0:
        return JType("uint32")
    if any_i32:
        return JType("int32")
    if stats.bool_ > 0:
        return JType("bool")
    return JType("null")


# ------------------------------------------------------------- analyze
@dataclass
class TableType:
    shape: Shape
    type: JType | None = None


_TRAILING_COMMA_RE = re.compile(r",(\s*[\]}])")


def normalize_json_text(text: str) -> str:
    """Strip trailing commas iff strict parsing needs it (Spark's JSON
    parser is strict too, so the normalized text is what gets scanned)."""
    try:
        json.loads(text)
        return text
    except json.JSONDecodeError:
        return _TRAILING_COMMA_RE.sub(r"\1", text)


def loads_lenient(text: str):
    """json.loads accepting trailing commas — the reference's rapidjson
    parser flags allow them (exercised by github_334's row fixture)."""
    return json.loads(normalize_json_text(text))


def analyze_json(text: str) -> TableType:
    """Detect the table shape and infer the table type (ref
    InferTableType, json_analyzer.cc:613-700)."""
    try:
        doc = loads_lenient(text)
    except json.JSONDecodeError:
        return TableType(Shape.UNRECOGNIZED)

    # Row-major: top-level array of (usually) objects
    if isinstance(doc, list):
        field_stats: dict[str, Stats] = {}
        samples = doc[:SAMPLE_CAP]
        for row in doc:
            if isinstance(row, dict):
                for k, v in row.items():
                    field_stats.setdefault(k, Stats()).add(v)
        fields = []
        for name, stats in field_stats.items():
            vals = [
                row[name]
                for row in samples
                if isinstance(row, dict) and name in row
            ]
            fields.append((name, _infer_scalar(stats, vals, row_shape=True)))
        fields.sort(key=lambda kv: kv[0])
        return TableType(Shape.ROW_ARRAY, JType("struct", fields=list(fields)))

    # Column-major: top-level object of arrays
    if isinstance(doc, dict):
        for v in doc.values():
            if not isinstance(v, list):
                return TableType(Shape.UNRECOGNIZED)
        fields = []
        for name, arr in doc.items():
            stats = Stats()
            for v in arr:
                stats.add(v)
            fields.append(
                (name, _infer_scalar(stats, arr[:SAMPLE_CAP], row_shape=False))
            )
        fields.sort(key=lambda kv: kv[0])
        return TableType(Shape.COLUMN_OBJECT, JType("struct", fields=list(fields)))

    return TableType(Shape.UNRECOGNIZED)
