"""User-facing type-name grammar → Spark DataTypes.

The reference accepts these names in CSV/JSON `columns` options
(ref lib/src/json_typedef.cc:201-261, optional timezone :133-141,
nested children :77-181). Spark has no unsigned integers; the widening
policy (SURVEY §1.3a) is: uint8→short, uint16→int, uint32→long,
uint64→decimal(20,0) — documented schema change, range-preserving.

Nested types arrive as dicts: {"type": "list", "children": [...]} with
the same field dict shape as the reference's JSON typedefs.
"""

from __future__ import annotations

from pyspark.sql import types as T


class TypeNameError(ValueError):
    pass


_SIMPLE: dict[str, T.DataType] = {
    "binary": T.BinaryType(),
    "largebinary": T.BinaryType(),
    "fixedsizebinary": T.BinaryType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "date32[d]": T.DateType(),
    "date32": T.DateType(),
    "date64[ms]": T.DateType(),
    "date64": T.DateType(),
    "double": T.DoubleType(),
    "float64": T.DoubleType(),
    "float": T.FloatType(),
    "float32": T.FloatType(),
    "halffloat": T.FloatType(),
    "float16": T.FloatType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    # unsigned widening policy
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.DecimalType(20, 0),
    "null": T.NullType(),
    "string": T.StringType(),
    "utf8": T.StringType(),
    "largeutf8": T.StringType(),
    "daytimeinterval": T.DayTimeIntervalType(),
    "interval[dt]": T.DayTimeIntervalType(),
    "monthinterval": T.YearMonthIntervalType(),
    "interval[m]": T.YearMonthIntervalType(),
}


def _parse_simple(name: str) -> T.DataType | None:
    if name in _SIMPLE:
        return _SIMPLE[name]
    # timestamp[unit] (+ optional timezone suffix "timestamp[s, tz]")
    if name.startswith("timestamp"):
        return T.TimestampType()
    # time[unit] / time32 / time64 / duration[unit] → day-time interval
    if name.startswith(("time", "duration")):
        return T.DayTimeIntervalType()
    if name.startswith("decimal"):
        # decimal / decimal128 / decimal256 — precision/scale via params
        return T.DecimalType(38, 18)
    return None


def parse_type(spec) -> T.DataType:
    """Parse a type name (str) or a typedef dict with children into a
    Spark DataType. Unions and extensions are rejected exactly like the
    reference (arrow_type_mapping.cc:117-120 → NotImplemented)."""
    if isinstance(spec, str):
        name = spec.strip().lower()
        if name in ("union", "sparseunion", "denseunion", "extension"):
            raise TypeNameError(f"type not supported: {name}")
        dt = _parse_simple(name)
        if dt is None:
            raise TypeNameError(f"unknown type name: {spec!r}")
        return dt

    if not isinstance(spec, dict):
        raise TypeNameError(f"expected type name or typedef dict, got {type(spec)}")
    name = str(spec.get("type", "")).strip().lower()
    if name in ("union", "sparseunion", "denseunion", "extension"):
        raise TypeNameError(f"type not supported: {name}")
    children = spec.get("children") or []
    if name in ("list", "largelist", "fixedsizelist"):
        if not children:
            raise TypeNameError("list type needs one child")
        return T.ArrayType(parse_type(children[0]))
    if name == "struct":
        return T.StructType(
            [
                T.StructField(c.get("name", f"c{i}"), parse_type(c), True)
                for i, c in enumerate(children)
            ]
        )
    if name == "map":
        if len(children) < 2:
            # arrow maps may carry a single entries struct child
            if len(children) == 1 and str(children[0].get("type", "")).lower() == "struct":
                entry = children[0].get("children") or []
                if len(entry) == 2:
                    return T.MapType(parse_type(entry[0]), parse_type(entry[1]))
            raise TypeNameError("map type needs key and value children")
        return T.MapType(parse_type(children[0]), parse_type(children[1]))
    if name.startswith("decimal"):
        prec = int(spec.get("precision", 38))
        scale = int(spec.get("scale", 18))
        if prec > 38:
            raise TypeNameError(f"decimal precision {prec} exceeds Spark's 38")
        return T.DecimalType(prec, scale)
    return parse_type(name)


def parse_columns(columns: dict) -> T.StructType:
    """{name: type-spec} → StructType (the CSV/JSON `columns` option)."""
    return T.StructType(
        [T.StructField(n, parse_type(s), True) for n, s in columns.items()]
    )
