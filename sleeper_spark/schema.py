"""Sleeper-style table schema: ordered row keys, sort keys, value fields.

Reference semantics (java/core/src/main/java/sleeper/core/schema/Schema.java:39-48,271-302):
- ``row_key_fields``: >=1, primitive types only, non-nullable.
- ``sort_key_fields``: primitive types only, non-nullable.
- ``value_fields``: any supported type, may be nullable.
- Field names unique across all three groups.

Type system (java/core/src/main/java/sleeper/core/schema/type/): int, long,
string, bytes as keys; list/map only as values. The Sleeper->Spark type
mapping below matches the reference's own bulk-import mapping
(java/bulk-import/bulk-import-runner/.../StructTypeFactory.java:53-74).

Total row order = lexicographic over (row keys..., sort keys...)
(RowComparator.java:52-63); byte[] compares unsigned (ByteArray.java:97) —
Spark's BinaryType comparison is also unsigned-lexicographic, so ordering
carries over without shims.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field
from typing import Any, Iterable

from pyspark.sql import types as T

# Sleeper primitive type names -> Spark types (StructTypeFactory.java:53-74).
# Key fields may only use these four, matching the reference's PrimitiveType
# hierarchy (core/schema/type/) so ordering semantics carry over exactly.
_PRIMITIVES: dict[str, T.DataType] = {
    "IntType": T.IntegerType(),
    "LongType": T.LongType(),
    "StringType": T.StringType(),
    "ByteArrayType": T.BinaryType(),
}

# Parity-plus extension: extra primitives allowed in VALUE fields only.
# The reference has no floating-point/boolean types at all; real analytics
# data (and the beyond-reference operator set) needs them, and nothing in
# the engine's ordering/partitioning logic touches value columns.
_VALUE_PRIMITIVES: dict[str, T.DataType] = {
    **_PRIMITIVES,
    "DoubleType": T.DoubleType(),
    "FloatType": T.FloatType(),
    "BooleanType": T.BooleanType(),
}

_KEY_TYPES = set(_PRIMITIVES)


def key_tuple(values: Iterable[Any]) -> tuple:
    """Key values as a hashable tuple: a collected Spark Row holds a
    binary value as an unhashable ``bytearray``, stored here as
    ``bytes``."""
    return tuple(bytes(v) if isinstance(v, bytearray) else v
                 for v in values)


def _parse_type(t: Any) -> T.DataType:
    """Parse a Sleeper schema-JSON type into a Spark type."""
    if isinstance(t, str):
        if t.startswith("DecimalType("):
            p_, s_ = t[len("DecimalType("):-1].split(",")
            return T.DecimalType(int(p_), int(s_))
        if t not in _VALUE_PRIMITIVES:
            raise ValueError(f"unsupported primitive type: {t}")
        return _VALUE_PRIMITIVES[t]
    if isinstance(t, dict):
        if "ListType" in t:
            return T.ArrayType(_parse_type(t["ListType"]["elementType"]))
        if "MapType" in t:
            m = t["MapType"]
            return T.MapType(_parse_type(m["keyType"]), _parse_type(m["valueType"]))
    raise ValueError(f"unsupported type spec: {t!r}")


def _type_to_json(t: T.DataType) -> Any:
    for name, spark_t in _VALUE_PRIMITIVES.items():
        if t == spark_t:
            return name
    if isinstance(t, T.DecimalType):
        # exact-arithmetic value columns (decimal sums) round-trip too
        return f"DecimalType({t.precision},{t.scale})"
    if isinstance(t, T.ArrayType):
        return {"ListType": {"elementType": _type_to_json(t.elementType)}}
    if isinstance(t, T.MapType):
        return {
            "MapType": {
                "keyType": _type_to_json(t.keyType),
                "valueType": _type_to_json(t.valueType),
            }
        }
    raise ValueError(f"unsupported Spark type: {t}")


@dataclass(frozen=True)
class Field:
    """One schema field (core/schema/Field.java)."""

    name: str
    dtype: T.DataType
    nullable: bool = False

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {"name": self.name, "type": _type_to_json(self.dtype)}
        if self.nullable:
            d["nullable"] = True
        return d

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Field":
        return Field(d["name"], _parse_type(d["type"]), bool(d.get("nullable", False)))


@dataclass(frozen=True)
class Schema:
    """Sleeper table schema: three ordered field groups.

    Validation mirrors Schema.java:271-302: at least one row key; keys are
    primitive and non-nullable; names unique.
    """

    row_key_fields: tuple[Field, ...]
    sort_key_fields: tuple[Field, ...] = ()
    value_fields: tuple[Field, ...] = ()

    def __post_init__(self) -> None:
        if not self.row_key_fields:
            raise ValueError("schema must have at least one row key field")
        for f in self.row_key_fields + self.sort_key_fields:
            if not any(f.dtype == t for t in _PRIMITIVES.values()):
                raise ValueError(f"key field {f.name} must be primitive, got {f.dtype}")
            if f.nullable:
                raise ValueError(f"key field {f.name} must be non-nullable")
        for f in self.value_fields:
            # reject unsupported value types HERE, not at serialization
            # time (to_json raised a confusing error from deep inside
            # SleeperTable.create for e.g. TimestampType)
            try:
                _type_to_json(f.dtype)
            except ValueError as e:
                raise ValueError(
                    f"value field {f.name!r}: {e}") from None
        names = [f.name for f in self.all_fields()]
        if len(names) != len(set(names)):
            raise ValueError(f"duplicate field names in schema: {names}")

    # --- accessors -------------------------------------------------------
    def all_fields(self) -> tuple[Field, ...]:
        return self.row_key_fields + self.sort_key_fields + self.value_fields

    @property
    def row_key_names(self) -> list[str]:
        return [f.name for f in self.row_key_fields]

    @property
    def sort_key_names(self) -> list[str]:
        return [f.name for f in self.sort_key_fields]

    @property
    def value_names(self) -> list[str]:
        return [f.name for f in self.value_fields]

    @property
    def key_names(self) -> list[str]:
        """All ordering columns: row keys then sort keys (RowComparator.java:52-63)."""
        return self.row_key_names + self.sort_key_names

    def field(self, name: str) -> Field:
        for f in self.all_fields():
            if f.name == name:
                return f
        raise KeyError(name)

    # --- Spark interop ---------------------------------------------------
    def to_struct_type(self) -> T.StructType:
        """Spark StructType in schema order (keys first, then values)."""
        return T.StructType(
            [T.StructField(f.name, f.dtype, f.nullable) for f in self.all_fields()]
        )

    # --- SerDe (SchemaSerDe.java JSON shape) -----------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "rowKeyFields": [f.to_json() for f in self.row_key_fields],
                "sortKeyFields": [f.to_json() for f in self.sort_key_fields],
                "valueFields": [f.to_json() for f in self.value_fields],
            }
        )

    @staticmethod
    def from_json(s: str | dict) -> "Schema":
        d = json.loads(s) if isinstance(s, str) else s
        return Schema(
            tuple(Field.from_json(f) for f in d.get("rowKeyFields", [])),
            tuple(Field.from_json(f) for f in d.get("sortKeyFields", [])),
            tuple(Field.from_json(f) for f in d.get("valueFields", [])),
        )
