"""Field-ID-based schema, mirroring the reference's type system.

Reference: api/src/main/java/org/apache/iceberg/Schema.java:56 and
api/src/main/java/org/apache/iceberg/types/Types.java; spec
format/spec.md:261 (primitive types) and format/spec.md:350-429
(ID-based projection/evolution). Spark equivalents per SURVEY.md §1.3.

All projection, pruning, and evolution is by *field ID*, not name:
renaming a column never changes its identity. Data files are written with
current column names; readers map file columns -> current names through
the per-snapshot schema id recorded in the manifest entry.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field, replace
from typing import Any, Optional

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Types. Primitives are interned strings; nested types are small dataclasses.
# ---------------------------------------------------------------------------

PRIMITIVES = {
    "boolean",
    "int",
    "long",
    "float",
    "double",
    "date",
    "time",
    "timestamp",      # timestamptz in iceberg terms (UTC-adjusted)
    "timestamp_ntz",  # iceberg `timestamp` (no zone)
    "string",
    "uuid",
    "binary",
    "unknown",
    "timestamp_ns",    # v3: nanosecond precision; Spark caps at micros ->
    "timestamptz_ns",  # stored as long nanos (SURVEY §1.3)
    "variant",         # v3 semi-structured; Spark 4 VariantType
    "geometry",        # v3 geospatial (Types.java:574): WKB in binary
    "geography",       # v3 geospatial (Types.java:640): WKB, wrap-aware X
}

_DECIMAL_RE = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")
_FIXED_RE = re.compile(r"^fixed\((\d+)\)$")


@dataclass(frozen=True)
class NestedField:
    field_id: int
    name: str
    type: Any  # str primitive or StructT/ListT/MapT
    required: bool = False
    doc: Optional[str] = None
    # v3 default values (format/spec.md "Default values"): initial-default
    # fills the column when reading pre-evolution files (immutable after
    # set); write-default fills it for writers that omit the column.
    initial_default: Any = None
    write_default: Any = None


@dataclass(frozen=True)
class StructT:
    fields: tuple  # tuple[NestedField, ...]


@dataclass(frozen=True)
class ListT:
    element_id: int
    element: Any
    element_required: bool = False


@dataclass(frozen=True)
class MapT:
    key_id: int
    key: Any
    value_id: int
    value: Any
    value_required: bool = False


def type_to_spark(t: Any) -> T.DataType:
    if isinstance(t, StructT):
        return T.StructType(
            [T.StructField(f.name, type_to_spark(f.type), not f.required) for f in t.fields]
        )
    if isinstance(t, ListT):
        return T.ArrayType(type_to_spark(t.element), not t.element_required)
    if isinstance(t, MapT):
        return T.MapType(type_to_spark(t.key), type_to_spark(t.value), not t.value_required)
    m = _DECIMAL_RE.match(t)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    if _FIXED_RE.match(t):
        return T.BinaryType()
    return {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "date": T.DateType(),
        "time": T.LongType(),  # micros since midnight
        "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(),
        "string": T.StringType(),
        "uuid": T.StringType(),
        "binary": T.BinaryType(),
        "unknown": T.NullType(),
        "timestamp_ns": T.LongType(),
        "timestamptz_ns": T.LongType(),
        "variant": (T.VariantType() if hasattr(T, "VariantType")
                    else T.StringType()),
        "geometry": T.BinaryType(),   # WKB
        "geography": T.BinaryType(),  # WKB
    }[t]


def spark_to_type(dt: T.DataType, next_id) -> Any:
    """Convert a Spark type to ours; `next_id` is a callable allocating ids
    for nested element/key/value/struct fields."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id()
            fields.append(
                NestedField(fid, f.name, spark_to_type(f.dataType, next_id), not f.nullable)
            )
        return StructT(tuple(fields))
    if isinstance(dt, T.ArrayType):
        eid = next_id()
        return ListT(eid, spark_to_type(dt.elementType, next_id), not dt.containsNull)
    if isinstance(dt, T.MapType):
        kid = next_id()
        kt = spark_to_type(dt.keyType, next_id)
        vid = next_id()
        vt = spark_to_type(dt.valueType, next_id)
        return MapT(kid, kt, vid, vt, not dt.valueContainsNull)
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    mapping = {
        T.BooleanType: "boolean",
        T.IntegerType: "int",
        T.ShortType: "int",
        T.ByteType: "int",
        T.LongType: "long",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.DateType: "date",
        T.TimestampType: "timestamp",
        T.TimestampNTZType: "timestamp_ntz",
        T.StringType: "string",
        T.BinaryType: "binary",
        T.NullType: "unknown",
    }
    if hasattr(T, "VariantType") and isinstance(dt, T.VariantType):
        return "variant"
    for k, v in mapping.items():
        if isinstance(dt, k):
            return v
    raise ValueError(f"unsupported Spark type: {dt}")


def type_to_json(t: Any) -> Any:
    if isinstance(t, StructT):
        return {
            "type": "struct",
            "fields": [
                {
                    "id": f.field_id,
                    "name": f.name,
                    "type": type_to_json(f.type),
                    "required": f.required,
                    **({"doc": f.doc} if f.doc else {}),
                    **({"initial-default": f.initial_default}
                       if f.initial_default is not None else {}),
                    **({"write-default": f.write_default}
                       if f.write_default is not None else {}),
                }
                for f in t.fields
            ],
        }
    if isinstance(t, ListT):
        return {
            "type": "list",
            "element-id": t.element_id,
            "element": type_to_json(t.element),
            "element-required": t.element_required,
        }
    if isinstance(t, MapT):
        return {
            "type": "map",
            "key-id": t.key_id,
            "key": type_to_json(t.key),
            "value-id": t.value_id,
            "value": type_to_json(t.value),
            "value-required": t.value_required,
        }
    return t


def type_from_json(j: Any) -> Any:
    if isinstance(j, str):
        return j
    kind = j["type"]
    if kind == "struct":
        return StructT(
            tuple(
                NestedField(f["id"], f["name"], type_from_json(f["type"]),
                            f["required"], f.get("doc"),
                            f.get("initial-default"), f.get("write-default"))
                for f in j["fields"]
            )
        )
    if kind == "list":
        return ListT(j["element-id"], type_from_json(j["element"]), j["element-required"])
    if kind == "map":
        return MapT(
            j["key-id"], type_from_json(j["key"]), j["value-id"], type_from_json(j["value"]),
            j["value-required"],
        )
    raise ValueError(f"bad type json: {j}")


# Type promotion lattice (format/spec.md:356 "Valid primitive type
# promotions"): int->long, float->double, decimal precision widening;
# v3 adds unknown->any and date->timestamp(_ns) (never the tz variants —
# local-date reinterpretation as an instant would shift values).
def is_promotable(src: str, dst: str) -> bool:
    if src == dst:
        return True
    if src == "unknown" and isinstance(dst, str):
        return True
    if src == "int" and dst == "long":
        return True
    if src == "float" and dst == "double":
        return True
    # NB: iceberg `timestamp` (no zone) is "timestamp_ntz" in this module's
    # naming; "timestamp" here is timestamptz, which date may NOT become.
    if src == "date" and dst in ("timestamp_ntz", "timestamp_ns"):
        return True
    ms, md = _DECIMAL_RE.match(src or ""), _DECIMAL_RE.match(dst or "")
    if ms and md and int(ms.group(2)) == int(md.group(2)):
        return int(md.group(1)) >= int(ms.group(1))
    return False


# ---------------------------------------------------------------------------
# Schema
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Schema:
    """A struct of NestedFields with unique ids + optional identifier fields.

    Reference: api/.../Schema.java:56; identifier fields format/spec.md:430.
    """

    fields: tuple  # tuple[NestedField, ...] top-level
    schema_id: int = 0
    identifier_field_ids: tuple = ()
    # variant shredding declarations (tuple[ShreddedPath]): derived from
    # the `write.variant.shred.<col>` table properties, attached by
    # TableMetadata.schema_by_id — never serialized into schema JSON and
    # excluded from equality (two copies of one schema compare equal
    # whether or not shredding was attached)
    shredded: tuple = field(default=(), compare=False)

    # -- lookups ------------------------------------------------------------
    def find_field(self, name: str) -> NestedField:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(f"no such column: {name!r} in {[f.name for f in self.fields]}")

    def field_by_id(self, fid: int) -> NestedField:
        for f in self.fields:
            if f.field_id == fid:
                return f
        raise KeyError(f"no field with id {fid}")

    def has_field(self, name: str) -> bool:
        return any(f.name == name for f in self.fields)

    @property
    def column_names(self) -> list:
        return [f.name for f in self.fields]

    def highest_field_id(self) -> int:
        top = 0

        def walk(t):
            nonlocal top
            if isinstance(t, StructT):
                for f in t.fields:
                    top = max(top, f.field_id)
                    walk(f.type)
            elif isinstance(t, ListT):
                top = max(top, t.element_id)
                walk(t.element)
            elif isinstance(t, MapT):
                top = max(top, t.key_id, t.value_id)
                walk(t.key)
                walk(t.value)

        walk(StructT(self.fields))
        return top

    # -- conversions --------------------------------------------------------
    def to_spark(self) -> T.StructType:
        return type_to_spark(StructT(self.fields))

    @staticmethod
    def from_spark(st: T.StructType, schema_id: int = 0) -> "Schema":
        counter = {"n": 0}

        def next_id():
            counter["n"] += 1
            return counter["n"]

        struct = spark_to_type(st, next_id)
        return Schema(struct.fields, schema_id=schema_id)

    def to_json(self) -> dict:
        j = type_to_json(StructT(self.fields))
        j["schema-id"] = self.schema_id
        if self.identifier_field_ids:
            j["identifier-field-ids"] = list(self.identifier_field_ids)
        return j

    @staticmethod
    def from_json(j: dict) -> "Schema":
        struct = type_from_json({"type": "struct", "fields": j["fields"]})
        return Schema(
            struct.fields,
            schema_id=j.get("schema-id", 0),
            identifier_field_ids=tuple(j.get("identifier-field-ids", ())),
        )

    def __str__(self) -> str:
        return json.dumps(self.to_json(), indent=2)


# ---------------------------------------------------------------------------
# variant shredding (reference parquet/.../VariantShreddingAnalyzer.java,
# VariantShreddingFunction.java): declared extract() paths of a variant
# column materialize as typed companion parquet columns at write time, so
# their footer min/max land in manifests and `extract(path) cmp literal`
# predicates prune files. The engine declares paths via the table property
#   write.variant.shred.<column> = "$.path:type[;$.path2:type2...]"
# (';'-separated — type names may contain commas, e.g. decimal(10,2)).
# ---------------------------------------------------------------------------

SHRED_PROP_PREFIX = "write.variant.shred."
# synthetic stats field ids live in a reserved block far above user schema
# ids (last_column_id is sequential) and below the spec's reserved
# pos-delete ids (2147483545/46, manifests.py)
_SHRED_FID_BASE = 2_100_000_000
_SHRED_FID_SPAN = 40_000_000


@dataclass(frozen=True)
class ShreddedPath:
    """One declared shredded path of a variant column."""

    parent_id: int  # field id of the variant column
    column: str     # variant column name (for writer lowering)
    path: str       # e.g. "$.len"
    type: str       # engine primitive type of the shredded values

    @property
    def field_id(self) -> int:
        """Deterministic synthetic stats id: stable across files/snapshots
        and independent of declaration order, so manifests written before
        and after a property edit agree on column meaning."""
        import zlib

        h = zlib.crc32(
            f"{self.parent_id}|{self.path}|{self.type}".encode("utf-8"))
        return _SHRED_FID_BASE + h % _SHRED_FID_SPAN

    @property
    def stats_name(self) -> str:
        """Manifest stats key AND the physical companion column name."""
        return f"_shred_f{self.field_id}"


def shredded_paths(schema: Schema, properties: dict) -> tuple:
    """Parse `write.variant.shred.<col>` declarations against `schema`.
    Unknown columns / non-variant columns / unparseable entries are
    ignored (a property typo must never fail a scan); synthetic-id
    collisions raise loudly (astronomically unlikely, but silent
    collision would cross-wire two paths' bounds)."""
    out = []
    for k, v in (properties or {}).items():
        if not k.startswith(SHRED_PROP_PREFIX):
            continue
        col = k[len(SHRED_PROP_PREFIX):]
        try:
            f = schema.find_field(col)
        except KeyError:
            continue
        if f.type != "variant":
            continue
        for item in str(v).split(";"):
            item = item.strip()
            if not item or ":" not in item:
                continue
            path, _, t = item.rpartition(":")
            path, t = path.strip(), t.strip().lower()
            if not path.startswith("$") or not (
                    t in PRIMITIVES or _DECIMAL_RE.match(t)):
                continue
            if t in ("variant", "unknown", "geometry", "geography"):
                continue  # no typed companion / no orderable stats
            out.append(ShreddedPath(f.field_id, col, path, t))
    ids = [sp.field_id for sp in out]
    if len(ids) != len(set(ids)):
        raise ValueError(
            f"variant-shredding synthetic field-id collision among "
            f"{[(sp.column, sp.path) for sp in out]} — rename a path")
    return tuple(sorted(out, key=lambda sp: (sp.column, sp.path, sp.type)))


def with_shredding(schema: Schema, properties: dict) -> Schema:
    """Attach property-declared shredding to a schema instance."""
    sps = shredded_paths(schema, properties)
    return replace(schema, shredded=sps) if sps else schema
