"""Manifests & manifest lists as Parquet, with typed per-column stats.

Reference: manifest structure format/spec.md:657-924 (entries: status,
partition tuple, record count, per-field value/null/nan counts and
lower/upper bounds), manifest list format/spec.md:996 (per-manifest
partition-range summaries); reader/writer core/.../ManifestReader.java:57,
ManifestWriter.java:39, ManifestLists.java.

Design deviation (deliberate, SURVEY §7): where the reference serializes
bounds as binary Avro blobs (Conversions.java), we store them as *typed
Parquet columns* (`min_f<id>`, `max_f<id>`, keyed by field id so renames are
free). Planning then works two ways:
  - local:       pyarrow-read the manifests, evaluate in Python (fast for
                 small metadata — the reference's LOCAL planning mode);
  - distributed: read the manifests as one manifest-fed Spark relation
                 (relations.py) and filter with Columns (the
                 reference's DISTRIBUTED mode, BaseDistributedDataScan.java:57),
                 which is what scales to 100 TB metadata.
Stats are collected from Parquet footers (row-group min/max/null-count),
mirroring ParquetMetrics.java.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
import os
import uuid as _uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace
from typing import Any, Optional

from . import io as _io
from .caches import BoundedCache

import pyarrow as pa
import pyarrow.parquet as pq

from .metadata import PartitionSpec, Snapshot, resolve_path, to_relative
from .schema import NestedField, Schema

# entry status (spec manifest entry `status`)
ADDED, EXISTING, DELETED = 1, 0, 2

# v4 relative paths (format/spec.md:194-227): manifest path fields may be
# stored relative to the table location; readers must accept both forms.
# In-memory DataFile/ManifestFile paths are ALWAYS absolute — relativization
# happens only at parquet-serialization time, resolution at read time.


def _stat_to_type(v: Any, t: Any) -> Any:
    """Lift a stat value written under a PRE-promotion column type into the
    current column type's domain (spec:356 promotions that change the
    physical representation: date -> timestamp[_ntz] and
    date/timestamp -> *_ns int nanos). Same-representation promotions
    (int->long, float->double) need no conversion."""
    if v is None or not isinstance(t, str):
        return v
    if t in ("timestamp", "timestamp_ntz") and isinstance(v, _dt.date) \
            and not isinstance(v, _dt.datetime):
        return _dt.datetime.combine(v, _dt.time.min)
    if t in ("timestamp_ns", "timestamptz_ns") and isinstance(v, _dt.date):
        # exact integer micros — float epoch-seconds would persist a max
        # bound up to 1us low into the rewritten manifest
        from .transforms import _to_micros

        d = v
        if isinstance(d, _dt.datetime) and d.tzinfo is not None:
            d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return _to_micros(d) * 1000
    return v


def _infer_location(path: str) -> Optional[str]:
    """Table location from a manifest/manifest-list path — the layout is
    fixed (<location>/metadata/{manifests,manifest-lists}/f.parquet), so a
    reader needs no side channel to resolve relative entries."""
    d = os.path.dirname(path)
    if os.path.basename(d) in ("manifests", "manifest-lists") and \
            os.path.basename(os.path.dirname(d)) == "metadata":
        return os.path.dirname(os.path.dirname(d))
    return None
# file content (spec `content`)
DATA, POSITION_DELETES, EQUALITY_DELETES = 0, 1, 2

STATS_FIELDS = ("min", "max", "nulls", "nans", "values")


# ---------------------------------------------------------------------------
# manifest / manifest-list encryption plumbing
# (reference StandardEncryptionManager: manifests + lists are AES GCM
# Streams; per-file keys ride the manifest list's key_metadata column and
# the snapshot key-id -> encryption-keys chain. The DURABLE format is
# that chain — this registry is only the in-process path->key cache that
# lets the ~40 read_manifest* call sites stay signature-free: list keys
# register at table load (encryption.register_table_keys) or write time,
# manifest keys register when their manifest list is read.)
# ---------------------------------------------------------------------------

_FILE_KEYS: dict = {}  # strip_scheme(path) -> (key_bytes, aad_prefix)
_FILE_KEYS_MAX = 262_144  # LRU bound: a long-lived service touching many
# tables must not accumulate key state forever. Eviction is SAFE — every
# key re-registers when its manifest list is (re)read, so a miss costs
# one list re-read, never a failed decrypt.


def register_file_key(path: str, key: bytes, aad: bytes):
    k = _io.strip_scheme(path)
    _FILE_KEYS.pop(k, None)  # re-insert at the MRU end
    _FILE_KEYS[k] = (key, aad)
    if len(_FILE_KEYS) > _FILE_KEYS_MAX:
        for old in list(_FILE_KEYS)[:_FILE_KEYS_MAX // 8]:
            del _FILE_KEYS[old]


def file_key(path: str):
    return _FILE_KEYS.get(_io.strip_scheme(path))


def _read_metadata_parquet(path: str) -> pa.Table:
    """Manifest/list parquet through the key registry: registered paths
    decrypt (AES GCM Stream), everything else reads plain. An AGS1 file
    with no registered key fails LOUDLY, never garbles."""
    k = file_key(path)
    if k is not None:
        from .encryption import decrypt_stream

        raw = _io.resolve_io(path).read_bytes(path)
        return pq.read_table(pa.BufferReader(decrypt_stream(raw, *k)))
    try:
        return _io.read_parquet(path)
    except Exception:
        try:
            magic = _io.resolve_io(path).read_bytes(path)[:4]
        except Exception:
            raise
        if magic == b"AGS1":
            raise ValueError(
                f"manifest file {path} is AES-GCM-Stream encrypted and no "
                "key is registered — load the table through a catalog "
                "constructed with metadata_key") from None
        raise


def _write_metadata_parquet(table: pa.Table, path: str,
                            encryption) -> tuple:
    """Write a manifest/list parquet, encrypting when the table commits
    under a ManifestCrypto context. Returns (on-disk length,
    StandardKeyMetadata blob | None); the fresh key registers so
    this process reads its own write back without a reload."""
    if encryption is None:
        return _io.write_parquet(table, path), None
    import io as _pyio

    from .encryption import encode_standard_key_metadata, encrypt_stream

    key, aad = encryption.new_file_key()
    buf = _pyio.BytesIO()
    pq.write_table(table, buf, compression="zstd")
    ct = encrypt_stream(buf.getvalue(), key, aad)
    _io.resolve_io(path).write_bytes(path, ct)
    register_file_key(path, key, aad)
    return len(ct), encode_standard_key_metadata(key, aad, len(ct))


# commit-scoped encryption context: SnapshotProducer.commit (and the
# maintenance surfaces that write manifest lists directly) push the
# table's ManifestCrypto here so EVERY write_manifest call in the commit
# encrypts without threading a parameter through each producer's _apply.
_ENC_CTX: list = []


class manifest_encryption_ctx:
    def __init__(self, crypto):
        self.crypto = crypto

    def __enter__(self):
        _ENC_CTX.append(self.crypto)
        return self.crypto

    def __exit__(self, *exc):
        _ENC_CTX.pop()
        return False


def current_encryption():
    return _ENC_CTX[-1] if _ENC_CTX else None


# ---------------------------------------------------------------------------
# metrics modes (reference MetricsModes.java / MetricsConfig.java;
# TableProperties.java:350 write.metadata.metrics.default = truncate(16))
# ---------------------------------------------------------------------------

METRICS_DEFAULT_PROP = "write.metadata.metrics.default"
METRICS_COLUMN_PROP = "write.metadata.metrics.column."
_METRICS_DEFAULT = "truncate(16)"  # DEFAULT_WRITE_METRICS_MODE_DEFAULT


def parse_metrics_mode(s: str) -> tuple:
    """'none' | 'counts' | 'truncate(N)' | 'full' -> (mode, n)."""
    import re as _re

    v = str(s).strip().lower()
    if v in ("none", "counts", "full"):
        return (v, 0)
    m = _re.fullmatch(r"truncate\((\d+)\)", v)
    if m and int(m.group(1)) > 0:
        return ("truncate", int(m.group(1)))
    raise ValueError(
        f"invalid metrics mode {s!r} (expected none, counts, "
        f"truncate(N), or full)")


def metrics_config(props: Optional[dict], schema: Schema) -> dict:
    """Per-column metrics mode from table properties: the default
    (truncate(16), the reference default — long string/binary bounds
    would otherwise bloat every manifest row, e.g. whole-document text
    as min/max on a corpus table) overridden by
    write.metadata.metrics.column.<col>."""
    props = props or {}
    default = parse_metrics_mode(
        props.get(METRICS_DEFAULT_PROP, _METRICS_DEFAULT))
    cfg = {f.name: default for f in schema.fields}
    for k, v in props.items():
        if k.startswith(METRICS_COLUMN_PROP):
            col = k[len(METRICS_COLUMN_PROP):]
            if col in cfg:
                cfg[col] = parse_metrics_mode(v)
    return cfg


def truncate_string_min(s: str, n: int) -> str:
    """Lower bound: a code-point prefix is <= the original
    (UnicodeUtil.truncateStringMin)."""
    return s[:n]


def truncate_string_max(s: str, n: int) -> Optional[str]:
    """Upper bound: prefix with the last representable code point
    incremented (UnicodeUtil.truncateStringMax); None when every prefix
    code point is already at the Unicode ceiling (caller keeps no
    bound)."""
    if len(s) <= n:
        return s
    t = s[:n]
    for i in range(n - 1, -1, -1):
        cp = ord(t[i]) + 1
        if 0xD800 <= cp <= 0xDFFF:  # skip the surrogate gap (invalid utf8)
            cp = 0xE000
        if cp <= 0x10FFFF:
            return t[:i] + chr(cp)
    return None


def truncate_binary_min(b: bytes, n: int) -> bytes:
    return bytes(b[:n])


def truncate_binary_max(b: bytes, n: int) -> Optional[bytes]:
    """BinaryUtil.truncateBinaryMax: increment the last non-0xFF byte of
    the prefix; None when the prefix is all 0xFF."""
    if len(b) <= n:
        return bytes(b)
    t = bytearray(b[:n])
    for i in range(n - 1, -1, -1):
        if t[i] < 0xFF:
            t[i] += 1
            return bytes(t[: i + 1])
    return None


def apply_metrics_config(stats: dict, ntype: dict,
                         cfg: Optional[dict]) -> dict:
    """Post-process collected per-column stats tuples by metrics mode:
    none drops the column's metrics entirely, counts keeps only
    null/nan/value counts, truncate(N) bounds variable-length types
    (string/binary) to N units — still VALID bounds, so pruning stays
    conservative-correct; fixed-size types keep exact bounds under
    truncate, matching the reference (MetricsUtil applies truncation
    only to variable-length values)."""
    if not cfg:
        return stats
    out = {}
    for name, tup in stats.items():
        mode, n = cfg.get(name, ("full", 0))
        if mode == "none":
            continue
        mn, mx, nulls, nans, vc = tup
        if mode == "counts":
            out[name] = (None, None, nulls, nans, vc)
            continue
        if mode == "truncate":
            t = ntype.get(name)
            if t == "string":
                mn = truncate_string_min(mn, n) if isinstance(mn, str) else mn
                mx = truncate_string_max(mx, n) if isinstance(mx, str) else mx
            elif t == "binary":
                mn = truncate_binary_min(mn, n) if isinstance(
                    mn, (bytes, bytearray)) else mn
                mx = truncate_binary_max(mx, n) if isinstance(
                    mx, (bytes, bytearray)) else mx
        out[name] = (mn, mx, nulls, nans, vc)
    return out


@dataclass(frozen=True)
class DataFile:
    """api/.../DataFile.java / DeleteFile.java equivalent."""

    file_path: str
    file_format: str = "parquet"
    content: int = DATA
    spec_id: int = 0
    partition: dict = field(default_factory=dict)  # name -> value
    record_count: int = 0
    file_size_in_bytes: int = 0
    stats: dict = field(default_factory=dict)  # name -> (min,max,nulls,nans,values)
    equality_ids: tuple = ()
    sort_order_id: Optional[int] = None
    referenced_data_file: Optional[str] = None
    write_schema_id: int = 0  # schema the file was written under (ID-based reads)
    first_row_id: Optional[int] = None  # row lineage (format/spec.md:460)
    # deletion vectors (v3, format/spec.md:1382): blob offset/length inside
    # the containing Puffin file; must exactly match the Puffin footer
    content_offset: Optional[int] = None
    content_size_in_bytes: Optional[int] = None
    # spec data_file.key_metadata: opaque encryption key metadata
    # (engine shape: parquet_crypto.encode_key_metadata JSON)
    key_metadata: Optional[bytes] = None
    # spec data_file.column_sizes: total compressed bytes per column
    # (name-keyed like `stats`; {} when unknown — e.g. add_files imports)
    column_sizes: dict = field(default_factory=dict)
    # spec data_file.split_offsets: row-group start offsets, ascending —
    # foreign readers split the file at these; Spark splits by
    # maxPartitionBytes itself, so the engine only records/round-trips
    split_offsets: tuple = ()


@dataclass(frozen=True)
class ManifestEntry:
    status: int
    snapshot_id: int
    sequence_number: int
    file: DataFile


@dataclass(frozen=True)
class ManifestFile:
    """One row of the manifest list (format/spec.md:996)."""

    path: str
    length: int
    spec_id: int
    content: int  # 0 data, 1 deletes
    sequence_number: int
    min_sequence_number: int
    added_snapshot_id: int
    added_files_count: int = 0
    existing_files_count: int = 0
    deleted_files_count: int = 0
    added_rows_count: int = 0
    existing_rows_count: int = 0
    deleted_rows_count: int = 0
    partitions: tuple = ()  # per partition field: (name, contains_null, min, max)
    # StandardKeyMetadata blob of an ENCRYPTED manifest (plain inside the
    # encrypted manifest list, as the reference stores it); None = plaintext
    key_metadata: Optional[bytes] = None


# ---------------------------------------------------------------------------
# value <-> json (for partition summaries & snapshot summaries)
# ---------------------------------------------------------------------------


def value_to_json(v: Any) -> Any:
    if isinstance(v, _dt.datetime):
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"t": "d", "v": v.isoformat()}
    if isinstance(v, _decimal.Decimal):
        return {"t": "dec", "v": str(v)}
    if isinstance(v, bytes):
        return {"t": "b", "v": v.hex()}
    return v


def value_from_json(j: Any) -> Any:
    if isinstance(j, dict) and "t" in j:
        t, v = j["t"], j["v"]
        if t == "ts":
            return _dt.datetime.fromisoformat(v)
        if t == "d":
            return _dt.date.fromisoformat(v)
        if t == "dec":
            return _decimal.Decimal(v)
        if t == "b":
            return bytes.fromhex(v)
    return j


# ---------------------------------------------------------------------------
# arrow schema helpers
# ---------------------------------------------------------------------------


def _type_to_arrow(t: str) -> pa.DataType:
    if t.startswith("decimal"):
        import re

        m = re.match(r"decimal\((\d+),\s*(\d+)\)", t)
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    if t.startswith("fixed"):
        return pa.binary()
    return {
        "boolean": pa.bool_(),
        "int": pa.int32(),
        "long": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "date": pa.date32(),
        "time": pa.int64(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
        # v3 nanosecond timestamps surface as long nanos (schema.py mapping)
        "timestamp_ns": pa.int64(),
        "timestamptz_ns": pa.int64(),
        "string": pa.string(),
        "uuid": pa.string(),
        "binary": pa.binary(),
        "unknown": pa.null(),
        # geospatial bounds are WKB points (lower=(xmin,ymin), upper=(xmax,ymax))
        "geometry": pa.binary(),
        "geography": pa.binary(),
    }[t]


def _normalize(v: Any, t: str) -> Any:
    """pyarrow scalar python value -> our python domain (tz-naive UTC)."""
    if v is None:
        return None
    if t in ("timestamp", "timestamp_ntz"):
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v
    return v


def _stats_schema_fields(schema: Schema):
    """Flat stats columns for top-level primitive fields, keyed by field id."""
    cols = []
    for f in schema.fields:
        # the variant column itself carries no stats (spec: metrics are
        # undefined for semi-structured values) — but property-DECLARED
        # shredded paths do, as synthetic typed pseudo-fields below
        if not isinstance(f.type, str) or f.type in ("unknown", "variant"):
            continue
        at = _type_to_arrow(f.type)
        fid = f.field_id
        cols.append((f, fid, at))
    # shredded variant paths (schema.ShreddedPath, attached by
    # TableMetadata.schema_by_id): typed companion columns whose footer
    # bounds persist under deterministic synthetic ids, so extract(path)
    # predicates prune files like any typed column's would
    for sp in getattr(schema, "shredded", ()):
        pseudo = NestedField(sp.field_id, sp.stats_name, sp.type, False)
        cols.append((pseudo, sp.field_id, _type_to_arrow(sp.type)))
    return cols


# ---------------------------------------------------------------------------
# manifest write / read (pyarrow)
# ---------------------------------------------------------------------------


# reserved position-delete column ids (format/spec.md:1388 —
# 2147483546 = file_path, 2147483545 = pos). Their per-file bounds drive
# UNRELATED-delete pruning (DeleteFileIndex range check), so manifests
# persist them in dedicated stats columns; table-schema field ids can
# never collide with the reserved range.
DELETE_FILE_PATH_FID = 2147483546
DELETE_POS_FID = 2147483545


def manifest_arrow_schema(schema: Schema, spec: PartitionSpec) -> pa.schema:
    fields = [
        pa.field("status", pa.int32()),
        pa.field("snapshot_id", pa.int64()),
        pa.field("sequence_number", pa.int64()),
        pa.field("content", pa.int32()),
        pa.field("file_path", pa.string()),
        pa.field("file_format", pa.string()),
        pa.field("spec_id", pa.int32()),
        pa.field("record_count", pa.int64()),
        pa.field("file_size_in_bytes", pa.int64()),
        pa.field("equality_ids", pa.list_(pa.int32())),
        pa.field("sort_order_id", pa.int32()),
        pa.field("referenced_data_file", pa.string()),
        pa.field("write_schema_id", pa.int32()),
        pa.field("first_row_id", pa.int64()),
        pa.field("content_offset", pa.int64()),
        pa.field("content_size_in_bytes", pa.int64()),
        pa.field("key_metadata", pa.binary()),
        pa.field("split_offsets", pa.list_(pa.int64())),
    ]
    for name, ptype in spec.partition_type(schema):
        fields.append(pa.field(f"p_{name}", _type_to_arrow(ptype)))
    for f, fid, at in _stats_schema_fields(schema):
        fields.append(pa.field(f"min_f{fid}", at))
        fields.append(pa.field(f"max_f{fid}", at))
        fields.append(pa.field(f"nulls_f{fid}", pa.int64()))
        fields.append(pa.field(f"nans_f{fid}", pa.int64()))
        fields.append(pa.field(f"values_f{fid}", pa.int64()))
        fields.append(pa.field(f"sizes_f{fid}", pa.int64()))
    # reserved pos-delete file_path bounds (all-null on data entries;
    # arrow nulls cost nothing) — without them a parquet pos-delete's
    # path range is lost at serialization and the planner must attach
    # every delete file to every scan (conservative but O(deletes) at
    # 100 TB; the reference prunes these via DeleteFileIndex)
    fields.append(pa.field(f"min_f{DELETE_FILE_PATH_FID}", pa.string()))
    fields.append(pa.field(f"max_f{DELETE_FILE_PATH_FID}", pa.string()))
    return pa.schema(fields)


def write_manifest(
    location: str,
    entries: list,
    schema: Schema,
    spec: PartitionSpec,
    content: int = DATA,
    relative: bool = False,
) -> ManifestFile:
    """Write one manifest Parquet file; returns its manifest-list row.

    With ``relative=True`` (v4 relative paths, format/spec.md:194), the
    serialized ``file_path``/``referenced_data_file`` columns are stored
    relative to the table location; the returned ManifestFile and the
    caller's entries keep absolute paths."""
    arrow_schema = manifest_arrow_schema(schema, spec)
    cols = {n: [] for n in arrow_schema.names}
    stat_fields = _stats_schema_fields(schema)
    pnames = [n for n, _ in spec.partition_type(schema)]

    seqs = []
    counts = {ADDED: 0, EXISTING: 0, DELETED: 0}
    rows = {ADDED: 0, EXISTING: 0, DELETED: 0}
    psum = {n: {"contains_null": False, "min": None, "max": None} for n in pnames}

    for e in entries:
        f = e.file
        cols["status"].append(e.status)
        cols["snapshot_id"].append(e.snapshot_id)
        cols["sequence_number"].append(e.sequence_number)
        cols["content"].append(f.content)
        cols["file_path"].append(
            to_relative(f.file_path, location) if relative else f.file_path)
        cols["file_format"].append(f.file_format)
        cols["spec_id"].append(f.spec_id)
        cols["record_count"].append(f.record_count)
        cols["file_size_in_bytes"].append(f.file_size_in_bytes)
        cols["equality_ids"].append(list(f.equality_ids) if f.equality_ids else None)
        cols["sort_order_id"].append(f.sort_order_id)
        cols["referenced_data_file"].append(
            to_relative(f.referenced_data_file, location)
            if relative else f.referenced_data_file)
        cols["write_schema_id"].append(f.write_schema_id)
        cols["first_row_id"].append(f.first_row_id)
        cols["content_offset"].append(f.content_offset)
        cols["content_size_in_bytes"].append(f.content_size_in_bytes)
        cols["key_metadata"].append(f.key_metadata)
        cols["split_offsets"].append(
            list(f.split_offsets) if f.split_offsets else None)
        for n in pnames:
            v = f.partition.get(n)
            cols[f"p_{n}"].append(v)
            s = psum[n]
            if v is None:
                s["contains_null"] = True
            else:
                s["min"] = v if s["min"] is None or v < s["min"] else s["min"]
                s["max"] = v if s["max"] is None or v > s["max"] else s["max"]
        for sf, fid, _ in stat_fields:
            st = f.stats.get(sf.name)
            mn, mx, nulls, nans, values = st if st else (None, None, None, None, None)
            # rewritten entries may carry stats collected under a
            # PRE-promotion column type (date stats under a now-timestamp
            # column, spec:356); lift them into the current type's domain
            # so the arrow stats column accepts them
            cols[f"min_f{fid}"].append(_stat_to_type(mn, sf.type))
            cols[f"max_f{fid}"].append(_stat_to_type(mx, sf.type))
            cols[f"nulls_f{fid}"].append(nulls)
            cols[f"nans_f{fid}"].append(nans)
            cols[f"values_f{fid}"].append(values)
            cols[f"sizes_f{fid}"].append(
                (f.column_sizes or {}).get(sf.name))
        dst = (f.stats.get("file_path")
               if f.content == POSITION_DELETES else None)
        cols[f"min_f{DELETE_FILE_PATH_FID}"].append(
            dst[0] if dst and isinstance(dst[0], str) else None)
        cols[f"max_f{DELETE_FILE_PATH_FID}"].append(
            dst[1] if dst and isinstance(dst[1], str) else None)
        seqs.append(e.sequence_number)
        counts[e.status] += 1
        rows[e.status] += f.record_count

    table = pa.Table.from_pydict(cols, schema=arrow_schema)
    mdir = os.path.join(location, "metadata", "manifests")
    path = os.path.join(mdir, f"m-{_uuid.uuid4().hex}.parquet")
    length, skm = _write_metadata_parquet(table, path, current_encryption())

    return ManifestFile(
        path=path,
        length=length,
        spec_id=spec.spec_id,
        content=0 if content == DATA else 1,
        sequence_number=max(seqs, default=0),
        min_sequence_number=min(seqs, default=0),
        added_snapshot_id=next((e.snapshot_id for e in entries if e.status == ADDED), 0),
        added_files_count=counts[ADDED],
        existing_files_count=counts[EXISTING],
        deleted_files_count=counts[DELETED],
        added_rows_count=rows[ADDED],
        existing_rows_count=rows[EXISTING],
        deleted_rows_count=rows[DELETED],
        partitions=tuple(
            (n, psum[n]["contains_null"], psum[n]["min"], psum[n]["max"]) for n in pnames
        ),
        key_metadata=skm,
    )


# Manifests are immutable, so their decoded forms are memoized: Python
# entries (~2 KB each) by entry count, Arrow tables (~0.4 KB an entry)
# by bytes. A table at AUTO's local-planning bound (8 MiB of manifests,
# ~7,000 entries) fits several times over, so replanning it reads no
# manifest however many manifests it has.
_MANIFEST_CACHE = BoundedCache("manifests.entries", 32_768, weight=len)
_ARROW_CACHE = BoundedCache("manifests.arrow", 16 << 20,
                            weight=lambda t: t.nbytes)
_ML_CACHE = BoundedCache("manifests.lists", 256)


def read_manifest(path: str, schema: Schema, spec: PartitionSpec,
                  columns: Optional[list] = None,
                  location: Optional[str] = None) -> list:
    """Read manifest entries back into Python objects (local planning),
    memoized. v4 relative path fields resolve against ``location``
    (inferred from the manifest's own path under the fixed table layout
    when not given)."""
    if location is None:
        location = _infer_location(path)
    ck = (path, schema.schema_id, spec.spec_id, location)
    hit = _MANIFEST_CACHE.get(ck)
    if hit is not None:
        return hit
    return _MANIFEST_CACHE.put(ck, entries_from_arrow(
        read_manifest_arrow(path), schema, spec, location))


def read_manifest_arrow(path: str) -> pa.Table:
    """Manifest file as a (memoized) Arrow table — the vectorized-planning
    input."""
    hit = _ARROW_CACHE.get(path)
    if hit is not None:
        return hit
    return _ARROW_CACHE.put(path, _read_metadata_parquet(path))


def entries_from_arrow(t: pa.Table, schema: Schema, spec: PartitionSpec,
                       location: Optional[str] = None) -> list:
    """Arrow manifest rows -> Python entries. This is the local-planning
    hot loop (10k+ entries per plan), so columns are materialized lazily:
    an absent or all-null column (arrow null_count is O(1) metadata) never
    converts to a Python list and contributes a constant None instead —
    manifests routinely carry many empty optional columns (delete-only
    fields, stats of unfiltered columns, lineage)."""
    n = t.num_rows
    names = set(t.column_names)

    def colvals(name):
        """Python list for a column, or None when absent/all-null."""
        if name not in names:
            return None
        c = t.column(name)
        if c.null_count == n:
            return None
        return c.to_pylist()

    pt = spec.partition_type(schema)
    # (name, values-or-None, needs_tz_normalize)
    pcols = [(nm, colvals(f"p_{nm}"), ty in ("timestamp", "timestamp_ntz"))
             for nm, ty in pt if f"p_{nm}" in names]
    # stats: skip a field entirely when all five columns are empty — every
    # consumer reads via stats.get(name) and treats a missing key exactly
    # like an all-None tuple (no pruning / no pushdown for that column)
    stat_cols = []
    for sf, fid, _ in _stats_schema_fields(schema):
        if f"min_f{fid}" not in names:
            continue
        five = (colvals(f"min_f{fid}"), colvals(f"max_f{fid}"),
                colvals(f"nulls_f{fid}"), colvals(f"nans_f{fid}"),
                colvals(f"values_f{fid}"))
        szl = colvals(f"sizes_f{fid}")
        if all(v is None for v in five) and szl is None:
            continue
        stat_cols.append((sf.name, *five, szl,
                          sf.type in ("timestamp", "timestamp_ntz")))

    # reserved pos-delete file_path bounds -> stats["file_path"] on
    # delete rows (drives unrelated-delete range pruning)
    dmin = colvals(f"min_f{DELETE_FILE_PATH_FID}")
    dmax = colvals(f"max_f{DELETE_FILE_PATH_FID}")

    status = colvals("status")
    snap_id = colvals("snapshot_id")
    seq = colvals("sequence_number")
    content = colvals("content")
    file_path = colvals("file_path")
    file_format = colvals("file_format")
    spec_id = colvals("spec_id")
    record_count = colvals("record_count")
    file_size = colvals("file_size_in_bytes")
    eq_ids = colvals("equality_ids")
    sort_oid = colvals("sort_order_id")
    ref_file = colvals("referenced_data_file")
    wschema = colvals("write_schema_id")
    first_rid = colvals("first_row_id")
    c_off = colvals("content_offset")
    c_size = colvals("content_size_in_bytes")
    key_md = colvals("key_metadata")
    split_offs = colvals("split_offsets")

    out = []
    for i in range(n):
        partition = {}
        for nm, vals, ts in pcols:
            v = vals[i] if vals is not None else None
            partition[nm] = _normalize(v, "timestamp") if ts else v
        stats = {}
        csizes = {}
        for nm, mnl, mxl, nnl, nal, vvl, szl, ts in stat_cols:
            mn = mnl[i] if mnl is not None else None
            mx = mxl[i] if mxl is not None else None
            if ts:
                mn = _normalize(mn, "timestamp")
                mx = _normalize(mx, "timestamp")
            stats[nm] = (mn, mx,
                         nnl[i] if nnl is not None else None,
                         nal[i] if nal is not None else None,
                         vvl[i] if vvl is not None else None)
            if szl is not None and szl[i] is not None:
                csizes[nm] = szl[i]
        if content[i] == POSITION_DELETES and (dmin or dmax):
            lo = dmin[i] if dmin is not None else None
            hi = dmax[i] if dmax is not None else None
            if lo is not None or hi is not None:
                stats["file_path"] = (lo, hi, None, None, None)
        eq = eq_ids[i] if eq_ids is not None else None
        out.append(
            ManifestEntry(
                status=status[i],
                snapshot_id=snap_id[i],
                sequence_number=seq[i],
                file=DataFile(
                    file_path=resolve_path(file_path[i], location),
                    file_format=file_format[i],
                    content=content[i],
                    spec_id=spec_id[i],
                    partition=partition,
                    record_count=record_count[i],
                    file_size_in_bytes=file_size[i],
                    stats=stats,
                    equality_ids=tuple(eq) if eq else (),
                    sort_order_id=sort_oid[i] if sort_oid is not None else None,
                    referenced_data_file=resolve_path(
                        ref_file[i], location) if ref_file is not None else None,
                    write_schema_id=(wschema[i] or 0) if wschema is not None else 0,
                    first_row_id=first_rid[i] if first_rid is not None else None,
                    content_offset=c_off[i] if c_off is not None else None,
                    content_size_in_bytes=c_size[i] if c_size is not None else None,
                    key_metadata=key_md[i] if key_md is not None else None,
                    column_sizes=csizes,
                    split_offsets=tuple(split_offs[i] or ())
                    if split_offs is not None else (),
                ),
            )
        )
    return out


def entry_from_spark_row(rd: dict, schema: Schema, spec: PartitionSpec,
                         location: Optional[str] = None) -> ManifestEntry:
    """Rebuild a ManifestEntry from a collected Spark row dict (the manifest
    Parquet read distributed-side — BaseDistributedDataScan collect path).
    Shared by scan._read_entries_spark, the distributed maintenance
    planners, and the changelog differ."""
    ptypes = dict(spec.partition_type(schema))
    partition = {n: _normalize(rd.get(f"p_{n}"), ptypes[n])
                 for n in ptypes if f"p_{n}" in rd}
    stats = {}
    csizes = {}
    for f_ in schema.fields:
        if isinstance(f_.type, str) and f"min_f{f_.field_id}" in rd:
            fid = f_.field_id
            stats[f_.name] = (
                _normalize(rd[f"min_f{fid}"], f_.type),
                _normalize(rd[f"max_f{fid}"], f_.type),
                rd[f"nulls_f{fid}"], rd[f"nans_f{fid}"], rd[f"values_f{fid}"],
            )
            if rd.get(f"sizes_f{fid}") is not None:
                csizes[f_.name] = rd[f"sizes_f{fid}"]
    if rd["content"] == POSITION_DELETES:
        lo = rd.get(f"min_f{DELETE_FILE_PATH_FID}")
        hi = rd.get(f"max_f{DELETE_FILE_PATH_FID}")
        if lo is not None or hi is not None:
            stats["file_path"] = (lo, hi, None, None, None)
    return ManifestEntry(
        status=rd["status"], snapshot_id=rd["snapshot_id"],
        sequence_number=rd["sequence_number"],
        file=DataFile(
            file_path=resolve_path(rd["file_path"], location),
            file_format=rd["file_format"],
            content=rd["content"], spec_id=rd["spec_id"],
            partition=partition, record_count=rd["record_count"],
            file_size_in_bytes=rd["file_size_in_bytes"], stats=stats,
            equality_ids=tuple(rd.get("equality_ids") or ()),
            referenced_data_file=resolve_path(rd.get("referenced_data_file"),
                                              location),
            write_schema_id=rd.get("write_schema_id") or 0,
            first_row_id=rd.get("first_row_id"),
            content_offset=rd.get("content_offset"),
            content_size_in_bytes=rd.get("content_size_in_bytes"),
            key_metadata=(bytes(rd["key_metadata"])
                          if rd.get("key_metadata") is not None else None),
            column_sizes=csizes,
            split_offsets=tuple(rd.get("split_offsets") or ()),
        ),
    )


# ---------------------------------------------------------------------------
# manifest list write / read
# ---------------------------------------------------------------------------

_MANIFEST_LIST_SCHEMA = pa.schema(
    [
        pa.field("manifest_path", pa.string()),
        pa.field("manifest_length", pa.int64()),
        pa.field("spec_id", pa.int32()),
        pa.field("content", pa.int32()),
        pa.field("sequence_number", pa.int64()),
        pa.field("min_sequence_number", pa.int64()),
        pa.field("added_snapshot_id", pa.int64()),
        pa.field("added_files_count", pa.int32()),
        pa.field("existing_files_count", pa.int32()),
        pa.field("deleted_files_count", pa.int32()),
        pa.field("added_rows_count", pa.int64()),
        pa.field("existing_rows_count", pa.int64()),
        pa.field("deleted_rows_count", pa.int64()),
        pa.field("partitions_json", pa.string()),
        pa.field("key_metadata", pa.binary()),
    ]
)


def write_manifest_list(location: str, snapshot_id: int, manifests: list,
                        relative: bool = False) -> str:
    rows = {n: [] for n in _MANIFEST_LIST_SCHEMA.names}
    for m in manifests:
        rows["key_metadata"].append(m.key_metadata)
        rows["manifest_path"].append(
            to_relative(m.path, location) if relative else m.path)
        rows["manifest_length"].append(m.length)
        rows["spec_id"].append(m.spec_id)
        rows["content"].append(m.content)
        rows["sequence_number"].append(m.sequence_number)
        rows["min_sequence_number"].append(m.min_sequence_number)
        rows["added_snapshot_id"].append(m.added_snapshot_id)
        rows["added_files_count"].append(m.added_files_count)
        rows["existing_files_count"].append(m.existing_files_count)
        rows["deleted_files_count"].append(m.deleted_files_count)
        rows["added_rows_count"].append(m.added_rows_count)
        rows["existing_rows_count"].append(m.existing_rows_count)
        rows["deleted_rows_count"].append(m.deleted_rows_count)
        rows["partitions_json"].append(
            json.dumps(
                [
                    [n, cn, value_to_json(mn), value_to_json(mx)]
                    for (n, cn, mn, mx) in m.partitions
                ]
            )
        )
    t = pa.Table.from_pydict(rows, schema=_MANIFEST_LIST_SCHEMA)
    mdir = os.path.join(location, "metadata", "manifest-lists")
    path = os.path.join(mdir, f"snap-{snapshot_id}-{_uuid.uuid4().hex}.parquet")
    enc = current_encryption()
    if enc is None:
        _io.write_parquet(t, path)
        return path
    length, _skm = _write_metadata_parquet(t, path, enc)
    # the list's own key wraps under the KEK chain; the caller (snapshot
    # producer) records the returned key-id on the snapshot and merges
    # enc.added_entries into the metadata's encryption-keys
    key, aad = _FILE_KEYS[_io.strip_scheme(path)]
    enc.last_list_key_id = enc.wrap_manifest_list_key(key, aad, length)
    return path


def read_manifest_list(path: str, location: Optional[str] = None) -> list:
    if location is None:
        location = _infer_location(path)
    path = resolve_path(path, location)
    ck = (path, location)
    out = _ML_CACHE.get(ck)
    if out is not None:
        return out
    return _ML_CACHE.put(ck, _read_manifest_list_uncached(path, location))


def _read_manifest_list_uncached(path: str, location: Optional[str] = None) -> list:
    t = _read_metadata_parquet(path).to_pydict()
    kms = t.get("key_metadata") or [None] * len(t["manifest_path"])
    out = []
    for i in range(len(t["manifest_path"])):
        parts = tuple(
            (n, cn, value_from_json(mn), value_from_json(mx))
            for n, cn, mn, mx in json.loads(t["partitions_json"][i])
        )
        mpath = resolve_path(t["manifest_path"][i], location)
        skm = bytes(kms[i]) if kms[i] is not None else None
        if skm is not None and file_key(mpath) is None:
            # encrypted manifest: its key rides this (encrypted) list —
            # register so every later read_manifest(path) decrypts
            from .encryption import decode_standard_key_metadata

            mk, maad, _len = decode_standard_key_metadata(skm)
            register_file_key(mpath, mk, maad or b"")
        out.append(
            ManifestFile(
                path=mpath,
                key_metadata=skm,
                length=t["manifest_length"][i],
                spec_id=t["spec_id"][i],
                content=t["content"][i],
                sequence_number=t["sequence_number"][i],
                min_sequence_number=t["min_sequence_number"][i],
                added_snapshot_id=t["added_snapshot_id"][i],
                added_files_count=t["added_files_count"][i],
                existing_files_count=t["existing_files_count"][i],
                deleted_files_count=t["deleted_files_count"][i],
                added_rows_count=t["added_rows_count"][i],
                existing_rows_count=t["existing_rows_count"][i],
                deleted_rows_count=t["deleted_rows_count"][i],
                partitions=parts,
            )
        )
    return out


# ---------------------------------------------------------------------------
# stats collection from parquet footers (ParquetMetrics.java equivalent)
# ---------------------------------------------------------------------------


def collect_data_file(path: str, schema: Schema, spec: PartitionSpec,
                      partition: Optional[dict] = None, content: int = DATA,
                      decryption: Optional[bytes] = None,
                      metrics: Optional[dict] = None) -> DataFile:
    """Build a DataFile (with stats) from a written Parquet file's footer.

    `decryption` = the table master key for engine-encrypted files
    (parquet modular encryption): footers and the nan/geo column passes
    read through decrypting opens; stats land in the manifest exactly
    like a plaintext file's."""
    if decryption is not None:
        from .parquet_crypto import open_encrypted

        md = open_encrypted(path, decryption).metadata
    else:
        md = _io.parquet_file(path).metadata
    ntype = {f.name: f.type for f in schema.fields if isinstance(f.type, str)}
    # shredded-variant companion columns: physical typed columns named by
    # stats_name, collected exactly like user columns (incl. the NaN pass
    # for float/double shred types)
    ntype.update({sp.stats_name: sp.type
                  for sp in getattr(schema, "shredded", ())})
    agg: dict = {}
    csizes: dict = {}
    # spec: split_offsets is the FULL ascending row-group offset list or
    # absent — one unreadable offset poisons the whole list (a partial
    # list would silently drop earlier split points)
    split_offsets = []
    offsets_ok = True
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        if offsets_ok:
            try:
                c0 = g.column(0)
                split_offsets.append(int(
                    c0.dictionary_page_offset
                    if c0.dictionary_page_offset is not None
                    else c0.data_page_offset))
            except Exception:
                split_offsets = []
                offsets_ok = False
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema.split(".")[0]
            if name not in ntype:
                continue
            # data_file.column_sizes: on-disk compressed bytes per column
            csizes[name] = csizes.get(name, 0) + (
                c.total_compressed_size or 0)
            agg.setdefault(name, [None, None, 0, None, 0])
            st = c.statistics
            if st is None:
                agg[name] = [None, None, None, None, None]
                continue
            try:
                if agg[name][2] is not None and st.null_count is not None:
                    agg[name][2] += st.null_count
                else:
                    agg[name][2] = None
                if st.has_min_max:
                    mn = _normalize(st.min, ntype[name])
                    mx = _normalize(st.max, ntype[name])
                    if agg[name][0] is None or (mn is not None and mn < agg[name][0]):
                        agg[name][0] = mn
                    if agg[name][1] is None or (mx is not None and mx > agg[name][1]):
                        agg[name][1] = mx
            except Exception:
                # pyarrow can't decode stats for every physical type (e.g.
                # some decimal encodings) — missing stats only cost pruning
                agg[name] = [None, None, None, None, None]
    num_rows = md.num_rows
    # nan_value_counts for float/double columns (parquet footers exclude
    # NaN from bounds but don't count them; the reference collects these
    # at write time — Metrics.java nanValueCounts). Columnar read of just
    # the float columns; at cluster scale this folds into the distributed
    # stats job alongside footer collection.
    nan_counts: dict = {}
    float_cols = [n for n, t in ntype.items() if t in ("float", "double")]
    if float_cols:
        try:
            import pyarrow.compute as pc

            if decryption is not None:
                from .parquet_crypto import read_encrypted

                tbl = read_encrypted(path, decryption, columns=float_cols)
            else:
                tbl = _io.read_parquet(path, columns=float_cols)
            for n in float_cols:
                arr = tbl[n]
                nan_counts[n] = pc.sum(
                    pc.is_nan(arr).cast("int64")
                ).as_py() or 0
                if nan_counts[n]:
                    # spec (format/spec.md, Metrics.java nanValueCounts):
                    # lower/upper bounds must exclude NaN, but parquet-mr
                    # footers can include it — recompute from the column we
                    # already read. All-NaN => no bounds.
                    clean = pc.drop_null(
                        pc.if_else(pc.is_nan(arr), None, arr))
                    cur = agg.setdefault(n, [None, None, 0, None, 0])
                    if len(clean):
                        mm = pc.min_max(clean)
                        cur[0] = mm["min"].as_py()
                        cur[1] = mm["max"].as_py()
                    else:
                        cur[0] = cur[1] = None
        except Exception:
            nan_counts = {}
    # geospatial bounds: parquet byte-lexicographic min/max on WKB is
    # meaningless — compute the per-file bounding box from the column and
    # store it as two WKB points (lower=(xmin,ymin), upper=(xmax,ymax)),
    # the spec's geospatial bound encoding. Columnar read of just the geo
    # columns, same cost shape as the nan-count pass above.
    geo_cols = [n for n, t in ntype.items() if t in ("geometry", "geography")]
    if geo_cols:
        from .geo import column_bbox_bounds

        if decryption is not None:
            from .parquet_crypto import read_encrypted

            tbl = read_encrypted(path, decryption, columns=geo_cols)
        else:
            tbl = _io.read_parquet(path, columns=geo_cols)
        for n in geo_cols:
            lo, hi, nulls = column_bbox_bounds(tbl[n].to_pylist())
            agg[n] = [lo, hi, nulls, None, None]
    stats = {}
    for name, (mn, mx, nulls, nans, _) in agg.items():
        stats[name] = (mn, mx, nulls, nan_counts.get(name, nans), num_rows)
    stats = apply_metrics_config(stats, ntype, metrics)
    if metrics:
        # mode `none` drops column_sizes too (ParquetUtil.java:110)
        csizes = {n: v for n, v in csizes.items()
                  if metrics.get(n, ("full", 0))[0] != "none"}
    return DataFile(
        file_path=path,
        file_format="parquet",
        content=content,
        spec_id=spec.spec_id,
        partition=dict(partition or {}),
        record_count=num_rows,
        file_size_in_bytes=_io.file_size(path),
        stats=stats,
        column_sizes=csizes,
        split_offsets=tuple(split_offsets),
    )


DISTRIBUTED_STATS_THRESHOLD = 256


def collect_data_files(paths: list, schema: Schema, spec: PartitionSpec,
                       partitions: Optional[dict] = None, content: int = DATA,
                       max_workers: int = 16, spark=None,
                       decryption: Optional[bytes] = None,
                       metrics: Optional[dict] = None,
                       engine_written: bool = False,
                       reader_options: Optional[dict] = None) -> list:
    """Footer-stat collection for many files.

    Small batches read footers thread-parallel on the driver; above
    DISTRIBUTED_STATS_THRESHOLD files the per-file pass runs as a Spark
    job over the path list — after a wide fanout write the driver must
    not re-open every footer the executors just wrote (the reference
    collects metrics inside each writer task for the same reason,
    core/.../io/DataWriter.java). The returned DataFiles are plan-sized
    either way."""
    partitions = partitions or {}

    def one(p):
        try:
            return collect_data_file(p, schema, spec, partitions.get(p),
                                     content, decryption=decryption,
                                     metrics=metrics)
        except OSError:
            # footer carries a logical type this pyarrow can't parse (e.g.
            # parquet VARIANT) — marker for the Spark-side fallback below
            return p

    if len(paths) <= 2:
        out = [one(p) for p in paths]
    elif spark is not None and len(paths) > DISTRIBUTED_STATS_THRESHOLD:
        sc = spark.sparkContext
        nparts = min(len(paths) // 32 + 1, sc.defaultParallelism * 2)
        out = sc.parallelize(paths, nparts).map(one).collect()
    else:
        with ThreadPoolExecutor(max_workers=max_workers) as ex:
            out = list(ex.map(one, paths))

    failed = [p for p in out if isinstance(p, str)]
    if not failed:
        return out
    if spark is None:
        raise OSError(
            f"cannot read parquet footers (unrecognized logical type?) and "
            f"no Spark session for the fallback: {failed[:3]}")
    # one Spark job for every unreadable footer: per-file row counts via
    # the JVM parquet reader (which does understand the logical type).
    # For files the ENGINE just wrote (engine_written=True — never for
    # imported foreign files, whose physical layout we can't assume) the
    # same job also aggregates per-file min/max/null (+nan) for orderable
    # schema columns and shredded-variant companion columns, restoring
    # the pruning stats pyarrow's footer pass would have produced. One
    # column-pruned distributed pass; at cluster scale this is the same
    # cost shape as the reference's in-writer metrics collection.
    from pyspark.sql import functions as F

    # encrypted files read through the JVM crypto factory in the same
    # fallback job (reader_options from the write path's key material)
    sdf = spark.read.options(**(reader_options or {})).parquet(*failed)
    present = set(sdf.columns)
    ORDERABLE = ("int", "long", "float", "double", "string", "boolean")
    stat_cols = []  # (stats_key, spark Column, engine type)
    if engine_written and content == DATA:
        for f in schema.fields:
            if (isinstance(f.type, str) and f.type in ORDERABLE
                    and f.name in present):
                stat_cols.append((f.name, F.col(f.name), f.type))
        for sp in getattr(schema, "shredded", ()):
            if sp.type not in ORDERABLE:
                continue
            if sp.stats_name in present:
                stat_cols.append((sp.stats_name, F.col(sp.stats_name),
                                  sp.type))
            elif sp.column in present:
                # typed_value layout: no physical companion column —
                # the companion stat IS variant_get of the path, so
                # compute it in the same aggregation (exactly the
                # expression the companion writer would have used)
                from .transforms import VariantExtract

                stat_cols.append((
                    sp.stats_name,
                    VariantExtract(sp.path, sp.type).spark_col(
                        F.col(sp.column), "variant"),
                    sp.type))
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, (_, _cn, t) in enumerate(stat_cols):
        c = F.col(f"_c{i}")
        # spec: float bounds exclude NaN (Metrics.java nanValueCounts)
        safe = (F.when(~F.isnan(c), c) if t in ("float", "double") else c)
        aggs += [F.min(safe).alias(f"mn{i}"), F.max(safe).alias(f"mx{i}"),
                 F.sum(c.isNull().cast("long")).alias(f"nu{i}"),
                 (F.sum(F.isnan(c).cast("long")).alias(f"na{i}")
                  if t in ("float", "double")
                  else F.lit(0).cast("long").alias(f"na{i}"))]
    rows = (sdf
            .select(_io.decode_spark_path_col(
                F.col("_metadata.file_path"),
                paths=failed).alias("_f"),
                *[cexpr.alias(f"_c{i}")
                  for i, (_, cexpr, _t) in enumerate(stat_cols)])
            .groupBy("_f").agg(*aggs).collect())
    per_file = {}
    for r in rows:
        d = r.asDict()
        stats = {}
        for i, (key, _cn, t) in enumerate(stat_cols):
            n = d["_n"]
            stats[key] = (d.get(f"mn{i}"), d.get(f"mx{i}"),
                          d.get(f"nu{i}"), d.get(f"na{i}"), n)
        ntype = {key: t for key, _cn, t in stat_cols}
        per_file[d["_f"]] = (d["_n"],
                             apply_metrics_config(stats, ntype, metrics))
    return [
        DataFile(
            file_path=p, file_format="parquet", content=content,
            spec_id=spec.spec_id, partition=dict(partitions.get(p) or {}),
            record_count=per_file.get(p, (0, {}))[0],
            file_size_in_bytes=_io.file_size(p),
            stats=per_file.get(p, (0, {}))[1],
        ) if isinstance(p, str) else p
        for p in out
    ]
