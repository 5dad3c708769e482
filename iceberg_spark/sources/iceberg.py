"""Genuine apache/iceberg table -> engine table, BY REFERENCE.

A reference-written Iceberg table is metadata JSON
(core/.../TableMetadataParser.java) + an **Avro** manifest list
(core/.../ManifestLists.java) + Avro manifests
(core/.../ManifestReader.java:57), pointing at parquet/orc/avro data
files, position/equality delete files (parquet by reference; ORC/Avro
converted once to parquet twins under the destination), and (v3) Puffin
deletion vectors. This module replays the current snapshot's manifests and
registers every live file in an engine table without copying data —
the Delta-import pattern (sources/delta.py) applied to Iceberg itself.

Fidelity notes:
- Field IDs are preserved: the source schema JSON parses directly into
  the engine Schema (same spec shape), so equality_ids, partition
  source-ids and parquet field-id metadata keep meaning.
- Sequence numbers are preserved up to an order-preserving dense remap
  (1..k). Every pos/eq-delete applicability comparison (>=, >) is
  order-based, so the remap keeps exactly the same delete scoping as
  the source while letting the engine continue committing at k+1.
- Data/delete parquet stats are re-collected from the local footers
  (collect_data_files) rather than trusting the source manifests —
  engine-native stat typing guarantees pruning comparisons stay valid.
- Deletion vectors import as-is: the engine's Puffin DV reader speaks
  run-container roaring bitmaps (deletion_vectors.py:92).
- Tables import with `gc.enabled=false` so engine maintenance can never
  delete the source's files.

Format-version 4 sources (core/.../V4Metadata.java) are supported: v4
manifests are PARQUET (ManifestFiles.java MIN_FORMAT_VERSION_PARQUET_
MANIFESTS = 4; the manifest list stays Avro, SnapshotProducer.java:615),
`location` may be absent from the metadata JSON (TableMetadataParser
MIN_FORMAT_VERSION_OPTIONAL_LOCATION — the registration location is the
metadata dir's parent), and path fields may be RELATIVE, joined to the
table location on "/" (format/spec.md:194-214 — no `.`/`..` resolution).

Unsupported source features fail loudly: format-version > 4, encrypted
manifests (key_metadata).
"""

from __future__ import annotations

import datetime as _dt
import glob as _glob
import json
import os
import uuid as _uuid
from dataclasses import replace as _replace
from urllib.parse import unquote, urlparse

from ..caches import BoundedCache

# spec type name -> engine type name (schema.py: engine "timestamp" is
# Iceberg timestamptz; engine "timestamp_ntz" is Iceberg timestamp)
_TYPE_MAP = {"timestamp": "timestamp_ntz", "timestamptz": "timestamp"}
_EPOCH = _dt.datetime(1970, 1, 1)


def _resolve_path(p: str, location: str = None) -> str:
    # fast path: plain absolute posix path — this runs once per manifest
    # entry, and urlparse alone costs ~16us/call (measured 0.16s of a
    # 0.4s 10k-entry decode). "file:/x" single-slash URIs (the Java
    # writer emits them) still take the parse path below.
    if p.startswith("/"):
        return p
    u = urlparse(p)
    if u.scheme == "":
        return p
    if u.scheme == "file":
        return unquote(u.path)
    # remote schemes (s3a://, hdfs://, ...) stay as-is: reads route
    # through the path's FileIO (io.resolve_io), writes through Spark
    return p


def _resolve_loc(p: str, location: str = None) -> str:
    """`_resolve_path`, plus v4 relative-path joining: a path with no
    scheme and no leading `/` joins to the table location on `/`
    (format/spec.md:194-214; `.`/`..` navigation is NOT resolved)."""
    rp = _resolve_path(p)
    if (location and not rp.startswith("/")
            and urlparse(rp).scheme == ""):
        return f"{location.rstrip('/')}/{rp}"
    return rp


def _find_metadata_json(source: str) -> str:
    """Locate the current metadata JSON: explicit file, version-hint, or
    the newest `*.metadata.json` (HadoopTableOperations layout)."""
    if source.endswith(".metadata.json"):
        return source
    from ..io import resolve_io

    sio = resolve_io(source)
    mdir = os.path.join(source, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    if sio.exists(hint):
        v = sio.read_text(hint).strip()
        for pat in (f"v{v}.metadata.json", f"{v}.metadata.json"):
            p = os.path.join(mdir, pat)
            if sio.exists(p):
                return p
    cands = [os.path.join(mdir, fn) for fn in sio.list(mdir)
             if fn.endswith(".metadata.json")]
    if not cands:
        raise FileNotFoundError(
            f"no Iceberg metadata JSON under {source} (expected "
            "metadata/*.metadata.json)")

    def vkey(p):
        # version is the LEADING number: v12.metadata.json (Hadoop) or
        # 00012-<uuid>.metadata.json (object-store catalogs). Taking all
        # digits would swallow uuid digits and mis-order versions.
        import re as _re

        m = _re.match(r"^v?(\d+)", os.path.basename(p))
        return (int(m.group(1)) if m else -1, os.path.basename(p))

    return max(cands, key=vkey)


def _map_types(tj):
    """Translate spec type names into engine names, recursively."""
    if isinstance(tj, str):
        return _TYPE_MAP.get(tj, tj)
    out = dict(tj)
    kind = tj.get("type")
    if kind == "struct":
        out["fields"] = [{**f, "type": _map_types(f["type"])}
                         for f in tj["fields"]]
    elif kind == "list":
        out["element"] = _map_types(tj["element"])
    elif kind == "map":
        out["key"] = _map_types(tj["key"])
        out["value"] = _map_types(tj["value"])
    return out


def _parse_schemas(md: dict):
    from ..schema import Schema

    if "schemas" in md:
        schemas = {j.get("schema-id", 0): Schema.from_json(_map_types(j))
                   for j in md["schemas"]}
        current = md.get("current-schema-id", 0)
    else:  # v1 single-schema form
        s = Schema.from_json(_map_types(md["schema"]))
        schemas, current = {s.schema_id: s}, s.schema_id
    return schemas, current


def _parse_specs(md: dict, schemas: dict, current_schema: int):
    from ..metadata import PartitionField, PartitionSpec
    from ..transforms import parse_transform

    def src_field(fid):
        # prefer the current schema; an old spec may reference a field
        # since dropped — any schema that still knows it supplies the name
        for sid in [current_schema] + sorted(schemas):
            try:
                return schemas[sid].field_by_id(fid)
            except KeyError:
                continue
        raise KeyError(
            f"partition source field {fid} not found in any schema")

    def build(spec_id, fields_json):
        fields = []
        for f in fields_json:
            src = src_field(f["source-id"])
            fields.append(PartitionField(
                f["source-id"], f["field-id"], f["name"],
                parse_transform(f["transform"]), src.name))
        return PartitionSpec(spec_id, tuple(fields))

    if "partition-specs" in md:
        specs = {j["spec-id"]: build(j["spec-id"], j["fields"])
                 for j in md["partition-specs"]}
        default = md.get("default-spec-id", 0)
    else:  # v1 flat form
        specs = {0: build(0, md.get("partition-spec", []))}
        default = 0
    return specs, default


def sort_order_from_json(oj: dict, schemas: dict, cur: int):
    """Spec sort-order JSON (format/spec.md:638) -> engine SortOrder;
    source names resolve from any schema that knows the field id."""
    from ..metadata import SortField, SortOrder
    from ..transforms import parse_transform

    fields = []
    for fj in oj.get("fields", []):
        fid = fj["source-id"]
        name = None
        for sid in [cur] + sorted(schemas):
            try:
                name = schemas[sid].field_by_id(fid).name
                break
            except KeyError:
                continue
        if name is None:
            raise ValueError(f"sort-order source field {fid} unknown")
        fields.append(SortField(
            fid, name, parse_transform(fj["transform"]),
            fj.get("direction", "asc"),
            fj.get("null-order", "nulls-last")))
    return SortOrder(oj["order-id"], tuple(fields))


def _current_snapshot(md: dict):
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    cur = md.get("current-snapshot-id")
    if (cur is None or cur == -1) and md.get("refs", {}).get("main"):
        cur = md["refs"]["main"]["snapshot-id"]
    if cur is None or cur == -1 or cur not in snaps:
        return None
    return snaps[cur]


def _kvlist(v):
    """Iceberg Avro writes int-keyed maps as array<record{key,value}>
    (logicalType map). Normalize either encoding to a dict."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return {int(k): val for k, val in v.items()}
    if v and isinstance(v[0], tuple):  # pyarrow map -> [(key, value)]
        return {int(k): val for k, val in v}
    return {int(e["key"]): e["value"] for e in v}


def _partition_value(raw, result_type: str):
    """Avro logical value -> engine partition value (typed like
    writes.parse_partition_value output so pruning compares equal)."""
    if raw is None:
        return None
    t = _TYPE_MAP.get(result_type, result_type)
    # v4 parquet manifests store partition values TYPED (date32,
    # timestamp[us], decimal...) — pyarrow already yields the engine's
    # python representation, so pass them through
    if isinstance(raw, _dt.datetime):
        return raw.replace(tzinfo=None) if raw.tzinfo else raw
    if isinstance(raw, _dt.date):
        return raw
    import decimal as _decimal
    if isinstance(raw, _decimal.Decimal):
        return raw
    if t == "date":
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(raw))
    if t in ("timestamp", "timestamp_ntz"):
        return _EPOCH + _dt.timedelta(microseconds=int(raw))
    if t.startswith("decimal"):
        # avro decimal: big-endian two's-complement unscaled bytes
        import decimal as _decimal
        import re as _re

        scale = int(_re.match(r"decimal\((\d+),\s*(\d+)\)", t).group(2))
        unscaled = int.from_bytes(raw, "big", signed=True)
        return _decimal.Decimal(unscaled).scaleb(-scale)
    if isinstance(raw, bytes) and t == "string":
        return raw.decode("utf-8")
    return raw


ADDED, EXISTING, DELETED = 1, 0, 2


def _read_manifest_file(path: str):
    """Decode one manifest to (schema, header_meta, rows). v1-v3
    manifests are Avro containers; v4 manifests are Parquet
    (ManifestWriter.V4Writer writes via InternalData with the format
    taken from the file name) — header metadata rides in the parquet
    footer's key-value metadata, and int-keyed metric maps come back
    from pyarrow as [(key, value)] tuples, which `_kvlist` accepts."""
    if not path.endswith(".parquet"):
        from ..avro_file import read_avro

        return read_avro(path)
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        t = pq.read_table(path)
    else:
        from ..io import resolve_io

        t = pq.read_table(
            pa.BufferReader(resolve_io(path).read_bytes(path)))
    meta = {(k.decode() if isinstance(k, bytes) else k): v
            for k, v in (t.schema.metadata or {}).items()}
    return None, meta, t.to_pylist()


def _parse_table(source: str):
    """Parse the metadata JSON: (md, schemas, cur_schema, specs,
    default_spec)."""
    from ..io import resolve_io

    mpath = _find_metadata_json(source)
    md = json.loads(resolve_io(mpath).read_text(mpath))
    fv = int(md.get("format-version", 1))
    if fv > 4:
        raise NotImplementedError(
            f"Iceberg format-version {fv} not supported (v1-v4)")
    if not md.get("location"):
        # v4 optional location (TableMetadataParser
        # MIN_FORMAT_VERSION_OPTIONAL_LOCATION): the catalog provides it;
        # here that is the registration source — metadata dir's parent
        md["location"] = os.path.dirname(
            os.path.dirname(_resolve_path(mpath))).rstrip("/")
    schemas, cur_schema = _parse_schemas(md)
    specs, default_spec = _parse_specs(md, schemas, cur_schema)
    return md, schemas, cur_schema, specs, default_spec


def _snapshot_entries(snap: dict, specs: dict, schemas: dict,
                      cur_schema: int, location: str = None,
                      table_keys=None, shredded=()) -> list:
    """All live (status != DELETED) entries of one snapshot's manifest
    list, as plain dicts {content, path, format, spec_id, partition,
    record_count, file_size, seq, equality_ids, referenced_data_file,
    content_offset, content_size}."""
    from concurrent.futures import ThreadPoolExecutor

    from ..avro_file import read_avro

    entries = []
    ml_path = _resolve_loc(snap["manifest-list"], location)
    if snap.get("key-id"):
        # standard table encryption: the manifest list is an AES GCM
        # Stream keyed via the snapshot's key-id -> encryption-keys chain
        # (EncryptionUtil.decryptManifestListKeyMetadata)
        if table_keys is None:
            raise NotImplementedError(
                "encrypted Iceberg manifest list (snapshot key-id "
                f"{snap['key-id']!r}) — pass kms_unwrap to import "
                "standard-encrypted tables")
        from ..avro_file import read_avro_bytes
        from ..encryption import decrypt_stream
        from ..io import resolve_io

        key, aad = table_keys.manifest_list_key(snap["key-id"])
        raw = resolve_io(ml_path).read_bytes(ml_path)
        _, _, manifests = read_avro_bytes(
            decrypt_stream(raw, key, aad), ml_path)
    else:
        _, _, manifests = read_avro(ml_path)
    for mrow in manifests:
        if mrow.get("key_metadata") and table_keys is None:
            raise NotImplementedError(
                "encrypted Iceberg manifests (key_metadata) — pass "
                "kms_unwrap to import standard-encrypted tables")

    def read_one(path, key_metadata):
        if key_metadata:
            # each manifest is whole-file AES GCM Stream encrypted with
            # the StandardKeyMetadata riding in its manifest-list entry
            # (ManifestWriter.java:254-257 keyMetadata with file length)
            from ..avro_file import read_avro_bytes
            from ..encryption import (decode_standard_key_metadata,
                                      decrypt_stream)
            from ..io import resolve_io

            key, aad, _len = decode_standard_key_metadata(
                bytes(key_metadata))
            raw = resolve_io(path).read_bytes(path)
            return read_avro_bytes(decrypt_stream(raw, key, aad or b""),
                                   path)
        return _read_manifest_file(path)

    # manifests decode independently (file IO + zlib inflate release
    # the GIL) — a thread pool keeps big-metadata imports off the
    # one-file-at-a-time path; a single manifest decodes inline (pool
    # spin-up/lock-wait only adds latency variance there)
    paths = [_resolve_loc(m["manifest_path"], location) for m in manifests]
    kms = [m.get("key_metadata") for m in manifests]
    if len(paths) <= 1:
        decoded = [read_one(p, k) for p, k in zip(paths, kms)]
    else:
        with ThreadPoolExecutor(
                max_workers=min(16, max(1, len(paths)))) as ex:
            decoded = list(ex.map(read_one, paths, kms))
    def hdr_int(hdr_meta, key, default):
        v = hdr_meta.get(key)
        if v is None:
            return default
        return int(v.decode() if isinstance(v, bytes) else v)

    for mrow, (_hdr_schema, hdr_meta, rows) in zip(manifests, decoded):
        m_seq = int(mrow.get("sequence_number") or 0)
        spec_id = hdr_int(hdr_meta, "partition-spec-id",
                          int(mrow.get("partition_spec_id") or 0))
        # schema the manifest's FILES were written under — carried onto
        # each imported entry so renamed-column histories read by field id
        m_schema_id = hdr_int(hdr_meta, "schema-id", cur_schema)
        if m_schema_id not in schemas:
            m_schema_id = cur_schema
        spec = specs[spec_id]

        def src_type(fid):
            for sid in [m_schema_id, cur_schema] + sorted(schemas):
                try:
                    return schemas[sid].field_by_id(fid).type
                except KeyError:
                    continue
            raise KeyError(f"partition source field {fid} unknown")

        rtypes = {pf.name: pf.transform.result_type(src_type(pf.source_id))
                  for pf in spec.fields}
        # row-lineage first_row_id inheritance (format/spec.md "First Row
        # ID Inheritance"): null file-level values resolve to the
        # manifest's first_row_id plus the record counts of PRECEDING
        # null-valued data files in this manifest — counted over every
        # row (incl. DELETED) before the live-entry filter below
        m_first = mrow.get("first_row_id")
        _pending = 0
        frid_by_row = []
        for e in rows:
            df0 = e["data_file"]
            frid = df0.get("first_row_id")
            if int(df0.get("content") or 0) == 0 and frid is None \
                    and m_first is not None:
                frid = m_first + _pending
                _pending += int(df0.get("record_count") or 0)
            frid_by_row.append(frid if int(df0.get("content") or 0) == 0
                               else None)
        for e, _frid in zip(rows, frid_by_row):
            if e["status"] == DELETED:
                continue
            df = e["data_file"]
            seq = e.get("sequence_number")
            if seq is None:
                if e["status"] != ADDED:
                    raise ValueError(
                        "EXISTING manifest entry without an explicit "
                        f"sequence number in {mrow['manifest_path']}")
                seq = m_seq
            part_raw = df.get("partition") or {}
            partition = {
                name: _partition_value(part_raw.get(name), rt)
                for name, rt in rtypes.items()}
            km = df.get("key_metadata")
            if km:
                # natively-encrypted content file: validate the blob is
                # a decodable StandardKeyMetadata NOW (loud at import
                # time, not first read) and carry it VERBATIM — the raw
                # DEK + AAD prefix it holds drive the JVM raw-DEK reader
                # (jvm_crypto.RawDekCryptoFactory) at scan time
                from ..parquet_crypto import file_crypto

                km = bytes(km)
                file_crypto(km)  # raises on undecodable shapes
            ref = df.get("referenced_data_file")
            entries.append({
                "content": int(df.get("content") or 0),
                "path": _resolve_loc(df["file_path"], location),
                "format": (df.get("file_format") or "parquet").lower(),
                "spec_id": spec_id,
                "schema_id": m_schema_id,
                "partition": partition,
                "record_count": int(df.get("record_count") or 0),
                "file_size": int(df.get("file_size_in_bytes") or 0),
                "seq": int(seq),
                "equality_ids": tuple(df.get("equality_ids") or ()),
                "referenced_data_file": (
                    _resolve_loc(ref, location) if ref else None),
                "content_offset": df.get("content_offset"),
                "content_size": df.get("content_size_in_bytes"),
                "sort_order_id": df.get("sort_order_id"),
                "first_row_id": _frid,
                "key_metadata": km or None,
                "stats": _manifest_entry_stats(df, schemas[m_schema_id],
                                               shredded),
                "column_sizes": _entry_column_sizes(
                    df, schemas[m_schema_id]),
                "split_offsets": tuple(df.get("split_offsets") or ()),
            })
    return entries


def _entry_column_sizes(df_record: dict, schema) -> dict:
    """data_file.column_sizes ({fid: bytes}) -> engine name-keyed dict."""
    raw = df_record.get("column_sizes")
    if not raw:
        return {}
    try:
        by_id = _fid_map(raw)
    except Exception:
        return {}
    return {f.name: int(by_id[f.field_id]) for f in schema.fields
            if isinstance(f.type, str) and f.field_id in by_id}


def _decode_single_value(buf, t: str):
    """Iceberg binary single-value serialization -> engine Python domain
    (format/spec.md "Binary single-value serialization";
    api/.../types/Conversions.java): numeric/date/time/timestamp are
    LITTLE-endian, decimal unscaled bytes are BIG-endian two's
    complement, string UTF-8, uuid big-endian. Types the engine's stats
    domain can't compare (uuid, time, nanosecond timestamps) return
    None — missing bounds only cost pruning, never correctness."""
    import struct

    if buf is None:
        return None
    b = bytes(buf)
    try:
        if t == "boolean":
            return b[0] != 0
        if t == "int":
            return struct.unpack("<i", b)[0]
        if t == "long":
            return struct.unpack("<q", b)[0]
        if t == "float":
            return struct.unpack("<f", b)[0]
        if t == "double":
            return struct.unpack("<d", b)[0]
        if t == "date":
            return (_dt.date(1970, 1, 1)
                    + _dt.timedelta(days=struct.unpack("<i", b)[0]))
        if t in ("timestamp", "timestamp_ntz", "timestamptz"):
            us = struct.unpack("<q", b)[0]
            return (_dt.datetime(1970, 1, 1)
                    + _dt.timedelta(microseconds=us))
        if t == "string":
            return b.decode("utf-8")
        if t == "binary" or t.startswith("fixed"):
            return b
        if t.startswith("decimal"):
            import re as _re
            from decimal import Decimal

            m = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
            if not m:
                return None
            unscaled = int.from_bytes(b, "big", signed=True)
            return Decimal(unscaled).scaleb(-int(m.group(2)))
    except Exception:
        return None
    return None


def _encode_single_value(v, t: str):
    """Inverse of _decode_single_value: engine stats value -> Iceberg
    binary single-value serialization. None for types the encoder
    doesn't cover (the bound is simply omitted — pruning-only cost)."""
    import struct

    if v is None:
        return None
    try:
        if t == "boolean":
            return b"\x01" if v else b"\x00"
        if t == "int":
            return struct.pack("<i", int(v))
        if t == "long":
            return struct.pack("<q", int(v))
        if t == "float":
            return struct.pack("<f", float(v))
        if t == "double":
            return struct.pack("<d", float(v))
        if t == "date" and isinstance(v, _dt.date) \
                and not isinstance(v, _dt.datetime):
            return struct.pack("<i", (v - _dt.date(1970, 1, 1)).days)
        if t in ("timestamp", "timestamp_ntz", "timestamptz") \
                and isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            us = (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
                microseconds=1)
            return struct.pack("<q", us)
        if t == "string" and isinstance(v, str):
            return v.encode("utf-8")
        if (t == "binary" or t.startswith("fixed")) \
                and isinstance(v, (bytes, bytearray)):
            return bytes(v)
        if t.startswith("decimal"):
            import re as _re
            from decimal import Decimal

            m = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
            if not m or not isinstance(v, Decimal):
                return None
            unscaled = int(v.scaleb(int(m.group(2))))
            n = max(1, (unscaled.bit_length() + 8) // 8)
            return unscaled.to_bytes(n, "big", signed=True)
    except Exception:
        return None
    return None


def _entry_metric_maps(stats: dict, schema, column_sizes=None,
                       shredded=()) -> dict:
    """Engine DataFile.stats -> reference manifest metric maps
    ([{"key": fid, "value": ...}] per column, spec-serialized bounds) so
    an exported table prunes (and re-imports metadata-only) exactly like
    a reference-written one. Declared shredded paths emit their bounds
    under the deterministic synthetic field ids (reserved block —
    readers that don't know them ignore them; re-import derives the
    same ids from the carried properties and restores the stats)."""
    if not stats:
        return {}
    vc, nulls, nans, lob, upb = [], [], [], [], []
    stat_fields = [(f.field_id, f.name, f.type) for f in schema.fields
                   if isinstance(f.type, str)]
    stat_fields += [(sp.field_id, sp.stats_name, sp.type)
                    for sp in shredded]
    for fid, name, ftype in stat_fields:
        s = stats.get(name)
        if s is None:
            continue
        mn, mx, nu, na, cnt = s
        if cnt is not None:
            vc.append({"key": fid, "value": int(cnt)})
        if nu is not None:
            nulls.append({"key": fid, "value": int(nu)})
        if na is not None:
            nans.append({"key": fid, "value": int(na)})
        b = _encode_single_value(mn, ftype)
        if b is not None:
            lob.append({"key": fid, "value": b})
        b = _encode_single_value(mx, ftype)
        if b is not None:
            upb.append({"key": fid, "value": b})
    cs = []
    for f in schema.fields:
        v = (column_sizes or {}).get(f.name)
        if v is not None and isinstance(f.type, str):
            cs.append({"key": f.field_id, "value": int(v)})
    out = {}
    for k, v in (("value_counts", vc), ("null_value_counts", nulls),
                 ("nan_value_counts", nans), ("lower_bounds", lob),
                 ("upper_bounds", upb), ("column_sizes", cs)):
        if v:
            out[k] = v
    return out


def _fid_map(v) -> dict:
    """Manifest k/v metric column (Avro array-of-record logicalType map
    or a plain dict) -> {field_id: value}."""
    if not v:
        return {}
    if isinstance(v, dict):
        return {int(k): val for k, val in v.items()}
    out = {}
    for item in v:
        if isinstance(item, dict):
            out[int(item["key"])] = item["value"]
        else:  # pyarrow map -> list of (key, value) tuples (v4 parquet)
            out[int(item[0])] = item[1]
    return out


def _manifest_entry_stats(df_record: dict, schema, shredded=()) -> dict:
    """Engine stats dict {name: (min, max, nulls, nans, value_count)}
    decoded from a reference manifest entry's metric columns — the only
    stats source for files whose footers the engine cannot open
    (natively-encrypted parquet) or that have no parquet footer
    (ORC/Avro). Bounds may be truncated under the source's metrics
    config; truncated bounds are still VALID outer bounds, so pruning
    stays conservative-correct, and the aggregate-pushdown exactness
    guard keys off the (copied) table metrics properties exactly as it
    does for engine-written files."""
    # metric-less entries (add_files imports, synthetic fixtures, most
    # delete entries) are the bulk of big decodes — skip the five map
    # conversions entirely (this loop runs 10k+ times per manifest)
    if not (df_record.get("value_counts") or df_record.get("lower_bounds")
            or df_record.get("upper_bounds")
            or df_record.get("null_value_counts")):
        return {}
    try:
        vc = _fid_map(df_record.get("value_counts"))
        nulls = _fid_map(df_record.get("null_value_counts"))
        nans = _fid_map(df_record.get("nan_value_counts"))
        lo = _fid_map(df_record.get("lower_bounds"))
        hi = _fid_map(df_record.get("upper_bounds"))
    except Exception:
        return {}
    if not (vc or nulls or lo or hi):
        return {}
    out = {}
    stat_fields = [(f.field_id, f.name, f.type) for f in schema.fields
                   if isinstance(f.type, str)]
    # engine stats cover top-level primitives; declared shredded paths
    # decode their synthetic-id metrics back into companion stats keys
    stat_fields += [(sp.field_id, sp.stats_name, sp.type)
                    for sp in shredded]
    for fid, name, ftype in stat_fields:
        if (fid not in vc and fid not in nulls and fid not in lo
                and fid not in hi):
            continue
        out[name] = (
            _decode_single_value(lo.get(fid), ftype),
            _decode_single_value(hi.get(fid), ftype),
            int(nulls[fid]) if fid in nulls else None,
            int(nans[fid]) if fid in nans else None,
            int(vc[fid]) if fid in vc else None,
        )
    return out


def _table_keys(md: dict, kms_unwrap):
    if kms_unwrap is None:
        return None
    from ..encryption import StandardTableKeys

    return StandardTableKeys(md.get("encryption-keys") or [], kms_unwrap)


def read_iceberg_snapshot(source: str, kms_unwrap=None):
    """Parse the source table's CURRENT snapshot into plain structures:
    (schemas, current_schema_id, specs, default_spec_id, entries,
    props, md). `kms_unwrap(wrapped_bytes, key_id) -> key_bytes` unlocks
    standard-encrypted metadata (the KMS itself is vendor-pluggable in
    the reference too, KeyManagementClient.java)."""
    md, schemas, cur_schema, specs, default_spec = _parse_table(source)
    snap = _current_snapshot(md)
    from ..schema import shredded_paths as _sps

    _shred = _sps(schemas[cur_schema], md.get("properties") or {})
    entries = ([] if snap is None
               else _snapshot_entries(snap, specs, schemas, cur_schema,
                                      location=md.get("location"),
                                      table_keys=_table_keys(md,
                                                             kms_unwrap),
                                      shredded=_shred))
    return (schemas, cur_schema, specs, default_spec, entries,
            dict(md.get("properties") or {}), md)


class _ImportSnapshot:
    """One commit carrying data + delete entries with PRESERVED per-entry
    sequence numbers (dense order-preserving remap of the source's)."""

    def __init__(self, table, files_by_seq: list, max_seq: int,
                 timestamp_ms: int = None, operation: str = "append",
                 existing: set = None):
        from ..writes import SnapshotProducer

        outer = self
        existing = existing or set()

        class P(SnapshotProducer):
            def __init__(self):
                super().__init__(table)
                self.operation = operation
                self.sequence_override = max_seq
                if timestamp_ms:
                    self.timestamp_override = int(timestamp_ms)

            def _assign_first_row_ids(self, start):
                # imported entries carry their SOURCE lineage verbatim
                # (no reassignment — spec: pre-lineage snapshots keep
                # null); next_row_id just clears every explicit range so
                # later engine commits never double-assign row ids
                from ..manifests import DATA as _DATA

                nri = start
                for _s, f in outer.files:
                    if f.content == _DATA and f.first_row_id is not None:
                        nri = max(nri, f.first_row_id + f.record_count)
                return nri

            def _apply(self, base, seq):
                from collections import defaultdict

                from ..manifests import (DATA, ManifestEntry,
                                         write_manifest)

                groups = defaultdict(list)
                for s, f in outer.files:
                    # history replay: files carried over from the prior
                    # snapshot keep EXISTING status so incremental reads
                    # see only genuinely new files as additions
                    st = EXISTING if f.file_path in existing else ADDED
                    groups[(f.spec_id, 0 if f.content == DATA else 1)] \
                        .append(ManifestEntry(st, self.snapshot_id, s, f))
                out = []
                for (spec_id, content), ents in sorted(groups.items()):
                    spec = base.spec_by_id(spec_id)
                    out.append(write_manifest(
                        base.location, ents, base.schema, spec, content,
                        relative=base.relative_paths))
                summary = {"operation": self.operation,
                           "engine": "iceberg-import",
                           "added-data-files": str(sum(
                               1 for _, f in outer.files
                               if f.content == DATA)),
                           "added-delete-files": str(sum(
                               1 for _, f in outer.files
                               if f.content != DATA))}
                return out, self.operation, summary

        self.files = files_by_seq
        self._producer = P()

    def commit(self):
        return self._producer.commit()


def _refuse_plaintext_dek_sink(entries, holders,
                               allow_plaintext_key_metadata=False):
    """Raw StandardKeyMetadata blobs (version byte 1) carry the file's
    PLAINTEXT DEK + AAD — the reference only ever persists them inside
    ENCRYPTED manifests (StandardEncryptionManager.java). Importing such
    entries into a destination whose engine manifests are plaintext (no
    catalog/table metadata_key) would write every file key to disk in
    the clear, silently defeating the source table's encryption — the
    exact symmetric leak export_reference_metadata already refuses.
    Refuse unless the caller explicitly opts in."""
    if allow_plaintext_key_metadata:
        return
    if any(getattr(h, "metadata_key", None) is not None for h in holders
           if h is not None):
        return
    for e in entries:
        km = e.get("key_metadata")
        if km and bytes(km[:1]) == b"\x01":
            raise ValueError(
                "source entries carry raw StandardKeyMetadata (plaintext "
                "file DEKs) but the destination catalog has no "
                f"metadata_key — importing {e['path']} would persist its "
                "decryption key in plaintext engine manifests. Import "
                "through a catalog constructed with metadata_key, or pass "
                "allow_plaintext_key_metadata=True to accept the leak")


def snapshot_iceberg_table(catalog, source_location: str, dest_ident: str,
                           kms_unwrap=None,
                           allow_plaintext_key_metadata=False):
    """CALL system.snapshot_iceberg_table analog
    (delta-lake's BaseSnapshotDeltaLakeTableAction shape, applied to a
    genuine Iceberg source). Returns (table, imported_file_count,
    imported_delete_file_count)."""
    (schemas, cur_schema, specs, default_spec, entries,
     src_props, md) = read_iceberg_snapshot(source_location, kms_unwrap)
    schema = schemas[cur_schema]
    _refuse_plaintext_dek_sink(entries, [catalog],
                               allow_plaintext_key_metadata)

    # order-preserving dense seq remap: preserves every >=/>/== delete
    # applicability comparison while the engine keeps committing at k+1
    seq_map = {s: i + 1 for i, s in
               enumerate(sorted({e["seq"] for e in entries}))}
    max_seq = len(seq_map)
    t = _create_dest(catalog, dest_ident, schemas, cur_schema, specs,
                     default_spec, src_props, md=md)
    files_by_seq = _materialize(catalog, schemas, cur_schema, specs,
                                entries, seq_map,
                                dest_location=t.location)

    n_data = sum(1 for _, f in files_by_seq if f.content == 0)
    n_del = len(files_by_seq) - n_data
    if files_by_seq:
        _ImportSnapshot(t, files_by_seq, max_seq).commit()
        t = t.refresh()
        n = len(t.refresh().scan().plan_files().files)
        if n != n_data:
            raise ValueError(
                f"Iceberg import file-count mismatch: source snapshot holds "
                f"{n_data} live data files but {n} were planned for "
                f"{source_location}")
    return t, n_data, n_del


def replay_snapshot_onto(catalog, table, snap_json: dict,
                         branch: str = "main", metadata_key=None,
                         allow_plaintext_key_metadata=False):
    """REST-commit `add-snapshot` (rest-catalog-open-api.yaml
    UpdateTableRequest; core/.../rest/CatalogHandlers.java commit shape):
    an external client wrote content files plus a reference-layout Avro
    manifest list under the table location; replace the table's live set
    with that manifest list's live entries, preserving the CLIENT's
    snapshot id so its next loadTable/refresh sees the id it committed.

    Engine-known files keep their sequence numbers, footer stats, and
    EXISTING status (incremental/changelog reads see only genuine
    additions); new files register by reference at the table's next
    sequence number. Because the manifest list is full state, append,
    overwrite, and row-delta commits all replay through the same path.
    Concurrency control is the REST requirement check the caller ran
    (assert-ref-snapshot-id) plus the engine's optimistic version
    commit."""
    meta = table.metadata
    table_keys = None
    if snap_json.get("key-id"):
        # the client's manifest list is encrypted: its key chains
        # through `encryption-keys` entries (which the same commit adds
        # via add-encryption-key updates — already applied to `table`)
        # down to a KEK wrapped by the table's KMS. The engine KMS is
        # AES-GCM under metadata_key; when the server holds it, the
        # chain unwraps and the snapshot replays like any other. A
        # server WITHOUT the key has no unwrap context — truly foreign
        # KMS — and refuses loudly.
        mk = metadata_key or getattr(table.ops, "metadata_key", None) \
            or getattr(catalog, "metadata_key", None)
        if mk is None:
            raise NotImplementedError(
                "add-snapshot with an encrypted manifest list (snapshot "
                f"key-id {snap_json['key-id']!r}): the key chain is "
                "wrapped by a KMS key this server does not hold — load "
                "the catalog with the table's metadata_key, or commit "
                "through an engine catalog that has it")
        from ..encryption import (StandardTableKeys, aes_gcm_decrypt,
                                  normalize_key)

        mk = normalize_key(mk)

        def kms_unwrap(wrapped, kid):
            # engine ManifestCrypto wraps KEKs with AAD = the KMS key
            # id; reference-style exports (and the fixture) use empty
            # AAD — accept both, fail loudly on neither matching
            try:
                return aes_gcm_decrypt(mk, wrapped,
                                       (kid or "").encode("utf-8"))
            except ValueError:
                return aes_gcm_decrypt(mk, wrapped, b"")

        table_keys = StandardTableKeys(list(meta.encryption_keys),
                                       kms_unwrap)
    schemas = {s.schema_id: s for s in meta.schemas}
    specs = {sp.spec_id: sp for sp in meta.partition_specs}
    cur = meta.current_schema_id
    from ..schema import shredded_paths as _sps

    entries = _snapshot_entries(snap_json, specs, schemas, cur,
                                location=meta.location,
                                table_keys=table_keys,
                                shredded=_sps(schemas[cur],
                                              meta.properties))
    _refuse_plaintext_dek_sink(
        entries, [getattr(table, "ops", None), catalog],
        allow_plaintext_key_metadata)

    plan = table.scan().plan_files()
    # key carries referenced file + offset: a Puffin container holds one
    # entry PER deletion vector, so path alone would collapse them
    known = {}
    for e in (list(plan.files) + list(plan.pos_deletes)
              + list(plan.eq_deletes)):
        known[(e.file.file_path, e.file.referenced_data_file,
               e.file.content_offset)] = (e.sequence_number, e.file)
    known_paths = {k[0] for k in known}
    next_seq = meta.last_sequence_number + 1
    files_by_seq, new_entries = [], []
    for e in entries:
        ref = e.get("referenced_data_file")
        k = known.get((e["path"], _resolve_path(ref) if ref else None,
                       e.get("content_offset")))
        if k is not None:
            files_by_seq.append(k)
        else:
            new_entries.append(e)
    seq_map = {s: next_seq for s in {e["seq"] for e in new_entries}}
    files_by_seq += _materialize(catalog, schemas, cur, specs,
                                 new_entries, seq_map,
                                 dest_location=table.location)
    op = (snap_json.get("summary") or {}).get("operation") or "append"
    sid = int(snap_json["snapshot-id"])
    if any(s.snapshot_id == sid for s in meta.snapshots):
        raise ValueError(f"snapshot id already committed: {sid}")
    imp = _ImportSnapshot(table, files_by_seq, next_seq,
                          timestamp_ms=snap_json.get("timestamp-ms"),
                          operation=op, existing=known_paths)
    imp._producer.branch = branch
    imp._producer.snapshot_id = sid
    return imp.commit()


def _create_dest(catalog, dest_ident, schemas, cur_schema, specs,
                 default_spec, src_props, md: dict = None):
    from ..metadata import TableMetadata, TableOperations
    from ..table import Table

    loc = catalog._location(dest_ident)
    # catalog._ops carries the catalog's metadata_key so imports into an
    # encrypted catalog write encrypted engine metadata/manifests — the
    # property _refuse_plaintext_dek_sink relies on
    ops = (catalog._ops(loc) if hasattr(catalog, "_ops")
           else TableOperations(loc))
    if ops.refresh() is not None:
        raise ValueError(f"table exists: {dest_ident}")
    props = {k: v for k, v in src_props.items()}
    props["gc.enabled"] = "false"  # by-reference: never delete source files
    meta = TableMetadata.new(loc, schemas[cur_schema], specs[default_spec],
                             properties=props)
    # register EVERY source schema with its original id (and the current
    # one under its real id, not 0): imported entries carry the schema id
    # their manifest recorded, so renamed-column histories read by field
    # id through the engine's write-schema grouped read path
    meta = _replace(
        meta,
        schemas=tuple(schemas[i] for i in sorted(schemas)),
        current_schema_id=cur_schema,
        last_column_id=max(s.highest_field_id() for s in schemas.values()),
        partition_specs=tuple(specs[i] for i in sorted(specs)),
        default_spec_id=default_spec,
        last_partition_id=max(
            [f.field_id for sp in specs.values() for f in sp.fields],
            default=meta.last_partition_id),
    )
    # source sort orders carry over (entries keep their sort_order_id,
    # so write-order metadata survives the import)
    if md and md.get("sort-orders"):
        sorts = tuple(sort_order_from_json(oj, schemas, cur_schema)
                      for oj in md["sort-orders"])
        meta = _replace(
            meta, sort_orders=sorts,
            default_sort_order_id=md.get("default-sort-order-id", 0))
    ops.commit(None, meta)
    t = Table(catalog.spark, loc, ops.refresh(), dest_ident)
    t.ops = ops  # keep the catalog's (possibly encrypted) metadata IO
    return t


def _orc_rows(path: str) -> int:
    import pyarrow.orc as _orc

    return _orc.ORCFile(path).nrows


def _convert_delete_file(e: dict, dest_location: str, cache: dict):
    """ORC/Avro position- or equality-delete file -> a parquet twin under
    the DEST table's data dir. The reference reads all three formats for
    deletes (core/.../avro/Avro.java, data ORC readers); the engine's MoR
    read path is parquet/puffin, so import converts ONCE (cached across a
    history replay) — content is tiny relative to data. The entry mutates
    in place to the converted path/format/size."""
    import pyarrow as _pa

    from .. import io as _fio

    src = _resolve_path(e["path"])
    ck = ("__conv__", src)
    hit = cache.get(ck)
    if hit is None:
        if e["format"] == "avro":
            from ..avro_file import read_avro

            _schema, _meta, rows = read_avro(src)
            if e["content"] == 1:  # position deletes: fixed spec schema
                tbl = _pa.table({
                    "file_path": _pa.array(
                        [r["file_path"] for r in rows], _pa.string()),
                    "pos": _pa.array([r["pos"] for r in rows],
                                     _pa.int64())})
            else:
                tbl = _pa.Table.from_pylist(rows)
        else:  # orc
            import pyarrow.orc as _orc

            tbl = _orc.ORCFile(src).read()
        new = os.path.join(dest_location, "data",
                           f"imported-deletes-{_uuid.uuid4().hex}.parquet")
        size = _fio.write_parquet(tbl, new)
        hit = cache[ck] = (new, size, tbl.num_rows)
    e["path"], e["file_size"], e["record_count"] = hit
    e["format"] = "parquet"


def _materialize(catalog, schemas, cur_schema, specs, entries, seq_map,
                 cache: dict = None, dest_location: str = None) -> list:
    """entries -> [(remapped seq, engine DataFile)] — stats re-collected
    from the actual parquet footers, grouped per (spec, content); Puffin
    DVs registered from the entry; ORC/Avro DELETE files convert to
    parquet twins under `dest_location` (loud error when no destination
    is available to hold the conversion). `cache` (path, content) ->
    DataFile reuses footer stats across snapshots in a history replay."""
    from collections import defaultdict

    from ..manifests import (DATA, POSITION_DELETES, DataFile,
                             collect_data_files)

    cache = cache if cache is not None else {}
    for e in entries:
        if e["content"] != DATA and e["format"] in ("orc", "avro"):
            if dest_location is None:
                raise NotImplementedError(
                    f"{e['format']} delete files need a destination table "
                    f"to hold their parquet conversion: {e['path']}")
            _convert_delete_file(e, dest_location, cache)
        if e["content"] != DATA and e["format"] not in ("parquet", "puffin"):
            raise NotImplementedError(
                f"{e['format']} delete files are not supported: {e['path']}")
    files_by_seq = []
    parquet_groups = defaultdict(list)
    for e in entries:
        # one Puffin container holds MULTIPLE deletion vectors (one
        # entry per blob, same path): the key must carry the referenced
        # file + offset or replays collapse them into one vector
        _ref = e.get("referenced_data_file")
        ck = (e["path"], e["content"],
              _resolve_path(_ref) if _ref else None,
              e.get("content_offset"))
        if ck in cache:
            files_by_seq.append((seq_map[e["seq"]], cache[ck]))
        elif e["format"] == "parquet" and e.get("key_metadata"):
            # natively-encrypted parquet (raw footer DEK in the entry's
            # StandardKeyMetadata): the footer is unreadable without the
            # JVM reader, so the file registers with the MANIFEST's own
            # counts and no column stats — reads stay exact (full
            # residual filter), they just don't min/max-prune, the same
            # contract as imported ORC/Avro data files. The blob rides
            # the engine manifest verbatim (export round-trips it).
            f = DataFile(
                file_path=e["path"], file_format="parquet",
                content=e["content"], spec_id=e["spec_id"],
                partition=dict(e["partition"]),
                record_count=e["record_count"],
                file_size_in_bytes=e["file_size"],
                stats=e.get("stats") or {},
                column_sizes=e.get("column_sizes") or {},
                split_offsets=tuple(e.get("split_offsets") or ()),
                equality_ids=tuple(e["equality_ids"]),
                sort_order_id=e.get("sort_order_id"),
                referenced_data_file=(
                    _resolve_path(e["referenced_data_file"])
                    if e.get("referenced_data_file") else None),
                write_schema_id=e.get("schema_id", cur_schema),
                first_row_id=(e.get("first_row_id")
                              if e["content"] == DATA else None),
                key_metadata=e["key_metadata"])
            cache[ck] = f
            files_by_seq.append((seq_map[e["seq"]], f))
        elif e["format"] == "parquet":
            parquet_groups[(e["spec_id"], e["content"])].append(e)
        elif e["content"] != DATA:  # puffin DV: register from the entry
            f = DataFile(
                file_path=e["path"], file_format="puffin",
                content=POSITION_DELETES, spec_id=e["spec_id"],
                partition=dict(e["partition"]),
                record_count=e["record_count"],
                file_size_in_bytes=e["file_size"], stats={},
                referenced_data_file=_resolve_path(
                    e["referenced_data_file"]),
                write_schema_id=e.get("schema_id", cur_schema),
                content_offset=e["content_offset"],
                content_size_in_bytes=e["content_size"],
                key_metadata=e.get("key_metadata"))
            cache[ck] = f
            files_by_seq.append((seq_map[e["seq"]], f))
        elif e["format"] in ("orc", "avro"):
            # ORC/Avro data files register with the manifest's counts
            # (reference reads all three data formats —
            # core/.../avro/Avro.java, api/.../FileFormat.java:26-31);
            # neither has a pyarrow stat surface comparable to parquet
            # footers, so these files simply don't min/max-prune (reads
            # stay exact — the residual filter applies in full). A
            # count-less manifest entry falls back to the file's own
            # row count (ORC footer / Avro block headers).
            rc = e["record_count"]
            if not rc:
                if e["format"] == "orc":
                    rc = _orc_rows(e["path"])
                else:
                    from ..avro_file import avro_row_count

                    rc = avro_row_count(_resolve_path(e["path"]))
            f = DataFile(
                file_path=e["path"], file_format=e["format"], content=DATA,
                spec_id=e["spec_id"], partition=dict(e["partition"]),
                record_count=rc,
                file_size_in_bytes=e["file_size"],
                stats=e.get("stats") or {},
                column_sizes=e.get("column_sizes") or {},
                split_offsets=tuple(e.get("split_offsets") or ()),
                first_row_id=e.get("first_row_id"),
                write_schema_id=e.get("schema_id", cur_schema))
            cache[ck] = f
            files_by_seq.append((seq_map[e["seq"]], f))
        else:
            raise NotImplementedError(
                f"imported {e['format']} data files are not supported yet "
                f"(parquet/orc/avro only): {e['path']}")

    schema = schemas[cur_schema]
    for (spec_id, content), group in sorted(parquet_groups.items()):
        spec = specs[spec_id]
        # METADATA-ONLY registration (the reference's register/add_files
        # shape: RegisterTableProcedure never opens data files): entries
        # whose source manifest carries real metrics — any non-null
        # value_count — register straight from the manifest (counts +
        # decoded bounds). Only stat-less entries pay the footer pass;
        # at cluster scale this is the difference between reading a
        # million footers and reading none.
        md_only = []
        footer = []
        for e in group:
            st = e.get("stats") or {}
            if e["file_size"] and any(
                    v[4] is not None for v in st.values()):
                md_only.append(e)
            else:
                footer.append(e)
        for e in md_only:
            f = DataFile(
                file_path=e["path"], file_format="parquet",
                content=content, spec_id=spec_id,
                partition=dict(e["partition"]),
                record_count=e["record_count"],
                file_size_in_bytes=e["file_size"], stats=e["stats"],
                column_sizes=e.get("column_sizes") or {},
                split_offsets=tuple(e.get("split_offsets") or ()),
                equality_ids=tuple(e["equality_ids"]),
                sort_order_id=e.get("sort_order_id"),
                referenced_data_file=(
                    _resolve_path(e["referenced_data_file"])
                    if e.get("referenced_data_file") else None),
                first_row_id=(e.get("first_row_id")
                              if content == DATA else None),
                write_schema_id=e.get("schema_id", cur_schema))
            cache[(f.file_path, content, f.referenced_data_file,
                   f.content_offset)] = f
            files_by_seq.append((seq_map[e["seq"]], f))
        group = footer
        if not group:
            continue
        paths = sorted({e["path"] for e in group})
        by_path = {e["path"]: e for e in group}
        partitions = {e["path"]: e["partition"] for e in group}
        metas = collect_data_files(
            paths, schema, spec, partitions, content=content,
            spark=catalog.spark)
        fmap = {}
        for f in metas:
            src = by_path[f.file_path]
            f = _replace(
                f, write_schema_id=src.get("schema_id", cur_schema),
                first_row_id=(src.get("first_row_id")
                              if content == DATA else None),
                equality_ids=tuple(src["equality_ids"]),
                sort_order_id=src.get("sort_order_id"),
                referenced_data_file=(
                    _resolve_path(src["referenced_data_file"])
                    if src["referenced_data_file"] else None))
            cache[(f.file_path, content, f.referenced_data_file,
                   f.content_offset)] = f
            fmap[f.file_path] = f
        for e in group:
            files_by_seq.append((seq_map[e["seq"]], fmap[e["path"]]))
    return files_by_seq


def register_iceberg_table(catalog, source_location: str, dest_ident: str,
                           kms_unwrap=None,
                           allow_plaintext_key_metadata=False):
    """Full-history registration of a genuine Iceberg table (the
    RegisterTableProcedure analog — reference register keeps history):
    the current snapshot's ANCESTOR CHAIN replays as engine commits in
    order, each carrying the source snapshot's full live file set with
    preserved per-entry sequence numbers, the source commit timestamp,
    and EXISTING/ADDED statuses computed against the prior snapshot — so
    both time travel (ordinal or timestamp) and incremental/changelog
    reads over the imported table match the source. Files register by
    reference; footer stats are collected once per path across the whole
    replay.

    Returns (table, n_snapshots_replayed, n_live_data_files)."""
    md, schemas, cur_schema, specs, default_spec = _parse_table(
        source_location)
    schema = schemas[cur_schema]
    props = dict(md.get("properties") or {})
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    cur = _current_snapshot(md)
    if cur is None:
        return _create_dest(catalog, dest_ident, schemas, cur_schema,
                            specs, default_spec, props, md=md), 0, 0
    chain, s = [], cur
    while s is not None:
        chain.append(s)
        p = s.get("parent-snapshot-id")
        s = snaps.get(p) if p is not None else None
    chain.reverse()

    tk = _table_keys(md, kms_unwrap)
    from ..schema import shredded_paths as _sps

    _shred = _sps(schemas[cur_schema], md.get("properties") or {})
    per_snap = [(snap, _snapshot_entries(snap, specs, schemas, cur_schema,
                                         location=md.get("location"),
                                         table_keys=tk, shredded=_shred))
                for snap in chain]
    for _snap, _ents in per_snap:
        _refuse_plaintext_dek_sink(_ents, [catalog],
                                   allow_plaintext_key_metadata)
    t = _create_dest(catalog, dest_ident, schemas, cur_schema, specs,
                     default_spec, props, md=md)
    all_seqs = sorted(
        {e["seq"] for _, ents in per_snap for e in ents}
        | {int(snap.get("sequence-number") or 0) for snap in chain})
    seq_map = {v: i + 1 for i, v in enumerate(all_seqs)}

    cache: dict = {}
    prev_paths: set = set()
    n_data = 0
    for snap, ents in per_snap:
        files_by_seq = _materialize(catalog, schemas, cur_schema, specs,
                                    ents, seq_map, cache,
                                    dest_location=t.location)
        ov = max([sq for sq, _ in files_by_seq]
                 + [seq_map.get(int(snap.get("sequence-number") or 0), 0)],
                 default=0)
        op = (snap.get("summary") or {}).get("operation", "append")
        imp = _ImportSnapshot(t, files_by_seq, ov,
                              timestamp_ms=snap.get("timestamp-ms"),
                              operation=op, existing=prev_paths)
        # preserve the SOURCE snapshot id (RegisterTable keeps identity):
        # time travel / incremental reads by id match the source, and an
        # engine->reference->engine round-trip is id-stable
        sid = int(snap["snapshot-id"])
        if not any(s2.snapshot_id == sid
                   for s2 in t.metadata.snapshots):
            imp._producer.snapshot_id = sid
        imp.commit()
        t = t.refresh()
        prev_paths = {f.file_path for _, f in files_by_seq}
        n_data = sum(1 for _, f in files_by_seq if f.content == 0)

    n = len(t.scan().plan_files().files)
    if n != n_data:
        raise ValueError(
            f"Iceberg register file-count mismatch: source current "
            f"snapshot holds {n_data} live data files but {n} were "
            f"planned for {source_location}")
    # carry source refs whose snapshots were replayed (snapshot ids are
    # preserved, so tags/branches on main ancestors map directly); refs
    # on side branches (snapshots outside the chain) are skipped
    replayed = {s.snapshot_id for s in t.metadata.snapshots}
    extra = {}
    for name, rj in (md.get("refs") or {}).items():
        rsid = rj.get("snapshot-id")
        if name != "main" and rsid in replayed:
            from ..metadata import SnapshotRef

            extra[name] = SnapshotRef(rsid, rj.get("type", "branch"))
    # statistics / partition-statistics files (Puffin NDV sketches etc.)
    # register by reference for replayed snapshots — the blobs are
    # DataSketches wire format either way, so a reimported table's
    # sketches keep unioning with fresh ones (UpdateStatistics parity)
    src_loc = md.get("location") or source_location

    def _carry_stats(entries, key):
        out = []
        for e in entries or []:
            if not isinstance(e, dict) or e.get("snapshot-id") \
                    not in replayed:
                continue
            p = e.get(key)
            if not p:
                continue
            out.append({**e, key: _resolve_loc(p, src_loc)})
        return tuple(out)

    stats_in = _carry_stats(md.get("statistics"), "statistics-path")
    pstats_in = _carry_stats(md.get("partition-statistics"), "path")
    if extra or stats_in or pstats_in:
        t._commit_metadata(_replace(
            t.metadata, refs={**t.metadata.refs, **extra},
            statistics_files=t.metadata.statistics_files + stats_in,
            partition_statistics_files=(
                t.metadata.partition_statistics_files + pstats_in)))
        t = t.refresh()
    return t, len(chain), n_data


# ---------------------------------------------------------------------------
# export: engine table -> reference-layout metadata
# ---------------------------------------------------------------------------

# engine type name -> spec type name (inverse of _TYPE_MAP)
_TYPE_UNMAP = {"timestamp_ntz": "timestamp", "timestamp": "timestamptz"}


def _unmap_types(tj):
    if isinstance(tj, str):
        return _TYPE_UNMAP.get(tj, tj)
    out = dict(tj)
    kind = tj.get("type")
    if kind == "struct":
        out["fields"] = [{**f, "type": _unmap_types(f["type"])}
                         for f in tj["fields"]]
    elif kind == "list":
        out["element"] = _unmap_types(tj["element"])
    elif kind == "map":
        out["key"] = _unmap_types(tj["key"])
        out["value"] = _unmap_types(tj["value"])
    return out


def _avro_type_for(result_type: str):
    t = result_type
    if t == "int":
        return "int"
    if t == "long":
        return "long"
    if t == "float":
        return "float"
    if t == "double":
        return "double"
    if t == "boolean":
        return "boolean"
    if t == "string":
        return "string"
    if t == "date":
        return {"type": "int", "logicalType": "date"}
    if t in ("timestamp", "timestamp_ntz"):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if t.startswith("decimal"):
        import re as _re

        m = _re.match(r"decimal\((\d+),\s*(\d+)\)", t)
        return {"type": "bytes", "logicalType": "decimal",
                "precision": int(m.group(1)), "scale": int(m.group(2))}
    raise NotImplementedError(
        f"cannot export partition value type {t!r} to Avro")


def _avro_partition_raw(v, result_type: str):
    """Engine partition value -> raw Avro logical value (inverse of
    _partition_value)."""
    if v is None:
        return None
    if result_type == "date":
        return (v - _dt.date(1970, 1, 1)).days
    if result_type in ("timestamp", "timestamp_ntz"):
        return int((v - _EPOCH).total_seconds() * 1_000_000)
    if result_type.startswith("decimal"):
        import re as _re

        scale = int(_re.match(r"decimal\((\d+),\s*(\d+)\)",
                              result_type).group(2))
        unscaled = int(v.scaleb(scale))
        n = max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(n, "big", signed=True)
    return v


# (uuid, location, snapshot_id) -> (entries, had_dv)
_EXPORT_PLAN_CACHE = BoundedCache("sources.iceberg.export_plan", 4096)


def _transcode_kms_file(spark, src_path: str, reader_opts: dict,
                        dest_dir: str, sort_cols, path_map=None):
    """Re-encrypt one engine-kms parquet file as a reference raw-DEK
    copy under `dest_dir` (fresh DEK + AAD, uniform footer-key
    encryption — Parquet.java's writer layout). Row order is preserved
    by sorting on `sort_cols` (`_metadata.row_index` for data/eq files —
    position deletes key rows by content instead, since their
    `file_path` column is remapped through `path_map` to the transcoded
    data paths). Returns (new_path, StandardKeyMetadata blob)."""
    import glob as _g
    import secrets
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .. import jvm_crypto
    from ..encryption import encode_standard_key_metadata

    df = (spark.read.options(**(reader_opts or {})).parquet(src_path)
          .withColumn("__rid", F.col("_metadata.row_index")))
    if path_map:
        mapping = F.create_map(*[F.lit(x) for kv in path_map.items()
                                 for x in kv])
        df = df.withColumn(
            "file_path",
            F.coalesce(mapping[F.col("file_path")], F.col("file_path")))
    df = (df.coalesce(1).sortWithinPartitions(*sort_cols).drop("__rid"))
    tmp = tempfile.mkdtemp(prefix="iceberg_spark_transcode_")
    w = df.write.mode("overwrite")
    skm = None
    if reader_opts is not None:  # encrypted source -> raw-DEK copy
        dek, aad = secrets.token_bytes(16), secrets.token_bytes(16)
        w = w.options(**jvm_crypto.raw_writer_options(dek, aad))
    w.parquet(tmp)
    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, f"{_uuid.uuid4().hex}.parquet")
    shutil.move(_g.glob(os.path.join(tmp, "*.parquet"))[0], dest)
    shutil.rmtree(tmp, ignore_errors=True)
    if reader_opts is not None:
        skm = encode_standard_key_metadata(dek, aad,
                                           os.path.getsize(dest))
    return dest, skm


def _build_transcode_map(table, chain, dest_root: str) -> dict:
    """old engine-kms path -> (raw-DEK copy path, SKM blob) over every
    exported snapshot: data files first (so position-delete CONTENT can
    remap to the new paths), then parquet pos/eq deletes. Engine-
    encrypted Puffin DVs are refused (their blob payloads name data
    paths the transcode moves) — rewrite them to parquet pos-deletes
    first (maintenance.rewrite_position_delete_files)."""
    from .. import jvm_crypto
    from ..parquet_crypto import file_crypto, resolve_key

    spark = table.spark
    if not jvm_crypto.available(spark):
        raise NotImplementedError(
            "transcode_encrypted_data requires the JVM crypto path "
            "(raw-DEK writes have no pyarrow surface)")
    ddir = os.path.join(dest_root, "data")
    tmap: dict = {}

    def ropts(f):
        fc = file_crypto(f.key_metadata)
        if fc is None or fc[0] != "kms":
            return None
        return jvm_crypto.reader_options(fc[1], resolve_key(fc[1]))

    plans = [table.new_scan().use_snapshot(s.snapshot_id).plan_files()
             for s in chain]
    for plan in plans:
        for e in plan.files:
            ro = ropts(e.file)
            if ro is not None and e.file.file_path not in tmap:
                tmap[e.file.file_path] = _transcode_kms_file(
                    spark, e.file.file_path, ro, ddir, ["__rid"])
    data_map = {old: new for old, (new, _skm) in tmap.items()}
    for plan in plans:
        for d in plan.pos_deletes:
            if d.file.file_format == "puffin" \
                    or d.file.file_path in tmap:
                continue
            ro = ropts(d.file)
            if ro is not None:
                tmap[d.file.file_path] = _transcode_kms_file(
                    spark, d.file.file_path, ro, ddir,
                    ["file_path", "pos"], path_map=data_map)
            elif data_map and d.file.key_metadata is None:
                # PLAINTEXT pos delete naming transcoded data paths: its
                # content must remap too (stays plaintext)
                tmap[d.file.file_path] = _transcode_kms_file(
                    spark, d.file.file_path, None, ddir,
                    ["file_path", "pos"], path_map=data_map)
        for d in plan.eq_deletes:
            ro = ropts(d.file)
            if ro is not None and d.file.file_path not in tmap:
                tmap[d.file.file_path] = _transcode_kms_file(
                    spark, d.file.file_path, ro, ddir, ["__rid"])
    return tmap, _transcode_dv_containers(plans, data_map, ddir)


def _transcode_dv_containers(plans, data_map: dict, ddir: str) -> dict:
    """Rebuild Puffin deletion-vector containers whose blobs either sit
    under engine stream encryption (ags1-kms — the reference cannot
    unwrap it) or reference data files the transcode moved (the payload
    names the OLD path). Fresh containers re-encrypt under raw SKM keys
    when the source was encrypted. Returns {(container_path,
    referenced_file, content_offset): new entry fields}."""
    import secrets

    from ..deletion_vectors import read_dv_positions, write_dv_puffin
    from ..encryption import encode_standard_key_metadata
    from ..parquet_crypto import unwrap_stream_key

    containers: dict = {}
    seen = set()
    for plan in plans:
        for d in plan.pos_deletes:
            f = d.file
            if f.file_format != "puffin":
                continue
            k = (f.file_path, f.referenced_data_file, f.content_offset)
            if k in seen:
                continue
            seen.add(k)
            enc = unwrap_stream_key(f.key_metadata)
            if enc is None and f.referenced_data_file not in data_map:
                continue  # plaintext DV over untouched data: by reference
            containers.setdefault(f.file_path, []).append((f, enc))
    dv_map: dict = {}
    for cpath, entries in containers.items():
        dvs, any_enc = {}, False
        for f, enc in entries:
            any_enc = any_enc or enc is not None
            pos = read_dv_positions(cpath, f.content_offset,
                                    f.content_size_in_bytes, decrypt=enc)
            newref = data_map.get(f.referenced_data_file,
                                  f.referenced_data_file)
            dvs[newref] = pos
        os.makedirs(ddir, exist_ok=True)
        new_path = os.path.join(ddir, f"{_uuid.uuid4().hex}.puffin")
        skm = None
        if any_enc:
            key, aad = secrets.token_bytes(16), secrets.token_bytes(16)
            metas = write_dv_puffin(new_path, dvs, encrypt=(key, aad))
            skm = encode_standard_key_metadata(
                key, aad, os.path.getsize(new_path))
        else:
            metas = write_dv_puffin(new_path, dvs)
        by_ref = {m["referenced_data_file"]: m for m in metas}
        for f, _enc in entries:
            m = by_ref[data_map.get(f.referenced_data_file,
                                    f.referenced_data_file)]
            dv_map[(f.file_path, f.referenced_data_file,
                    f.content_offset)] = {
                "path": new_path,
                "content_offset": m["content_offset"],
                "content_size": m["content_size_in_bytes"],
                "file_size": m["file_size_in_bytes"],
                "key_metadata": skm}
    return dv_map


def export_reference_metadata(table, dest_root: str,
                              full_history: bool = False,
                              encryption_key: bytes = None,
                              transcode_encrypted_data: bool = False,
                              format_version: int = None,
                              reuse_manifests_from: str = None,
                              shred_physical: bool = None) -> str:
    """Write a reference-layout Iceberg metadata tree (metadata JSON +
    Avro manifest list/manifests, the TableMetadataParser.java /
    ManifestLists.java shapes) for an engine table, pointing at the
    engine's data/delete files by absolute path — the outbound half of
    interop: a genuine apache/iceberg reader can open `dest_root` as a
    Hadoop-layout table. Per-entry sequence numbers are preserved, so
    delete applicability is identical.

    `full_history=False` exports the current snapshot only (the REST
    loadTable shape). `full_history=True` exports the whole main-branch
    ancestor chain — one reference snapshot per engine snapshot with
    preserved ids, commit timestamps, and operations — so time travel
    and incremental reads survive an engine -> reference -> engine
    round-trip (the outbound twin of register_iceberg_table's replay).

    `encryption_key` writes reference STANDARD TABLE ENCRYPTION: Avro
    manifests + manifest lists as AES GCM Streams with StandardKeyMetadata
    and an `encryption-keys` KEK chain KMS-wrapped by the key — readable
    by any client holding it (kms_unwrap on re-import). Tables whose own
    manifests encrypt (catalog metadata_key) derive the key automatically
    so an export can never silently DECRYPT the metadata tree.

    Returns the metadata JSON path."""
    # engine-encrypted data files (parquet_crypto key_metadata) use an
    # engine-defined KMS wrap the reference cannot unwrap — exporting
    # them would hand a reference reader undecryptable files. (This is
    # the ONLY remaining encrypted-export refusal: encrypted METADATA
    # exports encrypted via `encryption_key`.) Raw-DEK key_metadata
    # (reference StandardKeyMetadata, e.g. imported native-encrypted
    # files) is VERBATIM reference format and passes through — but only
    # under an encrypted metadata tree: plaintext manifests carrying
    # plaintext DEKs would leak every file key.
    has_raw = False
    for e in (table.scan().plan_files().files or []):
        if e.file.key_metadata is not None:
            if bytes(e.file.key_metadata[:1]) == b"\x01":
                has_raw = True
                continue
            if transcode_encrypted_data:
                has_raw = True  # transcoded files carry raw SKM blobs
                continue
            raise NotImplementedError(
                "cannot export a table with engine-encrypted data files "
                "to the reference layout by reference: the reference's "
                "encryption manager cannot unwrap the engine's "
                f"parquet-kms key metadata ({e.file.file_path}). Pass "
                "transcode_encrypted_data=True to re-encrypt copies "
                "under reference raw-DEK StandardKeyMetadata")
    if has_raw and encryption_key is None and not (
            table.metadata.encryption_keys
            or getattr(table.ops, "metadata_key", None)):
        raise ValueError(
            "table holds natively-encrypted data files (raw DEKs in "
            "key_metadata); refusing a plaintext-manifest export that "
            "would leak the file keys — pass encryption_key")
    if encryption_key is None and table.metadata.encryption_keys:
        encryption_key = getattr(table.ops, "metadata_key", None)
        if encryption_key is None:
            raise ValueError(
                "table manifests are encrypted but no encryption_key was "
                "given for the export — refusing to emit a plaintext "
                "copy of an encrypted metadata tree")
    elif encryption_key is None and has_raw:
        # raw DEKs must never land in plaintext reference manifests even
        # in the edge state metadata_key-set / encryption-keys-empty:
        # promote the catalog key so the exported tree encrypts (the
        # guard above already refused when neither source exists)
        encryption_key = getattr(table.ops, "metadata_key", None)
    if encryption_key is not None:
        from ..encryption import normalize_key

        encryption_key = normalize_key(encryption_key)
    schema = table.schema
    schema_json = _unmap_types(schema.to_json())
    schemas = {s.schema_id: s for s in table.metadata.schemas}

    def src_type(fid):
        # an old spec may reference a since-dropped field: any schema
        # that still knows the id supplies the type (importer's rule)
        for sid in ([table.metadata.current_schema_id]
                    + sorted(schemas)):
            try:
                return schemas[sid].field_by_id(fid).type
            except KeyError:
                continue
        raise KeyError(f"partition source field {fid} unknown")

    # one spec entry per spec the table knows: manifests are written per
    # (content, spec) so spec-evolved tables export faithfully
    specs_json, avro_by_spec, rtypes_by_spec = [], {}, {}
    for sp in table.metadata.partition_specs:
        rtypes = {pf.name: pf.transform.result_type(src_type(pf.source_id))
                  for pf in sp.fields}
        rtypes_by_spec[sp.spec_id] = rtypes
        specs_json.append({"spec-id": sp.spec_id, "fields": [
            {"name": pf.name, "transform": pf.transform.to_str(),
             "source-id": pf.source_id, "field-id": pf.field_id}
            for pf in sp.fields]})
        avro_by_spec[sp.spec_id] = [
            (pf.name, _avro_type_for(rtypes[pf.name]), pf.field_id)
            for pf in sp.fields]

    state = {"has_dv": False}
    # cache key includes referenced_data_file + content_offset: one
    # Puffin container can hold SEVERAL deletion vectors (one manifest
    # entry per blob, same file_path) — keying by path alone would
    # collapse them into one vector and resurrect deleted rows
    cache = {}
    transcode_map: dict = {}  # filled before snapshot_files runs
    dv_transcode_map: dict = {}  # (path, ref, offset) -> new DV fields
    from ..schema import shredded_paths as _shredded_paths

    export_shredded = _shredded_paths(schema, table.metadata.properties)

    def entry(e, content):
        f = e.file
        ck = (f.file_path, content, f.referenced_data_file,
              f.content_offset)
        hit = cache.get(ck)
        if hit is not None:
            # seq is per-entry, everything else is per-file
            return dict(hit, seq=e.sequence_number)
        rtypes = rtypes_by_spec[f.spec_id]
        out = {
            "path": f.file_path, "content": content,
            "format": f.file_format, "spec_id": f.spec_id,
            "partition": {n: _avro_partition_raw(
                f.partition.get(n), rtypes[n]) for n in rtypes},
            "record_count": f.record_count,
            "file_size": f.file_size_in_bytes,
            "seq": e.sequence_number,
        }
        if f.equality_ids:
            out["equality_ids"] = tuple(f.equality_ids)
        if f.referenced_data_file:
            ref_tc = transcode_map.get(f.referenced_data_file)
            out["referenced_data_file"] = (ref_tc[0] if ref_tc
                                           else f.referenced_data_file)
        if f.content_offset is not None:
            out["content_offset"] = f.content_offset
            out["content_size"] = f.content_size_in_bytes
        if f.sort_order_id is not None:
            out["sort_order_id"] = f.sort_order_id
        if content == 0 and f.first_row_id is not None:
            # row lineage (format/spec.md:460-546): the ASSIGNED
            # first_row_id rides out so _row_id values are stable across
            # an engine -> reference -> engine round trip
            out["first_row_id"] = f.first_row_id
        if (f.key_metadata is not None
                and bytes(f.key_metadata[:1]) == b"\x01"):
            # reference StandardKeyMetadata rides out verbatim (the
            # export is key-compatible with the file's raw DEK)
            out["key_metadata"] = bytes(f.key_metadata)
        tc = transcode_map.get(f.file_path)
        if tc is not None:
            # engine-kms file replaced by its raw-DEK transcoded copy
            out["path"] = tc[0]
            out["file_size"] = os.path.getsize(tc[0])
            if tc[1] is not None:
                out["key_metadata"] = tc[1]
        dv = dv_transcode_map.get(
            (f.file_path, f.referenced_data_file, f.content_offset))
        if dv is not None:
            # rebuilt DV container (remapped payload paths / fresh SKM
            # stream key)
            out["path"] = dv["path"]
            out["file_size"] = dv["file_size"]
            out["content_offset"] = dv["content_offset"]
            out["content_size"] = dv["content_size"]
            if dv["key_metadata"] is not None:
                out["key_metadata"] = dv["key_metadata"]
            elif "key_metadata" in out:
                del out["key_metadata"]
        # metric maps from the engine's stats: a reference reader prunes
        # the export exactly like a table it wrote itself, and an
        # engine round-trip re-imports METADATA-ONLY (no footer pass).
        # Shredded-companion stats ride under their synthetic field ids
        # (reserved block, ignored by readers that don't know them; the
        # importer maps them back so extract() pruning survives the
        # round trip).
        out.update(_entry_metric_maps(
            f.stats, schemas.get(f.write_schema_id, schema),
            column_sizes=f.column_sizes, shredded=export_shredded))
        if f.split_offsets and out["path"] == f.file_path:
            # transcoded copies have different row-group boundaries —
            # stale offsets would mis-split in a reference reader
            out["split_offsets"] = list(f.split_offsets)
        cache[ck] = out
        return out

    def snapshot_files(snap):
        # repeated exports (REST serves full history on every loadTable)
        # re-plan only NEW snapshots: a snapshot's live set is immutable,
        # so its entry list caches by (uuid, location, id) — location in
        # the key because rewrite_table_path moves paths under the same
        # uuid
        ck = (table.metadata.table_uuid, table.location, snap.snapshot_id)
        hit = (None if (transcode_map or dv_transcode_map)
               else _EXPORT_PLAN_CACHE.get(ck))  # transcoded paths are
        # per-destination — never share them through the global cache
        if hit is not None:
            state["has_dv"] = state["has_dv"] or hit[1]
            return [dict(f) for f in hit[0]]
        plan = (table.new_scan().use_snapshot(snap.snapshot_id)
                .plan_files())
        files = []
        for e in plan.files:
            if e.file.file_format != "parquet":
                raise NotImplementedError(
                    f"export of {e.file.file_format} data files is not "
                    f"supported: {e.file.file_path}")
            files.append(entry(e, 0))
        had_dv = False
        for d in plan.pos_deletes:
            if d.file.file_format == "puffin":
                had_dv = True
                state["has_dv"] = True
            files.append(entry(d, 1))
        for d in plan.eq_deletes:
            files.append(entry(d, 2))
        if not (transcode_map or dv_transcode_map):
            _EXPORT_PLAN_CACHE.put(ck, ([dict(f) for f in files], had_dv))
        return files

    # preserve engine identity: the exported refs/snapshot ids and
    # table-uuid equal the engine's, so a REST client's
    # assert-ref-snapshot-id / assert-table-uuid requirements built from
    # loadTable round-trip against the engine table on commit
    cur = table.current_snapshot()
    if full_history and cur is not None:
        by_id = {s.snapshot_id: s for s in table.metadata.snapshots}
        chain, s = [], cur
        while s is not None:
            chain.append(s)
            s = by_id.get(s.parent_snapshot_id)
        chain.reverse()
    else:
        chain = [cur] if cur is not None else []
    if transcode_encrypted_data and chain:
        tmap, dvmap = _build_transcode_map(table, chain, dest_root)
        transcode_map.update(tmap)
        dv_transcode_map.update(dvmap)
    # spec-physical variant shredding (variant_shred.py): tables with
    # declared `write.variant.shred.*` paths transcode their plaintext
    # parquet data files into the reference's typed_value layout
    # (engine companion columns dropped), so a reference reader gets
    # real shredding instead of a plain variant column. Auto when paths
    # are declared; shred_physical=False keeps by-reference export.
    if shred_physical is not False and chain:
        from ..schema import shredded_paths
        from ..variant_shred import shredding_ddl, \
            transcode_shredded_files

        shred_decl = shredded_paths(schema, table.metadata.properties)
        shred_ddl = shredding_ddl(shred_decl)
        if shred_ddl:
            from ..variant_shred import jvm_parquet_schemas

            drop_cols = tuple(sp.stats_name for sp in shred_decl)
            sdir = os.path.join(dest_root, "data")
            var_wsids = {
                s.schema_id for s in table.metadata.schemas
                if any(f.type == "variant" for f in s.fields)}
            plans = [table.new_scan().use_snapshot(s.snapshot_id)
                     .plan_files() for s in chain]
            # candidate sweep is pure metadata; footer probes and the
            # per-file coalesce(1) rewrite jobs then run BATCHED from
            # thread pools — a legacy companion-layout table with
            # hundreds of files pipelines across task slots instead of
            # serializing one py4j probe + one Spark job at a time on
            # the driver
            candidates: list = []
            seen: set = set()
            for plan in plans:
                for e in plan.files:
                    f = e.file
                    if (f.file_path in transcode_map
                            or f.file_path in seen
                            or f.key_metadata is not None
                            or f.file_format != "parquet"
                            or f.write_schema_id not in var_wsids):
                        continue
                    seen.add(f.file_path)
                    candidates.append(f.file_path)
            phys_by_path = jvm_parquet_schemas(table.spark, candidates)

            def needs_transcode(phys: str) -> bool:
                if "typed_value" in phys and "_shred_f" not in phys:
                    # written under write.variant.shred.layout=
                    # typed_value: already reference-shaped (Spark's
                    # default INFERRED shredding also emits typed_value,
                    # but those files still carry the engine companion
                    # columns — only companion-free files export by
                    # reference, zero-copy)
                    return False
                if "VARIANT" not in phys:
                    # JSON-text or plain-struct variant encoding: Spark
                    # reads the column as string/struct, so the
                    # shredding writer has nothing to shred —
                    # transcoding would drop the companions for no
                    # typed_value gain; leave by reference
                    return False
                return True

            to_move = [p for p in candidates
                       if needs_transcode(phys_by_path.get(p, ""))]
            moved = {old: (new, None) for old, new in
                     transcode_shredded_files(
                         table.spark, to_move, sdir, shred_ddl,
                         drop_cols=drop_cols).items()}
            if moved:
                transcode_map.update(moved)
                data_map = {old: new for old, (new, _s) in moved.items()}
                # plaintext pos-delete CONTENT names the moved data
                # paths: rewrite those files with the path remap (DV
                # container payloads likewise). A delete file this loop
                # CANNOT remap — encrypted, or already rewritten by the
                # kms transcode with a different path map — would leave
                # content naming pre-move paths, silently resurrecting
                # deleted rows in the export: refuse loudly instead.
                for plan in plans:
                    for d in plan.pos_deletes:
                        if d.file.file_format == "puffin":
                            continue
                        if (d.file.file_path in transcode_map
                                or d.file.key_metadata is not None):
                            raise NotImplementedError(
                                "spec-physical shredded export cannot "
                                "remap this position-delete file's "
                                "contents to the transcoded data paths "
                                f"({d.file.file_path}: encrypted or "
                                "already transcoded) — rewrite deletes "
                                "first (rewrite_position_delete_files) "
                                "or pass shred_physical=False")
                        transcode_map[d.file.file_path] = \
                            _transcode_kms_file(
                                table.spark, d.file.file_path, None,
                                sdir, ["file_path", "pos"],
                                path_map=data_map)
                dv_transcode_map.update(
                    _transcode_dv_containers(plans, data_map, sdir))
    snaps = [{"files": snapshot_files(s), "snapshot_id": s.snapshot_id,
              "timestamp_ms": s.timestamp_ms,
              "operation": s.operation,
              "schema_id": s.schema_id
              if s.schema_id is not None
              else table.metadata.current_schema_id}
             for s in chain] or [{"files": []}]
    from .iceberg_fixture import write_reference_table_history

    # format-version resolution: explicit wins (validated), else the
    # lowest version the table's features allow — DVs, standard
    # encryption, and row lineage are all v3 features
    needs_v3 = (state["has_dv"] or encryption_key is not None
                or table.metadata.next_row_id > 0)
    if format_version is None:
        format_version = 3 if needs_v3 else 2
    elif format_version == 2 and needs_v3:
        raise ValueError(
            "format_version=2 cannot express this table: deletion "
            "vectors, standard encryption, and row lineage require v3+")
    elif format_version >= 4 and encryption_key is not None:
        raise NotImplementedError(
            "v4 export with standard table encryption is not supported: "
            "the v4 writer emits PARQUET manifests, which this exporter "
            "encrypts only as Avro GCM streams (v3)")
    elif format_version not in (2, 3, 4):
        raise ValueError(f"unsupported format_version {format_version}")

    return write_reference_table_history(
        dest_root, schema_json, snaps,
        format_version=format_version,
        encryption_key=encryption_key,
        reuse_manifests_from=reuse_manifests_from,
        properties={k: v for k, v in table.metadata.properties.items()
                    if not k.startswith("gc.")},
        table_uuid=table.metadata.table_uuid,
        partition_specs_json=specs_json,
        partition_avro_by_spec=avro_by_spec,
        default_spec_id=table.metadata.default_spec_id,
        all_schemas_json=[_unmap_types(s.to_json())
                          for s in table.metadata.schemas],
        # sort orders without the engine-internal source-name key
        # (format/spec.md:638 sort field JSON)
        sort_orders_json=[
            {"order-id": so.order_id, "fields": [
                {k: v for k, v in f.to_json().items()
                 if k != "source-name"} for f in so.fields]}
            for so in table.metadata.sort_orders],
        default_sort_order_id=table.metadata.default_sort_order_id,
        # Puffin stats files are spec-encoded; entries pass through with
        # the exported-snapshot filter so no dangling snapshot-ids
        statistics_json=[
            dict(e) for e in table.metadata.statistics_files
            if any(s.snapshot_id == e.get("snapshot-id") for s in chain)],
        partition_statistics_json=[
            dict(e) for e in table.metadata.partition_statistics_files
            if any(s.snapshot_id == e.get("snapshot-id") for s in chain)],
        # tags/branches on exported snapshots ride along (refs on
        # snapshots outside the exported chain would dangle — skipped)
        extra_refs={
            name: {"snapshot-id": ref.snapshot_id, "type": ref.type}
            for name, ref in table.metadata.refs.items()
            if name != "main"
            and any(s.snapshot_id == ref.snapshot_id for s in chain)})
