"""Minimal Avro Object Container File reader/writer (no avro library in
the environment). Purpose-built for Iceberg interop: reference-written
manifest lists and manifests (core/.../avro/ManifestReader.java:57,
ManifestLists.java) are Avro files whose writer schema rides in the file
header, so a generic schema-driven binary decoder reads them regardless
of exact field layout; the writer exists to build spec-shaped test
fixtures and to export engine metadata for reference readers.

Container layout (Avro 1.x spec, "Object Container Files"):

    magic 'Obj\\x01'
    file metadata map (avro.schema JSON, avro.codec)
    16-byte sync marker
    blocks*: (row count long, byte size long, serialized rows, sync)

Binary encoding: int/long are zigzag varints; float/double little-endian
IEEE; bytes/string are length-prefixed; records are field-by-field in
schema order; unions write the branch index then the value; arrays/maps
are blocks terminated by count 0 (negative count = block byte size
follows). Codecs: null, deflate (raw zlib), zstd (via pyarrow).

This is a reimplementation from the published Avro format spec, not a
translation of any Avro library.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------------------
# binary primitives
# ---------------------------------------------------------------------------


def _read_long(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated Avro varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # zigzag


def _write_long(out: io.BytesIO, v: int):
    v = (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1
    # zigzag via the canonical formula (works for negatives too)
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            break


# ---------------------------------------------------------------------------
# schema-driven decode
# ---------------------------------------------------------------------------

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double",
               "bytes", "string"}


def _resolve_names(schema):
    """Expand named-type references ("r102" reused later in the schema)
    into their definitions so the decoder never sees a bare name."""
    names: dict = {}

    def walk(s):
        if isinstance(s, str):
            if s in _PRIMITIVES:
                return s
            if s in names:
                return names[s]
            raise ValueError(f"unresolved Avro type name: {s!r}")
        if isinstance(s, list):
            return [walk(x) for x in s]
        t = s.get("type")
        if t in ("record", "enum", "fixed"):
            full = s.get("name", "")
            if s.get("namespace"):
                full = s["namespace"] + "." + full
            names[full] = s
            names[s.get("name", "")] = s
            if t == "record":
                s["fields"] = [
                    {**f, "type": walk(f["type"])} for f in s["fields"]]
            return s
        if t == "array":
            s["items"] = walk(s["items"])
        elif t == "map":
            s["values"] = walk(s["values"])
        elif isinstance(t, (dict, list)):
            s["type"] = walk(t)
        return s

    return walk(schema)


def _decode(schema, buf: io.BytesIO):
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union: branch index then value
        idx = _read_long(buf)
        return _decode(schema[idx], buf)
    else:
        t = schema["type"]
    if t == "null":
        return None
    if t == "boolean":
        return buf.read(1) != b"\x00"
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return buf.read(_read_long(buf))
    if t == "string":
        return buf.read(_read_long(buf)).decode("utf-8")
    if t == "fixed":
        return buf.read(schema["size"])
    if t == "enum":
        return schema["symbols"][_read_long(buf)]
    if t == "record":
        return {f["name"]: _decode(f["type"], buf)
                for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block byte size follows (skippable form)
                _read_long(buf)
                n = -n
            for _ in range(n):
                out.append(_decode(schema["items"], buf))
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                _read_long(buf)
                n = -n
            for _ in range(n):
                k = buf.read(_read_long(buf)).decode("utf-8")
                out[k] = _decode(schema["values"], buf)
    if isinstance(schema, dict) and t not in (
            "record", "array", "map", "enum", "fixed"):
        # {"type": "long", "logicalType": ...} wrapper
        return _decode(t, buf)
    raise ValueError(f"unsupported Avro type: {t!r}")


# ---------------------------------------------------------------------------
# compiled decode — closure tree over (bytes, pos), ~3x the interpretive
# _decode for the row-decode hot path (register_table / REST commits read
# 10k+ manifest entries); every fn is (data, pos) -> (value, new_pos)
# ---------------------------------------------------------------------------


def _c_varint(data, pos):
    shift = acc = 0
    while True:
        byte = data[pos]
        pos += 1
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _compile(schema):
    if isinstance(schema, list):
        if len(schema) == 2 and schema[0] == "null":
            # the [null, T] optional — every optional manifest column
            # takes this shape, ~17 times per entry on 10k+ entry
            # decodes. The branch index is a single zigzag byte (0x00 =
            # null, 0x02 = value); reading it inline skips a varint call
            # and a closure dispatch per field.
            inner = _compile(schema[1])

            def opt(data, pos, _i=inner):
                b = data[pos]
                if b == 0:
                    return None, pos + 1
                if b == 2:
                    return _i(data, pos + 1)
                raise ValueError(f"bad optional-union branch byte {b}")
            return opt
        branches = [_compile(s) for s in schema]

        def union(data, pos, _b=branches):
            idx, pos = _c_varint(data, pos)
            return _b[idx](data, pos)
        return union
    if isinstance(schema, str):
        t = schema
    else:
        t = schema["type"]
        if isinstance(t, (dict, list)):
            return _compile(t)
    if t == "null":
        return lambda data, pos: (None, pos)
    if t == "boolean":
        return lambda data, pos: (data[pos] != 0, pos + 1)
    if t in ("int", "long"):
        return _c_varint
    if t == "float":
        unpack = struct.Struct("<f").unpack_from
        return lambda data, pos: (unpack(data, pos)[0], pos + 4)
    if t == "double":
        unpack = struct.Struct("<d").unpack_from
        return lambda data, pos: (unpack(data, pos)[0], pos + 8)
    if t == "bytes":
        def rbytes(data, pos):
            n, pos = _c_varint(data, pos)
            return data[pos:pos + n], pos + n
        return rbytes
    if t == "string":
        def rstr(data, pos):
            n, pos = _c_varint(data, pos)
            return data[pos:pos + n].decode("utf-8"), pos + n
        return rstr
    if t == "fixed":
        size = schema["size"]
        return lambda data, pos, _s=size: (data[pos:pos + _s], pos + _s)
    if t == "enum":
        syms = schema["symbols"]

        def renum(data, pos, _s=syms):
            i, pos = _c_varint(data, pos)
            return _s[i], pos
        return renum
    if t == "record":
        pairs = [(f["name"], _compile(f["type"]))
                 for f in schema["fields"]]

        def rec(data, pos, _p=pairs):
            out = {}
            for name, dec in _p:
                out[name], pos = dec(data, pos)
            return out, pos
        return rec
    if t == "array":
        item = _compile(schema["items"])

        def arr(data, pos, _i=item):
            out = []
            while True:
                n, pos = _c_varint(data, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    _, pos = _c_varint(data, pos)
                    n = -n
                for _ in range(n):
                    v, pos = _i(data, pos)
                    out.append(v)
        return arr
    if t == "map":
        val = _compile(schema["values"])

        def rmap(data, pos, _v=val):
            out = {}
            while True:
                n, pos = _c_varint(data, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    _, pos = _c_varint(data, pos)
                    n = -n
                for _ in range(n):
                    kn, pos = _c_varint(data, pos)
                    k = data[pos:pos + kn].decode("utf-8")
                    pos += kn
                    out[k], pos = _v(data, pos)
        return rmap
    raise ValueError(f"unsupported Avro type: {t!r}")


# ---------------------------------------------------------------------------
# schema-driven encode
# ---------------------------------------------------------------------------


def _union_branch(schema: list, v):
    """Pick the union branch for a Python value (Iceberg schemas only use
    [null, X] optionals, so null-vs-not is the whole decision)."""
    for i, s in enumerate(schema):
        st = s if isinstance(s, str) else s.get("type")
        if v is None and st == "null":
            return i, s
        if v is not None and st != "null":
            return i, s
    raise ValueError(f"no union branch for {v!r} in {schema}")


def _encode(schema, v, out: io.BytesIO):
    if isinstance(schema, list):
        idx, branch = _union_branch(schema, v)
        _write_long(out, idx)
        return _encode(branch, v, out)
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return
    if t == "boolean":
        out.write(b"\x01" if v else b"\x00")
        return
    if t in ("int", "long"):
        _write_long(out, int(v))
        return
    if t == "float":
        out.write(struct.pack("<f", v))
        return
    if t == "double":
        out.write(struct.pack("<d", v))
        return
    if t == "bytes":
        _write_long(out, len(v))
        out.write(bytes(v))
        return
    if t == "string":
        b = v.encode("utf-8")
        _write_long(out, len(b))
        out.write(b)
        return
    if t == "fixed":
        assert len(v) == schema["size"]
        out.write(bytes(v))
        return
    if t == "enum":
        _write_long(out, schema["symbols"].index(v))
        return
    if t == "record":
        for f in schema["fields"]:
            _encode(f["type"], v.get(f["name"]), out)
        return
    if t == "array":
        if v:
            _write_long(out, len(v))
            for item in v:
                _encode(schema["items"], item, out)
        _write_long(out, 0)
        return
    if t == "map":
        if v:
            _write_long(out, len(v))
            for k, val in v.items():
                kb = str(k).encode("utf-8")
                _write_long(out, len(kb))
                out.write(kb)
                _encode(schema["values"], val, out)
        _write_long(out, 0)
        return
    raise ValueError(f"unsupported Avro type: {t!r}")


# ---------------------------------------------------------------------------
# container file
# ---------------------------------------------------------------------------


def read_avro(path: str):
    """Returns (writer schema dict, file metadata dict, [row dicts])."""
    if path.startswith("/"):  # fast path
        with open(path, "rb") as f:
            raw = f.read()
    else:
        from . import io as _fio

        raw = _fio.read_bytes(path)
    return read_avro_bytes(raw, path)


def read_avro_bytes(raw: bytes, path: str = "<bytes>"):
    """`read_avro` over in-memory container bytes (e.g. a decrypted
    manifest); `path` only labels errors."""
    buf = io.BytesIO(raw)
    if buf.read(4) != MAGIC:
        raise ValueError(f"not an Avro container file: {path}")
    meta = _decode({"type": "map", "values": "bytes"}, buf)
    sync = buf.read(16)
    schema = _resolve_names(json.loads(meta["avro.schema"].decode()))
    codec = meta.get("avro.codec", b"null").decode()
    dec = _compile(schema)
    rows = []
    while buf.tell() < len(raw):
        n = _read_long(buf)
        size = _read_long(buf)
        block = buf.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec == "zstandard":
            import pyarrow as pa

            from .puffin import _frame_content_size
            block = bytes(pa.Codec("zstd").decompress(
                block, _frame_content_size(block, "zstd")))
        elif codec != "null":
            raise ValueError(f"unsupported Avro codec: {codec!r}")
        pos = 0
        for _ in range(n):
            row, pos = dec(block, pos)
            rows.append(row)
        if pos != len(block):
            raise ValueError(
                f"Avro block under/over-read ({pos} != {len(block)}): "
                f"{path}")
        if buf.read(16) != sync:
            raise ValueError(f"Avro sync marker mismatch: {path}")
    return schema, {k: v for k, v in meta.items()}, rows


def write_avro(path: str, schema: dict, rows: list, metadata: dict = None,
               codec: str = "null"):
    """Write one container file; `metadata` values are str or bytes."""
    body = io.BytesIO()
    for r in rows:
        _encode(schema, r, body)
    block = body.getvalue()
    if codec == "deflate":
        co = zlib.compressobj(wbits=-15)
        block = co.compress(block) + co.flush()
    elif codec != "null":
        raise ValueError(f"unsupported Avro write codec: {codec!r}")
    meta = {"avro.schema": json.dumps(schema).encode(),
            "avro.codec": codec.encode()}
    for k, v in (metadata or {}).items():
        meta[k] = v.encode() if isinstance(v, str) else bytes(v)
    sync = os.urandom(16)
    out = io.BytesIO()
    out.write(MAGIC)
    _encode({"type": "map", "values": "bytes"}, meta, out)
    out.write(sync)
    _write_long(out, len(rows))
    _write_long(out, len(block))
    out.write(block)
    out.write(sync)
    from . import io as _fio

    data = out.getvalue()
    _fio.write_bytes(path, data)
    return len(data)


def avro_row_count(path: str) -> int:
    """Container row count from BLOCK HEADERS alone — each block is
    <count varint, byte-length varint, bytes, sync>, so counting skips
    every record decode (Avro spec 1.11.1 "Object Container Files";
    the import path registers Avro data files by count when the
    manifest entry lacks one)."""
    if path.startswith("/"):  # fast path
        with open(path, "rb") as f:
            raw = f.read()
    else:
        from . import io as _fio

        raw = _fio.read_bytes(path)
    buf = io.BytesIO(raw)
    if buf.read(4) != MAGIC:
        raise ValueError(f"not an Avro container file: {path}")
    _decode({"type": "map", "values": "bytes"}, buf)  # skip meta map
    buf.read(16)  # sync
    n = 0
    while buf.tell() < len(raw):
        n += _read_long(buf)
        size = _read_long(buf)
        buf.seek(size + 16, 1)  # block bytes + sync
    return n
