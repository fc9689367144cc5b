"""Avro Object Container File source — self-contained, Spark-first.

The sandbox has no spark-avro datasource package, so this module implements
the (public, simple) Avro 1.x OCF spec directly: a pure-Python block
decoder that runs DISTRIBUTED over `spark.read.format("binaryFile")` +
`mapInPandas` — one Arrow batch of file blobs streams through Python per
task, each record surfacing as a JSON string that feeds the existing
nested/JSON quality path (`operators/nested.py`).  This is the analog of
the reference's `AvroUtils.streamAvroFile` → per-leaf analyzers
(`common/util/AvroUtils.java:194`, `common/inference/AvroQualityAnalyzer.
java:100-122`).

Supported: null / deflate / snappy / zstd codecs (snappy+zstd via
pyarrow's bundled codecs, incl. the Avro snappy CRC32 suffix); records
(arbitrarily nested), unions, arrays, MAPS, enums, FIXED, all
primitives, and NAMED-TYPE REFERENCES (a field typed by the name of a
previously-defined record/enum/fixed, incl. recursive schemas —
resolved by `resolve_names`).  Large single files split at sync markers
(`read_avro_split`) so one giant OCF fans out across tasks instead of
serializing on one.  Logical types (date / time-millis|micros /
timestamp-millis|micros / decimal / uuid) decode to ISO/decimal strings
and type as date/timestamp/decimal in the derived DDL.  Not supported
(documented): zstd frames written without a content size (clear
error).  The split reader opens paths with plain Python IO,
so it needs task-readable storage (local/NFS/fuse mounts); the per-file
`read_avro` path uses the binaryFile datasource and works on any
Hadoop-compatible FS.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------------------
# Block codecs.  null/deflate via stdlib; snappy/zstd via pyarrow's bundled
# codecs (no extra install).  Avro snappy blocks append a 4-byte big-endian
# CRC32 of the UNCOMPRESSED data; the raw-snappy preamble is a little-endian
# varint of the uncompressed length, which pyarrow needs passed explicitly.
# zstd decode requires the frame to carry its content size (all common
# writers set it); frames without it raise a clear error.
# ---------------------------------------------------------------------------


def _snappy_uncompressed_len(buf: bytes) -> int:
    n = shift = pos = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n
        shift += 7


def _zstd_content_size(buf: bytes) -> int:
    if buf[:4] != b"\x28\xb5\x2f\xfd":
        raise ValueError("not a zstd frame")
    desc = buf[4]
    fcs_flag = desc >> 6
    single_segment = (desc >> 5) & 1
    dict_flag = desc & 0x03
    pos = 5 + (0 if single_segment else 1)  # window descriptor
    pos += (0, 1, 2, 4)[dict_flag]
    if fcs_flag == 0:
        if not single_segment:
            raise ValueError("zstd frame lacks content size — unsupported")
        return buf[pos]
    if fcs_flag == 1:
        return int.from_bytes(buf[pos : pos + 2], "little") + 256
    if fcs_flag == 2:
        return int.from_bytes(buf[pos : pos + 4], "little")
    return int.from_bytes(buf[pos : pos + 8], "little")


def _decompress_block(block: bytes, codec: str) -> bytes:
    if codec == "null":
        return block
    if codec == "deflate":
        return zlib.decompress(block, -15)
    if codec == "snappy":
        import pyarrow as _pa

        body, crc = block[:-4], block[-4:]
        out = bytes(
            _pa.Codec("snappy").decompress(body, _snappy_uncompressed_len(body))
        )
        if zlib.crc32(out).to_bytes(4, "big") != crc:
            raise ValueError("snappy block CRC mismatch")
        return out
    if codec == "zstd":
        import pyarrow as _pa

        return bytes(_pa.Codec("zstd").decompress(block, _zstd_content_size(block)))
    raise ValueError(f"unsupported codec: {codec}")


def _compress_block(block: bytes, codec: str) -> bytes:
    if codec == "null":
        return block
    if codec == "deflate":
        co = zlib.compressobj(9, zlib.DEFLATED, -15)
        return co.compress(block) + co.flush()
    if codec == "snappy":
        import pyarrow as _pa

        return bytes(_pa.Codec("snappy").compress(block)) + zlib.crc32(block).to_bytes(
            4, "big"
        )
    if codec == "zstd":
        import pyarrow as _pa

        return bytes(_pa.Codec("zstd").compress(block))
    raise ValueError(f"unsupported codec: {codec}")

# ---------------------------------------------------------------------------
# Binary primitives (Avro spec: zigzag varints, length-prefixed bytes)
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_long(out: io.BytesIO, n: int) -> None:
    z = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            break


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return _zigzag_decode(acc), pos


def _write_bytes(out: io.BytesIO, b: bytes) -> None:
    _write_long(out, len(b))
    out.write(b)


def _read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_long(buf, pos)
    return buf[pos : pos + n], pos + n


# ---------------------------------------------------------------------------
# Datum encoding/decoding against a (parsed-JSON) Avro schema
# ---------------------------------------------------------------------------

_PRIMITIVES = frozenset(
    ["null", "boolean", "int", "long", "float", "double", "bytes", "string"]
)


def resolve_names(schema, names: dict | None = None, enclosing_ns: str | None = None):
    """Resolve named-type references IN PLACE: an Avro schema may type a
    field by the bare name or fullname of a previously-defined
    record/enum/fixed (spec §Names).  Definitions appear before use in
    document order, so a single pass substituting the string reference
    with the (shared) dict object suffices; recursive schemas become
    cyclic object graphs, which the data-driven decoder walks safely.
    Nested named types without an explicit namespace INHERIT the most
    tightly enclosing one (spec §Names), so both `Point` and
    `com.x.Point` resolve for a type nested under namespace com.x."""
    if names is None:
        names = {}
    if isinstance(schema, list):
        return [resolve_names(b, names, enclosing_ns) for b in schema]
    if isinstance(schema, dict):
        t = schema.get("type")
        child_ns = enclosing_ns
        if t in ("record", "enum", "fixed"):
            name = schema.get("name")
            if name:
                ns = schema.get("namespace", enclosing_ns)
                names[name] = schema
                if ns:
                    names[f"{ns}.{name}"] = schema
                child_ns = ns
        if t == "record":
            for field in schema["fields"]:
                field["type"] = resolve_names(field["type"], names, child_ns)
        elif t == "array":
            schema["items"] = resolve_names(schema["items"], names, child_ns)
        elif t == "map":
            schema["values"] = resolve_names(schema["values"], names, child_ns)
        elif isinstance(t, (dict, list)):
            schema["type"] = resolve_names(t, names, child_ns)
        return schema
    if isinstance(schema, str) and schema not in _PRIMITIVES:
        if schema in names:
            return names[schema]
        raise ValueError(f"unresolved Avro named-type reference: {schema!r}")
    return schema


# Avro logical types (spec §Logical Types) honored by the reference's
# AvroDataTypeDiscoveryAnalyzer (date/time/timestamp,
# `statistics/type/AvroDataTypeDiscoveryAnalyzer.java:48-50`): decoded
# values surface in their ISO/decimal STRING form so the JSON row is
# readable and `from_json` with the DDL below parses them into real
# date/timestamp/decimal Spark types.

_LOGICAL_TYPES = frozenset(
    ["date", "time-millis", "time-micros", "timestamp-millis", "timestamp-micros", "decimal", "uuid"]
)


# id()-keyed side cache for _logical_base.  Each entry keeps a strong
# reference to the schema node so its id() can never be reused by a new
# object; the leak is bounded by the number of distinct logical-type nodes
# in parsed schemas (a handful per file), not by data volume.  Memoizing
# ON the node (a `_strip` key) would leak a nonstandard attribute into
# write_container's header json.dumps and break serialization of schemas
# that round-tripped through decode.
_strip_cache: dict[int, tuple[dict, dict]] = {}


def _logical_base(schema: dict) -> dict:
    """The schema node with its logicalType annotation stripped, memoized
    in an id()-keyed side dict: decode/encode hit this once per VALUE, so
    a fresh dict copy per datum would cost millions of allocations on a
    large container."""
    hit = _strip_cache.get(id(schema))
    if hit is not None:
        return hit[1]
    base = {k: v for k, v in schema.items() if k != "logicalType"}
    _strip_cache[id(schema)] = (schema, base)
    return base


def _apply_logical(lt: str, schema, value):
    import datetime as _dt

    if lt == "date":  # int: days since epoch
        return (_dt.date(1970, 1, 1) + _dt.timedelta(days=value)).isoformat()
    if lt == "time-millis":
        ms = value
        return f"{ms // 3600000:02d}:{ms // 60000 % 60:02d}:{ms // 1000 % 60:02d}.{ms % 1000:03d}"
    if lt == "time-micros":
        us = value
        return (
            f"{us // 3600000000:02d}:{us // 60000000 % 60:02d}:"
            f"{us // 1000000 % 60:02d}.{us % 1000000:06d}"
        )
    if lt == "timestamp-millis":
        ts = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc) + _dt.timedelta(
            milliseconds=value
        )
        return ts.strftime("%Y-%m-%d %H:%M:%S.") + f"{value % 1000:03d}"
    if lt == "timestamp-micros":
        ts = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc) + _dt.timedelta(
            microseconds=value
        )
        return ts.strftime("%Y-%m-%d %H:%M:%S.") + f"{value % 1000000:06d}"
    if lt == "decimal":
        raw = bytes.fromhex(value) if isinstance(value, str) else bytes(value)
        unscaled = int.from_bytes(raw, "big", signed=True)
        scale = schema.get("scale", 0)
        if scale == 0:
            return str(unscaled)
        sign = "-" if unscaled < 0 else ""
        digits = str(abs(unscaled)).rjust(scale + 1, "0")
        return f"{sign}{digits[:-scale]}.{digits[-scale:]}"
    return value  # uuid and unknown logical types: base form


def _unapply_logical(lt: str, schema, value):
    """Writer-side inverse (fixtures/tests round-trip)."""
    import datetime as _dt

    if lt == "date":
        return (_dt.date.fromisoformat(value) - _dt.date(1970, 1, 1)).days
    if lt in ("time-millis", "time-micros"):
        h, m, s = value.split(":")
        sec, _, frac = s.partition(".")  # fraction optional: "01:02:03" is legal
        width = 3 if lt == "time-millis" else 6
        unit = ((int(h) * 60 + int(m)) * 60 + int(sec)) * 10**width
        return unit + int((frac or "0").ljust(width, "0")[:width])
    if lt in ("timestamp-millis", "timestamp-micros"):
        ts = _dt.datetime.fromisoformat(value).replace(tzinfo=_dt.timezone.utc)
        delta = ts - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        us = delta // _dt.timedelta(microseconds=1)
        return us // 1000 if lt == "timestamp-millis" else us
    if lt == "decimal":
        import decimal as _decimal

        scale = schema.get("scale", 0)
        # exact rescale: "12.5" at scale 2 is unscaled 1250, and a value
        # with MORE fraction digits than the scale is an error, not a
        # silent truncation
        scaled = _decimal.Decimal(str(value)).scaleb(scale)
        if scaled != scaled.to_integral_value():
            raise ValueError(f"decimal {value!r} does not fit scale {scale}")
        unscaled = int(scaled)
        n = max((unscaled.bit_length() + 8) // 8, 1)
        raw = unscaled.to_bytes(n, "big", signed=True)
        if schema.get("type") == "fixed" or (
            isinstance(schema.get("type"), dict) and schema["type"].get("type") == "fixed"
        ):
            size = schema.get("size") or schema["type"]["size"]
            pad = b"\xff" if unscaled < 0 else b"\x00"
            raw = pad * (size - len(raw)) + raw
        return raw
    return value


def _decode_datum(schema, buf: bytes, pos: int):
    if isinstance(schema, list):  # union: long index then value
        idx, pos = _read_long(buf, pos)
        return _decode_datum(schema[idx], buf, pos)
    if isinstance(schema, dict):
        lt = schema.get("logicalType")
        if lt in _LOGICAL_TYPES:
            value, pos = _decode_datum(_logical_base(schema), buf, pos)
            return _apply_logical(lt, schema, value), pos
        t = schema["type"]
        if t == "record":
            out = {}
            for field in schema["fields"]:
                out[field["name"]], pos = _decode_datum(field["type"], buf, pos)
            return out, pos
        if t == "array":
            items = []
            while True:
                count, pos = _read_long(buf, pos)
                if count == 0:
                    break
                if count < 0:  # negative count: byte size follows (skippable blocks)
                    _size, pos = _read_long(buf, pos)
                    count = -count
                for _ in range(count):
                    v, pos = _decode_datum(schema["items"], buf, pos)
                    items.append(v)
            return items, pos
        if t == "map":
            out = {}
            while True:
                count, pos = _read_long(buf, pos)
                if count == 0:
                    break
                if count < 0:  # negative count: byte size follows
                    _size, pos = _read_long(buf, pos)
                    count = -count
                for _ in range(count):
                    kb, pos = _read_bytes(buf, pos)
                    out[kb.decode("utf-8")], pos = _decode_datum(
                        schema["values"], buf, pos
                    )
            return out, pos
        if t == "enum":
            idx, pos = _read_long(buf, pos)
            return schema["symbols"][idx], pos
        if t == "fixed":
            n = schema["size"]
            return buf[pos : pos + n].hex(), pos + n
        return _decode_datum(t, buf, pos)  # e.g. {"type": "string"}
    # primitive name
    if schema == "null":
        return None, pos
    if schema == "boolean":
        return buf[pos] == 1, pos + 1
    if schema in ("int", "long"):
        return _read_long(buf, pos)
    if schema == "float":
        return struct.unpack("<f", buf[pos : pos + 4])[0], pos + 4
    if schema == "double":
        return struct.unpack("<d", buf[pos : pos + 8])[0], pos + 8
    if schema == "bytes":
        b, pos = _read_bytes(buf, pos)
        return b.hex(), pos  # hex str: JSON-safe
    if schema == "string":
        b, pos = _read_bytes(buf, pos)
        return b.decode("utf-8"), pos
    raise ValueError(f"unsupported Avro type: {schema!r}")


def _encode_datum(schema, value, out: io.BytesIO) -> None:
    if isinstance(schema, dict):
        lt = schema.get("logicalType")
        if lt in _LOGICAL_TYPES:
            _encode_datum(_logical_base(schema), _unapply_logical(lt, schema, value), out)
            return
    if isinstance(schema, list):
        # pick first matching branch (null vs not-null is the common case)
        for idx, branch in enumerate(schema):
            bt = branch if isinstance(branch, str) else branch.get("type")
            if value is None and bt == "null":
                _write_long(out, idx)
                return
            if value is not None and bt != "null":
                _write_long(out, idx)
                _encode_datum(branch, value, out)
                return
        raise ValueError(f"no union branch for {value!r} in {schema!r}")
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for field in schema["fields"]:
                _encode_datum(field["type"], value[field["name"]], out)
            return
        if t == "array":
            if value:
                _write_long(out, len(value))
                for v in value:
                    _encode_datum(schema["items"], v, out)
            _write_long(out, 0)
            return
        if t == "map":
            if value:
                _write_long(out, len(value))
                for k, v in value.items():
                    _write_bytes(out, k.encode("utf-8"))
                    _encode_datum(schema["values"], v, out)
            _write_long(out, 0)
            return
        if t == "enum":
            _write_long(out, schema["symbols"].index(value))
            return
        if t == "fixed":
            raw = bytes.fromhex(value) if isinstance(value, str) else bytes(value)
            if len(raw) != schema["size"]:
                raise ValueError(f"fixed size mismatch: {len(raw)} != {schema['size']}")
            out.write(raw)
            return
        _encode_datum(t, value, out)
        return
    if schema == "null":
        return
    if schema == "boolean":
        out.write(b"\x01" if value else b"\x00")
        return
    if schema in ("int", "long"):
        _write_long(out, int(value))
        return
    if schema == "float":
        out.write(struct.pack("<f", value))
        return
    if schema == "double":
        out.write(struct.pack("<d", value))
        return
    if schema == "bytes":
        _write_bytes(out, bytes.fromhex(value) if isinstance(value, str) else value)
        return
    if schema == "string":
        _write_bytes(out, value.encode("utf-8"))
        return
    raise ValueError(f"unsupported Avro type: {schema!r}")


# ---------------------------------------------------------------------------
# Container file (OCF) read/write
# ---------------------------------------------------------------------------


def _block_span(buf, pos: int) -> tuple[int, int, int]:
    """(record count, body start, body end) of the block at `pos`."""
    try:
        n_recs, pos = _read_long(buf, pos)
        n_bytes, pos = _read_long(buf, pos)
    except IndexError as exc:
        raise ValueError("truncated Avro block (EOF mid-varint)") from exc
    return n_recs, pos, pos + n_bytes


def _decode_block(buf, n_recs: int, start: int, end: int, schema, codec: str, sync: bytes) -> list:
    """Records of the block whose body is `buf[start:end]`; checks the sync
    marker that must follow it."""
    if len(buf) < end + 16:
        raise ValueError("truncated Avro block")
    if bytes(buf[end : end + 16]) != sync:
        raise ValueError("sync marker mismatch (corrupt block)")
    block = _decompress_block(bytes(buf[start:end]), codec)
    records, bpos = [], 0
    for _ in range(n_recs):
        rec, bpos = _decode_datum(schema, block, bpos)
        records.append(rec)
    return records


def decode_container(payload: bytes) -> tuple[dict, list]:
    """Full OCF decode: (schema, records).  Pure function of the bytes —
    safe inside executors."""
    schema, codec, sync, pos = _parse_header(io.BytesIO(payload))
    records = []
    while pos < len(payload):
        n_recs, start, end = _block_span(payload, pos)
        records.extend(_decode_block(payload, n_recs, start, end, schema, codec, sync))
        pos = end + 16
    return schema, records


def write_container(
    path: str,
    schema: dict,
    records: list,
    codec: str = "null",
    records_per_block: int | None = None,
) -> None:
    """Minimal OCF writer (fixtures/tests).  `records_per_block` splits the
    records across multiple sync-delimited blocks — the layout the split
    reader exercises."""
    sync = b"0123456789abcdef"
    # the header keeps the ORIGINAL schema JSON (references intact, valid
    # Avro); encoding uses a resolved deep copy so named refs round-trip
    schema_json = json.dumps(schema)
    schema = resolve_names(json.loads(schema_json))
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    _write_long(out, len(meta))
    for k, v in meta.items():
        _write_bytes(out, k.encode())
        _write_bytes(out, v)
    _write_long(out, 0)
    out.write(sync)
    step = records_per_block or max(len(records), 1)
    for i in range(0, max(len(records), 1), step):
        chunk = records[i : i + step]
        if not chunk:
            break
        body = io.BytesIO()
        for rec in chunk:
            _encode_datum(schema, rec, body)
        block = _compress_block(body.getvalue(), codec)
        _write_long(out, len(chunk))
        _write_long(out, len(block))
        out.write(block)
        out.write(sync)
    with open(path, "wb") as f:
        f.write(out.getvalue())


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Distributed OCF ingestion: binaryFile scan → per-file Python decode
    in mapInPandas → (path, json) rows.  Parallelism = files; payload
    bytes never shuffle (decode happens in the scan task, only the JSON
    projection flows on)."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                _schema, records = decode_container(bytes(content))
                yield pd.DataFrame(
                    {"path": p, "json": [json.dumps(r, ensure_ascii=False) for r in records]}
                )

    return files.mapInPandas(gen, schema="path string, json string")


def avro_schema_to_ddl(schema: dict) -> str:
    """Avro record schema → Spark DDL (for from_json on the `json` col).
    Named references resolve to their definition; a RECURSIVE reference
    maps to `string` (Spark structs cannot be cyclic — the subtree stays
    raw JSON, still analyzable by the dotted-path JSON quality ops).
    Accepts either the raw JSON schema or one already resolved by
    `resolve_names` (e.g. as returned by decode_container — a cyclic
    object graph that json round-tripping would reject)."""
    try:
        schema = resolve_names(json.loads(json.dumps(schema)))
    except ValueError:
        pass  # already-resolved cyclic graph: use as-is (resolution idempotent)

    def typ(s, stack: tuple) -> str:
        if isinstance(s, list):
            non_null = [b for b in s if b != "null"]
            return typ(non_null[0], stack) if non_null else "string"
        if isinstance(s, dict):
            lt = s.get("logicalType")
            if lt in _LOGICAL_TYPES:
                if lt == "date":
                    return "date"
                if lt in ("timestamp-millis", "timestamp-micros"):
                    # NTZ: the decoded string is a UTC wall clock with no
                    # zone marker; plain `timestamp` would re-interpret it
                    # in spark.sql.session.timeZone and shift the instant
                    return "timestamp_ntz"
                if lt == "decimal":
                    return f"decimal({s.get('precision', 38)},{s.get('scale', 0)})"
                return "string"  # time-* (no Spark time type), uuid
            t = s["type"]
            if t == "record":
                if id(s) in stack:
                    return "string"  # recursion: keep subtree as raw JSON
                st = stack + (id(s),)
                inner = ", ".join(
                    f"`{f['name']}`: {typ(f['type'], st)}" for f in s["fields"]
                )
                return f"struct<{inner}>"
            if t == "array":
                return f"array<{typ(s['items'], stack)}>"
            if t == "map":
                return f"map<string, {typ(s['values'], stack)}>"
            if t in ("enum", "fixed"):
                return "string"
            return typ(t, stack)
        return {
            "null": "string", "boolean": "boolean", "int": "int", "long": "bigint",
            "float": "float", "double": "double", "bytes": "string", "string": "string",
        }[s]

    inner = ", ".join(f"`{f['name']}` {typ(f['type'], (id(schema),))}" for f in schema["fields"])
    return inner


def _parse_header(f) -> tuple[dict, str, bytes, int]:
    """Read (schema, codec, sync, header_end_offset) from an object with
    `read(n)` and `seek(0)` (an open file, `io.BytesIO`, `_HadoopStream`).
    Grows the read buffer if the header exceeds the initial 1 MB (legal:
    huge schemas / user metadata) instead of failing on a short slice."""
    f.seek(0)
    head = bytearray(f.read(1 << 20))

    def _need(n: int) -> None:
        while len(head) < n:
            chunk = f.read(max(n - len(head), 1 << 20))
            if not chunk:
                raise ValueError("truncated Avro header")
            head.extend(chunk)

    if bytes(head[:4]) != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta = {}
    while True:
        _need(pos + 10)
        count, pos = _read_long(head, pos)
        if count == 0:
            break
        if count < 0:
            _need(pos + 10)
            _size, pos = _read_long(head, pos)
            count = -count
        for _ in range(count):
            _need(pos + 10)
            klen, kpos = _read_long(head, pos)
            _need(kpos + klen + 10)
            k, pos = _read_bytes(head, pos)
            vlen, vpos = _read_long(head, pos)
            _need(vpos + vlen + 10)
            v, pos = _read_bytes(head, pos)
            meta[k.decode("utf-8")] = v
    _need(pos + 16)
    sync = bytes(head[pos : pos + 16])
    pos += 16
    schema = resolve_names(json.loads(meta["avro.schema"].decode("utf-8")))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    return schema, codec, sync, pos


def read_avro_split(
    spark: SparkSession, path: str, split_bytes: int = 128 << 20
) -> DataFrame:
    """Split-parallel OCF ingestion for LARGE single files: byte ranges are
    planned on the driver, and each task seeks into the file, scans forward
    to the next 16-byte sync marker, and decodes exactly the blocks whose
    first byte lies inside its range (the classic input-split contract —
    every block is decoded by exactly one task, none twice).  This removes
    the one-task-per-file ceiling of `read_avro` for multi-GB containers.

    Tasks open paths with plain Python IO — storage must be task-readable
    (local/NFS/fuse).  Output: (path, json) rows, same as `read_avro`.
    """
    import glob as _glob
    import os

    p = path
    if os.path.isdir(p):
        candidates = sorted(
            f for f in _glob.glob(os.path.join(p, "**", "*"), recursive=True)
            if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))
        )
    else:
        candidates = sorted(f for f in _glob.glob(p) if os.path.isfile(f))
    if not candidates:
        raise FileNotFoundError(path)
    ranges = []
    for fp in candidates:
        size = os.path.getsize(fp)
        with open(fp, "rb") as f:
            _schema, _codec, _sync, header_end = _parse_header(f)
        start = header_end
        while start < size:
            end = min(start + split_bytes, size)
            ranges.append((fp, start, end, header_end))
            start = end
    rdf = spark.createDataFrame(
        ranges, "path string, start long, end long, header_end long"
    ).repartition(min(len(ranges), spark.sparkContext.defaultParallelism))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fp, start, end, header_end in zip(
                pdf["path"], pdf["start"], pdf["end"], pdf["header_end"]
            ):
                start, end, header_end = int(start), int(end), int(header_end)
                with open(fp, "rb") as f:
                    schema, codec, sync, _ = _parse_header(f)
                    # Read from 16 bytes BEFORE `start`: a block whose first
                    # byte is exactly `start` is announced by a sync marker
                    # occupying [start-16, start) — searching only within
                    # [start, end) misses it and silently drops the block
                    # (boundary-aligned data loss; regression-tested).
                    base = start if start == header_end else start - 16
                    f.seek(base)
                    buf = bytearray(f.read(end - base))

                    def ensure(n: int) -> bool:
                        # extend buf from the file until ≥ n bytes (the last
                        # owned block may extend past `end`); bounded by the
                        # block actually being decoded, never reads to EOF
                        while len(buf) < n:
                            chunk = f.read(max(n - len(buf), 1 << 20))
                            if not chunk:
                                return False
                            buf.extend(chunk)
                        return True

                    # first block boundary b (file offset base+pos) with
                    # start <= b < end: the header end IS a boundary; later
                    # boundaries follow a sync marker.  With base = start-16,
                    # any sync found at s >= 0 yields b = base+s+16 >= start.
                    if start == header_end:
                        pos = 0
                    else:
                        hit = buf.find(sync)  # bytearray.find — no copy
                        if hit < 0 or base + hit + 16 >= end:
                            continue  # no owned block in this range
                        pos = hit + 16
                    limit = end - base  # block at buf pos is ours iff pos < limit
                    while pos < limit:
                        if len(buf) <= pos and not ensure(pos + 1):
                            break  # clean EOF at a block boundary
                        # best-effort headroom for the two varints: a legit
                        # tiny final block (2 varints + empty body + sync =
                        # 18 bytes) can end inside the 20-byte ask, so a
                        # False return is NOT itself an error — but a file
                        # truncated mid-varint must surface as the intended
                        # ValueError, not an IndexError out of _read_long.
                        ensure(pos + 20)
                        n_recs, start_b, end_b = _block_span(buf, pos)
                        ensure(end_b + 16)
                        rows = [
                            json.dumps(rec, ensure_ascii=False)
                            for rec in _decode_block(buf, n_recs, start_b, end_b, schema, codec, sync)
                        ]
                        pos = end_b + 16
                        # one DataFrame per BLOCK: memory stays bounded by the
                        # block size, not the whole (possibly multi-GB) split
                        if rows:
                            yield pd.DataFrame({"path": fp, "json": rows})

    return rdf.mapInPandas(gen, schema="path string, json string")


class _HadoopStream:
    """`read(n)` / `seek(pos)` over a Hadoop `FSDataInputStream`, so
    `_parse_header` reads a header on the driver without a Spark job."""

    def __init__(self, stream):
        self._stream = stream

    def read(self, n: int) -> bytes:
        return bytes(self._stream.readNBytes(n))

    def seek(self, pos: int) -> None:
        self._stream.seek(pos)


def _first_data_file(spark: SparkSession, path: str):
    """(Hadoop `FileSystem`, `Path`) of the first data file under `path`
    (a file, a directory searched recursively, or a glob) by sorted name,
    skipping names that start with `.` or `_` as `read_avro_split` does."""
    jvm = spark._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(path)
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    files = []
    for status in fs.globStatus(pattern) or []:
        listing = fs.listFiles(status.getPath(), True)
        while listing.hasNext():
            p = listing.next().getPath()
            if not p.getName().startswith((".", "_")):
                files.append((p.toString(), p))
    if not files:
        raise FileNotFoundError(path)
    return fs, min(files, key=lambda f: f[0])[1]


def read_avro_typed(spark: SparkSession, path: str) -> DataFrame:
    """OCF → fully-typed DataFrame: decode to JSON, then from_json with the
    DDL derived from the writer schema in the header of the first data
    file (`_first_data_file`), read on the driver with no Spark job."""
    fs, first = _first_data_file(spark, path)
    stream = fs.open(first)
    try:
        schema, _codec, _sync, _end = _parse_header(_HadoopStream(stream))
    finally:
        stream.close()
    raw = read_avro(spark, path)
    return raw.select(F.from_json("json", avro_schema_to_ddl(schema)).alias("r")).select("r.*")
