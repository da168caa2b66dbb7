"""Pure-Python Avro BINARY codec (Apache Avro 1.11 spec, "Binary
encoding" section) — no jars, no third-party libs.

Why this exists: the reference's core decode step is Avro
(`msg.GetSchemaValue` against schema/pulsar/avro/index_topic.avro:1-52,
main.go:145-158).  Spark's native path is ``from_avro`` from the
spark-avro datasource module, which the pip pyspark distribution does
NOT bundle; rather than leave the decode as a jar-gated stub, this
module implements the (small, public) binary encoding so the ingest
pipeline can decode REAL Avro bytes through an Arrow-batched
mapInPandas stage.  When the spark-avro jar IS on the classpath the
adapter in ingest/avro.py prefers ``from_avro`` — the JVM, codegen'd
fast path — and this codec becomes the test fixture generator only.

Encoding rules implemented (all of them straight from the spec):
  long/int    zigzag then little-endian base-128 varint
  string/bytes long length prefix + raw bytes (strings are UTF-8)
  float/double little-endian IEEE-754 (4 / 8 bytes)
  boolean     single byte 0/1
  null        zero bytes
  record      fields in declared order, concatenated
  union       long index of the branch + encoded branch value
  array/map   blocks: long count (negative => abs(count) followed by a
              long byte-size), then items; a zero count terminates
"""

from __future__ import annotations

import io
import json
import struct
from typing import Any

# ------------------------------------------------------------------ varints


def _write_long(out: io.BytesIO, n: int) -> None:
    u = (n << 1) ^ (n >> 63)  # zigzag (Python's >> is arithmetic)
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            return


def _read_long(buf: io.BytesIO) -> int:
    shift, u = 0, 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise EOFError("truncated varint")
        b = raw[0]
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")
    return (u >> 1) ^ -(u & 1)  # un-zigzag


# ------------------------------------------------------------- schema walk


def _type_name(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, dict):
        return schema["type"]
    raise TypeError(f"unsupported schema node: {schema!r}")


def encode(schema: Any, value: Any, out: io.BytesIO | None = None) -> bytes:
    """Encode ``value`` against ``schema`` (parsed JSON) -> Avro binary."""
    top = out is None
    if out is None:
        out = io.BytesIO()
    if isinstance(schema, list):  # union: pick the first matching branch
        for i, br in enumerate(schema):
            if _matches(br, value):
                _write_long(out, i)
                encode(br, value, out)
                break
        else:
            raise ValueError(f"value {value!r} matches no union branch")
        return out.getvalue() if top else b""
    t = _type_name(schema)
    if t == "null":
        pass
    elif t == "boolean":
        out.write(b"\x01" if value else b"\x00")
    elif t in ("int", "long"):
        _write_long(out, int(value))
    elif t == "float":
        out.write(struct.pack("<f", float(value)))
    elif t == "double":
        out.write(struct.pack("<d", float(value)))
    elif t == "string":
        raw = value.encode("utf-8")
        _write_long(out, len(raw))
        out.write(raw)
    elif t == "bytes":
        _write_long(out, len(value))
        out.write(value)
    elif t == "record":
        for f in schema["fields"]:
            encode(f["type"], value[f["name"]], out)
    elif t == "array":
        if value:
            _write_long(out, len(value))
            for item in value:
                encode(schema["items"], item, out)
        _write_long(out, 0)
    elif t == "map":
        if value:
            _write_long(out, len(value))
            for k, v in value.items():
                encode("string", k, out)
                encode(schema["values"], v, out)
        _write_long(out, 0)
    else:
        raise TypeError(f"unsupported Avro type: {t}")
    return out.getvalue() if top else b""


def _matches(schema: Any, value: Any) -> bool:
    t = _type_name(schema)
    if t == "null":
        return value is None
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if t in ("float", "double"):
        return isinstance(value, float)
    if t == "string":
        return isinstance(value, str)
    if t == "bytes":
        return isinstance(value, (bytes, bytearray))
    if t == "array":
        return isinstance(value, list)
    if t in ("record", "map"):
        return isinstance(value, dict)
    return False


def decode(schema: Any, buf: io.BytesIO | bytes) -> Any:
    """Decode Avro binary against ``schema`` (parsed JSON) -> Python value.

    Raises (ValueError/EOFError/KeyError) on malformed input; callers
    wanting PERMISSIVE semantics catch and null the row."""
    if isinstance(buf, (bytes, bytearray)):
        buf = io.BytesIO(bytes(buf))
    if isinstance(schema, list):
        idx = _read_long(buf)
        if not 0 <= idx < len(schema):
            raise ValueError(f"union index {idx} out of range")
        return decode(schema[idx], buf)
    t = _type_name(schema)
    if t == "null":
        return None
    if t == "boolean":
        raw = buf.read(1)
        if not raw:
            raise EOFError("truncated boolean")
        return raw[0] != 0
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "string":
        n = _read_long(buf)
        raw = buf.read(n)
        if len(raw) != n:
            raise EOFError("truncated string")
        return raw.decode("utf-8")
    if t == "bytes":
        n = _read_long(buf)
        raw = buf.read(n)
        if len(raw) != n:
            raise EOFError("truncated bytes")
        return raw
    if t == "record":
        return {f["name"]: decode(f["type"], buf) for f in schema["fields"]}
    if t == "array":
        items = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return items
            if n < 0:  # block with byte-size prefix
                n = -n
                _read_long(buf)
            for _ in range(n):
                items.append(decode(schema["items"], buf))
    if t == "map":
        m = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return m
            if n < 0:
                n = -n
                _read_long(buf)
            for _ in range(n):
                k = decode("string", buf)
                m[k] = decode(schema["values"], buf)
    raise TypeError(f"unsupported Avro type: {t}")


def parse_schema(schema_json: str) -> Any:
    return json.loads(schema_json)


# ------------------------------------------------------- schema resolution
#
# Avro 1.11 spec, "Schema Resolution": data written under an OLD
# (writer) schema is decoded under a NEW (reader) schema — the real-
# deployment shape the reference's schema-file-driven decode implies
# (model.go:57-66 loads one file at startup; producers evolve).  Rules
# implemented, straight from the spec:
#   records    match fields by name; writer-only fields are decoded and
#              DISCARDED; reader-only fields take their default (error
#              when none is declared)
#   unions     writer branch is read from the wire, then resolved
#              against the reader schema (first resolvable branch when
#              the reader side is itself a union)
#   promotion  int -> long|float|double, long -> float|double,
#              float -> double, string <-> bytes
#   array/map  item / value schemas resolve recursively
# Unsupported (not in the reference's schema family): enum, fixed,
# named-type aliases.


_PROMOTIONS: dict[str, tuple[str, ...]] = {
    "int": ("int", "long", "float", "double"),
    "long": ("long", "float", "double"),
    "float": ("float", "double"),
    "double": ("double",),
    "string": ("string", "bytes"),
    "bytes": ("bytes", "string"),
    "boolean": ("boolean",),
    "null": ("null",),
}


def _unqualified(name: str) -> str:
    return name.rsplit(".", 1)[-1]


def _resolvable(writer: Any, reader: Any) -> bool:
    """Cheap static check: can data written as ``writer`` decode under
    ``reader``?  Used to pick the reader-union branch; field-level
    mismatches inside records still surface at decode time."""
    if isinstance(reader, list):
        return any(_resolvable(writer, br) for br in reader)
    if isinstance(writer, list):
        # per-datum: the actual branch is on the wire; resolvable if any
        # writer branch could land
        return any(_resolvable(br, reader) for br in writer)
    wt, rt = _type_name(writer), _type_name(reader)
    if wt == "record" and rt == "record":
        # spec: records match by UNQUALIFIED name — without this, a
        # reader union of two record branches would silently bind the
        # wrong one and fabricate a value entirely from defaults
        return _unqualified(writer.get("name", "")) == _unqualified(
            reader.get("name", "")
        )
    if wt == "array" and rt == "array":
        return _resolvable(writer["items"], reader["items"])
    if wt == "map" and rt == "map":
        return _resolvable(writer["values"], reader["values"])
    return rt in _PROMOTIONS.get(wt, (wt,))


def default_value(schema: Any, d: Any) -> Any:
    """Convert a JSON-encoded field default into the decoded-value
    domain.  Union defaults correspond to the FIRST branch (spec)."""
    if isinstance(schema, list):
        schema = schema[0]
    t = _type_name(schema)
    if t == "null":
        return None
    if t == "boolean":
        return bool(d)
    if t in ("int", "long"):
        return int(d)
    if t in ("float", "double"):
        return float(d)
    if t == "string":
        return d
    if t == "bytes":
        # JSON defaults for bytes are ISO-8859-1-mapped strings (spec)
        return d.encode("latin-1") if isinstance(d, str) else bytes(d)
    if t == "array":
        return [default_value(schema["items"], x) for x in d]
    if t == "map":
        return {k: default_value(schema["values"], v) for k, v in d.items()}
    if t == "record":
        return {
            f["name"]: default_value(
                f["type"], d.get(f["name"], f.get("default"))
            )
            for f in schema["fields"]
        }
    raise TypeError(f"unsupported Avro default type: {t}")


def decode_resolved(writer: Any, reader: Any, buf: io.BytesIO | bytes) -> Any:
    """Decode binary written under ``writer`` into ``reader``'s shape.

    ``decode_resolved(s, s, b)`` is byte-for-byte ``decode(s, b)``
    (property-tested); divergence happens only where the schemas do."""
    if isinstance(buf, (bytes, bytearray)):
        buf = io.BytesIO(bytes(buf))
    if isinstance(writer, list):
        idx = _read_long(buf)
        if not 0 <= idx < len(writer):
            raise ValueError(f"union index {idx} out of range")
        return decode_resolved(writer[idx], reader, buf)
    if isinstance(reader, list):
        for br in reader:
            if _resolvable(writer, br):
                return decode_resolved(writer, br, buf)
        raise ValueError(
            f"writer {_type_name(writer)} matches no reader union branch"
        )
    wt, rt = _type_name(writer), _type_name(reader)
    if wt == "record" and rt == "record":
        wn = _unqualified(writer.get("name", ""))
        rn = _unqualified(reader.get("name", ""))
        if wn != rn:
            raise ValueError(
                f"record name mismatch: writer {wn!r} vs reader {rn!r} "
                "(Avro resolution matches records by unqualified name)"
            )
        readers = {f["name"]: f for f in reader["fields"]}
        out: dict[str, Any] = {}
        written = set()
        for f in writer["fields"]:
            written.add(f["name"])
            rf = readers.get(f["name"])
            if rf is not None:
                out[f["name"]] = decode_resolved(f["type"], rf["type"], buf)
            else:
                decode(f["type"], buf)  # skip: decode and discard
        for name, rf in readers.items():
            if name not in written:
                if "default" not in rf:
                    raise ValueError(
                        f"reader field {name!r} absent from writer schema "
                        "and declares no default"
                    )
                out[name] = default_value(rf["type"], rf["default"])
        return out
    if wt == "array" and rt == "array":
        items = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return items
            if n < 0:
                n = -n
                _read_long(buf)
            for _ in range(n):
                items.append(
                    decode_resolved(writer["items"], reader["items"], buf)
                )
    if wt == "map" and rt == "map":
        m = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return m
            if n < 0:
                n = -n
                _read_long(buf)
            for _ in range(n):
                k = decode("string", buf)
                m[k] = decode_resolved(writer["values"], reader["values"], buf)
    v = decode(writer, buf)
    if rt == wt:
        return v
    if rt not in _PROMOTIONS.get(wt, ()):
        raise ValueError(f"cannot resolve writer {wt} -> reader {rt}")
    if rt in ("float", "double"):
        return float(v)
    if rt == "long":  # int -> long
        return int(v)
    if rt == "bytes":  # string -> bytes
        return v.encode("utf-8")
    return v.decode("utf-8")  # bytes -> string
