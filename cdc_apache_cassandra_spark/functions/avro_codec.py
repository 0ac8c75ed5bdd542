"""Pure-Python Apache Avro BINARY codec for the CDC wire format.

The reference is Avro-first end-to-end: the agent publishes
KeyValue⟨Avro PK record, MutationValue⟩ SEPARATED
(AbstractPulsarMutationSender.java:190-193) and the connector's
NativeAvroConverter emits Avro rows with the custom CQL logical types
defined in commons/.../CqlLogicalTypes.java:29-62:

- ``timestamp-millis`` (long), ``date`` (int epoch-days),
  ``time-micros`` (long), ``uuid`` (string) — standard Avro logicals;
- ``cql_varint``: bytes, two's-complement big-endian
  (CqlLogicalTypes.java:109-131);
- ``cql_decimal``: record{bigint: bytes, scale: int}
  (CqlLogicalTypes.java:133-160);
- ``cql_duration``: record{months: int, days: int, nanoseconds: long}
  (CqlLogicalTypes.java:50-62; NativeAvroConverter.java:412-436).

The codec implements the Avro 1.11 binary spec directly (zigzag varints,
length-prefixed bytes, union index prefixes, block-coded arrays/maps) —
no dependencies, byte-compatible with any Avro reader given the same
writer schema. It is the per-record REFERENCE: the vectorized batch
codec (avro_batch.py) that every wire record takes is pinned
byte-identical to it, calls :func:`encode_value`/:func:`decode_value`
for the rare field types, and the quarantine decode (wire_format.py)
re-parses a failing batch row by row through :func:`decode_record`.

Schema derivation maps Spark types to Avro per SURVEY §1.2: every
non-key field is a ``union[null, T]`` with null default
(AbstractPulsarMutationSender.java:150-153).
"""

from __future__ import annotations

import struct
from decimal import Decimal
from typing import Any

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# primitive binary encoding (Avro spec §Binary Encoding)


def write_long(out: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag (arbitrary-precision ok in Python)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def write_bytes(out: bytearray, b: bytes) -> None:
    write_long(out, len(b))
    out.extend(b)


def read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = read_long(buf, pos)
    return buf[pos : pos + n], pos + n


# ---------------------------------------------------------------------------
# schema model: nested lists mirroring Avro JSON schemas, restricted to what
# the CDC wire needs. A schema node is one of:
#   "boolean" | "int" | "long" | "float" | "double" | "string" | "bytes"
#   ("null", node)              -- union[null, node]
#   ("record", [(name, node)])
#   ("array", node)
#   ("map", node)               -- string keys (F10)


def avro_schema_for(spark_schema: T.StructType) -> tuple:
    """Spark StructType -> codec schema per the §1.2 type table. Logical
    annotations (timestamp-millis, date, cql_decimal, cql_duration) keep
    the VALUES Avro encodes identical to the reference's."""
    return ("record", [
        (f.name, ("null", _node(f.dataType))) for f in spark_schema.fields
    ])


_DURATION_FIELDS = ("months", "days", "nanoseconds")


def _node(dt: T.DataType) -> Any:
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"  # §1.2: tinyint/smallint widened at the Avro boundary
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.TimestampType):
        return "timestamp-millis"  # long millis (CqlLogicalTypes.java:30)
    if isinstance(dt, T.DateType):
        return "date"  # int epoch-days (CqlLogicalTypes.java:29)
    if isinstance(dt, T.DecimalType):
        if dt.scale == 0 and dt.precision == 38:
            # §1.2: varint surfaces as DecimalType(38,0) and encodes as
            # cql_varint BYTES (two's complement big-endian), not a
            # decimal record (CqlLogicalTypes.java:34-36,109-131)
            return "cql_varint"
        # cql_decimal record{bigint bytes, scale int}
        return "cql_decimal"
    if isinstance(dt, T.ArrayType):
        return ("array", ("null", _node(dt.elementType)))
    if isinstance(dt, T.MapType):
        return ("map", ("null", _node(dt.valueType)))
    if isinstance(dt, T.StructType):
        names = tuple(f.name for f in dt.fields)
        if names == _DURATION_FIELDS:
            return "cql_duration"
        return ("record", [
            (f.name, ("null", _node(f.dataType))) for f in dt.fields
        ])
    raise TypeError(f"no Avro mapping for Spark type {dt}")


# ---------------------------------------------------------------------------
# value codec


def varint_bytes(n: int) -> bytes:
    """Two's-complement big-endian minimal bytes (cql_varint payload,
    CqlLogicalTypes.java:109-131)."""
    length = max(1, (n.bit_length() + 8) // 8)
    return n.to_bytes(length, "big", signed=True)


def encode_value(out: bytearray, node: Any, v: Any) -> None:
    if isinstance(node, tuple) and node[0] == "null":
        if v is None:
            write_long(out, 0)
            return
        write_long(out, 1)
        node = node[1]
    if node == "boolean":
        out.append(1 if v else 0)
    elif node == "int" or node == "long":
        write_long(out, int(v))
    elif node == "float":
        out.extend(struct.pack("<f", float(v)))
    elif node == "double":
        out.extend(struct.pack("<d", float(v)))
    elif node == "string":
        write_bytes(out, str(v).encode("utf-8"))
    elif node == "bytes":
        write_bytes(out, bytes(v))
    elif node == "timestamp-millis":
        # datetime -> epoch millis (NativeAvroConverter.java:118-120).
        # Derive millis from INTEGER microseconds with floor division —
        # matching JVM Instant.toEpochMilli and the vectorized codec
        # (avro_batch._int64_of): int(ts.timestamp()*1000) truncates
        # toward zero, so a pre-epoch timestamp with sub-ms components
        # (e.g. -0.5 ms) would encode as 0 instead of -1.
        import datetime

        if isinstance(v, datetime.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=datetime.timezone.utc)
            epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
            micros = (v - epoch) // datetime.timedelta(microseconds=1)
            v = micros // 1000
        write_long(out, int(v))
    elif node == "date":
        import datetime

        if isinstance(v, datetime.date):
            v = (v - datetime.date(1970, 1, 1)).days
        write_long(out, int(v))
    elif node == "cql_varint":
        write_bytes(out, varint_bytes(int(v)))
    elif node == "cql_decimal":
        d = Decimal(v)
        sign, digits, exp = d.as_tuple()
        # unscaled from the tuple digits — EXACT at any precision;
        # Decimal.scaleb would round through the default 28-digit
        # context and silently corrupt DecimalType(38,18) values
        unscaled = int("".join(map(str, digits)) or "0")
        if sign:
            unscaled = -unscaled
        write_bytes(out, varint_bytes(unscaled))
        write_long(out, -exp)  # scale
    elif node == "cql_duration":
        write_long(out, int(v["months"] if isinstance(v, dict) else v[0]))
        write_long(out, int(v["days"] if isinstance(v, dict) else v[1]))
        write_long(out, int(v["nanoseconds"] if isinstance(v, dict) else v[2]))
    elif node[0] == "record":
        for name, sub in node[1]:
            encode_value(out, sub, v[name] if isinstance(v, dict) else getattr(v, name))
    elif node[0] == "array":
        items = list(v)
        if items:
            write_long(out, len(items))
            for item in items:
                encode_value(out, node[1], item)
        write_long(out, 0)
    elif node[0] == "map":
        entries = dict(v)
        if entries:
            write_long(out, len(entries))
            for k, item in entries.items():
                write_bytes(out, str(k).encode("utf-8"))
                encode_value(out, node[1], item)
        write_long(out, 0)
    else:
        raise TypeError(f"unhandled avro node {node!r}")


def decode_value(buf: bytes, pos: int, node: Any) -> tuple[Any, int]:
    if isinstance(node, tuple) and node[0] == "null":
        idx, pos = read_long(buf, pos)
        if idx == 0:
            return None, pos
        node = node[1]
    if node == "boolean":
        return buf[pos] == 1, pos + 1
    if node == "int" or node == "long":
        return read_long(buf, pos)
    if node == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if node == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if node == "string":
        b, pos = read_bytes(buf, pos)
        return b.decode("utf-8"), pos
    if node == "bytes":
        b, pos = read_bytes(buf, pos)
        return b, pos
    if node == "timestamp-millis":
        import datetime

        ms, pos = read_long(buf, pos)
        # exact integer arithmetic (no float seconds round-trip)
        return (
            datetime.datetime(1970, 1, 1) + datetime.timedelta(milliseconds=ms),
            pos,
        )
    if node == "date":
        import datetime

        days, pos = read_long(buf, pos)
        return datetime.date(1970, 1, 1) + datetime.timedelta(days=days), pos
    if node == "cql_varint":
        raw, pos = read_bytes(buf, pos)
        return Decimal(int.from_bytes(raw, "big", signed=True)), pos
    if node == "cql_decimal":
        raw, pos = read_bytes(buf, pos)
        scale, pos = read_long(buf, pos)
        unscaled = int.from_bytes(raw, "big", signed=True)
        # tuple construction is exact at any precision (scaleb rounds
        # through the 28-digit default context — would corrupt wire
        # data the reference JVM converter legally produces)
        sign = 1 if unscaled < 0 else 0
        digits = tuple(int(c) for c in str(abs(unscaled)))
        return Decimal((sign, digits, -int(scale))), pos
    if node == "cql_duration":
        months, pos = read_long(buf, pos)
        days, pos = read_long(buf, pos)
        nanos, pos = read_long(buf, pos)
        return {"months": months, "days": days, "nanoseconds": nanos}, pos
    if node[0] == "record":
        rec = {}
        for name, sub in node[1]:
            rec[name], pos = decode_value(buf, pos, sub)
        return rec, pos
    if node[0] == "array":
        items = []
        while True:
            n, pos = read_long(buf, pos)
            if n == 0:
                break
            if n < 0:  # block with byte size prefix
                _, pos = read_long(buf, pos)
                n = -n
            for _ in range(n):
                item, pos = decode_value(buf, pos, node[1])
                items.append(item)
        return items, pos
    if node[0] == "map":
        entries = {}
        while True:
            n, pos = read_long(buf, pos)
            if n == 0:
                break
            if n < 0:
                _, pos = read_long(buf, pos)
                n = -n
            for _ in range(n):
                kb, pos = read_bytes(buf, pos)
                entries[kb.decode("utf-8")], pos = decode_value(buf, pos, node[1])
        return entries, pos
    raise TypeError(f"unhandled avro node {node!r}")


def encode_record(node: tuple, row: dict) -> bytes:
    out = bytearray()
    encode_value(out, node, row)
    return bytes(out)


def decode_record(node: tuple, blob: bytes) -> dict:
    """Decode one record blob with STRICT exact-consumption: trailing
    bytes mean the blob was not produced for this schema (truncated
    writes surface inside decode_value; padding/garbage surfaces here).
    The vectorized decoder (avro_batch.make_vector_decoder) shares this
    contract: both accept and reject the same inputs."""
    buf = bytes(blob)
    value, end = decode_value(buf, 0, node)
    if end != len(buf):
        raise ValueError(f"record length mismatch ({end} != {len(buf)})")
    return value
