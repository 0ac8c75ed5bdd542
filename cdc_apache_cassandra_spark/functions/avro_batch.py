"""Vectorized (Arrow/numpy) batch codec for the Avro wire format.

The reference encodes every mutation through JVM Avro
(NativeAvroConverter, AbstractPulsarMutationSender.java:190-193). This
engine carries the Avro 1.11 binary layout twice: the per-record
reference codec in :mod:`avro_codec`, and this module, the fast path
every wire record takes. It compiles an Avro schema node (the
nested-tuple model of :mod:`avro_codec`) into

- a **vector encoder**: ``pyarrow.RecordBatch -> pa.BinaryArray``, one
  Avro-binary record per row. Fixed-width fields
  (long/int/double/float/bool/timestamp/date) are encoded with numpy:
  zigzag + varint byte planes are computed for the whole column at once
  ((n, 11) uint8 matrix + per-row length); string/bytes payloads are
  sliced straight out of the Arrow data buffer; rare types
  (cql_decimal/varint/duration, arrays, maps, nested records) become
  per-value :func:`avro_codec.encode_value` segments. Every segment is
  placed into one output buffer with a ragged scatter.
- a **vector decoder**: ``pa.BinaryArray -> {field: pa.Array | list}``
  that parses varints as byte-plane gathers and wraps payloads into
  exact-typed Arrow arrays; rare types take a per-row
  :func:`avro_codec.decode_value` inside the same position-tracked walk.

Byte identity with :func:`avro_codec.encode_record` and inversion of it
are pinned by ``tests/test_wire_format.py`` (golden matrix, property
tests and a random-schema fuzz).

Working on Arrow arrays (``mapInArrow``) rather than pandas keeps
nullable int64 columns exact (Arrow->pandas turns them into float64,
rounding values above 2**53) and keeps SQL NULL distinct from a NaN
double.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa

from cdc_apache_cassandra_spark.functions.avro_codec import (
    decode_value,
    encode_value,
)

_NULL = b"\x00"  # union index 0 == null (zigzag(0))
_PRESENT = 2  # union index 1 (zigzag(1) == 2)


def _union_fields(node: tuple) -> list[tuple[str, object]]:
    """``(name, T)`` per field of a record whose fields are all
    ``("null", T)`` unions — every schema :func:`avro_codec.avro_schema_for`
    emits."""
    assert node[0] == "record" and all(
        isinstance(sub, tuple) and sub[0] == "null" for _, sub in node[1]
    ), node
    return [(name, sub[1]) for name, sub in node[1]]


def _offsets(arr: pa.Array) -> np.ndarray:
    """The ``n + 1`` value offsets of a string/binary array as int64,
    read at the array's own width: ``large_string``/``large_binary``
    (``spark.sql.execution.arrow.useLargeVarTypes``) carry int64
    offsets, the others int32. Offsets index the unsliced data buffer."""
    t = arr.type
    large = pa.types.is_large_string(t) or pa.types.is_large_binary(t)
    raw = np.frombuffer(arr.buffers()[1], np.int64 if large else np.int32)
    return raw[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)


def _data(arr: pa.Array) -> np.ndarray:
    """The unsliced data buffer of a string/binary array as uint8."""
    buf = arr.buffers()[2]
    return np.empty(0, np.uint8) if buf is None else np.frombuffer(buf, np.uint8)


def _varint_mat(
    vals: np.ndarray, nulls: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray]:
    """(n, 11) byte matrix [union prefix + zigzag varint] and per-row
    lengths; null rows encode as the single byte 0x00."""
    n = len(vals)
    zz = (vals.view(np.uint64) << np.uint64(1)) ^ (
        vals >> np.int64(63)
    ).view(np.uint64)
    mat = np.zeros((n, 11), dtype=np.uint8)
    mat[:, 0] = _PRESENT
    lens = np.full(n, 2, dtype=np.int64)
    rem = zz.copy()
    for i in range(1, 11):
        mat[:, i] |= (rem & np.uint64(0x7F)).astype(np.uint8)
        rem >>= np.uint64(7)
        more = rem != 0
        if not more.any():
            break
        mat[more, i] |= 0x80
        lens[more] = i + 2
    if nulls is not None and nulls.any():
        mat[nulls, 0] = 0
        lens[nulls] = 1
    return mat, lens


def _fixed_mat(
    raw: np.ndarray, width: int, nulls: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray]:
    """(n, width + 1) byte matrix [union prefix + little-endian payload]
    and per-row lengths; null rows encode as the single byte 0x00."""
    n = len(raw) // width
    mat = np.empty((n, width + 1), dtype=np.uint8)
    mat[:, 0] = _PRESENT
    mat[:, 1:] = raw.reshape(n, width)
    lens = np.full(n, width + 1, dtype=np.int64)
    if nulls is not None and nulls.any():
        mat[nulls, 0] = 0
        lens[nulls] = 1
    return mat, lens


def _int64_of(arr: pa.Array, prim: str) -> np.ndarray:
    """int64 wire values (nulls as 0) of a varint-encoded field:
    timestamps as floored epoch millis, dates as epoch days."""
    if prim == "timestamp-millis":
        # Arrow timestamps are integral since-epoch; normalize to ms
        unit = getattr(arr.type, "unit", "us")
        vals = _int64_of(arr.cast(pa.int64()), "long")
        if unit == "s":
            return vals * 1000
        return vals // {"ms": 1, "us": 1_000, "ns": 1_000_000}[unit]
    if prim == "date":
        arr = arr.cast(pa.int32())
    return np.asarray(arr.fill_null(0) if arr.null_count else arr, dtype=np.int64)


def make_vector_encoder(node: tuple) -> Callable:
    """Compile a record into a whole-batch encoder:
    ``pa.RecordBatch -> pa.BinaryArray`` (one Avro blob per row). Each
    field contributes 1-2 byte SEGMENTS (header matrix rows;
    string/bytes payload slices; per-value fragments for rare types);
    per-row output offsets are cumulative segment lengths and every
    segment is placed with one ragged scatter. ``null_rows`` marks
    output blobs null (tombstones).
    """
    fields = _union_fields(node)

    def encode_batch(
        batch: pa.RecordBatch, null_rows: np.ndarray | None = None
    ) -> pa.BinaryArray:
        n = batch.num_rows
        if n == 0:
            return pa.array([], pa.binary())
        # per field: list of (src_data, src_starts, lens)
        segments: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
        for name, prim in fields:
            arr = batch.column(name)
            nulls = np.asarray(arr.is_null()) if arr.null_count else None
            if prim in ("long", "int", "timestamp-millis", "date"):
                mat, lens = _varint_mat(_int64_of(arr, prim), nulls)
            elif prim in ("double", "float", "boolean"):
                if arr.null_count:
                    arr = arr.fill_null(False if prim == "boolean" else 0.0)
                dtype = {"double": "<f8", "float": "<f4", "boolean": np.uint8}
                vals = np.asarray(arr, dtype=dtype[prim])
                mat, lens = _fixed_mat(vals.view(np.uint8), vals.itemsize, nulls)
            elif prim in ("string", "bytes"):
                soff = _offsets(arr)
                slen = soff[1:] - soff[:-1]
                if nulls is not None:
                    slen = np.where(nulls, 0, slen)
                hdr, hlens = _varint_mat(slen, nulls)
                segments.append(
                    (hdr.ravel(), np.arange(n, dtype=np.int64) * 11, hlens)
                )
                segments.append((_data(arr), soff[:-1], slen))
                continue
            elif arr.null_count == n:
                # collections / CQL logicals / nested records, all null
                # (the events-topic MutationValue ``columns`` field on
                # the wire): one 0x00 per row, fully vectorized
                mat, lens = np.zeros((n, 1), np.uint8), np.ones(n, np.int64)
            else:
                # collections / CQL logicals / nested records: per-value
                # fragments folded into the same scatter machinery
                fnode = ("null", prim)
                frags = []
                for v in arr.to_pylist():
                    if v is None:
                        frags.append(_NULL)
                    else:
                        ba = bytearray()
                        encode_value(ba, fnode, v)
                        frags.append(bytes(ba))
                data = np.frombuffer(b"".join(frags), dtype=np.uint8)
                lens = np.fromiter(
                    (len(f) for f in frags), dtype=np.int64, count=n
                )
                segments.append((data, np.cumsum(lens) - lens, lens))
                continue
            segments.append(
                (mat.ravel(), np.arange(n, dtype=np.int64) * mat.shape[1], lens)
            )
        if null_rows is not None and null_rows.any():
            segments = [
                (d, s, np.where(null_rows, 0, l)) for d, s, l in segments
            ]
        totals = np.zeros(n, dtype=np.int64)
        for _, _, lens in segments:
            totals += lens
        out = np.empty(int(totals.sum()), dtype=np.uint8)
        row_starts = np.concatenate(
            ([0], np.cumsum(totals)[:-1])
        ).astype(np.int64)
        cur = row_starts.copy()
        for src, starts, lens in segments:
            total = int(lens.sum())
            if total:
                ends = np.cumsum(lens)
                rel = np.arange(total, dtype=np.int64) - np.repeat(
                    ends - lens, lens
                )
                out[np.repeat(cur, lens) + rel] = src[
                    np.repeat(starts, lens) + rel
                ]
            cur += lens
        if int(totals.sum()) >= 2**31:
            raise ValueError(
                f"encoded batch payload {int(totals.sum())} bytes overflows "
                "the 32-bit Arrow binary offsets — reduce the Arrow batch "
                "size (spark.sql.execution.arrow.maxRecordsPerBatch)"
            )
        off_out = np.concatenate(([0], np.cumsum(totals))).astype(np.int32)
        bitmap = (
            None
            if null_rows is None or not null_rows.any()
            else _bitmap(~null_rows)
        )
        return pa.Array.from_buffers(
            pa.binary(),
            n,
            [bitmap, pa.py_buffer(off_out.tobytes()), pa.py_buffer(out.tobytes())],
        )

    return encode_batch


# ---------------------------------------------------------------------------
# vector decoder: numpy varint scans + ragged gathers straight into arrow
# buffers — no per-row Python for primitive fields


def _vec_varint(data: np.ndarray, pos: np.ndarray, active: np.ndarray):
    """Decode one varint per row at ``pos`` (only where ``active``).
    Returns (zigzag-decoded int64 values, advanced positions). ``data``
    must be padded with >=10 trailing zero bytes so inactive/short rows
    can gather safely."""
    m = data[pos[:, None] + np.arange(10, dtype=np.int64)[None, :]]
    ends = (m & 0x80) == 0
    overrun = active & ~ends.any(axis=1)
    if overrun.any():
        raise ValueError(
            f"varint overrun (no stop byte in 10) at rows "
            f"{np.flatnonzero(overrun)[:5].tolist()}"
        )
    end = ends.argmax(axis=1).astype(np.int64)  # first stop byte
    keep = np.arange(10, dtype=np.int64)[None, :] <= end[:, None]
    planes = (m & 0x7F).astype(np.uint64) << (
        np.uint64(7) * np.arange(10, dtype=np.uint64)[None, :]
    )
    zz = np.where(keep, planes, np.uint64(0)).sum(axis=1, dtype=np.uint64)
    vals = ((zz >> np.uint64(1)) ^ (np.uint64(0) - (zz & np.uint64(1)))).view(
        np.int64
    )
    npos = np.where(active, pos + end + 1, pos)
    return np.where(active, vals, 0), npos


def _ragged_gather(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """Concatenate data[starts[i] : starts[i]+lens[i]] for all i."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint8)
    ends = np.cumsum(lens)
    out_idx = (
        np.repeat(starts - np.concatenate(([0], ends[:-1])), lens)
        + np.arange(total, dtype=np.int64)
    )
    return data[out_idx]


def _bitmap(mask: np.ndarray) -> pa.Buffer:
    return pa.py_buffer(np.packbits(mask, bitorder="little").tobytes())


def make_vector_decoder(node: tuple) -> Callable[[pa.Array], dict]:
    """Compile a record into a whole-column decoder:
    ``pa.BinaryArray -> {field: pa.Array | list}``. Varints decode as
    (n, 10) byte-plane gathers; string/bytes payloads are ragged-gathered
    into a single buffer and wrapped as arrow arrays via
    ``from_buffers``; rare types (collections, CQL logicals, nested
    records) parse per present row into a plain list. Null blobs
    (tombstones) decode to all-null rows. Byte-layout semantics are
    pinned identical to :func:`avro_codec.decode_record` by the property
    tests, including strict exact consumption of every blob.
    """
    fields = _union_fields(node)

    def decode_column(arr: pa.Array) -> dict:
        n = len(arr)
        if n == 0:
            # empty batches can carry a NULL offsets buffer — nothing to
            # gather; plain empty lists convert via the caller's typed
            # pa.array() path
            return {name: [] for name, _ in fields}
        data = np.concatenate(
            [_data(arr), np.zeros(16, np.uint8)]  # varint-gather pad
        )
        fallback_buf: bytes | None = None  # lazy, see fallback branch
        offsets = _offsets(arr)
        row_valid = (
            np.ones(n, dtype=bool)
            if arr.null_count == 0
            else np.asarray(arr.is_valid())
        )
        pos = offsets[:-1].copy()
        out: dict[str, pa.Array] = {}
        for name, prim in fields:
            # union index: zigzag(0|1) is always a single byte (0x00/0x02)
            ub = data[pos]
            bad_union = row_valid & (ub != 0) & (ub != _PRESENT)
            if bad_union.any():
                raise ValueError(
                    f"invalid union byte for field {name!r} at rows "
                    f"{np.flatnonzero(bad_union)[:5].tolist()}"
                )
            present = row_valid & (ub != 0)
            pos = np.where(row_valid, pos + 1, pos)
            if prim in ("long", "int", "timestamp-millis", "date"):
                vals, pos = _vec_varint(data, pos, present)
                if prim == "timestamp-millis":
                    atype, vals = pa.timestamp("us"), vals * 1000
                elif prim == "long":
                    atype = pa.int64()
                else:
                    atype = pa.date32() if prim == "date" else pa.int32()
                    vals = vals.astype(np.int32)
                out[name] = pa.Array.from_buffers(
                    atype, n, [_bitmap(present), pa.py_buffer(vals.tobytes())]
                )
            elif prim in ("double", "float"):
                width = 8 if prim == "double" else 4
                m = data[
                    pos[:, None] + np.arange(width, dtype=np.int64)[None, :]
                ]
                raw = np.where(present[:, None], m, 0).astype(np.uint8)
                vals = raw.reshape(n * width).view(
                    "<f8" if prim == "double" else "<f4"
                )
                out[name] = pa.Array.from_buffers(
                    pa.float64() if prim == "double" else pa.float32(),
                    n,
                    [_bitmap(present), pa.py_buffer(vals.tobytes())],
                )
                pos = np.where(present, pos + width, pos)
            elif prim == "boolean":
                b = np.where(present, data[pos], 0) == 1
                out[name] = pa.Array.from_buffers(
                    pa.bool_(), n, [_bitmap(present), _bitmap(b)]
                )
                pos = np.where(present, pos + 1, pos)
            elif prim in ("string", "bytes"):
                # length varint + ragged payload gather
                slen, pos = _vec_varint(data, pos, present)
                slen = np.where(present, slen, 0)
                payload = _ragged_gather(data, pos, slen)
                if int(slen.sum()) >= 2**31:
                    raise ValueError(
                        f"decoded {prim} payload {int(slen.sum())} bytes "
                        "overflows the 32-bit Arrow offsets — reduce the "
                        "Arrow batch size"
                    )
                off_out = np.concatenate(
                    ([0], np.cumsum(slen))
                ).astype(np.int32)
                atype = pa.string() if prim == "string" else pa.binary()
                out[name] = pa.Array.from_buffers(
                    atype,
                    n,
                    [
                        _bitmap(present),
                        pa.py_buffer(off_out.tobytes()),
                        pa.py_buffer(payload.tobytes()),
                    ],
                )
                pos = np.where(present, pos + slen, pos)
            else:
                # collections / CQL logicals / nested records: union byte
                # already consumed vectorized above; per-row parse only
                # where the field is actually present. The bytes copy of
                # the whole batch buffer happens at most ONCE per batch
                # (lazily, shared across all fallback fields), not once
                # per field.
                vals: list = [None] * n
                if present.any():
                    if fallback_buf is None:
                        fallback_buf = data.tobytes()
                    for i in np.flatnonzero(present).tolist():
                        vals[i], pos[i] = decode_value(
                            fallback_buf, int(pos[i]), prim
                        )
                out[name] = vals
        # every valid blob must be consumed exactly: a position mismatch
        # means a corrupt/truncated record that happened to parse
        tail = row_valid & (pos != offsets[1:])
        if tail.any():
            raise ValueError(
                f"record length mismatch at rows "
                f"{np.flatnonzero(tail)[:5].tolist()}"
            )
        return out

    return decode_column
