"""Event-topic wire format — the reference publishes KeyValue⟨Avro PK
record, MutationValue⟩ with SEPARATED encoding plus message properties
writetime / segpos / token (AbstractPulsarMutationSender.java:190-193,
253-263; commons/.../Constants.java:18-33). A Kafka/Pulsar Spark source
surfaces exactly (key binary, value binary, headers); this module encodes
our mutation events into that shape and back.

Two codecs behind one seam (reference key.converter/value.converter —
encoding choice is config, not architecture):

- ``avro`` (default, like the reference's NativeAvroConverter): Avro
  binary records with the reference's CQL logical types
  (CqlLogicalTypes.java:29-62), encoded and decoded in one
  ``mapInArrow`` pass by the vectorized batch codec
  (functions/avro_batch.py). Its byte layout is pinned to the
  per-record reference codec in functions/avro_codec.py, which the
  quarantine decode also uses to re-parse a failing batch row by row.
  Nullable int64 columns stay exact and NaN stays distinct from null.
- ``json`` (reference NativeJsonConverter): UTF-8 JSON bytes with
  explicit nulls — JVM-side (``to_json``/``from_json``), byte-stable,
  test-inspectable.

Both codecs share one encode (events -> key, value, writetime, segpos,
token) and one decode; the events-topic functions are a MutationValue
projection around that pair. This module only frames rows; Avro layout
knowledge lives in avro_codec (the reference) and avro_batch (the fast
path).

Tombstone rule: DELETE ⇒ value bytes NULL (CassandraSource.java:554).
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_apache_cassandra_spark.functions.avro_batch import (
    make_vector_decoder,
    make_vector_encoder,
)
from cdc_apache_cassandra_spark.functions.avro_codec import (
    avro_schema_for,
    decode_record,
)
from cdc_apache_cassandra_spark.functions.hashing import wire_token_expr

DEFAULT_CODEC = "avro"
#: every codec the dispatch functions accept; anything else raises
#: (a typo silently falling into another branch would let a
#: producer/consumer pair diverge without an error)
KNOWN_CODECS = ("avro", "json")


def _check_codec(codec: str, on_error: str = "raise") -> None:
    if codec not in KNOWN_CODECS:
        raise ValueError(
            f"unknown wire codec {codec!r}; expected one of {KNOWN_CODECS}"
        )
    if on_error not in ("raise", "quarantine"):
        raise ValueError(
            f"unknown on_error {on_error!r}; expected 'raise' or 'quarantine'"
        )
    if on_error == "quarantine" and codec != "avro":
        raise ValueError(
            f"on_error='quarantine' needs codec='avro', not {codec!r}"
        )


def _json_bytes(cols: list[str]) -> Column:
    return F.encode(
        F.to_json(F.struct(*cols), {"ignoreNullFields": "false"}), "UTF-8"
    )


def _ordered_unique(*col_lists: list[str]) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    for cols in col_lists:
        for c in cols:
            if c not in seen:
                seen.add(c)
                out.append(c)
    return out


def _pa_type(dt: T.DataType) -> pa.DataType:
    """Spark type -> arrow type for mapInArrow output columns."""
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(dt)


def _encode(
    events: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    op_col: str | None,
    codec: str,
) -> DataFrame:
    """events -> (key, value, writetime, segpos, token). ``op_col`` =
    'DELETE' rows get a null value (tombstone); ``None`` keeps every
    value. The Avro codec computes key/value blobs in one mapInArrow
    pass; writetime/segpos/token are built JVM-side and pass through
    untouched."""
    _check_codec(codec)
    props = [
        F.col("writetime"),
        F.concat_ws(":", F.col("segment"), F.col("position")).alias("segpos"),
        wire_token_expr(events.schema, key_cols).alias("token"),
    ]
    if codec == "json":
        value = _json_bytes(value_cols)
        if op_col is not None:
            value = F.when(
                F.col(op_col) == "DELETE", F.lit(None).cast("binary")
            ).otherwise(value)
        return events.select(
            _json_bytes(key_cols).alias("key"), value.alias("value"), *props
        )
    enc_key, enc_val = (
        make_vector_encoder(
            avro_schema_for(T.StructType([events.schema[c] for c in cols]))
        )
        for cols in (key_cols, value_cols)
    )
    pre = events.select(
        *_ordered_unique(key_cols, value_cols, [op_col] if op_col else []),
        *props,
    )
    out_schema = T.StructType(
        [
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
            T.StructField("writetime", pre.schema["writetime"].dataType),
            T.StructField("segpos", T.StringType()),
            T.StructField("token", pre.schema["token"].dataType),
        ]
    )

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np
        import pyarrow.compute as pc

        for b in batches:
            tombs = (
                np.asarray(pc.equal(b.column(op_col), "DELETE").fill_null(False))
                if op_col is not None
                else None
            )
            yield pa.RecordBatch.from_arrays(
                [
                    enc_key(b),
                    enc_val(b, null_rows=tombs),
                    b.column("writetime"),
                    b.column("segpos"),
                    b.column("token"),
                ],
                names=out_schema.fieldNames(),
            )

    return pre.mapInArrow(encode, out_schema)


def _decode(
    wire: DataFrame,
    key_schema: T.StructType,
    value_schema: T.StructType,
    codec: str,
    on_error: str,
) -> DataFrame:
    """(key, value, writetime, segpos, token) -> key columns, value
    columns, is_tombstone, writetime, segment, position, token.

    The Avro codec decodes in one mapInArrow pass. ``on_error=
    'quarantine'`` adds a ``decode_error`` string column instead of
    failing the batch (the reference's error-topic posture, S10): the
    vectorized decode runs first; if a batch raises, it re-runs per-row
    with per-blob try/except, nulling the bad row's columns and
    recording the exception. Integrity beyond parseability rides on the
    md5 digest the pipeline already carries — a corrupted blob that
    still parses is caught by the digest mismatch upstream, same as the
    reference."""
    _check_codec(codec, on_error)
    meta = ["is_tombstone", "writetime", "segment", "position", "token"]
    pre = wire.select(
        "key",
        "value",
        F.col("value").isNull().alias("is_tombstone"),
        "writetime",
        F.split(F.col("segpos"), ":")[0].cast("bigint").alias("segment"),
        F.split(F.col("segpos"), ":")[1].cast("bigint").alias("position"),
        "token",
    )
    if codec == "json":
        out = pre.select(
            F.from_json(F.decode(F.col("key"), "UTF-8"), key_schema).alias("_k"),
            F.from_json(
                F.decode(F.col("value"), "UTF-8"), value_schema
            ).alias("_v"),
            *meta,
        )
        return out.select(
            *[F.col(f"_k.{f.name}").alias(f.name) for f in key_schema.fields],
            *[F.col(f"_v.{f.name}").alias(f.name) for f in value_schema.fields],
            *meta,
        )
    quarantine = on_error == "quarantine"
    key_node = avro_schema_for(key_schema)
    val_node = avro_schema_for(value_schema)
    dec_key = make_vector_decoder(key_node)
    dec_val = make_vector_decoder(val_node)
    meta_fields = [
        T.StructField("is_tombstone", T.BooleanType(), False),
        T.StructField("writetime", pre.schema["writetime"].dataType),
        T.StructField("segment", T.LongType()),
        T.StructField("position", T.LongType()),
        T.StructField("token", pre.schema["token"].dataType),
    ]
    # data-topic TOMBSTONES null every value column regardless of the
    # caller's declared nullability (a delete is a null value record,
    # CassandraSource.java:554) — loosen value_schema unconditionally or
    # the unsafe projection NPEs on non-nullable value fields (r3
    # ADVICE); key_schema stays strict outside quarantine (tombstones
    # always carry a full key).
    value_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in value_schema.fields]
    )
    if quarantine:
        meta_fields.append(
            T.StructField("decode_error", T.StringType(), True)
        )
        # quarantined rows null EVERY decoded column, including ones the
        # caller declared non-nullable (e.g. MutationValue.md5Digest) —
        # loosen nullability or the unsafe projection NPEs on them
        key_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in key_schema.fields]
        )
    out_schema = T.StructType(
        list(key_schema.fields) + list(value_schema.fields) + meta_fields
    )
    typed = [(f.name, _pa_type(f.dataType)) for f in out_schema.fields[
        : len(key_schema.fields) + len(value_schema.fields)
    ]]

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def as_arrow(v, t: pa.DataType) -> pa.Array:
            if isinstance(v, pa.Array):
                return v if v.type == t else v.cast(t)
            return pa.array(v, type=t)

        def decode_batch_quarantined(b: pa.RecordBatch):
            """Per-row re-parse through the strict reference decoder
            with per-blob try/except; bad rows null out and carry the
            exception text."""
            knames = [f.name for f in key_schema.fields]
            vnames = [f.name for f in value_schema.fields]
            cols: dict[str, list] = {c: [] for c in knames + vnames}
            errs: list = []
            keys = b.column("key").to_pylist()
            vals = b.column("value").to_pylist()
            for kb, vb in zip(keys, vals):
                err = None
                try:
                    krec = decode_record(key_node, kb)
                except Exception as ex:
                    krec = {c: None for c in knames}
                    err = f"key: {type(ex).__name__}: {ex}"
                try:
                    vrec = (
                        {c: None for c in vnames}
                        if vb is None
                        else decode_record(val_node, vb)
                    )
                except Exception as ex:
                    vrec = {c: None for c in vnames}
                    err = (err + "; " if err else "") + (
                        f"value: {type(ex).__name__}: {ex}"
                    )
                for c in knames:
                    cols[c].append(krec.get(c))
                for c in vnames:
                    cols[c].append(vrec.get(c))
                errs.append(err)
            return cols, errs

        for b in batches:
            try:
                merged = {**dec_key(b.column("key")), **dec_val(b.column("value"))}
                errs = [None] * b.num_rows
            except Exception:
                if not quarantine:
                    raise
                merged, errs = decode_batch_quarantined(b)
            arrays = [as_arrow(merged[name], t) for name, t in typed]
            arrays += [b.column(c) for c in meta]
            if quarantine:
                arrays.append(pa.array(errs, pa.string()))
            yield pa.RecordBatch.from_arrays(
                arrays, names=out_schema.fieldNames()
            )

    return pre.mapInArrow(decode, out_schema)


def to_wire_records(
    events: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    op_col: str = "op",
    codec: str = DEFAULT_CODEC,
) -> DataFrame:
    """mutation events -> (key BINARY, value BINARY|null, writetime,
    segpos, token) — the exact column set a kafka-format writeStream
    needs, with the reference's three message properties."""
    return _encode(events, key_cols, value_cols, op_col, codec)


#: MutationValue schema — the EVENTS-topic value payload
#: (commons/.../MutationValue.java:28-43): {md5Digest, nodeId,
#: columns[] nullable}. The row itself is NOT on the events topic; the
#: connector re-reads it from the table (read-after-event).
MUTATION_VALUE_SCHEMA = T.StructType(
    [
        T.StructField("md5Digest", T.StringType(), False),
        T.StructField("nodeId", T.StringType(), True),
        T.StructField("columns", T.ArrayType(T.StringType()), True),
    ]
)


def to_event_topic_records(
    events: DataFrame,
    key_cols: list[str],
    codec: str = DEFAULT_CODEC,
    digest_col: str = "digest",
    node_col: str = "node_id",
) -> DataFrame:
    """EVENTS-topic encoding (§1.1): key = Avro PK record, value =
    MutationValue{md5Digest, nodeId, columns=null} — the compact
    PK+digest event the agent publishes
    (AbstractPulsarMutationSender.java:190-193,243-270), as opposed to
    :func:`to_wire_records`, which is the DATA-topic full-row shape.
    Deletes keep their value: the events topic carries no tombstones."""
    mv = events.select(
        *key_cols,
        "writetime",
        "segment",
        "position",
        F.col(digest_col).alias("md5Digest"),
        F.col(node_col).cast("string").alias("nodeId"),
        F.lit(None).cast(T.ArrayType(T.StringType())).alias("columns"),
    )
    return _encode(mv, key_cols, MUTATION_VALUE_SCHEMA.fieldNames(), None, codec)


def from_event_topic_records(
    wire: DataFrame,
    key_schema: T.StructType,
    codec: str = DEFAULT_CODEC,
    on_error: str = "raise",
) -> DataFrame:
    """Inverse of :func:`to_event_topic_records`: typed PK columns +
    (digest, node_id) from the MutationValue — what the connector needs
    to dedup and bind the read-after-event lookup (F12).
    ``on_error='quarantine'`` (avro codec only) appends ``decode_error``
    instead of failing the batch — same error-sink posture as
    :func:`from_wire_records`."""
    dec = _decode(wire, key_schema, MUTATION_VALUE_SCHEMA, codec, on_error)
    return dec.select(
        *key_schema.fieldNames(),
        F.col("md5Digest").alias("digest"),
        F.col("nodeId").alias("node_id"),
        "writetime",
        "segment",
        "position",
        "token",
        *(["decode_error"] if on_error == "quarantine" else []),
    )


def from_wire_records(
    wire: DataFrame,
    key_schema: T.StructType,
    value_schema: T.StructType,
    codec: str = DEFAULT_CODEC,
    on_error: str = "raise",
) -> DataFrame:
    """(key, value, props) -> typed columns; null value bytes => tombstone
    with null value columns. The inverse of to_wire_records (F12: decode
    the key record back to typed values to bind the lookup).

    ``on_error='quarantine'`` (avro codec only) adds a ``decode_error``
    column instead of failing the job on malformed blobs — route
    ``decode_error IS NOT NULL`` rows to the error sink (S10) and keep
    the stream alive, the reference's archive/error-topic posture.
    ``on_error`` other than 'raise'/'quarantine', or quarantine with
    JSON, raises ``ValueError``."""
    return _decode(wire, key_schema, value_schema, codec, on_error)
