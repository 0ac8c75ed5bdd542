"""Wire-format round trip: events -> (key/value bytes + properties) ->
typed columns, with tombstones and the writetime/segpos/token properties
(reference SEPARATED KeyValue encoding + message props). Parameterized
over both codecs (json + the vectorized Avro binary codec), plus golden
byte pins for the §1.2 CQL logical-type encodings
(CqlLogicalTypes.java:29-62) and property/fuzz tests pinning the
vectorized Avro codec (functions/avro_batch.py) to the per-record
reference codec (functions/avro_codec.py)."""

import datetime
import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_apache_cassandra_spark.functions.avro_codec import (
    avro_schema_for,
    decode_record,
    encode_record,
    varint_bytes,
)
from cdc_apache_cassandra_spark.sources.event_source import mutation_events
from cdc_apache_cassandra_spark.sources.wire_format import (
    from_event_topic_records,
    from_wire_records,
    to_wire_records,
)

KEY_SCHEMA = T.StructType([T.StructField("pk", T.LongType())])
VALUE_SCHEMA = T.StructType(
    [
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)
VALUE_COLS = [f.name for f in VALUE_SCHEMA.fields]

CODECS = ["json", "avro"]


@pytest.mark.parametrize("codec", CODECS)
def test_round_trip_preserves_rows_and_tombstones(spark, sf_dir, codec):
    ev = mutation_events(spark, sf_dir)
    wire = to_wire_records(ev, ["pk"], VALUE_COLS, codec=codec)
    # tombstones: DELETE events carry null value bytes
    n_del = ev.filter("op = 'DELETE'").count()
    assert wire.filter(F.col("value").isNull()).count() == n_del

    back = from_wire_records(wire, KEY_SCHEMA, VALUE_SCHEMA, codec=codec)
    assert back.count() == ev.count()
    # non-tombstones decode to the original values
    orig = ev.filter("op <> 'DELETE'").select(
        "pk", *VALUE_COLS, "writetime", "segment", "position"
    )
    dec = back.filter(~F.col("is_tombstone")).select(
        "pk", *VALUE_COLS, "writetime", "segment", "position"
    )
    assert dec.exceptAll(orig).count() == 0
    assert orig.exceptAll(dec).count() == 0


def test_key_bytes_are_canonical_json(spark, sf_dir):
    """The JSON codec's key encoding is stable and parseable — the
    dedup/partitioning key downstream systems see."""
    ev = mutation_events(spark, sf_dir).limit(5)
    wire = to_wire_records(ev, ["pk"], VALUE_COLS, codec="json")
    for r in wire.collect():
        k = json.loads(bytes(r["key"]).decode())
        assert set(k) == {"pk"}
        assert ":" in r["segpos"]
        assert r["token"] is not None


@pytest.mark.parametrize("codec", CODECS)
def test_wire_records_flow_through_pipeline(spark, sf_dir, codec):
    """Decoded wire records drive the same dedup+LWW pipeline: encoding is
    a boundary concern, not an operator change."""
    from cdc_apache_cassandra_spark.operators.lww import last_write_wins

    ev = mutation_events(spark, sf_dir)
    # op must survive the trip for LWW tombstone logic: carry it in value?
    # No — the reference derives deletion from the NULL value. Reconstruct:
    back = from_wire_records(
        to_wire_records(ev, ["pk"], VALUE_COLS, codec=codec),
        KEY_SCHEMA,
        VALUE_SCHEMA,
        codec=codec,
    ).withColumn(
        "op", F.when(F.col("is_tombstone"), "DELETE").otherwise("UPSERT")
    )
    state = last_write_wins(
        back.dropDuplicates(["pk", "writetime", "segment", "position"])
    )
    want = last_write_wins(
        mutation_events(spark, sf_dir).drop("node_id").dropDuplicates(
            ["pk", "digest"]
        )
    )
    assert state.count() == want.count()
    # tombstone keys agree
    got_tombs = {r.pk for r in state.filter("is_tombstone").collect()}
    want_tombs = {r.pk for r in want.filter("op = 'DELETE'").collect()}
    assert got_tombs == want_tombs


# --- golden byte pins: Avro binary spec + CQL logical types ------------------


def _enc_field(dt, value):
    """Encode a one-field record and strip the union index prefix."""
    schema = T.StructType([T.StructField("x", dt)])
    return encode_record(avro_schema_for(schema), {"x": value})


def test_avro_binary_zigzag_golden():
    """Avro spec pins: long 1 -> 0x02, -1 -> 0x01, 64 -> 0x80 0x01.
    One-field records carry the union index 0x02 (branch 1 = non-null)
    first."""
    long_t = T.LongType()
    assert _enc_field(long_t, 1) == bytes([0x02, 0x02])
    assert _enc_field(long_t, -1) == bytes([0x02, 0x01])
    assert _enc_field(long_t, 64) == bytes([0x02, 0x80, 0x01])
    assert _enc_field(long_t, None) == bytes([0x00])  # null branch


def test_avro_string_golden():
    assert _enc_field(T.StringType(), "ab") == bytes([0x02, 0x04, 0x61, 0x62])


def test_timestamp_millis_golden():
    """§1.2 F1: timestamp encodes as epoch MILLIS long
    (CqlLogicalTypes.java:30, NativeAvroConverter.java:118-120)."""
    ts = datetime.datetime(1970, 1, 1, 0, 0, 1)  # 1000 ms
    out = bytearray()
    node = avro_schema_for(T.StructType([T.StructField("x", T.TimestampType())]))
    from cdc_apache_cassandra_spark.functions.avro_codec import encode_value

    encode_value(out, node, {"x": ts})
    # union idx 0x02 then zigzag(1000) = 2000 = 0xD0 0x0F
    assert bytes(out) == bytes([0x02, 0xD0, 0x0F])
    back = decode_record(node, bytes(out))
    assert back["x"] == ts


def test_date_epoch_days_golden():
    """§1.2 F2: date encodes as epoch-DAYS int (CqlLogicalTypes.java:29;
    PulsarMutationSender.java:141-146)."""
    d = datetime.date(1970, 1, 11)  # day 10 -> zigzag 20 = 0x14
    assert _enc_field(T.DateType(), d) == bytes([0x02, 0x14])
    node = avro_schema_for(T.StructType([T.StructField("x", T.DateType())]))
    assert decode_record(node, bytes([0x02, 0x14]))["x"] == d


def test_cql_varint_twos_complement_golden():
    """cql_varint payload bytes: two's-complement big-endian minimal form
    (CqlLogicalTypes.java:109-131)."""
    assert varint_bytes(0) == b"\x00"
    assert varint_bytes(127) == b"\x7f"
    assert varint_bytes(128) == b"\x00\x80"  # needs the sign byte
    assert varint_bytes(-1) == b"\xff"
    assert varint_bytes(-129) == b"\xff\x7f"
    assert int.from_bytes(varint_bytes(123456789), "big", signed=True) == 123456789


def test_cql_decimal_record_golden():
    """cql_decimal = record{bigint: bytes, scale: int}
    (CqlLogicalTypes.java:133-160): 123.45 -> unscaled 12345, scale 2."""
    dt = T.DecimalType(10, 2)
    node = avro_schema_for(T.StructType([T.StructField("x", dt)]))
    blob = encode_record(node, {"x": Decimal("123.45")})
    # union 0x02 | bytes len 4 (2 bytes) | 0x30 0x39 (12345) | scale zigzag 4
    assert blob == bytes([0x02, 0x04, 0x30, 0x39, 0x04])
    assert decode_record(node, blob)["x"] == Decimal("123.45")


def test_cql_duration_record_golden():
    """cql_duration = record{months,days,nanoseconds}
    (CqlLogicalTypes.java:50-62; NativeAvroConverter.java:412-436)."""
    dur_t = T.StructType(
        [
            T.StructField("months", T.IntegerType()),
            T.StructField("days", T.IntegerType()),
            T.StructField("nanoseconds", T.LongType()),
        ]
    )
    node = avro_schema_for(T.StructType([T.StructField("x", dur_t)]))
    blob = encode_record(node, {"x": {"months": 1, "days": 2, "nanoseconds": 3}})
    assert blob == bytes([0x02, 0x02, 0x04, 0x06])
    assert decode_record(node, blob)["x"] == {
        "months": 1,
        "days": 2,
        "nanoseconds": 3,
    }


def test_collections_round_trip():
    """F11: arrays/maps (block-coded) with nullable elements; F10 map
    keys are strings."""
    schema = T.StructType(
        [
            T.StructField("arr", T.ArrayType(T.LongType())),
            T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
        ]
    )
    node = avro_schema_for(schema)
    row = {"arr": [1, None, 3], "m": {"a": 1.5, "b": None}}
    assert decode_record(node, encode_record(node, row)) == row


def test_cql_varint_bytes_encoding_golden():
    """varint (DecimalType(38,0)) encodes as cql_varint BYTES, not a
    decimal record (CqlLogicalTypes.java:34-36): 300 -> 0x01 0x2C."""
    dt = T.DecimalType(38, 0)
    node = avro_schema_for(T.StructType([T.StructField("x", dt)]))
    blob = encode_record(node, {"x": Decimal(300)})
    # union 0x02 | bytes len 2 | 0x01 0x2C
    assert blob == bytes([0x02, 0x04, 0x01, 0x2C])
    assert decode_record(node, blob)["x"] == Decimal(300)


def test_descriptor_full_type_matrix():
    """Every §1.2 CQL type through schema_from_descriptor maps to the
    Spark type the SURVEY table specifies (the testSchema all-types
    scenario, PulsarCassandraSourceTests.java:609-761, at schema level)."""
    from cdc_apache_cassandra_spark.sources.commitlog_source import (
        schema_from_descriptor,
    )

    descriptor = [
        {"name": "k_text", "cql_type": "text", "kind": "partition_key"},
        {"name": "k_int", "cql_type": "int", "kind": "clustering"},
        {"name": "v_ascii", "cql_type": "ascii"},
        {"name": "v_bool", "cql_type": "boolean"},
        {"name": "v_blob", "cql_type": "blob"},
        {"name": "v_tiny", "cql_type": "tinyint"},
        {"name": "v_small", "cql_type": "smallint"},
        {"name": "v_big", "cql_type": "bigint"},
        {"name": "v_float", "cql_type": "float"},
        {"name": "v_double", "cql_type": "double"},
        {"name": "v_ts", "cql_type": "timestamp"},
        {"name": "v_date", "cql_type": "date"},
        {"name": "v_time", "cql_type": "time"},
        {"name": "v_uuid", "cql_type": "uuid"},
        {"name": "v_inet", "cql_type": "inet"},
        {"name": "v_varint", "cql_type": "varint"},
        {"name": "v_dec", "cql_type": "decimal"},
        {"name": "v_dur", "cql_type": "duration"},
        {"name": "v_list", "cql_type": "list<int>"},
        {"name": "v_set", "cql_type": "set<text>"},
        {"name": "v_map", "cql_type": "map<int,double>"},
        {"name": "v_tuple", "cql_type": "tuple<int,text>"},
        {"name": "v_vector", "cql_type": "vector<float, 64>"},
    ]
    schema = schema_from_descriptor(descriptor)
    by = {f.name: f.dataType for f in schema.fields}
    assert by["k_text"] == T.StringType()
    assert by["k_int"] == T.IntegerType()
    assert by["v_ascii"] == T.StringType()
    assert by["v_bool"] == T.BooleanType()
    assert by["v_blob"] == T.BinaryType()
    assert by["v_tiny"] == T.ByteType()  # native; widened only at Avro edge
    assert by["v_small"] == T.ShortType()
    assert by["v_big"] == T.LongType()
    assert by["v_float"] == T.FloatType()
    assert by["v_double"] == T.DoubleType()
    assert by["v_ts"] == T.TimestampType()
    assert by["v_date"] == T.DateType()
    assert by["v_time"] == T.LongType()  # µs-of-day, no TimeType in Spark
    assert by["v_uuid"] == T.StringType()
    assert by["v_inet"] == T.StringType()
    assert by["v_varint"] == T.DecimalType(38, 0)
    assert by["v_dec"] == T.DecimalType(38, 18)
    assert by["v_dur"].typeName() == "struct"  # months/days/nanoseconds
    assert by["v_list"] == T.ArrayType(T.IntegerType())
    assert by["v_set"] == T.ArrayType(T.StringType())
    # F10: map keys stringified regardless of declared key type
    assert by["v_map"] == T.MapType(T.StringType(), T.DoubleType())
    assert by["v_tuple"].fieldNames() == ["index_0", "index_1"]
    assert by["v_vector"] == T.ArrayType(T.FloatType())
    # partition key non-null, clustering nullable
    nn = {f.name: f.nullable for f in schema.fields}
    assert not nn["k_text"] and nn["k_int"]


def test_descriptor_rejects_pk_collection():
    import pytest as _pytest

    from cdc_apache_cassandra_spark.functions.cql_types import (
        UnsupportedCqlType,
    )
    from cdc_apache_cassandra_spark.sources.commitlog_source import (
        schema_from_descriptor,
    )

    with _pytest.raises(UnsupportedCqlType):
        schema_from_descriptor(
            [{"name": "k", "cql_type": "list<int>", "kind": "partition_key"}]
        )


@pytest.mark.parametrize("codec", CODECS)
def test_event_topic_mutation_value_round_trip(spark, sf_dir, codec):
    """EVENTS-topic shape (§1.1): value = MutationValue{md5Digest,
    nodeId, columns} — the PK+digest event, NOT the row. Decoded events
    must drive the dedup exactly like the in-process stream."""
    from cdc_apache_cassandra_spark.sources.wire_format import (
        from_event_topic_records,
        to_event_topic_records,
    )

    ev = mutation_events(spark, sf_dir)
    wire = to_event_topic_records(ev, ["pk"], codec=codec)
    assert wire.filter(F.col("value").isNull()).count() == 0  # deletes too
    back = from_event_topic_records(wire, KEY_SCHEMA, codec=codec)
    assert back.count() == ev.count()
    orig = ev.select("pk", "digest", F.col("node_id").cast("string"),
                     "writetime", "segment", "position")
    dec = back.select("pk", "digest", "node_id",
                      "writetime", "segment", "position")
    assert dec.exceptAll(orig).count() == 0
    assert orig.exceptAll(dec).count() == 0
    # replica fan-in preserved: same (pk, digest) appears once per node
    per = back.groupBy("pk", "digest").count()
    assert per.filter(F.col("count") != 2).count() == 0


# --- vectorized Avro path vs the per-record reference codec ------------------


def test_arrow_and_pandas_paths_emit_identical_wire_bytes(spark, sf_dir):
    """The mapInArrow vector encoder (functions/avro_batch.py) behind
    ``to_wire_records(codec="avro")`` and the per-record reference
    encoder ``encode_record`` are two implementations of the same Avro
    1.11 binary layout — their wire bytes must be identical for every
    event, key and value alike, and DELETE events carry a null value
    (tombstone)."""
    from collections import Counter

    ev = mutation_events(spark, sf_dir)
    got = Counter(
        (r["segpos"], bytes(r["key"]),
         None if r["value"] is None else bytes(r["value"]))
        for r in to_wire_records(ev, ["pk"], VALUE_COLS, codec="avro")
        .select("key", "value", "segpos")
        .collect()
    )
    key_node = avro_schema_for(KEY_SCHEMA)
    val_node = avro_schema_for(VALUE_SCHEMA)
    want = Counter(
        (
            f"{r['segment']}:{r['position']}",
            encode_record(key_node, {"pk": r["pk"]}),
            None
            if r["op"] == "DELETE"
            else encode_record(val_node, {c: r[c] for c in VALUE_COLS}),
        )
        for r in ev.select(
            "pk", *VALUE_COLS, "op", "segment", "position"
        ).collect()
    )
    assert any(v is None for _, _, v in want)
    assert got == want


def test_arrow_path_keeps_nullable_int64_exact_above_2_53(spark):
    """An Arrow->pandas bridge turns a nullable int64 column into
    float64, which rounds values above 2**53. The Arrow codec must
    round-trip them bit-exactly."""
    big = 2**53 + 1  # not representable in float64
    rows = [
        (1, big, "a", 10, 1, 1, "INSERT"),
        (2, None, "b", 20, 1, 2, "INSERT"),
    ]
    ev = spark.createDataFrame(
        rows, "pk long, v long, s string, writetime long, "
        "segment long, position long, op string"
    )
    ks = T.StructType([T.StructField("pk", T.LongType())])
    vs = T.StructType(
        [T.StructField("v", T.LongType()), T.StructField("s", T.StringType())]
    )
    back = from_wire_records(
        to_wire_records(ev, ["pk"], ["v", "s"], codec="avro"), ks, vs,
        codec="avro",
    )
    got = {r["pk"]: r["v"] for r in back.collect()}
    assert got == {1: big, 2: None}


def test_batch_codec_property_identity():
    """Hypothesis sweep: the vectorized batch encoder is byte-identical
    to encode_record for the hot-path field types, and the vectorized
    decoder inverts it exactly — over regular and large-offset
    (``large_string``/``large_binary``, int64 offsets) Arrow inputs."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cdc_apache_cassandra_spark.functions.avro_batch import (
        make_vector_decoder,
        make_vector_encoder,
    )

    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),
            T.StructField("d", T.BooleanType()),
        ]
    )
    node = avro_schema_for(schema)
    vdec = make_vector_decoder(node)
    venc = make_vector_encoder(node)
    pa_schemas = {
        large: pa.schema(
            [
                ("a", pa.int64()),
                ("b", pa.large_string() if large else pa.string()),
                ("c", pa.float64()),
                ("d", pa.bool_()),
            ]
        )
        for large in (False, True)
    }
    row = st.fixed_dictionaries(
        {
            "a": st.none() | st.integers(-(2**63), 2**63 - 1),
            "b": st.none() | st.text(max_size=50),
            # NaN excluded: NaN != NaN breaks the row equality below
            # (test_vector_codec_preserves_nan_vs_null pins NaN)
            "c": st.none()
            | st.floats(allow_nan=False, allow_infinity=True, width=64),
            "d": st.none() | st.booleans(),
        }
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(row, min_size=1, max_size=20), st.booleans())
    def check(rows, large):
        batch = pa.RecordBatch.from_pylist(rows, schema=pa_schemas[large])
        exp = [encode_record(node, r) for r in rows]
        # scatter-assembled vector encoder: same bytes, no per-row work
        assert venc(batch).to_pylist() == exp
        # vectorized decoder (numpy varint planes + arrow buffers) must
        # invert the reference bytes exactly, nulls included
        blobs = pa.array(exp, pa.large_binary() if large else pa.binary())
        vcols = vdec(blobs)
        for i, r in enumerate(rows):
            assert {k: vcols[k][i].as_py() for k in vcols} == r

    check()


def test_quarantine_decode_survives_corrupt_blobs(spark, sf_dir):
    """on_error='quarantine': malformed wire bytes null their row and
    carry decode_error instead of failing the batch (error-topic
    posture, S10); intact rows decode exactly as in strict mode."""
    ev = mutation_events(spark, sf_dir).limit(50)
    wire = to_wire_records(ev, ["pk"], VALUE_COLS, codec="avro")
    # corrupt the key blob on a deterministic subset of rows
    broken = wire.withColumn(
        "key",
        F.when(
            F.col("segpos").endswith("1"),
            F.lit(b"\xff\xff\xff\xff\xff\xff\xff\xff\xff\xff\xff\xff"),
        ).otherwise(F.col("key")),
    )
    out = from_wire_records(
        broken, KEY_SCHEMA, VALUE_SCHEMA, codec="avro",
        on_error="quarantine",
    ).cache()
    n_bad = broken.filter(F.col("segpos").endswith("1")).count()
    bad = out.filter(F.col("decode_error").isNotNull())
    assert bad.count() == n_bad and n_bad > 0
    assert bad.filter(F.col("pk").isNotNull()).count() == 0
    # intact rows: identical to strict decode (segpos ends with "1" iff
    # position % 10 == 1 — position is segpos's last component)
    good = out.filter(F.col("decode_error").isNull()).drop("decode_error")
    strict = from_wire_records(
        wire, KEY_SCHEMA, VALUE_SCHEMA, codec="avro"
    ).filter(F.col("position") % 10 != 1)
    assert good.count() == strict.count()
    assert good.exceptAll(strict.select(*good.columns)).count() == 0
    out.unpersist()


def test_event_topic_quarantine_decode(spark, sf_dir):
    """Events-topic decode with on_error='quarantine': corrupt
    MutationValue blobs null out and carry decode_error; intact rows
    keep their digest for dedup."""
    from cdc_apache_cassandra_spark.sources.wire_format import (
        from_event_topic_records,
        to_event_topic_records,
    )

    ev = mutation_events(spark, sf_dir).limit(40)
    wire = to_event_topic_records(ev, ["pk"], codec="avro")
    broken = wire.withColumn(
        "value",
        F.when(
            F.col("segpos").endswith("3"), F.lit(b"\x02\xff\xff\xff\xff")
        ).otherwise(F.col("value")),
    )
    out = from_event_topic_records(
        broken, KEY_SCHEMA, codec="avro", on_error="quarantine"
    )
    n_bad = broken.filter(F.col("segpos").endswith("3")).count()
    assert n_bad > 0
    assert out.filter(F.col("decode_error").isNotNull()).count() == n_bad
    good = out.filter(F.col("decode_error").isNull())
    assert good.filter(F.col("digest").isNull()).count() == 0


def test_batch_codec_timestamp_identity_including_pre_epoch():
    """ADVICE r3 (medium): the scalar codec must floor timestamps to
    millis from INTEGER microseconds, matching JVM Instant.toEpochMilli
    and the vectorized path's floor division — truncation toward zero
    diverges on pre-epoch sub-ms values (-0.5 ms must encode as zigzag
    -1, not 0). Property sweep pins both encoders byte-identical and
    the vectorized decoder to the ms-floored value."""
    import datetime

    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cdc_apache_cassandra_spark.functions.avro_batch import (
        make_vector_decoder,
        make_vector_encoder,
    )

    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("t", T.TimestampType()),
        ]
    )
    node = avro_schema_for(schema)
    venc = make_vector_encoder(node)
    vdec = make_vector_decoder(node)
    pa_schema = pa.schema([("a", pa.int64()), ("t", pa.timestamp("us"))])

    epoch = datetime.datetime(1970, 1, 1)

    def ms_floor(dt):
        micros = (dt - epoch) // datetime.timedelta(microseconds=1)
        return epoch + datetime.timedelta(milliseconds=micros // 1000)

    row = st.fixed_dictionaries(
        {
            "a": st.none() | st.integers(-(2**63), 2**63 - 1),
            # pre-epoch through far future, arbitrary microseconds
            "t": st.none()
            | st.datetimes(
                min_value=datetime.datetime(1901, 1, 1),
                max_value=datetime.datetime(2200, 1, 1),
            ),
        }
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(row, min_size=1, max_size=20))
    def check(rows):
        batch = pa.RecordBatch.from_pylist(rows, schema=pa_schema)
        exp = [encode_record(node, r) for r in rows]
        assert venc(batch).to_pylist() == exp
        floored = [
            {"a": r["a"], "t": None if r["t"] is None else ms_floor(r["t"])}
            for r in rows
        ]
        vcols = vdec(pa.array(exp, pa.binary()))
        for i, r in enumerate(floored):
            got_row = {k: vcols[k][i].as_py() for k in vcols}
            assert got_row == r
    check()

    # the ADVICE's concrete counterexample: -0.5 ms -> zigzag(-1)
    minus_half_ms = epoch - datetime.timedelta(microseconds=500)
    by = encode_record(node, {"a": 1, "t": minus_half_ms})
    batch = pa.RecordBatch.from_pylist(
        [{"a": 1, "t": minus_half_ms}], schema=pa_schema
    )
    assert venc(batch).to_pylist() == [by]


def test_tombstone_decode_with_non_nullable_value_schema(spark):
    """ADVICE r3: a data-topic stream with tombstones must decode even
    when the caller declares value fields non-nullable — deletes null
    every value column by definition, so value nullability is loosened
    unconditionally."""
    rows = [
        (1, "x", 10, 1, 1, "INSERT"),
        (2, None, 20, 1, 2, "DELETE"),
    ]
    ev = spark.createDataFrame(
        rows, "pk long, s string, writetime long, segment long, "
        "position long, op string"
    )
    ks = T.StructType([T.StructField("pk", T.LongType(), False)])
    vs = T.StructType([T.StructField("s", T.StringType(), False)])  # strict
    wire = to_wire_records(ev, ["pk"], ["s"], codec="avro")
    back = from_wire_records(wire, ks, vs, codec="avro")
    got = {r["pk"]: r["s"] for r in back.collect()}
    assert got == {1: "x", 2: None}


def test_avro_wire_round_trip_with_large_arrow_var_types(spark):
    """With ``spark.sql.execution.arrow.useLargeVarTypes`` on, mapInArrow
    hands the codec ``large_string``/``large_binary`` columns with int64
    offsets. Both directions must read the offsets at that width: an
    int32 read encodes "abc" as b"\\x02\\x00" and fails the decode with
    a record length mismatch. The session setting is restored after."""

    def blob(v):
        return None if v is None else bytes(v)

    conf = "spark.sql.execution.arrow.useLargeVarTypes"
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, "true")
    try:
        ev = spark.createDataFrame(
            [
                (1, "abc", b"\x01\x02", 10, 1, 1, "INSERT"),
                (2, None, None, 20, 1, 2, "INSERT"),
                (3, "", b"", 30, 1, 3, "INSERT"),
                (4, "x", b"\xff", 40, 1, 4, "DELETE"),
            ],
            "pk long, s string, b binary, writetime long, segment long, "
            "position long, op string",
        )
        vs = T.StructType(
            [T.StructField("s", T.StringType()), T.StructField("b", T.BinaryType())]
        )
        wire = to_wire_records(ev, ["pk"], ["s", "b"], codec="avro")
        got = {
            r["segpos"]: (bytes(r["key"]), blob(r["value"]))
            for r in wire.collect()
        }
        kn, vn = avro_schema_for(KEY_SCHEMA), avro_schema_for(vs)
        assert got == {
            "1:1": (encode_record(kn, {"pk": 1}), b"\x02\x06abc\x02\x04\x01\x02"),
            "1:2": (encode_record(kn, {"pk": 2}), b"\x00\x00"),
            "1:3": (encode_record(kn, {"pk": 3}), b"\x02\x00\x02\x00"),
            "1:4": (encode_record(kn, {"pk": 4}), None),
        }
        assert got["1:1"][1] == encode_record(vn, {"s": "abc", "b": b"\x01\x02"})
        back = from_wire_records(wire, KEY_SCHEMA, vs, codec="avro").collect()
        assert {r["pk"]: (r["s"], blob(r["b"])) for r in back} == {
            1: ("abc", b"\x01\x02"),
            2: (None, None),
            3: ("", b""),
            4: (None, None),
        }
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def test_on_error_is_validated(spark):
    """``on_error`` accepts only 'raise' and 'quarantine', and quarantine
    only with the Avro codec: a typo must not silently mean 'raise', and
    JSON has no quarantine path that would add ``decode_error``."""
    ev = spark.createDataFrame(
        [(1, "x", 10, 1, 1, "INSERT")],
        "pk long, s string, writetime long, segment long, position long, "
        "op string",
    )
    wire = to_wire_records(ev, ["pk"], ["s"], codec="avro")
    vs = T.StructType([T.StructField("s", T.StringType())])
    for decode, args in (
        (from_wire_records, (wire, KEY_SCHEMA, vs)),
        (from_event_topic_records, (wire, KEY_SCHEMA)),
    ):
        with pytest.raises(ValueError, match="on_error"):
            decode(*args, on_error="quarantined")
        with pytest.raises(ValueError, match="quarantine"):
            decode(*args, codec="json", on_error="quarantine")
        with pytest.raises(ValueError, match="codec"):
            decode(*args, codec="protobuf")


def test_vector_codec_preserves_nan_vs_null():
    """Code-review r4: the DEFAULT vectorized codec must keep SQL NULL
    and a genuine NaN double distinct — Arrow validity buffers carry the
    difference (an Arrow->pandas bridge would collapse both to float64
    NaN)."""
    import math

    import pyarrow as pa

    from cdc_apache_cassandra_spark.functions.avro_batch import (
        make_vector_decoder,
        make_vector_encoder,
    )

    schema = T.StructType([T.StructField("c", T.DoubleType())])
    node = avro_schema_for(schema)
    venc = make_vector_encoder(node)
    vdec = make_vector_decoder(node)
    arr = pa.RecordBatch.from_arrays(
        [pa.array([1.5, None, float("nan")], type=pa.float64())], names=["c"]
    )
    blobs = venc(arr)
    cols = vdec(pa.array([b for b in blobs.to_pylist()], type=pa.binary()))
    got = cols["c"].to_pylist()
    assert got[0] == 1.5
    assert got[1] is None, "NULL must stay NULL"
    assert got[2] is not None and math.isnan(got[2]), "NaN must stay a VALUE"


def test_decimal_precision_beyond_default_context():
    """Code-review r4: Decimal.scaleb rounds through the default
    28-digit context, silently corrupting DecimalType(38,18) values on
    BOTH encode and decode. The codec must be exact at full CQL
    precision — including blobs the reference JVM converter legally
    produces."""
    from decimal import Decimal

    big = Decimal("12345678901234567890.123456789012345678")  # 38 sig digits
    node = avro_schema_for(
        T.StructType([T.StructField("x", T.DecimalType(38, 18))])
    )
    blob = encode_record(node, {"x": big})
    assert decode_record(node, blob)["x"] == big
    neg = -big
    assert decode_record(node, encode_record(node, {"x": neg}))["x"] == neg


# --- random-schema codec fuzz (r4 verdict item 5) ----------------------------


def _fuzz_specs():
    """Hypothesis strategies over the §1.2 schema space: each spec is
    (spark_type, arrow_type, value_strategy) with values generated in
    canonical decode-form so identity is exact (f32 pre-rounded,
    timestamps ms-aligned, decimals built from tuples — never through
    the 28-digit context)."""
    import datetime

    import pyarrow as pa
    from hypothesis import strategies as st

    def f32(x):
        import struct as _s

        return _s.unpack("<f", _s.pack("<f", x))[0]

    def make_dec(unscaled, scale):
        sign = 1 if unscaled < 0 else 0
        digits = tuple(int(c) for c in str(abs(unscaled)))
        return Decimal((sign, digits, -scale))

    ts_vals = st.integers(-60_000_000_000_000, 250_000_000_000_000).map(
        lambda ms: datetime.datetime(1970, 1, 1)
        + datetime.timedelta(milliseconds=ms)
    )
    scalars = [
        (T.BooleanType(), pa.bool_(), st.booleans()),
        (T.IntegerType(), pa.int32(), st.integers(-(2**31), 2**31 - 1)),
        (T.LongType(), pa.int64(), st.integers(-(2**63), 2**63 - 1)),
        (
            T.FloatType(),
            pa.float32(),
            st.floats(allow_nan=False, width=32).map(f32),
        ),
        (T.DoubleType(), pa.float64(), st.floats(allow_nan=False, width=64)),
        (T.StringType(), pa.string(), st.text(max_size=24)),
        (T.BinaryType(), pa.binary(), st.binary(max_size=24)),
        (T.TimestampType(), pa.timestamp("us"), ts_vals),
        (T.DateType(), pa.date32(), st.dates()),
        (
            T.DecimalType(38, 0),  # §1.2 varint
            pa.decimal128(38, 0),
            st.integers(-(10**37), 10**37).map(lambda u: make_dec(u, 0)),
        ),
    ]

    @st.composite
    def decimal_spec(draw):
        p = draw(st.integers(1, 38))
        s = draw(st.integers(1, p))  # scale>=1 => cql_decimal, never varint
        vals = st.integers(-(10**p - 1), 10**p - 1).map(
            lambda u: make_dec(u, s)
        )
        return (T.DecimalType(p, s), pa.decimal128(p, s), vals)

    duration_spec = st.just(
        (
            T.StructType(
                [
                    T.StructField("months", T.IntegerType()),
                    T.StructField("days", T.IntegerType()),
                    T.StructField("nanoseconds", T.LongType()),
                ]
            ),
            pa.struct(
                [
                    ("months", pa.int32()),
                    ("days", pa.int32()),
                    ("nanoseconds", pa.int64()),
                ]
            ),
            st.fixed_dictionaries(
                {
                    "months": st.integers(-(2**31), 2**31 - 1),
                    "days": st.integers(-(2**31), 2**31 - 1),
                    "nanoseconds": st.integers(-(2**63), 2**63 - 1),
                }
            ),
        )
    )

    scalar_spec = st.sampled_from(scalars) | decimal_spec()

    @st.composite
    def array_spec(draw):
        t, at, vs = draw(scalar_spec)
        return (
            T.ArrayType(t),
            pa.list_(at),
            st.lists(st.none() | vs, max_size=5),
        )

    @st.composite
    def map_spec(draw):
        t, at, vs = draw(scalar_spec)
        return (
            T.MapType(T.StringType(), t),
            pa.map_(pa.string(), at),
            st.dictionaries(st.text(max_size=8), st.none() | vs, max_size=4),
        )

    @st.composite
    def struct_spec(draw):
        inner = draw(st.lists(scalar_spec, min_size=1, max_size=3))
        names = [f"s{i}" for i in range(len(inner))]
        return (
            T.StructType(
                [T.StructField(n, t) for n, (t, _, _) in zip(names, inner)]
            ),
            pa.struct([(n, at) for n, (_, at, _) in zip(names, inner)]),
            st.fixed_dictionaries(
                {n: st.none() | vs for n, (_, _, vs) in zip(names, inner)}
            ),
        )

    return scalar_spec | array_spec() | map_spec() | struct_spec() | duration_spec


def _fuzz_eq(node, a, b):
    """original-vs-decoded equality keyed on the codec node: decimals by
    EXACT tuple (scale preservation — the r4 corruption class), bytes by
    value, containers recursively; everything else must round-trip to
    the identical Python value."""
    if hasattr(b, "as_py"):
        b = b.as_py()
    if isinstance(node, tuple) and node[0] == "null":
        if a is None or b is None:
            return a is None and b is None
        node = node[1]
    if node == "cql_varint" or node == "cql_decimal":
        return b.as_tuple() == a.as_tuple()
    if node == "cql_duration":
        return dict(b) == dict(a)
    if node == "bytes":
        return bytes(b) == bytes(a)
    if isinstance(node, tuple):
        if node[0] == "record":
            return all(_fuzz_eq(sub, a[nm], b[nm]) for nm, sub in node[1])
        if node[0] == "array":
            return len(a) == len(b) and all(
                _fuzz_eq(node[1], x, y) for x, y in zip(a, b)
            )
        if node[0] == "map":
            da, db = dict(a), dict(b)
            return set(da) == set(db) and all(
                _fuzz_eq(node[1], da[k], db[k]) for k in da
            )
    return a == b


def test_wire_codec_random_schema_fuzz():
    """Hypothesis over RANDOM §1.2 schemas (scalars incl. varint/decimal/
    duration/timestamp/date, arrays, string-keyed maps, nested UDT
    records, every field nullable): encode∘decode identity on the
    per-row codec AND byte/value equality of the vectorized batch codec
    with it (vector encoder bytes == reference bytes, vector decoder
    values == input). Derandomized = a pinned, reproducible corpus.
    The r4 decimal-context corruption (>28 significant digits) is
    exactly the bug class this sweeps for; test_decimal_precision_
    beyond_default_context pins that specific case forever."""
    import pyarrow as pa
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from cdc_apache_cassandra_spark.functions.avro_batch import (
        make_vector_decoder,
        make_vector_encoder,
    )

    field_spec = _fuzz_specs()

    @st.composite
    def schema_and_rows(draw):
        specs = draw(st.lists(field_spec, min_size=1, max_size=5))
        names = [f"f{i}" for i in range(len(specs))]
        spark_schema = T.StructType(
            [T.StructField(n, t) for n, (t, _, _) in zip(names, specs)]
        )
        pa_schema = pa.schema(
            [(n, at) for n, (_, at, _) in zip(names, specs)]
        )
        rows = draw(
            st.lists(
                st.fixed_dictionaries(
                    {n: st.none() | vs for n, (_, _, vs) in zip(names, specs)}
                ),
                min_size=1,
                max_size=8,
            )
        )
        return spark_schema, pa_schema, rows

    @settings(
        max_examples=400,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(schema_and_rows())
    def check(case):
        spark_schema, pa_schema, rows = case
        node = avro_schema_for(spark_schema)
        blobs = [encode_record(node, r) for r in rows]
        # strict per-row inverse
        for r, blob in zip(rows, blobs):
            got = decode_record(node, blob)
            for (nm, sub) in node[1]:
                assert _fuzz_eq(sub, r[nm], got[nm]), (nm, sub, r[nm], got[nm])
        # vector codec vs reference bytes and vs input values
        batch = pa.RecordBatch.from_pylist(rows, schema=pa_schema)
        assert make_vector_encoder(node)(batch).to_pylist() == blobs
        vcols = make_vector_decoder(node)(pa.array(blobs, pa.binary()))
        for (nm, sub) in node[1]:
            for i, r in enumerate(rows):
                assert _fuzz_eq(sub, r[nm], vcols[nm][i]), ("vector", nm, i)

    check()
