"""Structured Streaming pipeline tests: the batch/stream unification
(SURVEY §7.1) — the streaming slice must produce exactly the batch result."""

import uuid

import pytest

from cdc_apache_cassandra_spark.config import CdcPipelineConfig
from cdc_apache_cassandra_spark.engine import CdcEngine
from cdc_apache_cassandra_spark.operators.dedup import (
    dedup_mutations,
    dedup_mutations_stream,
)
from cdc_apache_cassandra_spark.sources.event_source import mutation_events
from cdc_apache_cassandra_spark.sources.registry import load_table
from cdc_apache_cassandra_spark.streaming.pipeline import (
    run_to_memory,
    with_event_time,
)
from cdc_apache_cassandra_spark.streaming.state import (
    MutationCacheProcessor,
    _dedup_rows,
    mutation_cache_dedup,
)

VALUE_COLS = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir, tmp_path_factory):
    """Materialize the synthetic event stream as parquet files so a file
    source can replay them as a stream (stand-in for the events topic)."""
    d = str(tmp_path_factory.mktemp("events_parquet"))
    # several files => several source splits
    mutation_events(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(d)
    return d


def _read_stream(spark, event_dir):
    schema = spark.read.parquet(event_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # multiple micro-batches (W4)
        .parquet(event_dir)
    )


def test_stream_equals_batch(spark, sf_dir, event_dir):
    """The streaming pipeline over the file-source replay produces exactly
    the batch pipeline's rows (same logical plan, two run modes)."""
    snapshot = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "pk"
    )
    stream = _read_stream(spark, event_dir)
    # TTL must cover the replay's event-time disorder (writetimes span the
    # whole key space here); with the default 60 s a genuinely-late replica
    # is dropped by the watermark — see test_late_events_dropped_by_watermark.
    engine = CdcEngine(
        spark, CdcPipelineConfig(cache_expire_after_ms=365 * 86_400_000)
    )
    out = engine.to_records(stream, snapshot, ["pk"], VALUE_COLS)
    name = f"cdc_out_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name)
    got = spark.table(name)

    batch_events = spark.read.parquet(event_dir)
    want = engine.to_records(batch_events, snapshot, ["pk"], VALUE_COLS)

    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_watermark_dedup_suppresses_replicas(spark, sf_dir, event_dir):
    """dropDuplicatesWithinWatermark collapses the RF=2 duplication even
    when replicas arrive in different micro-batches."""
    stream = _read_stream(spark, event_dir)
    name = f"dedup_out_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        dedup_mutations_stream(with_event_time(stream), ttl="365 days"), name
    )
    got = spark.table(name)
    want = dedup_mutations(spark.read.parquet(event_dir))
    assert got.count() == want.count()
    assert got.groupBy("pk", "digest").count().filter("count > 1").count() == 0


def test_late_events_dropped_by_watermark(spark):
    """W1/W3 late-data policy: an event older than watermark - TTL is
    dropped — the event-time analogue of the reference's 60 s cache TTL
    (events outside the window are no longer deduplicable either)."""
    import pandas as pd

    rows = [
        # batch 1: fresh event at t=10_000s advances watermark far ahead
        (1, "new", 10_000_000_000, 0, 0, 0),
        # batch 2 (later file): event at t=0, older than 10_000s - 60s => late
        (2, "old", 0, 0, 0, 0),
    ]
    df = pd.DataFrame(
        rows, columns=["pk", "digest", "writetime", "segment", "position", "node_id"]
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(df.iloc[[0]]).write.parquet(f"{d}/f1")
        spark.createDataFrame(df.iloc[[1]]).write.parquet(f"{d}/f2")
        schema = spark.read.parquet(f"{d}/f1").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/*")
        )
        name = f"late_{uuid.uuid4().hex[:8]}"
        run_to_memory(
            dedup_mutations_stream(with_event_time(stream), ttl="60 seconds"),
            name,
        )
        got = spark.table(name).collect()
        digests = sorted(r["digest"] for r in got)
        # the late event may or may not be dropped depending on file order;
        # the invariant is: never MORE than the distinct mutations, and the
        # fresh one always survives.
        assert "new" in digests and len(digests) <= 2


def test_mutation_cache_bounded_eviction(spark):
    """Reference MutationCache semantics: ≤N digests per key, oldest
    evicted — a digest re-arriving after N others is NOT suppressed
    (at-least-once, MutationCache.java:47-73)."""
    rows = []
    # key A: digest d0 , then d1,d2,d3 (evicts d0), then d0 again => d0 passes twice
    seq = ["d0", "d1", "d2", "d3", "d0", "d1"]
    for i, d in enumerate(seq):
        rows.append((1, d, i, 0, i))
    # key B: immediate duplicate => suppressed
    rows += [(2, "x", 0, 0, 0), (2, "x", 1, 0, 1)]
    df = spark.createDataFrame(
        rows, "pk long, digest string, writetime long, segment long, position long"
    )
    out = mutation_cache_dedup(df, max_digests=3)
    a = [r["digest"] for r in out.filter("pk = 1").orderBy("writetime").collect()]
    assert a == ["d0", "d1", "d2", "d3", "d0", "d1"]  # every arrival distinct-in-window
    b = out.filter("pk = 2").collect()
    assert len(b) == 1


def test_mutation_cache_suppresses_within_window(spark):
    """Duplicates within the bounded window ARE suppressed."""
    rows = [(1, "d0", 0, 0, 0), (1, "d1", 1, 0, 1), (1, "d0", 2, 0, 2)]
    df = spark.createDataFrame(
        rows, "pk long, digest string, writetime long, segment long, position long"
    )
    out = mutation_cache_dedup(df, max_digests=3)
    assert [r["digest"] for r in out.orderBy("writetime").collect()] == ["d0", "d1"]


def test_mutation_cache_transform_with_state(spark, sf_dir, event_dir):
    """The transformWithState mutation cache (RocksDB state store, native
    TTL) dedups the streamed replay to the same per-(pk,digest) multiset
    as the pure reference ``_dedup_rows`` applied per key.

    The transformWithState Python worker speaks protobuf to the JVM;
    real clusters ship the wheel, and in this container the vendored
    wire-format shim (streaming/protoshim.py, activated by conftest
    BEFORE the JVM starts) stands in — so this test runs the ACTUAL
    engine path, RocksDB state store and all, either way."""
    import pandas as pd

    from cdc_apache_cassandra_spark.streaming.protoshim import (
        ensure_protobuf,
    )

    assert ensure_protobuf() in ("native", "shim")
    cols = ["pk", "digest", "writetime", "segment", "position"]
    stream = _read_stream(spark, event_dir).select(*cols)
    name = f"tws_out_{uuid.uuid4().hex[:8]}"
    run_to_memory(mutation_cache_dedup(stream, ttl_ms=None), name)
    got = spark.table(name).toPandas()
    pdf = spark.read.parquet(event_dir).select(*cols).toPandas()
    want = pd.concat(
        _dedup_rows(g, [], 3)[0] for _, g in pdf.groupby("pk")
    )
    assert len(got) == len(want)

    def counts(df):
        return df.groupby(["pk", "digest"]).size().sort_index()

    assert counts(got).equals(counts(want))


def test_mutation_cache_row_processor_matches_pandas(spark, event_dir):
    """MutationCacheProcessor driven through a faked handle yields the
    SAME surviving multiset as the pure reference ``_dedup_rows`` —
    across two micro-batches per key (the digest list carries between
    them) and with the bounded-eviction cache exercised (max_digests=2
    on keys with 3+ distinct digests)."""
    import pandas as pd
    from pyspark.sql import Row

    class FakeValueState:
        def __init__(self):
            self._v = None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.states = {}
            self.ttls = {}

        def getValueState(self, name, schema, ttlDurationMs=None):
            self.ttls[name] = ttlDurationMs
            return self.states.setdefault(name, FakeValueState())

    cols = ["pk", "digest", "writetime", "segment", "position"]
    events = spark.read.parquet(event_dir).select(*cols)
    pdf_all = events.toPandas()
    sort_idx = (cols.index("writetime"), cols.index("segment"),
                cols.index("position"))
    digest_idx = cols.index("digest")
    for max_digests in (2, 1024):
        got_rows, want_parts = [], []
        for pk, group in pdf_all.groupby("pk"):
            proc = MutationCacheProcessor(
                sort_idx, digest_idx, max_digests=max_digests, ttl_ms=9876
            )
            handle = FakeHandle()
            proc.init(handle)
            assert handle.ttls == {"seen": 9876}
            seen = []
            g = group.sort_values(["segment", "position"], kind="mergesort")
            half = len(g) // 2
            for chunk in (g.iloc[:half], g.iloc[half:]):
                if len(chunk) == 0:
                    continue
                rows = [
                    Row(**{c: chunk.iloc[i][c] for c in cols})
                    for i in range(len(chunk))
                ]
                got_rows.extend(proc.handleInputRows((pk,), iter(rows), None))
                kept, seen = _dedup_rows(chunk, seen, max_digests)
                want_parts.append(kept)
            proc.close()
        got = pd.DataFrame([r.asDict() for r in got_rows], columns=cols)
        want = pd.concat(want_parts, ignore_index=True)[cols]
        assert (
            got.sort_values(cols).reset_index(drop=True).astype(str).equals(
                want.sort_values(cols).reset_index(drop=True).astype(str)
            )
        ), f"processor/reference divergence at max_digests={max_digests}"


def test_mutation_cache_state_carries_across_micro_batches(spark, tmp_path):
    """Eviction across micro-batches through the real RocksDB ValueState:
    one key's digests d0 | d1 | d0 arrive in three files, one per
    micro-batch. A 1-digest cache has evicted d0 by the third batch and
    re-emits it (3 rows); a 3-digest cache still holds d0 and suppresses
    it (2 rows). The batch run over the same rows agrees."""
    import os

    import pandas as pd

    cols = ["pk", "digest", "writetime", "segment", "position"]
    d = str(tmp_path / "src")
    os.makedirs(d)
    for i, digest in enumerate(["d0", "d1", "d0"]):
        path = f"{d}/part-{i}.parquet"
        pd.DataFrame([(1, digest, i, 0, i)], columns=cols).to_parquet(path)
        # the file source orders new files by modification time
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    schema = spark.read.parquet(d).schema
    # one key: one state partition is enough, and each micro-batch opens a
    # RocksDB store per shuffle partition
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        for max_digests, kept in ((1, 3), (3, 2)):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
            )
            name = f"carry_{max_digests}_{uuid.uuid4().hex[:8]}"
            run_to_memory(
                mutation_cache_dedup(stream, max_digests=max_digests, ttl_ms=None),
                name,
            )
            got = [
                r["digest"]
                for r in spark.table(name).orderBy("writetime").collect()
            ]
            assert len(got) == kept, (max_digests, got)
            batch = mutation_cache_dedup(
                spark.read.parquet(d), max_digests=max_digests
            )
            want = [r["digest"] for r in batch.orderBy("writetime").collect()]
            assert got == want
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_ddl_restart_listener_one_logical_stream(spark, tmp_path):
    """DdlRestartingStream: a mid-stream ALTER-ADD segment flows through
    ONE logical stream — the listener detects the widened source schema,
    stops at a micro-batch boundary, restarts from the SAME checkpoint
    (no duplicate, no loss), and pre-DDL rows backfill the new column
    with nulls."""
    import pyspark.sql.functions as F

    from cdc_apache_cassandra_spark.streaming.schema_evolution import (
        DdlRestartingStream,
        parquet_dir_schema,
    )

    src, out, ck = (
        str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "pk long, v string"
    ).coalesce(1).write.parquet(src)

    def start_query(schema):
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    s = DdlRestartingStream(
        lambda: parquet_dir_schema(spark, src), start_query
    )
    try:
        # cycle 1: old schema, no DDL observed
        assert s.drain() is False and s.restarts == 0

        # DDL: new segment adds a nullable column
        spark.createDataFrame(
            [(3, "c", "X")], "pk long, v string, v2 string"
        ).coalesce(1).write.mode("append").parquet(src)
        # cycle 2: listener observes the widened schema BEFORE consuming
        assert s.drain() is True and s.restarts == 1
        assert [f.name for f in s.schema.fields] == ["pk", "v", "v2"]
        # cycle 3: nothing new, no restart
        assert s.drain() is False and s.restarts == 1
    finally:
        s.stop()

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    rows = {r.pk: r for r in merged.collect()}
    assert len(rows) == 3 and merged.count() == 3  # no dup, no loss
    assert rows[1].v2 is None and rows[2].v2 is None
    assert rows[3].v2 == "X"
