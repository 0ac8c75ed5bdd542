"""foreachBatch materialization: CDC stream -> queryable table with
incremental bucket-MERGE LWW upsert + tombstone deletion (SURVEY §7.4
'tombstones downstream'; Delta ``whenMatchedDelete`` analogue).

The store is the manifest-pointer merge-on-write layout in
streaming/materialize.py: per micro-batch only the touched hash buckets
are rewritten and the commit point is an atomic manifest swap — no
driver-side row collection anywhere in the foreachBatch path.
"""

import json
import os

from pyspark.sql import functions as F

from cdc_apache_cassandra_spark.operators.dedup import dedup_mutations
from cdc_apache_cassandra_spark.operators.lww import last_write_wins
from cdc_apache_cassandra_spark.sources.event_source import mutation_events
from cdc_apache_cassandra_spark.streaming.materialize import (
    MANIFEST,
    active_view,
    compact,
    materialize_stream,
    merge_batch_lww,
    merge_into,
    read_state,
)

SCHEMA = (
    "op string, pk long, writetime long, v string, w string, "
    "segment long, position long"
)


def test_merge_batch_lww_semantics(spark):
    rows1 = [("INSERT", 1, 10, "a", "x", 0, 0), ("INSERT", 2, 10, "b", "x", 0, 0)]
    rows2 = [("UPDATE", 1, 20, "a2", "x", 0, 1), ("DELETE", 2, 30, None, None, 0, 2)]
    b1 = spark.createDataFrame(rows1, SCHEMA)
    b2 = spark.createDataFrame(rows2, SCHEMA)
    s1 = merge_batch_lww(None, b1, ["pk"])
    assert s1.count() == 2
    s2 = merge_batch_lww(s1, b2, ["pk"])
    got = {r.pk: r for r in active_view(s2).collect()}
    assert set(got) == {1}  # pk=2 tombstoned away from the view
    assert got[1].v == "a2" and got[1].writetime == 20
    # ...but the tombstone is retained in state (resurrection guard)
    assert s2.filter("pk = 2 AND op = 'DELETE'").count() == 1


def test_tombstone_blocks_stale_insert_in_later_batch(spark, tmp_path):
    """Out-of-order replay THROUGH THE STORE: the DELETE (wt=30) commits
    in batch 1; the stale INSERT (wt=10) only arrives in batch 2. The
    retained tombstone wins the LWW merge."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    b1 = spark.createDataFrame([("DELETE", 2, 30, None, None, 0, 0)], SCHEMA)
    b2 = spark.createDataFrame([("INSERT", 2, 10, "stale", "x", 0, 0)], SCHEMA)
    merge_into(spark, path, b1, ["pk"])
    merge_into(spark, path, b2, ["pk"])
    state = read_state(spark, path)
    assert active_view(state).count() == 0
    assert state.filter("op = 'DELETE' AND writetime = 30").count() == 1


def test_incremental_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The merge-on-write contract: a batch touching one key rewrites only
    that key's bucket; every other bucket's files stay at their old
    version (the 100-TB property — per-batch IO ∝ touched data)."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    base = spark.createDataFrame(
        [("INSERT", i, 10, f"v{i}", "x", 0, i) for i in range(64)], SCHEMA
    )
    merge_into(spark, path, base, ["pk"], n_buckets=8)
    m1 = json.load(open(os.path.join(path, MANIFEST)))
    assert m1["version"] == 1 and len(m1["buckets"]) == 8

    one = spark.createDataFrame([("UPDATE", 3, 20, "new", "x", 0, 99)], SCHEMA)
    merge_into(spark, path, one, ["pk"])
    m2 = json.load(open(os.path.join(path, MANIFEST)))
    assert m2["version"] == 2
    moved = [b for b, v in m2["buckets"].items() if v == 2]
    assert len(moved) == 1  # exactly the touched bucket advanced
    stayed = [b for b, v in m2["buckets"].items() if v == 1]
    assert len(stayed) == 7

    state = read_state(spark, path)
    assert state.count() == 64
    assert state.filter("pk = 3").collect()[0].v == "new"


def test_compact_drops_old_tombstones(spark, tmp_path):
    path = str(tmp_path / "t")
    os.makedirs(path)
    rows = [
        ("INSERT", 1, 10, "a", "x", 0, 0),
        ("DELETE", 2, 15, None, None, 0, 1),  # old: before horizon
        ("DELETE", 3, 40, None, None, 0, 2),  # recent: kept
    ]
    merge_into(spark, path, spark.createDataFrame(rows, SCHEMA), ["pk"])
    compact(spark, path, ["pk"], tombstone_horizon=20)
    state = read_state(spark, path)
    assert state.filter("op = 'DELETE'").count() == 1
    assert state.filter("pk = 3").count() == 1
    assert state.filter("pk = 1").count() == 1
    # single live version after compaction
    m = json.load(open(os.path.join(path, MANIFEST)))
    assert len({v for v in m["buckets"].values()}) == 1


def expected_table(spark, sf_dir):
    state = last_write_wins(dedup_mutations(mutation_events(spark, sf_dir)))
    return state.filter("op <> 'DELETE'")


def test_materialized_stream_equals_batch_state(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    mutation_events(spark, sf_dir).repartition(6).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src)
    )
    q = materialize_stream(stream, table, ckpt, ["pk"])
    q.processAllAvailable()
    q.stop()

    got = active_view(read_state(spark, table)).select(
        "pk", "op", "writetime", "c_acctbal"
    )
    want = expected_table(spark, sf_dir).select("pk", "op", "writetime", "c_acctbal")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # tombstoned keys (pk%7==0 newest is DELETE) must be absent from the view
    assert got.filter(F.col("pk") % 7 == 0).count() == 0


def test_end_to_end_commitlog_source_to_bucket_store(spark, sf_dir, tmp_path):
    """Full engine path: cdc_commitlog custom source (Arrow segment
    replay) -> streaming dedup -> incremental bucket MERGE -> active
    view == the batch-computed converged state. The complete §3.2
    pipeline over the engine's own storage, no generic file source."""
    from cdc_apache_cassandra_spark.operators.dedup import (
        dedup_mutations_stream,
    )
    from cdc_apache_cassandra_spark.sources.commitlog_source import (
        register,
        write_segments,
    )
    from cdc_apache_cassandra_spark.streaming.pipeline import with_event_time

    seg_dir = str(tmp_path / "segments")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    write_segments(mutation_events(spark, sf_dir), seg_dir, n_segments=4)
    register(spark)

    stream = (
        spark.readStream.format("cdc_commitlog").option("path", seg_dir).load()
    )
    deduped = dedup_mutations_stream(with_event_time(stream)).drop("event_time")
    q = materialize_stream(deduped, table, ckpt, ["pk"])
    q.processAllAvailable()
    q.stop()

    got = active_view(read_state(spark, table)).select(
        "pk", "op", "writetime", "c_acctbal"
    )
    want = expected_table(spark, sf_dir).select(
        "pk", "op", "writetime", "c_acctbal"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_compound_stream_with_partition_tombstones(spark, sf_dir, tmp_path):
    """Compound-PK store: bucket on the PARTITION key, reducer retains
    partition-range tombstones; streamed micro-batches converge to the
    direct compound converged state (partition deletes dominate older
    rows; statics converge independently)."""
    from cdc_apache_cassandra_spark.operators.lww import (
        compound_active_view,
        compound_reduce,
    )
    from cdc_apache_cassandra_spark.plans.cdc_deep_queries import (
        _compound_converged,
    )
    from cdc_apache_cassandra_spark.sources.compound_event_source import (
        compound_events,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    ev = (
        compound_events(spark, sf_dir)
        .dropDuplicates(["digest"])
        .drop("node_id", "digest")
    )
    ev.repartition(5).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = materialize_stream(
        stream,
        table,
        ckpt,
        pk_cols=["pk_p", "pk_c"],
        bucket_cols=["pk_p"],
        reducer=compound_reduce,
        kind="compound",
    )
    q.processAllAvailable()
    q.stop()

    got = compound_active_view(read_state(spark, table)).select(
        F.col("pk_p"), F.col("pk_c"), "s_mktsegment",
        "v_totalprice", "v_orderstatus", "writetime",
    )
    want = _compound_converged(
        compound_events(spark, sf_dir)
    ).select(
        F.col("custkey").alias("pk_p"),
        F.col("orderkey").alias("pk_c"),
        F.col("mktsegment").alias("s_mktsegment"),
        F.col("totalprice").alias("v_totalprice"),
        F.col("orderstatus").alias("v_orderstatus"),
        "writetime",
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # partition-deleted partitions (pk_p%13==0, no newer rows) are gone
    assert got.filter((F.col("pk_p") % 13 == 0) & (F.col("writetime") <
        F.lit(1_600_000_000_000_000))).count() == 0


def test_export_snapshot_roundtrip_matches_materialized_oracle(
    spark, sf_dir, tmp_path
):
    """r3 verdict item 7: bucket-store state -> exported standard table
    -> identical rows to the cdc_materialized_state oracle (LWW winners
    minus tombstones), verified through an EXTERNAL reader (DuckDB reads
    the exported parquet directly — no engine-private layout leaks).
    Importing the exported table into a fresh bucket store reproduces
    the same active view (the reverse seam)."""
    import duckdb

    from cdc_apache_cassandra_spark.streaming.materialize import (
        active_view,
        export_snapshot,
        import_state,
        merge_into,
        read_state,
    )

    path, out = str(tmp_path / "state"), str(tmp_path / "export")
    ev = dedup_mutations(mutation_events(spark, sf_dir)).transform(
        lambda df: df.persist()
    )
    for i in range(3):
        merge_into(
            spark, path, ev.filter(F.pmod(F.col("segment"), F.lit(3)) == i),
            ["pk"],
        )
    ev.unpersist()
    export_snapshot(spark, path, out)

    want = {
        (r["pk"], r["writetime"])
        for r in active_view(read_state(spark, path)).collect()
    }
    got_duck = {
        (r[0], r[1])
        for r in duckdb.sql(
            f"SELECT pk, writetime FROM read_parquet('{out}/*.parquet')"
        ).fetchall()
    }
    assert got_duck == want and len(want) > 0
    # no engine-private columns leak into the export
    cols = [
        d[0]
        for d in duckdb.sql(
            f"DESCRIBE SELECT * FROM read_parquet('{out}/*.parquet')"
        ).fetchall()
    ]
    assert not any(c.startswith("__") for c in cols)

    # reverse seam: external table -> fresh bucket store -> same view
    path2 = str(tmp_path / "state2")
    exported = spark.read.parquet(out).drop(
        "op", "writetime", "segment", "position"
    )
    import_state(spark, exported, path2, ["pk"])
    got2 = {
        r["pk"] for r in active_view(read_state(spark, path2)).collect()
    }
    assert got2 == {pk for pk, _ in want}


def test_export_delta_gated_on_capability(spark, sf_dir, tmp_path):
    """export_delta activates only where delta-spark exists (the
    spark-avro contract-test pattern): here it must raise the documented
    ModuleNotFoundError; on a Delta-carrying cluster the same call
    writes a real Delta table."""
    import pytest

    from cdc_apache_cassandra_spark.streaming.materialize import (
        delta_available,
        export_delta,
        merge_into,
    )

    path = str(tmp_path / "state")
    merge_into(
        spark, path,
        dedup_mutations(mutation_events(spark, sf_dir)), ["pk"],
    )
    if delta_available(spark):
        out = str(tmp_path / "delta")
        export_delta(spark, path, out)
        assert spark.read.format("delta").load(out).count() > 0
    else:
        with pytest.raises(ModuleNotFoundError):
            export_delta(spark, path, str(tmp_path / "delta"))


def test_full_compact_preserves_compound_bucket_routing(spark, tmp_path):
    """Code-review r4: the full rewrite must re-bucket on the SAME
    bucket_cols the store was built with (compound stores bucket on the
    partition key) — re-bucketing on the full PK would strand rows where
    later merges and point_read cannot find them, resurrecting deleted
    keys and duplicating updated ones."""
    schema = (
        "op string, pk_p long, pk_c long, writetime long, v string, "
        "segment long, position long"
    )
    path = str(tmp_path / "t")
    os.makedirs(path)
    rows = [("INSERT", i % 4, i, 10, f"v{i}", 0, i) for i in range(32)]
    merge_into(
        spark,
        path,
        spark.createDataFrame(rows, schema),
        ["pk_p", "pk_c"],
        n_buckets=8,
        bucket_cols=["pk_p"],
    )
    compact(
        spark, path, ["pk_p", "pk_c"], tombstone_horizon=5,
        bucket_cols=["pk_p"],
    )
    # post-compact merges must still find the existing rows' buckets
    upd = spark.createDataFrame(
        [("UPDATE", 1, 1, 20, "new", 1, 0), ("DELETE", 2, 2, 20, None, 1, 1)],
        schema,
    )
    merge_into(
        spark, path, upd, ["pk_p", "pk_c"], bucket_cols=["pk_p"]
    )
    view = active_view(read_state(spark, path))
    assert view.count() == 31  # 32 - 1 deleted
    assert view.filter("pk_p = 1 AND pk_c = 1").count() == 1  # no duplicate
    assert view.filter("pk_p = 1 AND pk_c = 1").collect()[0].v == "new"
    assert view.filter("pk_p = 2 AND pk_c = 2").count() == 0  # stayed deleted


def test_merge_into_reducer_emptied_bucket_leaves_manifest_consistent(
    spark, tmp_path
):
    """A reducer may legitimately retain NOTHING for a touched bucket
    (e.g. a GC-style reducer dropping expired tombstones). partitionBy
    writes no directory for an empty bucket, so the manifest must drop
    the bucket instead of pointing at a nonexistent path — otherwise
    every later read_state/point_read fails on the dead pointer."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    b1 = spark.createDataFrame(
        [("INSERT", 1, 10, "a", "x", 0, 0), ("INSERT", 2, 10, "b", "x", 0, 0)],
        SCHEMA,
    )
    merge_into(spark, path, b1, ["pk"])
    with open(os.path.join(path, MANIFEST)) as f:
        m1 = json.load(f)
    # batch 2 touches pk=2's bucket with a reducer that drops everything
    b2 = spark.createDataFrame([("DELETE", 2, 30, None, None, 0, 0)], SCHEMA)
    # kind="lww": the drop-everything reducer is a test device, not a
    # change of read semantics (the kind marker is write-once per store)
    merge_into(
        spark, path, b2, ["pk"],
        reducer=lambda df: df.filter("op = 'NEVER'"), kind="lww",
    )
    with open(os.path.join(path, MANIFEST)) as f:
        m2 = json.load(f)
    assert m2["version"] == m1["version"] + 1
    # pk=2's bucket left the map; pk=1's bucket is untouched and readable
    state = read_state(spark, path)
    assert state is not None
    assert {r.pk for r in state.collect()} == {1}
    from cdc_apache_cassandra_spark.streaming.materialize import version_dir

    for b, ver in m2["buckets"].items():
        assert os.path.isdir(
            os.path.join(path, version_dir(m2, ver), f"__bucket={b}")
        ), f"manifest points at a missing bucket dir: {b}->{ver}"


def test_py_cast_boolean_is_strict():
    """ADVICE r6: bool(value) diverges from the JVM cast (bool('false')
    is True); only real bools and 0/1 ints coerce — anything else raises
    so point_read takes the JVM-routing fallback instead of silently
    routing to the wrong bucket."""
    import pytest
    from pyspark.sql import types as T

    from cdc_apache_cassandra_spark.streaming.materialize import _py_cast

    dt = T.BooleanType()
    assert _py_cast(True, dt) is True
    assert _py_cast(False, dt) is False
    assert _py_cast(1, dt) is True
    assert _py_cast(0, dt) is False
    assert _py_cast(None, dt) is None
    for bad in ("false", "true", "", 2, 1.0):
        with pytest.raises(TypeError):
            _py_cast(bad, dt)


def test_point_read_boolean_key_falls_back_to_jvm(spark, tmp_path):
    """A boolean bucket column with NON-bool literal keys must still
    return the right rows (JVM fallback), and real bool keys route
    driver-side."""
    import os

    from cdc_apache_cassandra_spark.streaming.materialize import (
        merge_into,
        point_read,
    )

    schema = (
        "op string, flag boolean, writetime long, v string, "
        "segment long, position long"
    )
    path = str(tmp_path / "bstore")
    os.makedirs(path)
    rows = [
        ("INSERT", True, 10, "yes", 0, 0),
        ("INSERT", False, 10, "no", 0, 1),
        ("INSERT", None, 10, "null", 0, 2),
    ]
    merge_into(spark, path, spark.createDataFrame(rows, schema), ["flag"], n_buckets=4)
    got = point_read(spark, path, ["flag"], [True])
    assert [r.v for r in got.collect()] == ["yes"]
    got_f = point_read(spark, path, ["flag"], [False])
    assert [r.v for r in got_f.collect()] == ["no"]


def test_core_sized_writes_keep_one_file_per_bucket(spark, tmp_path, monkeypatch):
    """Bucket-layout writes run at most one task per core, however many
    buckets they touch. Hash partitioning on ``__bucket`` keeps each
    bucket in one task, so after a merge touching more buckets than
    cores, a full compact and a staged export, every bucket dir still
    holds one active file and at most one tombs file, and every staged
    export bucket one file — the layout linking and commit stats rely on."""
    import uuid

    from cdc_apache_cassandra_spark.streaming import delta_log
    from cdc_apache_cassandra_spark.streaming import materialize as mat

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    n_buckets = 32
    tasks = []  # write-stage task count of every staged write

    def in_job_group(fn):
        # the last job of the group is the write; its last stage writes
        def run(*args, **kwargs):
            group = f"layout-{uuid.uuid4().hex[:8]}"
            sc.setJobGroup(group, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                tracker = sc.statusTracker()
                job = max(tracker.getJobIdsForGroup(group))
                stage = max(tracker.getJobInfo(job).stageIds)
                tasks.append(tracker.getStageInfo(stage).numTasks)

        return run

    staged = {}  # export bucket -> the parquet files its staging dir holds
    orig_staged_file = delta_log._staged_file

    def staged_file(staging, bucket):
        bdir = os.path.join(staging, f"__bucket={bucket}")
        staged[bucket] = [n for n in os.listdir(bdir) if n.endswith(".parquet")]
        return orig_staged_file(staging, bucket)

    monkeypatch.setattr(mat, "_write_bucket_split", in_job_group(mat._write_bucket_split))
    monkeypatch.setattr(delta_log, "_stage_buckets", in_job_group(delta_log._stage_buckets))
    monkeypatch.setattr(delta_log, "_staged_file", staged_file)

    keys = spark.range(640).withColumnRenamed("id", "pk")
    bucket_of = dict(
        keys.select("pk", mat._bucket_expr(["pk"], n_buckets)).collect()
    )
    chosen = sorted(set(bucket_of.values()))[:24]
    base = [("INSERT", pk, 1, f"v{pk}", "x", 0, pk) for pk in range(640)]
    update = []
    for pk, b in bucket_of.items():
        if b not in chosen:
            continue
        if pk % 5 == 0:
            update.append(("DELETE", pk, 2, None, None, 1, pk))
        elif pk % 5 == 1:
            update.append(("UPDATE", pk, 2, f"u{pk}", "y", 1, pk))
        elif pk % 5 == 2:
            update.append(("INSERT", pk, 0, "stale", "z", 1, pk))  # loses
    lww = {}
    for r in base + update:
        if r[1] not in lww or r[2] > lww[r[1]][2]:
            lww[r[1]] = r
    want = sorted((r[0], r[1], r[2], r[3]) for r in lww.values())
    live = [r for r in want if r[0] != "DELETE"]

    def check_layout(path):
        m = json.load(open(os.path.join(path, MANIFEST)))
        assert len(m["buckets"]) == n_buckets
        for b, v in m["buckets"].items():
            names = os.listdir(os.path.join(path, mat.version_dir(m, v), f"__bucket={b}"))
            assert len([n for n in names if n.startswith("active-")]) == 1, names
            assert len([n for n in names if n.startswith("tombs-")]) <= 1, names
        got = read_state(spark, path).select("op", "pk", "writetime", "v")
        assert sorted(map(tuple, got.collect())) == want

    path = str(tmp_path / "t")
    os.makedirs(path)
    merge_into(spark, path, spark.createDataFrame(base, SCHEMA), ["pk"], n_buckets=n_buckets)
    merge_into(spark, path, spark.createDataFrame(update, SCHEMA), ["pk"])
    check_layout(path)
    compact(spark, path, ["pk"])
    check_layout(path)

    out = str(tmp_path / "delta")
    delta_log.delta_export(
        spark, path, out, active_view_fn=lambda df: df.filter(F.col("op") != "DELETE")
    )
    # base merge (32 buckets), update (24), compact (32), export (32)
    assert len(tasks) == 4 and all(0 < t <= cores for t in tasks), tasks
    assert len(staged) == n_buckets
    assert all(len(names) == 1 for names in staged.values()), staged
    got = delta_log.read_delta(spark, out).select("op", "pk", "writetime", "v")
    assert sorted(map(tuple, got.collect())) == live
