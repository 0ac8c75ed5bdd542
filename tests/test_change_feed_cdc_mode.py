"""readChangeFeed mode of the cdc_delta_changes streaming source
(sources/change_feed_source.py): the log's own change-data files
consumed per version — stream == batch delta_changes_cdf (one planner,
plan_cdf, and one file-level reader), cross-commit packing at most one
task per core, snapshot bootstrap from the default start,
column-mapping composition, delta-spark refusal parity.
"""

import contextlib
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cdc_apache_cassandra_spark.sources.change_feed_source import register
from cdc_apache_cassandra_spark.streaming import foreign_delta as fx
from cdc_apache_cassandra_spark.streaming.delta_log import delta_changes_cdf


def _cdf_table(tmp_path):
    """The batch-test fixture shape: v0 inserts (pk 1,2); v1 updates
    pk1 via rewrite + authoritative cdc file; v2 pure-delete of the
    rewrite file (synthesized deletes)."""
    root = str(tmp_path / "cdf")
    os.makedirs(root)
    t0 = pa.table({"pk": [1, 2], "v": ["a", "b"]})
    add0 = fx.write_data_file(root, "part-000.parquet", t0, stats_cols=["pk"])
    meta = fx.metadata_action(
        [fx.field("pk", "long"), fx.field("v", "string")],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    fx.write_commit(root, 0, [fx.protocol_action(1, 4), meta, add0])
    t1 = pa.table({"pk": [1, 2], "v": ["A2", "b"]})
    add1 = fx.write_data_file(root, "part-001.parquet", t1, stats_cols=["pk"])
    os.makedirs(os.path.join(root, "_change_data"))
    cdc_t = pa.table({
        "pk": [1, 1],
        "v": ["a", "A2"],
        "_change_type": ["update_preimage", "update_postimage"],
    })
    cdc_path = os.path.join(root, "_change_data", "cdc-000.parquet")
    pq.write_table(cdc_t, cdc_path)
    fx.write_commit(root, 1, [
        fx.remove_action(add0),
        add1,
        {"cdc": {"path": "_change_data/cdc-000.parquet",
                 "partitionValues": {},
                 "size": os.path.getsize(cdc_path), "dataChange": False}},
    ])
    fx.write_commit(root, 2, [fx.remove_action(add1)])
    return root


def _tail(spark, table, **opts):
    register(spark)
    name = "cdfm_" + uuid.uuid4().hex[:10]
    reader = (
        spark.readStream.format("cdc_delta_changes")
        .option("path", table)
        .option("readChangeFeed", "true")
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = reader.load().writeStream.format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def test_stream_matches_batch_cdf(spark, tmp_path):
    """The stream's readChangeFeed output == batch delta_changes_cdf
    over the same window, including timestamps — and a multi-version
    micro-batch emits every commit's OWN rows (per-version, never the
    pk-diff net-effect collapse)."""
    root = _cdf_table(tmp_path)
    got = _tail(spark, root, startingVersion=0)  # one batch covers v1..v2
    assert set(got.columns) == {
        "pk", "v", "_change_type", "_commit_version", "_commit_timestamp"}
    want = delta_changes_cdf(spark, root, 1, 2).select(got.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # the cdc-file update's pre/post rows AND v2's synthesized deletes
    # are both present — a pk-diff over the same window would have
    # collapsed pk1's update+delete into just a delete
    assert sorted(
        (r._commit_version, r._change_type) for r in got.collect()
    ) == [
        (1, "update_postimage"), (1, "update_preimage"),
        (2, "delete"), (2, "delete"),
    ]


def test_per_version_pacing_and_snapshot_bootstrap(spark, tmp_path):
    """Default start (-1) bootstraps with the snapshot AT the first
    batch's end version as inserts, then tails per version when
    paced — maxVersionsPerBatch=1 makes the bootstrap window (-1,0],
    so the whole feed replays exactly."""
    root = _cdf_table(tmp_path)
    got = _tail(spark, root, maxVersionsPerBatch=1)
    rows = sorted((r._commit_version, r.pk, r._change_type, r.v)
                  for r in got.collect())
    assert rows == [
        (0, 1, "insert", "a"),
        (0, 2, "insert", "b"),
        (1, 1, "update_postimage", "A2"),
        (1, 1, "update_preimage", "a"),
        (2, 1, "delete", "A2"),
        (2, 2, "delete", "b"),
    ]
    assert got.filter("_commit_timestamp IS NULL").count() == 0


def test_unpaced_bootstrap_serves_head_snapshot_only(spark, tmp_path):
    """An unpaced default start covers (-1, head] in ONE window: the
    bootstrap serves the CURRENT snapshot as inserts without reading
    any pre-head commit JSON (cleaned-history safe). Here the head
    state is empty (v2 removed the last file), so the feed is empty —
    deletes before the stream started are not replayed."""
    root = _cdf_table(tmp_path)
    assert _tail(spark, root).count() == 0


def test_cdc_mode_mapped_table(spark, tmp_path):
    """cdc files of a name-mapped table store data under PHYSICAL
    names but ``_change_type`` under its literal name — the stream
    grafts logical names back and passes the stored change type
    through, as the batch ``delta_changes_cdf`` does (one reader)."""
    root = str(tmp_path / "mapped")
    os.makedirs(root)
    t0 = pa.table({"col-pk77": [1, 2], "col-v88": ["a", "b"]})
    add0 = fx.write_data_file(root, "part-000.parquet", t0,
                              stats_cols=["col-pk77"])
    meta = fx.metadata_action(
        [
            fx.field("pk", "long", physical="col-pk77", fid=1),
            fx.field("v", "string", physical="col-v88", fid=2),
        ],
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": "2",
            "delta.enableChangeDataFeed": "true",
        },
    )
    fx.write_commit(root, 0, [fx.protocol_action(2, 5), meta, add0])
    os.makedirs(os.path.join(root, "_change_data"))
    cdc_t = pa.table({
        "col-pk77": [2, 2],
        "col-v88": ["b", "B2"],
        "_change_type": ["update_preimage", "update_postimage"],
    })
    cdc_path = os.path.join(root, "_change_data", "cdc-000.parquet")
    pq.write_table(cdc_t, cdc_path)
    t1 = pa.table({"col-pk77": [1, 2], "col-v88": ["a", "B2"]})
    add1 = fx.write_data_file(root, "part-001.parquet", t1,
                              stats_cols=["col-pk77"])
    fx.write_commit(root, 1, [
        fx.remove_action(add0),
        add1,
        {"cdc": {"path": "_change_data/cdc-000.parquet",
                 "partitionValues": {},
                 "size": os.path.getsize(cdc_path), "dataChange": False}},
    ])
    got = _tail(spark, root, startingVersion=0)
    assert sorted((r.pk, r._change_type, r.v) for r in got.collect()) == [
        (2, "update_postimage", "B2"), (2, "update_preimage", "b")]


def test_cdc_mode_refuses_without_cdf_config(spark, tmp_path):
    """readChangeFeed on a table without delta.enableChangeDataFeed
    fails the query loudly at startup — change data was never
    recorded (delta-spark's CDF stream refuses the same way)."""
    root = str(tmp_path / "nocdf")
    os.makedirs(root)
    t0 = pa.table({"pk": [1], "v": ["a"]})
    add0 = fx.write_data_file(root, "part-000.parquet", t0, stats_cols=["pk"])
    meta = fx.metadata_action(
        [fx.field("pk", "long"), fx.field("v", "string")])
    fx.write_commit(root, 0, [fx.protocol_action(1, 2), meta, add0])
    register(spark)
    q = (
        spark.readStream.format("cdc_delta_changes")
        .option("path", root)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("cdfm_" + uuid.uuid4().hex[:10])
        .start()
    )
    with pytest.raises(Exception, match="enableChangeDataFeed"):
        q.processAllAvailable()
    with contextlib.suppress(Exception):
        q.stop()


def test_pk_cols_still_required_without_cdc_mode(spark, tmp_path):
    """The pk-diff mode's pkCols contract is unchanged: omitting both
    pkCols and readChangeFeed refuses with the pkCols message."""
    root = _cdf_table(tmp_path)
    register(spark)
    q = (
        spark.readStream.format("cdc_delta_changes")
        .option("path", root)
        .load()
        .writeStream.format("memory")
        .queryName("cdfm_" + uuid.uuid4().hex[:10])
        .start()
    )
    with pytest.raises(Exception, match="pkCols"):
        q.processAllAvailable()
    with contextlib.suppress(Exception):
        q.stop()


def test_commit_timestamps_resume_matches_full(spark, tmp_path):
    """commit_timestamps(resume=...) — the stream's incremental
    form — must equal the full recompute exactly (monotonization is
    prefix-stable)."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        commit_timestamps,
    )

    root = _cdf_table(tmp_path)
    full = commit_timestamps(root)
    for cut in range(len(full)):
        after_v, floor = full[cut]
        ext = commit_timestamps(root, resume=(after_v, floor))
        assert full[cut + 1:] == ext
    assert commit_timestamps(root, resume=full[-1]) == []


def test_oversized_file_splits_by_row_groups(spark, tmp_path):
    """A cdc-mode file above maxBytesPerPartition splits WITHIN the
    file into per-row-group partitions — the union must be identical
    to the unsplit read (and the planner must actually split)."""
    import pyarrow.parquet as pq2

    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        ChangeFeedStreamReader,
    )
    from pyspark.sql import types as T

    root = str(tmp_path / "big")
    os.makedirs(root)
    t0 = pa.table({"pk": list(range(4000)),
                   "v": [f"v{i}" for i in range(4000)]})
    # many small row groups so the split has units to cut on
    abs_path = os.path.join(root, "part-000.parquet")
    pq2.write_table(t0, abs_path, row_group_size=500)
    add0 = {"add": {"path": "part-000.parquet", "partitionValues": {},
                    "size": os.path.getsize(abs_path),
                    "modificationTime": 1, "dataChange": True}}
    meta = fx.metadata_action(
        [fx.field("pk", "long"), fx.field("v", "string")],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    fx.write_commit(root, 0, [fx.protocol_action(1, 4), meta, add0])
    schema = T.StructType([
        T.StructField("pk", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("_change_type", T.StringType()),
        T.StructField("_commit_version", T.LongType()),
        T.StructField("_commit_timestamp", T.TimestampType()),
    ])
    reader = ChangeFeedStreamReader(
        {"path": root, "readchangefeed": "true",
         "maxbytesperpartition": "4000"},
        schema,
    )
    parts = reader.partitions({"version": -1}, {"version": 0})
    assert len(parts) > 1  # the single file split into row-group chunks
    rows = []
    for p in parts:
        for batch in (reader.read(p) or []):
            rows.extend(batch.to_pylist())
    assert sorted(r["pk"] for r in rows) == list(range(4000))
    assert set(r["_change_type"] for r in rows) == {"insert"}


def test_cdc_stream_cleaned_window_fails_with_restart_instruction(
    spark, tmp_path
):
    """A readChangeFeed window that needs checkpoint-cleaned commit
    JSON fails with the restart-fresh instruction (a stream cannot
    widen its own offset window), not a bare FileNotFoundError."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_log_cleanup,
        write_checkpoint,
    )

    root = _cdf_table(tmp_path)
    write_checkpoint(root, 2)
    delta_log_cleanup(root)
    assert not os.path.exists(
        os.path.join(root, "_delta_log", f"{1:020d}.json"))
    register(spark)
    q = (
        spark.readStream.format("cdc_delta_changes")
        .option("path", root)
        .option("readChangeFeed", "true")
        .option("startingVersion", 0)
        .load()
        .writeStream.format("memory")
        .queryName("cdfm_" + uuid.uuid4().hex[:10])
        .start()
    )
    with pytest.raises(Exception, match="retention"):
        q.processAllAvailable()
    with contextlib.suppress(Exception):
        q.stop()
    # the documented recovery works: a fresh default start bootstraps
    # from the current snapshot (empty here — v2 dropped the file)
    assert _tail(spark, root).count() == 0


def test_cdc_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp in readChangeFeed mode rides the same
    monotonized resolution as everything else: a start at v1's commit
    time emits v1's and v2's changes, inclusively."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        commit_timestamps,
    )

    root = _cdf_table(tmp_path)
    ts = dict(commit_timestamps(root))
    got = _tail(spark, root, startingTimestamp=ts[1])
    want = delta_changes_cdf(spark, root, 1, 2).select(got.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect()))


def test_cdf_window_packs_commits_into_one_task_per_core(spark, tmp_path):
    """A window of several export commits on a 16-bucket CDF table
    reads in at most one task per core: change-data files of different
    commits share a partition, yet every row keeps its own commit's
    ``_commit_version`` and ``_commit_timestamp`` — the window equals
    the union of its per-version reads, and a stream covering the
    window in one micro-batch returns the same rows."""
    from pyspark.sql import functions as F

    from cdc_apache_cassandra_spark.session import default_parallelism
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _cdf_window_plan,
        commit_timestamps,
        delta_export,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    schema = (
        "op string, pk long, writetime long, v string, segment long, "
        "position long"
    )
    store, table = str(tmp_path / "store"), str(tmp_path / "table")
    os.makedirs(store)
    batches = [[("INSERT", k, 10, f"v{k}", 0, k) for k in range(48)]]
    for b in range(1, 6):
        batches.append(
            [("UPDATE", k, 10 + b, f"u{b}_{k}", b, k)
             for k in range(b % 3, 48, 3)]
            + [("DELETE", 40 + b, 10 + b, None, b, 100)]
            + [("INSERT", 100 + b, 10 + b, f"n{b}", b, 101)]
        )
    for rows in batches:
        merge_into(spark, store, spark.createDataFrame(rows, schema), ["pk"],
                   n_buckets=16)
        delta_export(spark, store, table, change_data_feed=True,
                     cdf_pk_cols=["pk"])
    last = len(batches) - 1
    cores = default_parallelism()
    # the window holds more change files than there are cores, so the
    # task bound below is only met by packing across commits
    assert sum(len(f) for _v, _k, f in _cdf_window_plan(table, 1, last)) > cores

    def rows(df):
        return sorted(map(tuple, df.collect()))

    sc = spark.sparkContext
    group = f"cdf-window-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "delta_changes_cdf")
    try:
        got = rows(delta_changes_cdf(spark, table, 1, last))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
    ]
    assert tasks and max(tasks) <= cores

    per_version = []
    for v in range(1, last + 1):
        one = delta_changes_cdf(spark, table, v, v)
        assert {r._commit_version for r in one.collect()} == {v}
        per_version += rows(one)
    assert got == sorted(per_version)
    ts = dict(commit_timestamps(table))
    stamps = delta_changes_cdf(spark, table, 1, last).select(
        "_commit_version", F.unix_millis("_commit_timestamp")
    ).distinct().collect()
    assert sorted(map(tuple, stamps)) == [
        (v, ts[v]) for v in range(1, last + 1)
    ]

    stream = _tail(spark, table, startingVersion=0,
                   maxVersionsPerBatch=last)
    assert rows(stream.select(*delta_changes_cdf(
        spark, table, 1, last).columns)) == got
