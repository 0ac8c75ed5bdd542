"""cdc_delta_changes streaming source (sources/change_feed_source.py):
log versions as offsets, per-bucket distributed classification, rate
limiting, durable consumer cursor, exactly-once resume."""

import json
import os
import uuid

import pytest

from pyspark.sql import functions as F

from cdc_apache_cassandra_spark.sources.change_feed_source import (
    ChangeFeedStreamReader,
    register,
)
from cdc_apache_cassandra_spark.streaming.delta_log import (
    consumer_offset,
    delta_changes,
    delta_export,
    delta_log_replay,
    read_delta,
)
from cdc_apache_cassandra_spark.streaming.materialize import merge_into

SCHEMA = (
    "op string, pk long, writetime long, v string, segment long, position long"
)

B0 = [("INSERT", i, 10, f"v{i}", 0, i) for i in range(8)]
B1 = [("UPDATE", 1, 20, "u1", 1, 0), ("DELETE", 3, 20, None, 1, 1)]
B2 = [("INSERT", 9, 30, "nine", 2, 0), ("UPDATE", 1, 30, "u1b", 2, 1)]


def _build(spark, tmp_path, batches=(B0, B1, B2), n_buckets=4):
    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store, exist_ok=True)
    for b in batches:
        merge_into(spark, store, spark.createDataFrame(b, SCHEMA), ["pk"], n_buckets=n_buckets)
        delta_export(spark, store, table)
    return store, table


def _tail(spark, table, wait_cursor=None, **opts):
    register(spark)
    name = "cdf_" + uuid.uuid4().hex[:10]
    reader = (
        spark.readStream.format("cdc_delta_changes")
        .option("path", table)
        .option("pkCols", opts.pop("pkCols", "pk"))
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = reader.load().writeStream.format("memory").queryName(name).start()
    q.processAllAvailable()
    if wait_cursor is not None:
        # source.commit() fires on a LATER engine cycle than the batch it
        # acknowledges (the cursor is a retention guard, at-least-once by
        # design) — give the idle loop a moment to deliver it
        import time

        app, version = wait_cursor
        for _ in range(100):
            if consumer_offset(table, app) >= version:
                break
            time.sleep(0.1)
    q.stop()
    return spark.table(name)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_per_version_tail_matches_batch_delta_changes(spark, tmp_path):
    _, table = _build(spark, tmp_path)
    got = _tail(spark, table, startingVersion=0, maxVersionsPerBatch=1)
    want = delta_changes(spark, table, 0, 1, ["pk"]).unionByName(
        delta_changes(spark, table, 1, 2, ["pk"])
    )
    assert _rows(got) == _rows(want.select(*got.columns))
    # pacing produced one batch per version
    assert sorted({r["_commit_version"] for r in got.collect()}) == [1, 2]


def test_initial_snapshot_mode(spark, tmp_path):
    """startingVersion=-1: the v0 snapshot arrives as inserts at
    _commit_version 0, then the tail."""
    _, table = _build(spark, tmp_path)
    got = _tail(spark, table, startingVersion=-1, maxVersionsPerBatch=1)
    v0 = got.filter("_commit_version = 0")
    assert v0.count() == 8
    assert {r["_change_type"] for r in v0.collect()} == {"insert"}
    snap = read_delta(spark, table, version=0)
    assert sorted(r["pk"] for r in v0.collect()) == sorted(
        r["pk"] for r in snap.collect()
    )


def test_resume_after_restart_no_duplicates(spark, tmp_path):
    """The gate requirement: stop after consuming, add commits, restart
    with the same checkpoint — already-consumed versions are never
    re-emitted, new ones arrive exactly once."""
    store, table = _build(spark, tmp_path)
    register(spark)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.format("cdc_delta_changes")
            .option("path", table)
            .option("pkCols", "pk")
            .option("startingVersion", 0)
            .option("maxVersionsPerBatch", 1)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()
    first = spark.read.parquet(out)
    n_first = first.count()
    assert sorted({r["_commit_version"] for r in first.collect()}) == [1, 2]

    for b in (
        [("UPDATE", 2, 40, "u2", 3, 0)],
        [("DELETE", 4, 50, None, 4, 0)],
    ):
        merge_into(spark, store, spark.createDataFrame(b, SCHEMA), ["pk"], n_buckets=4)
        delta_export(spark, store, table)
    run()
    both = spark.read.parquet(out)
    # no duplicates of the first run's rows...
    assert both.filter(F.col("_commit_version") <= 2).count() == n_first
    # ...and the two new versions arrived exactly once each
    want = delta_changes(spark, table, 2, 3, ["pk"]).unionByName(
        delta_changes(spark, table, 3, 4, ["pk"])
    )
    got_new = both.filter(F.col("_commit_version") > 2)
    assert _rows(got_new) == _rows(want.select(*got_new.columns))


def test_consumer_cursor_recorded_and_no_self_feed(spark, tmp_path):
    """consumerId records the consumed-through version IN the log (a
    txn-only commit), and the cursor commit itself never re-triggers
    work: a second tail over the unchanged table emits nothing and
    leaves the log version alone."""
    _, table = _build(spark, tmp_path)
    got = _tail(spark, table, startingVersion=0, consumerId="job-a",
                maxVersionsPerBatch=1, wait_cursor=("job-a", 2))
    assert got.count() > 0
    assert consumer_offset(table, "job-a") == 2  # consumed through v2
    # log grew ONLY by cursor txn commits (data versions 0..2 + cursors),
    # and the cursor never chased its own commits (self-feed guard)
    last1, files1, _ = delta_log_replay(table)
    assert last1 > 2  # cursor commits appended...
    got2 = _tail(spark, table, startingVersion=0, consumerId="job-b",
                 maxVersionsPerBatch=1, wait_cursor=("job-b", 2))
    # job-b re-reads the data versions, but the cursor txn commits are
    # data-free and yield no rows
    assert sorted({r["_commit_version"] for r in got2.collect()}) == [1, 2]
    assert consumer_offset(table, "job-b") == 2  # lastdata, not log tail
    last2, files2, _ = delta_log_replay(table)
    assert files2 == files1  # cursor commits never touch the file set


def test_nullable_first_pk_classifies_correctly(spark, tmp_path):
    """A key whose FIRST pk column is null must classify as an update
    pair across versions (explicit presence markers in the partition
    merge — pandas ArrowDtype outer merge matches null keys)."""
    schema = (
        "op string, k1 long, k2 long, writetime long, v string, "
        "segment long, position long"
    )
    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store)
    b1 = [
        ("INSERT", None, 1, 10, "null-v1", 0, 0),
        ("INSERT", 5, 1, 10, "five", 0, 1),
    ]
    b2 = [("INSERT", None, 1, 20, "null-v2", 1, 0)]
    for b in (b1, b2):
        merge_into(spark, store, spark.createDataFrame(b, schema), ["k1", "k2"], n_buckets=2)
        delta_export(spark, store, table)
    got = _tail(spark, table, pkCols="k1,k2", startingVersion=0)
    rows = {(r["_change_type"], r["k1"], r["v"]) for r in got.collect()}
    assert rows == {
        ("update_preimage", None, "null-v1"),
        ("update_postimage", None, "null-v2"),
    }


def test_untagged_foreign_files_fall_back_to_one_partition(spark, tmp_path):
    """Files without the exporter's bucket tags (a foreign writer) can
    pair with any key — the planner must put ALL of them in one
    partition or cross-file updates would misclassify as
    insert+delete."""
    _, table = _build(spark, tmp_path, batches=(B0, B1))
    # strip the bucket tags from every commit, as a foreign writer would
    log_dir = os.path.join(table, "_delta_log")
    for name in os.listdir(log_dir):
        if not name.endswith(".json"):
            continue
        p = os.path.join(log_dir, name)
        actions = [json.loads(line) for line in open(p)]
        for a in actions:
            if "add" in a:
                a["add"].pop("tags", None)
        with open(p, "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")

    from pyspark.sql import types as T

    fields = [
        T.StructField("op", T.StringType()),
        T.StructField("pk", T.LongType()),
        T.StructField("writetime", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("segment", T.LongType()),
        T.StructField("position", T.LongType()),
        T.StructField("_change_type", T.StringType()),
        T.StructField("_commit_version", T.LongType()),
    ]
    r = ChangeFeedStreamReader(
        {"path": table, "pkcols": "pk"}, T.StructType(fields)
    )
    parts = r.partitions({"version": 0}, {"version": 1})
    assert len(parts) == 1  # every untagged file lands together
    # and the single-partition classification still matches the batch read
    got = _tail(spark, table, startingVersion=0)
    want = delta_changes(spark, table, 0, 1, ["pk"])
    assert _rows(got) == _rows(want.select(*got.columns))


def test_stream_tails_uri_table_root(spark, tmp_path):
    """The source reads a URI table root (file:// here; the same
    pyarrow.fs path an object-store mount takes): offsets, partitions,
    and per-bucket classification all through the URI — identical rows
    to the local tail. (file:// cursor commits normalize to the local
    log; non-file remote roots skip cursor recording via the
    NotImplementedError tolerance in commit().)"""
    _, table = _build(spark, tmp_path)
    uri = f"file://{table}"
    got = _tail(spark, uri, startingVersion=0, maxVersionsPerBatch=1,
                consumerId="uri-job")
    want = delta_changes(spark, table, 0, 1, ["pk"]).unionByName(
        delta_changes(spark, table, 1, 2, ["pk"])
    )
    assert _rows(got) == _rows(want.select(*got.columns))


def test_unprimed_offer_uncapped_when_cursor_exists(spark, tmp_path):
    """ADVICE r6: with a recorded consumer cursor a checkpoint may exist
    AHEAD of the pacing base; a capped unprimed offer could then sit
    below Spark's committed offset and regress the offset log. With a
    cursor present, the first unprimed latestOffset must be UNCAPPED
    (one catch-up batch); a genuinely fresh run (no cursor) still paces
    from startingVersion."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        record_consumer_offset,
    )

    _, table = _build(spark, tmp_path)  # versions 0..2
    last, _, _ = delta_log_replay(table)

    # fresh run, no cursor: capped first offer (pacing preserved)
    fresh = ChangeFeedStreamReader(
        {"path": table, "pkcols": "pk", "startingversion": "0",
         "maxversionsperbatch": "1"},
        read_delta(spark, table).schema,
    )
    assert fresh.latestOffset() == {"version": 1}

    # recorded cursor: first unprimed offer jumps to the log tail
    record_consumer_offset(table, "job-r", 1)
    resumed = ChangeFeedStreamReader(
        {"path": table, "pkcols": "pk", "startingversion": "0",
         "maxversionsperbatch": "1", "consumerid": "job-r"},
        read_delta(spark, table).schema,
    )
    first = resumed.latestOffset()
    assert first["version"] >= last  # uncapped catch-up
    # after priming (partitions replay), pacing resumes
    resumed.partitions({"version": 0}, {"version": 1})
    assert resumed.latestOffset() == {"version": 2}


def test_mid_stream_ddl_stops_loudly_and_restart_recovers(spark, tmp_path):
    """VERDICT r6 'What's wrong' #1: a live stream crossing an ALTER-ADD
    export must FAIL with a restart instruction, never silently emit
    rows without the new column; a restarted stream (same checkpoint)
    re-pins the widened schema and delivers the DDL version's changes
    with the new column — no rows lost."""
    import pyspark.errors

    store, table = _build(spark, tmp_path)  # versions 0..2, schema A
    register(spark)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.format("cdc_delta_changes")
            .option("path", table)
            .option("pkCols", "pk")
            .option("startingVersion", 0)
            .option("maxVersionsPerBatch", 1)
            .load()
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .option("mergeSchema", "true")
            .start()
        )

    q = start()
    q.processAllAvailable()  # consumes through v2 under schema A

    # mid-stream DDL: a batch carrying a NEW column widens the export
    wide_schema = SCHEMA + ", w string"
    b3 = [("UPDATE", 2, 40, "u2", 3, 0, "wide")]
    merge_into(spark, store, spark.createDataFrame(b3, wide_schema), ["pk"], n_buckets=4)
    delta_export(spark, store, table)

    with pytest.raises(Exception) as exc:
        q.processAllAvailable()
    assert "schema" in str(exc.value) and "restart" in str(exc.value)
    q.stop()

    first = spark.read.parquet(out)
    assert "w" not in first.columns  # nothing silently projected
    consumed = {r["_commit_version"] for r in first.collect()}
    assert consumed == {1, 2}  # the DDL version was NOT half-emitted

    # restart: new query pins schema B, resumes from the checkpoint
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    both = spark.read.option("mergeSchema", "true").parquet(out)
    assert "w" in both.columns
    new_rows = both.filter(F.col("_commit_version") == 3)
    want = delta_changes(spark, table, 2, 3, ["pk"])
    assert _rows(new_rows.select(*want.columns)) == _rows(want)
    # and the old versions were not re-emitted
    assert both.filter(F.col("_commit_version") <= 2).count() == first.count()


def test_oversized_untagged_group_splits_by_key_range(spark, tmp_path):
    """VERDICT r6 item 3 + r7 item 8: an untagged (foreign) table
    collapses to one GROUP, but over maxBytesPerPartition it must
    split — by key RANGE when the adds carry numeric stats — into
    sub-partitions whose concatenated output is identical to the
    unsplit classification."""
    import glob

    import pyarrow as pa

    _, table = _build(spark, tmp_path)
    # foreign-writer shape: strip the exporter's bucket tags everywhere
    for f in glob.glob(os.path.join(table, "_delta_log", "*.json")):
        lines = []
        for line in open(f):
            if not line.strip():
                continue
            a = json.loads(line)
            if "add" in a:
                a["add"].pop("tags", None)
            lines.append(json.dumps(a))
        open(f, "w").write("\n".join(lines) + "\n")

    schema = read_delta(spark, table).schema
    from pyspark.sql import types as T

    full = T.StructType(
        list(schema.fields)
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
        ]
    )

    def run(opts):
        r = ChangeFeedStreamReader(
            {"path": table, "pkcols": "pk", "startingversion": "0", **opts},
            full,
        )
        parts = r.partitions({"version": 0}, {"version": 2})
        batches = [b for p in parts for b in r.read(p)]
        rows = sorted(
            tuple(row.values())
            for b in batches
            for row in b.to_pylist()
        )
        return parts, rows

    parts1, rows1 = run({})  # default threshold: one partition
    assert len(parts1) == 1 and parts1[0].split_count == 1
    assert parts1[0].key_range is None
    # threshold below the group's bytes -> key-RANGE splits (the adds
    # carry numeric pk stats): contiguous [None, ...) .. [.., None)
    # cover, each side pruned to the files overlapping its range
    partsN, rowsN = run({"maxbytesperpartition": "4000"})
    assert 1 < len(partsN) <= 64
    bounds = [p.key_range for p in partsN]
    assert all(b is not None for b in bounds)
    assert bounds[0][0] is None and bounds[-1][1] is None
    assert all(bounds[i][1] == bounds[i + 1][0] for i in range(len(bounds) - 1))
    assert rowsN == rows1  # byte-identical union
    # and the split output still matches the batch CDF oracle
    want = delta_changes(spark, table, 0, 2, ["pk"])
    cols = [f.name for f in full.fields]
    want_rows = sorted(tuple(r[c] for c in cols) for r in want.collect())
    assert rowsN == want_rows


def test_historical_schema_narrowing_does_not_wedge(spark, tmp_path):
    """Review fix (r7): a column added and later DROPPED (foreign
    writer) must not wedge the stream — a restart pins the CURRENT
    (post-drop) schema, and ranges ending at or before the pin read
    under Delta's rule (end-schema wins, dropped column omitted)
    instead of raising forever. Only DDL AFTER the pin stops the
    stream."""
    store, table = _build(spark, tmp_path)  # v0..v2, schema A
    # v3: ALTER-ADD w (schema B)
    wide = SCHEMA + ", w string"
    merge_into(
        spark, store,
        spark.createDataFrame([("UPDATE", 2, 40, "u2", 3, 0, "wide")], wide),
        ["pk"], n_buckets=4,
    )
    delta_export(spark, store, table)
    # v4: a FOREIGN writer narrows metaData back to schema A (drop w)
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _replay,
        _write_commit,
    )

    st = _replay(table)
    assert st.last == 3
    meta = dict(st.meta)
    fields = json.loads(meta["schemaString"])
    fields["fields"] = [f for f in fields["fields"] if f["name"] != "w"]
    meta["schemaString"] = json.dumps(fields)
    _write_commit(table, 4, [
        {"metaData": meta},
        {"commitInfo": {"timestamp": 1, "operation": "DROP COLUMN"}},
    ])

    # a stream pinned NOW (post-drop) replays history 0..4 without
    # wedging: the v3 range's wider metaData is historical
    got = _tail(spark, table, startingVersion=0, maxVersionsPerBatch=1)
    assert "w" not in got.columns
    assert sorted({r["_commit_version"] for r in got.collect()}) == [1, 2, 3]
    v3 = got.filter("_commit_version = 3")
    assert {(r["pk"], r["_change_type"], r["v"]) for r in v3.collect()} == {
        (2, "update_preimage", "v2"),
        (2, "update_postimage", "u2"),
    }


def test_mid_stream_drop_column_stops_loudly(spark, tmp_path):
    """ADVICE r7: a mid-stream DROP COLUMN must stop the stream as
    loudly as an ADD — post-DDL files would otherwise read the dropped
    column as typed nulls and emit value→null update pairs for every
    changed row, diverging from Delta CDF (which fails the stream on
    any schema change)."""
    store, table = _build(spark, tmp_path)  # v0..v2, schema A
    register(spark)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.format("cdc_delta_changes")
            .option("path", table)
            .option("pkCols", "pk")
            .option("startingVersion", 0)
            .option("maxVersionsPerBatch", 1)
            .load()
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()  # consumes through v2 under schema A

    # v3: a foreign writer DROPS column v (narrower metaData + data)
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _replay,
        _write_commit,
    )

    st = _replay(table)
    meta = dict(st.meta)
    fields = json.loads(meta["schemaString"])
    fields["fields"] = [f for f in fields["fields"] if f["name"] != "v"]
    meta["schemaString"] = json.dumps(fields)
    _write_commit(table, 3, [
        {"metaData": meta},
        {"commitInfo": {"timestamp": 1, "operation": "DROP COLUMN"}},
    ])

    with pytest.raises(Exception) as exc:
        q.processAllAvailable()
    assert "dropped" in str(exc.value) and "restart" in str(exc.value)
    q.stop()
    consumed = {
        r["_commit_version"] for r in spark.read.parquet(out).collect()
    }
    assert consumed == {1, 2}  # nothing emitted under the stale schema


def test_oversized_group_hash_fallback_without_stats(spark, tmp_path):
    """When adds carry NO usable stats (foreign writer), the oversized
    split falls back to key-hash sub-partitions — byte-identical union,
    every (idx, count) slice present."""
    import glob

    _, table = _build(spark, tmp_path)
    for f in glob.glob(os.path.join(table, "_delta_log", "*.json")):
        lines = []
        for line in open(f):
            if not line.strip():
                continue
            a = json.loads(line)
            if "add" in a:
                a["add"].pop("tags", None)
                a["add"].pop("stats", None)
            lines.append(json.dumps(a))
        open(f, "w").write("\n".join(lines) + "\n")

    schema = read_delta(spark, table).schema
    from pyspark.sql import types as T

    full = T.StructType(
        list(schema.fields)
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
        ]
    )

    def run(opts):
        r = ChangeFeedStreamReader(
            {"path": table, "pkcols": "pk", "startingversion": "0", **opts},
            full,
        )
        parts = r.partitions({"version": 0}, {"version": 2})
        rows = sorted(
            tuple(row.values())
            for p in parts
            for b in r.read(p)
            for row in b.to_pylist()
        )
        return parts, rows

    _, rows1 = run({})
    partsN, rowsN = run({"maxbytesperpartition": "4000"})
    assert 1 < len(partsN) <= 64
    assert all(p.key_range is None for p in partsN)
    assert {(p.split_idx, p.split_count) for p in partsN} == {
        (i, len(partsN)) for i in range(len(partsN))
    }
    assert rowsN == rows1


def test_range_split_single_file_group_prunes_row_groups(spark, tmp_path):
    """VERDICT r7 item 8: a group of FEW HUGE files (here one pre + one
    post) splits by row-group-derived key ranges — per-split IO is the
    range's bytes, and the union across splits reads each row group
    exactly once (vs N× full-group re-reads under the hash fallback).
    Output is byte-identical to the batch CDF oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _write_commit,
        delta_changes,
    )

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    N = 2000

    def write(name, vs):
        t = pa.table(
            {
                "pk": pa.array(range(N), pa.int64()),
                "v": pa.array(vs, pa.string()),
            }
        )
        p = os.path.join(table, "data", name)
        pq.write_table(t, p, row_group_size=100)  # 20 row groups
        return os.path.getsize(p)

    s0 = write("f0.parquet", [f"v{i}" for i in range(N)])
    s1 = write(
        "f1.parquet",
        [("u%d" % i) if i % 500 == 0 else f"v{i}" for i in range(N)],
    )

    meta = {
        "id": "t-range", "name": None, "description": None,
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({
            "type": "struct",
            "fields": [
                {"name": "pk", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            ],
        }),
        "partitionColumns": [], "configuration": {}, "createdTime": 0,
    }

    def add(name, size):
        return {"add": {
            "path": f"data/{name}", "size": size, "modificationTime": 0,
            "dataChange": True, "partitionValues": {},
            "stats": json.dumps({
                "numRecords": N,
                "minValues": {"pk": 0}, "maxValues": {"pk": N - 1},
                "nullCount": {"pk": 0},
            }),
        }}

    _write_commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": meta},
        add("f0.parquet", s0),
    ])
    _write_commit(table, 1, [
        {"remove": {"path": "data/f0.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
        add("f1.parquet", s1),
    ])

    from pyspark.sql import types as T

    full = T.StructType([
        T.StructField("pk", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("_change_type", T.StringType()),
        T.StructField("_commit_version", T.LongType()),
    ])
    r = ChangeFeedStreamReader(
        {
            "path": table, "pkcols": "pk", "startingversion": "0",
            "maxbytesperpartition": str(max(1, (s0 + s1) // 5)),
        },
        full,
    )
    parts = r.partitions({"version": 0}, {"version": 1})
    assert len(parts) >= 4
    assert all(p.key_range is not None for p in parts)

    rows = sorted(
        tuple(row.values())
        for p in parts
        for b in r.read(p)
        for row in b.to_pylist()
    )
    want = delta_changes(spark, table, 0, 1, ["pk"])
    cols = [f.name for f in full.fields]
    assert rows == sorted(tuple(x[c] for c in cols) for x in want.collect())
    # the changed keys are exactly the i % 500 == 0 ones
    assert {x[0] for x in rows} == {0, 500, 1000, 1500}

    # IO bound: the union of splits decodes each row group ~once —
    # nowhere near the hash fallback's len(parts) x full-group re-read
    loaded = sum(p.rows_loaded for p in parts)
    group_rows = 2 * N
    assert loaded <= 1.2 * group_rows
    assert max(p.rows_loaded for p in parts) < group_rows  # < full group


def test_range_split_unit_edge_cases():
    """Planner-side range-split edges, no Spark: contiguous bounds,
    null-bearing files land in the first range, string/bool/missing
    stats refuse (truncated string stats could LOSE rows), and
    degenerate same-min groups return None (a cut at the global min
    would yield one range carrying the whole group — worse than the
    hash fallback)."""
    from pyspark.sql import types as T

    r = ChangeFeedStreamReader.__new__(ChangeFeedStreamReader)
    r.pk_cols = ["pk"]
    r.schema = T.StructType([T.StructField("pk", T.LongType())])

    def add(mn, mx, size, nulls=0):
        return {"size": size, "stats": json.dumps({
            "numRecords": 1, "minValues": {"pk": mn},
            "maxValues": {"pk": mx}, "nullCount": {"pk": nulls},
        })}

    entries = [(f"/x/{i}", add(i * 100, i * 100 + 99, 1000)) for i in range(4)]
    rs, kind = r._range_splits(entries, 4)
    assert kind == "num"
    assert rs == [(None, 100), (100, 200), (200, 300), (300, None)]
    assert r._stats_overlap(entries[0][1], None, rs[0][1])
    assert not r._stats_overlap(entries[0][1], rs[-1][0], None)
    # nulls belong to the FIRST range regardless of the file's min/max
    assert r._stats_overlap(add(900, 999, 10, nulls=3), None, 100)
    bad = {"size": 10, "stats": json.dumps({
        "minValues": {"pk": "a"}, "maxValues": {"pk": "z"},
        "nullCount": {"pk": 0},
    })}
    assert r._range_splits([("/x/s", bad)], 4) is None
    assert r._range_splits([("/x/n", {"size": 10})], 4) is None
    same = [(f"/nope/{i}", add(0, 999, 1000)) for i in range(3)]
    assert r._range_splits(same, 4) is None  # unrefinable same-min group
    b2 = {"size": 10, "stats": json.dumps({
        "minValues": {"pk": True}, "maxValues": {"pk": True},
        "nullCount": {"pk": 0},
    })}
    assert r._file_stats(b2) is None


def test_range_split_timestamp_pk_end_to_end(spark, tmp_path):
    """VERDICT r8 item 4: a timestamp-keyed table (ISO-8601 string
    stats, the delta-spark encoding) range-splits instead of silently
    degrading to the 64x-IO hash fallback. Stats mins/maxs are
    millisecond-FLOORED here (the foreign-writer worst case); the
    planner's precision padding must keep every row. Output is
    byte-identical to the batch CDF oracle and per-split IO is bounded
    by the range's bytes."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _write_commit,
        delta_changes,
    )

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    N = 2000
    base = datetime.datetime(2021, 1, 1)
    # sub-millisecond tails so ms-floored stats actually under-report
    keys = [base + datetime.timedelta(seconds=i, microseconds=777) for i in range(N)]

    def write(name, vs):
        t = pa.table(
            {
                "ts": pa.array(keys, pa.timestamp("us")),
                "v": pa.array(vs, pa.string()),
            }
        )
        p = os.path.join(table, "data", name)
        pq.write_table(t, p, row_group_size=100)  # 20 row groups
        return os.path.getsize(p)

    s0 = write("f0.parquet", [f"v{i}" for i in range(N)])
    s1 = write(
        "f1.parquet",
        [("u%d" % i) if i % 500 == 0 else f"v{i}" for i in range(N)],
    )

    meta = {
        "id": "t-ts-range", "name": None, "description": None,
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({
            "type": "struct",
            "fields": [
                {"name": "ts", "type": "timestamp", "nullable": True,
                 "metadata": {}},
                {"name": "v", "type": "string", "nullable": True,
                 "metadata": {}},
            ],
        }),
        "partitionColumns": [], "configuration": {}, "createdTime": 0,
    }

    def iso_ms_floor(dt):
        return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z"

    def add(name, size):
        return {"add": {
            "path": f"data/{name}", "size": size, "modificationTime": 0,
            "dataChange": True, "partitionValues": {},
            "stats": json.dumps({
                "numRecords": N,
                "minValues": {"ts": iso_ms_floor(keys[0])},
                "maxValues": {"ts": iso_ms_floor(keys[-1])},  # FLOORED
                "nullCount": {"ts": 0},
            }),
        }}

    _write_commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": meta},
        add("f0.parquet", s0),
    ])
    _write_commit(table, 1, [
        {"remove": {"path": "data/f0.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
        add("f1.parquet", s1),
    ])

    from pyspark.sql import types as T

    full = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.StringType()),
        T.StructField("_change_type", T.StringType()),
        T.StructField("_commit_version", T.LongType()),
    ])
    r = ChangeFeedStreamReader(
        {
            "path": table, "pkcols": "ts", "startingversion": "0",
            "maxbytesperpartition": str(max(1, (s0 + s1) // 5)),
        },
        full,
    )
    parts = r.partitions({"version": 0}, {"version": 1})
    assert len(parts) >= 4
    assert all(p.key_range is not None for p in parts), "hash fallback hit"
    assert all(p.key_kind == "ts" for p in parts)

    def naive(v):
        # arrow to_pylist yields tz-aware UTC; Spark collect yields naive
        return (
            v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            if isinstance(v, datetime.datetime) and v.tzinfo
            else v
        )

    rows = sorted(
        tuple(naive(x) for x in row.values())
        for p in parts
        for b in r.read(p)
        for row in b.to_pylist()
    )
    want = delta_changes(spark, table, 0, 1, ["ts"])
    cols = [f.name for f in full.fields]
    assert rows == sorted(
        tuple(naive(x[c]) for c in cols) for x in want.collect()
    )
    # the changed keys are exactly base + {0, 500, 1000, 1500} seconds
    assert {x[0] for x in rows} == {
        base + datetime.timedelta(seconds=i, microseconds=777)
        for i in (0, 500, 1000, 1500)
    }

    # IO bound: the union of splits decodes each row group ~once
    loaded = sum(p.rows_loaded for p in parts)
    assert loaded <= 1.2 * (2 * N)
    assert max(p.rows_loaded for p in parts) < 2 * N


def test_stat_key_normalization_and_padding():
    """_stat_key: ISO timestamps/dates normalize to epoch micros/days;
    a ceiled max pads UP by its precision gap (ms -> +999us, seconds ->
    +999999us, full micros -> exact) so a floored foreign max never
    prunes away real rows; free-form strings, bools, and mixed-kind
    groups refuse."""
    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        _footer_key,
        _stat_key,
    )
    import datetime

    day_us = 86_400_000_000
    base = (datetime.date(2021, 1, 1) - datetime.date(1970, 1, 1)).days
    v, k = _stat_key("2021-01-01T00:00:00.123Z")
    assert (v, k) == (base * day_us + 123_000, "ts")
    assert _stat_key("2021-01-01T00:00:00.123Z", ceil=True)[0] == \
        base * day_us + 123_999
    assert _stat_key("2021-01-01T00:00:00.123456Z", ceil=True)[0] == \
        base * day_us + 123_456
    assert _stat_key("2021-01-01T00:00:00", ceil=True)[0] == \
        base * day_us + 999_999
    assert _stat_key("2021-01-01 00:00:00.123Z")[0] == base * day_us + 123_000
    assert _stat_key("2021-01-01") == (base, "date")
    assert _stat_key("2021-01-01", ceil=True) == (base, "date")  # exact
    assert _stat_key(42) == (42, "num")
    assert _stat_key(4.5) == (4.5, "num")
    assert _stat_key(True) is None
    assert _stat_key("hello") is None
    assert _stat_key("2021-13-45T99:99:99.000Z") is None  # non-calendar
    assert _stat_key("2021-01-01T00:00:00.12Z") is None  # odd precision
    assert _stat_key(None) is None

    # footer stats: exact datetimes/dates; kind mismatch refuses
    dt = datetime.datetime(2021, 1, 1, microsecond=777)
    assert _footer_key(dt, "ts") == base * day_us + 777
    assert _footer_key(
        dt.replace(tzinfo=datetime.timezone.utc), "ts"
    ) == base * day_us + 777
    assert _footer_key(datetime.date(1970, 1, 2), "date") == 1
    assert _footer_key(dt, "date") is None  # datetime is not a date key
    assert _footer_key(7, "num") == 7
    assert _footer_key(7, "ts") is None
    assert _footer_key(True, "num") is None

    # group-level: mixed kinds refuse -> hash fallback
    from pyspark.sql import types as T

    r = ChangeFeedStreamReader.__new__(ChangeFeedStreamReader)
    r.pk_cols = ["pk"]
    r.schema = T.StructType([T.StructField("pk", T.DateType())])

    def add(mn, mx):
        return {"size": 1000, "stats": json.dumps({
            "numRecords": 1, "minValues": {"pk": mn},
            "maxValues": {"pk": mx}, "nullCount": {"pk": 0},
        })}

    mixed = [("/x/0", add(0, 9)), ("/x/1", add("2021-01-01", "2021-01-02"))]
    assert r._range_splits(mixed, 2) is None
    dates = [
        ("/x/a", add("2021-01-01", "2021-01-02")),
        ("/x/b", add("2021-02-01", "2021-02-02")),
    ]
    rs, kind = r._range_splits(dates, 2)
    assert kind == "date"
    assert len(rs) == 2
    # SCHEMA gates the kind: a STRING pk column whose stats happen to
    # look like ISO timestamps must NOT range-split (the reader would
    # slice strings in an epoch key space — refuse to the hash path)
    r.schema = T.StructType([T.StructField("pk", T.StringType())])
    ts_texts = [
        ("/x/s1", add("2021-01-01T00:00:00.000Z", "2021-06-01T00:00:00.000Z")),
        ("/x/s2", add("2022-01-01T00:00:00.000Z", "2022-06-01T00:00:00.000Z")),
    ]
    assert r._range_splits(ts_texts, 2) is None
    # and a date column fed full-timestamp stats refuses too (epoch
    # DAYS vs epoch MICROS would silently drop rows)
    r.schema = T.StructType([T.StructField("pk", T.DateType())])
    assert r._range_splits(ts_texts, 2) is None
    # a ms-floored max still overlaps a range starting just above it
    floored = add("2021-01-01T00:00:00.000Z", "2021-01-01T00:00:00.123Z")
    lo = _stat_key("2021-01-01T00:00:00.123Z")[0] + 500  # inside the gap
    assert r._stats_overlap(floored, lo, None)


def test_starting_timestamp_inclusive_and_boundaries(spark, tmp_path):
    """startingTimestamp (delta-spark streaming parity, INCLUSIVE):
    every change committed at or after the requested time streams out —
    a commit exactly AT the time is included; a time before the
    earliest commit degrades to the initial-snapshot replay
    (canReturnEarliestCommit); a time after the last commit tails only
    future commits; passing both start options is refused."""
    from cdc_apache_cassandra_spark.streaming.delta_log import delta_history

    _, table = _build(spark, tmp_path)
    hist = delta_history(table)
    ts_of = {h["version"]: h["timestamp"] for h in hist}
    # start exactly AT v1's commit time: v1's own diff is INCLUDED
    got = _tail(
        spark, table,
        startingTimestamp=str(ts_of[1]), maxVersionsPerBatch=1,
    )
    assert sorted({r["_commit_version"] for r in got.collect()}) == [1, 2]
    want = delta_changes(spark, table, 0, 1, ["pk"]).unionByName(
        delta_changes(spark, table, 1, 2, ["pk"])
    )
    assert _rows(got) == _rows(want.select(*got.columns))

    # before the earliest commit -> everything, as the snapshot replay
    early = _tail(
        spark, table,
        startingTimestamp=str(ts_of[0] - 10_000), maxVersionsPerBatch=1,
    )
    assert early.filter("_commit_version = 0").count() == 8

    # after the last commit -> nothing yet (tail-only)
    late = _tail(
        spark, table,
        startingTimestamp=str(ts_of[max(ts_of)] + 10_000),
    )
    assert late.count() == 0

    with pytest.raises(Exception, match="not both"):
        _tail(spark, table, startingVersion=0, startingTimestamp=str(ts_of[1]))


def test_pk_diff_packs_buckets_into_one_partition_per_core(spark, tmp_path):
    """A diff touching every bucket of a 16-bucket store plans at most
    one partition per core; each bucket's pre and post files sit in
    exactly one partition (a key never leaves its bucket, so a merge
    over several buckets classifies like each bucket alone); the rows
    equal the pure-Python net diff; and the batch feed's classify stage
    runs at most one task per core."""
    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.session import default_parallelism
    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        plan_pk_diff,
    )
    from cdc_apache_cassandra_spark.streaming.delta_log import _replay
    from tests.change_oracle import net_diff

    base = [("INSERT", k, 10, f"v{k}", 0, k) for k in range(256)]
    batch = (
        [("DELETE", k, 20, None, 1, k) for k in range(0, 256, 4)]
        + [("UPDATE", k, 20, f"u{k}", 1, k) for k in range(1, 256, 4)]
        + [("INSERT", k, 20, f"n{k}", 1, k) for k in range(256, 320)]
    )
    _, table = _build(spark, tmp_path, batches=(base, batch), n_buckets=16)
    s0, s1 = _replay(table, 0), _replay(table, 1)
    cores = default_parallelism()
    parts = plan_pk_diff(table, s0.files, s1.files, s1.meta, ["pk"], 1)
    assert len(parts) <= cores
    with pytest.raises(ValueError, match="not in the table schema"):
        plan_pk_diff(table, s0.files, s1.files, s1.meta, ["nope"], 1)

    where: dict[str, set] = {}  # bucket -> partitions holding its files
    for i, p in enumerate(parts):
        for entries, files in ((p.pre, s0.files), (p.post, s1.files)):
            for e in entries:
                rel = os.path.relpath(e[0], table)
                where.setdefault(files[rel]["tags"]["bucket"], set()).add(i)
    assert sorted(map(int, where)) == list(range(16))
    assert all(len(ps) == 1 for ps in where.values())

    cols = ["op", "pk", "writetime", "v", "segment", "position"]

    def state(s):
        return {
            r["pk"]: tuple(r[c] for c in cols)
            for rel in s.files
            for r in pq.read_table(os.path.join(table, rel)).to_pylist()
        }

    sc = spark.sparkContext
    group = f"pk-diff-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "delta_changes")
    try:
        got = delta_changes(spark, table, 0, 1, ["pk"]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sorted(map(tuple, got)) == net_diff(state(s0), state(s1), 1)
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
    ]
    assert tasks and max(tasks) <= cores
