"""Native Delta-log export of the bucket store (streaming/delta_log.py).

Pins the PUBLIC Delta protocol shapes (delta.io PROTOCOL.md): version-0
commit carries protocol(1,2) + metaData with a Spark-JSON schemaString;
adds/removes replay to the live file set; commits are create-only.
Functionally: exported rows == the store's active view after every
incremental commit, export IO ∝ changed buckets, time travel and vacuum
behave like Delta's.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from cdc_apache_cassandra_spark.streaming.delta_log import (
    DATA_DIR,
    LOG_DIR,
    delta_export,
    delta_history,
    delta_log_replay,
    delta_vacuum,
    read_delta,
)
from cdc_apache_cassandra_spark.streaming.materialize import (
    CommitConflict,
    active_view,
    compact,
    merge_into,
    read_state,
)

SCHEMA = (
    "op string, pk long, writetime long, v string, w string, "
    "segment long, position long"
)


def _rows(df):
    return sorted(
        (r.pk, r.op, r.writetime, r.v, r.w) for r in df.collect()
    )


def _store(spark, tmp_path, n=64, n_buckets=8):
    path = str(tmp_path / "store")
    os.makedirs(path)
    base = spark.createDataFrame(
        [("INSERT", i, 10, f"v{i}", "x", 0, i) for i in range(n)], SCHEMA
    )
    merge_into(spark, path, base, ["pk"], n_buckets=n_buckets)
    return path


def test_full_export_matches_active_view(spark, tmp_path):
    store = _store(spark, tmp_path)
    out = str(tmp_path / "delta")
    version = delta_export(spark, store, out)
    assert version == 0
    got = read_delta(spark, out)
    want = active_view(read_state(spark, store))
    assert _rows(got) == _rows(want)


def test_version0_protocol_and_metadata_shapes(spark, tmp_path):
    """The spec pins: first commit has protocol(minReader=1, minWriter=2)
    and metaData whose schemaString parses as a Spark StructType and
    matches the data files; add actions carry relative paths, real sizes,
    and numRecords stats."""
    store = _store(spark, tmp_path)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    actions = [
        json.loads(line)
        for line in open(os.path.join(out, LOG_DIR, f"{0:020d}.json"))
    ]
    protocol = next(a["protocol"] for a in actions if "protocol" in a)
    assert protocol == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["format"] == {"provider": "parquet", "options": {}}
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    assert "pk" in schema.names and "__bucket" not in schema.names
    adds = [a["add"] for a in actions if "add" in a]
    assert adds, "first export must add data files"
    total = 0
    for add in adds:
        assert not add["path"].startswith("/")
        full = os.path.join(out, add["path"])
        assert os.path.getsize(full) == add["size"]
        assert add["dataChange"] is True and add["partitionValues"] == {}
        total += json.loads(add["stats"])["numRecords"]
    assert total == active_view(read_state(spark, store)).count()


def test_incremental_export_rewrites_only_changed_buckets(spark, tmp_path):
    """The 100-TB property carried through the interop seam: a store
    commit touching one key exports as ONE remove + ONE add (that key's
    bucket); every other published file is untouched."""
    store = _store(spark, tmp_path)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    _, files_v0, _ = delta_log_replay(out)

    one = spark.createDataFrame(
        [("UPDATE", 3, 20, "new", "x", 0, 99)], SCHEMA
    )
    merge_into(spark, store, one, ["pk"])
    assert delta_export(spark, store, out) == 1
    actions = [
        json.loads(line)
        for line in open(os.path.join(out, LOG_DIR, f"{1:020d}.json"))
    ]
    adds = [a["add"] for a in actions if "add" in a]
    removes = [a["remove"] for a in actions if "remove" in a]
    assert len(adds) == 1 and len(removes) == 1
    assert removes[0]["path"] in files_v0

    def _bucket_of(p):
        return int(p.split("/")[-1].split("-")[0][1:])

    assert _bucket_of(adds[0]["path"]) == _bucket_of(removes[0]["path"])
    assert int(adds[0]["tags"]["bucket"]) == _bucket_of(adds[0]["path"])
    got = read_delta(spark, out)
    want = active_view(read_state(spark, store))
    assert _rows(got) == _rows(want)
    assert got.filter("pk = 3").collect()[0].v == "new"


def test_export_noop_when_current(spark, tmp_path):
    store = _store(spark, tmp_path)
    out = str(tmp_path / "delta")
    assert delta_export(spark, store, out) == 0
    assert delta_export(spark, store, out) is None  # nothing changed
    log = os.listdir(os.path.join(out, LOG_DIR))
    assert len([n for n in log if n.endswith(".json")]) == 1


def test_tombstones_are_deletes_in_the_export(spark, tmp_path):
    """A DELETE winner disappears from the exported table (Delta's
    whenMatchedDelete result), while the store keeps the tombstone."""
    store = _store(spark, tmp_path, n=16, n_buckets=4)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    dels = spark.createDataFrame(
        [("DELETE", i, 30, None, None, 1, i) for i in range(4)], SCHEMA
    )
    merge_into(spark, store, dels, ["pk"])
    delta_export(spark, store, out)
    got = read_delta(spark, out)
    assert got.filter("pk < 4").count() == 0
    assert got.count() == 12
    assert _rows(got) == _rows(active_view(read_state(spark, store)))


def test_gc_dropped_bucket_emits_remove_without_add(spark, tmp_path):
    """compact(only_expired) can erase a bucket wholesale (all rows were
    expired tombstones); the next export removes its file from the log."""
    store = str(tmp_path / "store")
    os.makedirs(store)
    # two keys in different buckets; tombstone one entirely
    rows = [("INSERT", i, 10, f"v{i}", "x", 0, i) for i in range(8)]
    merge_into(
        spark, store, spark.createDataFrame(rows, SCHEMA), ["pk"], n_buckets=4
    )
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    n_files_before = len(delta_log_replay(out)[1])

    dels = spark.createDataFrame(
        [("DELETE", i, 20, None, None, 1, i) for i in range(8)], SCHEMA
    )
    merge_into(spark, store, dels, ["pk"])
    compact(spark, store, ["pk"], tombstone_horizon=100)
    delta_export(spark, store, out)
    _, files, _ = delta_log_replay(out)
    total = sum(json.loads(a["stats"])["numRecords"] for a in files.values())
    assert total == 0
    assert read_delta(spark, out).count() == 0
    assert n_files_before > 0


def test_time_travel_versions(spark, tmp_path):
    store = _store(spark, tmp_path, n=8, n_buckets=2)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    v0 = _rows(read_delta(spark, out))
    up = spark.createDataFrame([("UPDATE", 1, 20, "u", "x", 1, 0)], SCHEMA)
    merge_into(spark, store, up, ["pk"])
    delta_export(spark, store, out)
    assert _rows(read_delta(spark, out, version=0)) == v0
    assert read_delta(spark, out).filter("pk = 1").collect()[0].v == "u"


def test_vacuum_deletes_only_unreferenced_files(spark, tmp_path):
    store = _store(spark, tmp_path, n=8, n_buckets=2)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    up = spark.createDataFrame([("UPDATE", 1, 20, "u", "x", 1, 0)], SCHEMA)
    merge_into(spark, store, up, ["pk"])
    delta_export(spark, store, out)
    before = set(os.listdir(os.path.join(out, DATA_DIR)))
    deleted = delta_vacuum(out, retain_ms=0)
    assert deleted, "the replaced bucket file must be vacuumed"
    after = set(os.listdir(os.path.join(out, DATA_DIR)))
    assert before - after == {p.split("/")[-1] for p in deleted}
    # current snapshot unaffected
    assert _rows(read_delta(spark, out)) == _rows(
        active_view(read_state(spark, store))
    )


def test_commit_files_are_create_only(spark, tmp_path):
    """The spec's optimistic-concurrency rule: a commit file is never
    overwritten; a racing writer must fail with a conflict."""
    store = _store(spark, tmp_path, n=8, n_buckets=2)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    from cdc_apache_cassandra_spark.streaming.delta_log import _write_commit

    try:
        _write_commit(out, 0, [{"commitInfo": {"timestamp": 0}}])
        raise AssertionError("expected CommitConflict")
    except CommitConflict:
        pass


def test_history_records_every_export(spark, tmp_path):
    store = _store(spark, tmp_path, n=8, n_buckets=2)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    up = spark.createDataFrame([("UPDATE", 1, 20, "u", "x", 1, 0)], SCHEMA)
    merge_into(spark, store, up, ["pk"])
    delta_export(spark, store, out)
    hist = delta_history(out)
    assert [h["version"] for h in hist] == [0, 1]
    assert all(h["operation"] == "CDC MERGE EXPORT" for h in hist)
    assert hist[1]["operationParameters"]["changedBuckets"] == "1"


def test_schema_widening_reemits_metadata_and_reads_with_nulls(spark, tmp_path):
    """Store schema evolution flows through: files written before a
    widening read with typed nulls because the READER takes the schema
    from the log's newest metaData, not from file footers."""
    store = str(tmp_path / "store")
    os.makedirs(store)
    merge_into(
        spark,
        store,
        spark.createDataFrame([("INSERT", 1, 10, "a", "x", 0, 0)], SCHEMA),
        ["pk"],
        n_buckets=2,
    )
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    wide = spark.createDataFrame(
        [("INSERT", 2, 20, "b", "x", 0, 1, "extra")], SCHEMA + ", z string"
    )
    merge_into(spark, store, wide, ["pk"])
    delta_export(spark, store, out)
    _, _, meta = delta_log_replay(out)
    assert "z" in json.loads(meta["schemaString"])["fields"][-1]["name"]
    got = read_delta(spark, out)
    assert got.filter("pk = 2").collect()[0].z == "extra"
    assert got.filter("pk = 1").collect()[0].z is None


def test_streaming_materialize_publishes_delta_feed(spark, sf_dir, tmp_path):
    """materialize_stream(delta_path=...) mirrors every micro-batch's
    bucket MERGE into the Delta log: after the stream drains, an external
    Delta reader sees exactly the converged active view, and the log
    holds one commit per exporting micro-batch (incremental adds, not
    snapshots)."""
    from cdc_apache_cassandra_spark.operators.dedup import dedup_mutations
    from cdc_apache_cassandra_spark.operators.lww import last_write_wins
    from cdc_apache_cassandra_spark.sources.event_source import mutation_events
    from cdc_apache_cassandra_spark.streaming.materialize import (
        materialize_stream,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    delta = str(tmp_path / "delta")
    ckpt = str(tmp_path / "ckpt")
    mutation_events(spark, sf_dir).repartition(6).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 3).parquet(src)
    )
    q = materialize_stream(stream, table, ckpt, ["pk"], delta_path=delta)
    q.processAllAvailable()
    q.stop()

    got = read_delta(spark, delta).select("pk", "op", "writetime", "c_acctbal")
    want = (
        last_write_wins(dedup_mutations(mutation_events(spark, sf_dir)))
        .filter("op <> 'DELETE'")
        .select("pk", "op", "writetime", "c_acctbal")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    hist = delta_history(delta)
    assert len(hist) >= 2, "multiple micro-batches must commit incrementally"
    assert _rows_pk(read_delta(spark, delta)) == _rows_pk(
        active_view(read_state(spark, table))
    )


def _rows_pk(df):
    return sorted((r.pk, r.writetime) for r in df.select("pk", "writetime").collect())


def test_txn_markers_make_export_idempotent(spark, tmp_path):
    """The protocol's txn device (delta-spark's txnAppId/txnVersion
    contract): a replayed (appId, version) pair is skipped before any
    IO, even though the replayed merge bumped store versions."""
    store = _store(spark, tmp_path, n=8, n_buckets=2)
    out = str(tmp_path / "delta")
    assert delta_export(spark, store, out, txn_app="app", txn_version=0) == 0
    # crash-replay: the same batch merges again (store version moves)...
    up = spark.createDataFrame([("UPDATE", 1, 20, "u", "x", 1, 0)], SCHEMA)
    merge_into(spark, store, up, ["pk"])
    # ...but its export is skipped by the txn watermark
    assert delta_export(spark, store, out, txn_app="app", txn_version=0) is None
    # the next live batch publishes (including the replayed bucket, once)
    assert delta_export(spark, store, out, txn_app="app", txn_version=1) == 1
    assert read_delta(spark, out).filter("pk = 1").collect()[0].v == "u"


def test_all_tombstone_bucket_does_not_loop(spark, tmp_path):
    """An all-tombstone bucket exports no file but is memoized
    (commitInfo emptyBuckets): the next export must be a no-op, not a
    re-read of the bucket."""
    store = str(tmp_path / "store")
    os.makedirs(store)
    merge_into(
        spark,
        store,
        spark.createDataFrame([("DELETE", 1, 30, None, None, 0, 0)], SCHEMA),
        ["pk"],
        n_buckets=2,
    )
    out = str(tmp_path / "delta")
    v = delta_export(spark, store, out)
    assert v == 0  # commit exists (metaData + memo), zero data files
    assert read_delta(spark, out).count() == 0
    assert delta_export(spark, store, out) is None  # memo hit, no work
    # a later live row in that bucket clears the memo and publishes
    merge_into(
        spark,
        store,
        spark.createDataFrame([("INSERT", 1, 40, "back", "x", 1, 0)], SCHEMA),
        ["pk"],
    )
    delta_export(spark, store, out)
    assert read_delta(spark, out).collect()[0].v == "back"


def test_vacuum_retention_protects_fresh_files(spark, tmp_path):
    """Default retention keeps recently-written unreferenced files (an
    in-flight exporter stages data before committing the log version
    that references it); retain_ms=0 reclaims immediately."""
    store = _store(spark, tmp_path, n=8, n_buckets=2)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    up = spark.createDataFrame([("UPDATE", 1, 20, "u", "x", 1, 0)], SCHEMA)
    merge_into(spark, store, up, ["pk"])
    delta_export(spark, store, out)
    assert delta_vacuum(out) == []  # fresh files inside retention
    deleted = delta_vacuum(out, retain_ms=0)
    assert deleted
    assert _rows(read_delta(spark, out)) == _rows(
        active_view(read_state(spark, store))
    )


def test_table_name_survives_schema_widening(spark, tmp_path):
    store = str(tmp_path / "store")
    os.makedirs(store)
    merge_into(
        spark,
        store,
        spark.createDataFrame([("INSERT", 1, 10, "a", "x", 0, 0)], SCHEMA),
        ["pk"],
        n_buckets=2,
    )
    out = str(tmp_path / "delta")
    delta_export(spark, store, out, name="customers")
    wide = spark.createDataFrame(
        [("INSERT", 2, 20, "b", "x", 0, 1, "extra")], SCHEMA + ", z string"
    )
    merge_into(spark, store, wide, ["pk"])
    delta_export(spark, store, out)  # no name passed — must be preserved
    _, _, meta = delta_log_replay(out)
    assert meta["name"] == "customers"
    assert "z" in [f["name"] for f in json.loads(meta["schemaString"])["fields"]]


def test_dangling_last_checkpoint_is_refused(spark, tmp_path):
    """A _last_checkpoint naming a checkpoint whose parquet is absent
    means the table copy is incomplete (or a V2 layout we can't see);
    replay must refuse rather than silently return partial data."""
    store = _store(spark, tmp_path, n=8, n_buckets=2)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    with open(os.path.join(out, LOG_DIR, "_last_checkpoint"), "w") as f:
        f.write('{"version": 0}')
    import pytest

    with pytest.raises(FileNotFoundError):
        read_delta(spark, out)


def test_unsupported_reader_requirements_are_refused(spark, tmp_path):
    """A table whose protocol demands features this reader does not
    implement must be refused loudly, never misread. Since r9 the
    supported set includes column mapping (name mode; minReaderVersion
    2 or the columnMapping feature) and deletionVectors, and since r10
    v2Checkpoint — so version 2 with mode=none READS and a declared
    v2Checkpoint feature READS (classic layout still allowed under the
    feature), while unknown features and bare minReaderVersion=3 still
    raise."""
    store = _store(spark, tmp_path, n=8, n_buckets=2)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    commit0 = os.path.join(out, LOG_DIR, f"{0:020d}.json")
    actions = [json.loads(line) for line in open(commit0)]
    import pytest

    def rewrite(proto_patch):
        patched = []
        for a in actions:
            a = dict(a)
            if "protocol" in a:
                a["protocol"] = {**a["protocol"], **proto_patch}
            patched.append(a)
        with open(commit0, "w") as f:
            for a in patched:
                f.write(json.dumps(a) + "\n")

    # column-mapping protocol version, no mapping configured: supported
    rewrite({"minReaderVersion": 2})
    assert read_delta(spark, out).count() == 8

    # v2Checkpoint declared on a classic-layout table: supported (the
    # feature permits, not mandates, the V2 layout)
    rewrite({"minReaderVersion": 3, "readerFeatures": ["v2Checkpoint"]})
    assert read_delta(spark, out).count() == 8

    for patch in (
        {"minReaderVersion": 3},  # features-required version, none named
        {"minReaderVersion": 3, "readerFeatures": ["someFutureFeature"]},
    ):
        rewrite(patch)
        with pytest.raises(NotImplementedError):
            read_delta(spark, out)


def _incremental_store_and_exports(spark, tmp_path, n_commits=12):
    """A store driven through ``n_commits`` merge+export rounds — enough
    to cross the default 10-commit checkpoint cadence."""
    store = str(tmp_path / "store")
    out = str(tmp_path / "delta")
    os.makedirs(store)
    for i in range(n_commits):
        batch = spark.createDataFrame(
            [
                ("INSERT", 100 * i + j, 10 + i, f"v{i}.{j}", "x", i, j)
                for j in range(6)
            ]
            # rewrite one earlier key per round so adds+removes both flow
            + ([("UPSERT", 100 * (i - 1), 10 + i, f"re{i}", "y", i, 99)] if i else []),
            SCHEMA,
        )
        merge_into(spark, store, batch, ["pk"], n_buckets=4)
        delta_export(spark, store, out)
    return store, out


def test_checkpoint_written_at_interval_and_restores(spark, tmp_path):
    """>10 commits: the exporter writes {10}.checkpoint.parquet +
    _last_checkpoint by itself; replay-from-checkpoint equals the
    store's active view, and time travel to the checkpoint boundary
    still works."""
    store, out = _incremental_store_and_exports(spark, tmp_path, 12)
    cp = os.path.join(out, LOG_DIR, f"{10:020d}.checkpoint.parquet")
    assert os.path.exists(cp)
    pointer = json.load(open(os.path.join(out, LOG_DIR, "_last_checkpoint")))
    assert pointer["version"] == 10
    import pyarrow.parquet as pq

    assert pointer["size"] == pq.ParquetFile(cp).metadata.num_rows
    got = read_delta(spark, out)
    want = active_view(read_state(spark, store))
    assert _rows(got) == _rows(want)
    # the snapshot AT the checkpoint is served from the parquet alone
    at_cp = read_delta(spark, out, version=10)
    assert at_cp.count() > 0


def test_cleaned_log_still_reads_and_history_survives(spark, tmp_path):
    """delta_log_cleanup drops JSON < checkpoint version; the table
    still reads identically (checkpoint + JSON tail), history lists the
    surviving commits, and pre-checkpoint time travel now refuses."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_log_cleanup,
    )

    store, out = _incremental_store_and_exports(spark, tmp_path, 12)
    before = _rows(read_delta(spark, out))
    deleted = delta_log_cleanup(out)
    assert deleted == [f"{v:020d}.json" for v in range(10)]
    assert _rows(read_delta(spark, out)) == before
    hist = delta_history(out)
    assert [h["version"] for h in hist] == [10, 11]
    import pytest

    with pytest.raises(FileNotFoundError):
        read_delta(spark, out, version=3)


def test_checkpoint_preserves_empty_bucket_memo(spark, tmp_path):
    """The exporter's all-tombstone-bucket memo survives checkpoint +
    cleanup (it rides _last_checkpoint): a no-change re-export after
    cleanup must stay a no-op instead of reclassifying memoized empty
    buckets as changed work."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_log_cleanup,
        write_checkpoint,
    )

    store = str(tmp_path / "store")
    out = str(tmp_path / "delta")
    os.makedirs(store)
    # bucket of pk=1 becomes all-tombstone: exporter memoizes it
    merge_into(
        spark,
        store,
        spark.createDataFrame(
            [("DELETE", 1, 10, None, None, 0, 0), ("INSERT", 2, 10, "b", "x", 0, 1)],
            SCHEMA,
        ),
        ["pk"],
        n_buckets=2,
    )
    delta_export(spark, store, out)
    write_checkpoint(out)
    delta_log_cleanup(out)
    pointer = json.load(open(os.path.join(out, LOG_DIR, "_last_checkpoint")))
    assert pointer.get("emptyBuckets"), "memo must ride the pointer file"
    # no store change -> export must detect 'already current' from the
    # checkpointed state alone and write nothing
    assert delta_export(spark, store, out) is None


def test_noncontiguous_log_is_refused(spark, tmp_path):
    store = _store(spark, tmp_path, n=8, n_buckets=2)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    os.rename(
        os.path.join(out, LOG_DIR, f"{0:020d}.json"),
        os.path.join(out, LOG_DIR, f"{5:020d}.json"),
    )
    import pytest

    with pytest.raises(FileNotFoundError):
        read_delta(spark, out)


def test_delta_table_bootstraps_a_new_store(spark, tmp_path):
    """Interop closes in BOTH directions: a Delta table (exported here,
    or produced by any JSON-commit writer) bootstraps a fresh bucket
    store via import_state, and later CDC merges converge on top —
    migration in and out of the engine without a bespoke format."""
    from cdc_apache_cassandra_spark.streaming.materialize import import_state

    store = _store(spark, tmp_path, n=16, n_buckets=4)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)

    store2 = str(tmp_path / "store2")
    table = read_delta(spark, out).drop("op", "writetime", "segment", "position")
    import_state(spark, table, store2, ["pk"], n_buckets=4)
    # imported rows carry the backfill writetime (-1): any live event wins
    up = spark.createDataFrame([("UPDATE", 1, 5, "live", "x", 9, 0)], SCHEMA)
    merge_into(spark, store2, up, ["pk"])
    view = active_view(read_state(spark, store2))
    assert view.count() == 16
    assert view.filter("pk = 1").collect()[0].v == "live"
    assert view.filter("pk = 2").collect()[0].v == "v2"


def test_import_from_checkpointed_cleaned_log(spark, tmp_path):
    """The real-world import shape: a long-lived foreign table whose old
    JSON commits are GONE (delta-spark checkpoints every 10 commits and
    cleans expired metadata). import_state ∘ read_delta must bootstrap a
    store from checkpoint + JSON tail alone."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_log_cleanup,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import import_state

    store, out = _incremental_store_and_exports(spark, tmp_path, 12)
    delta_log_cleanup(out)
    want = _rows(active_view(read_state(spark, store)))

    store2 = str(tmp_path / "store2")
    table = read_delta(spark, out).drop("op", "writetime", "segment", "position")
    import_state(spark, table, store2, ["pk"], n_buckets=4)
    got = active_view(read_state(spark, store2)).select(
        "pk", "v", "w"
    )
    assert sorted((r.pk, r.v, r.w) for r in got.collect()) == sorted(
        (pk, v, w) for pk, _, _, v, w in want
    )


def test_multipart_foreign_checkpoint_reads(spark, tmp_path):
    """Foreign tables may carry MULTI-part checkpoints
    ({v}.checkpoint.{i}.{n}.parquet, "parts" in _last_checkpoint) —
    delta-spark writes them for big states. Split our own checkpoint
    into two spec-named parts and verify replay stitches them."""
    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_log_cleanup,
        write_checkpoint,
    )

    store, out = _incremental_store_and_exports(spark, tmp_path, 5)
    before = _rows(read_delta(spark, out))
    cp = write_checkpoint(out)  # version 4
    delta_log_cleanup(out)
    tbl = pq.read_table(cp)
    mid = tbl.num_rows // 2
    log_dir = os.path.join(out, LOG_DIR)
    pq.write_table(
        tbl.slice(0, mid),
        os.path.join(log_dir, f"{4:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    pq.write_table(
        tbl.slice(mid),
        os.path.join(log_dir, f"{4:020d}.checkpoint.{2:010d}.{2:010d}.parquet"),
    )
    os.unlink(cp)
    pointer = json.load(open(os.path.join(log_dir, "_last_checkpoint")))
    pointer["parts"] = 2
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
        json.dump(pointer, f)
    assert _rows(read_delta(spark, out)) == before


def test_ddl_between_exports_reads_typed_nulls_and_imports(spark, tmp_path):
    """Schema evolution ACROSS Delta generations (r4 verdict item 6):
    an ALTER-ADD (new top-level column + new nested UDT field) lands
    BETWEEN two exports. The second commit widens metaData, but
    untouched buckets keep their pre-DDL parquet files — a foreign
    reader must read those rows with TYPED NULLS for the new fields
    (schema from the log, never file footers; the Delta reader
    contract). Then the reverse direction: import_state of that
    evolved log bootstraps a store whose LWW state matches the table.
    Both directions re-checked after checkpoint + JSON cleanup."""
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_log_cleanup,
        delta_log_replay,
        write_checkpoint,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import import_state

    narrow_schema = (
        "op string, pk long, writetime long, v string, "
        "u struct<a: long>, segment long, position long"
    )
    wide_schema = (
        "op string, pk long, writetime long, v string, z string, "
        "u struct<a: long, b: string>, segment long, position long"
    )
    store = str(tmp_path / "store")
    out = str(tmp_path / "delta")
    os.makedirs(store)
    base = spark.createDataFrame(
        [("INSERT", i, 10, f"v{i}", (i,), 0, i) for i in range(8)],
        narrow_schema,
    )
    merge_into(spark, store, base, ["pk"], n_buckets=4)
    delta_export(spark, store, out)

    # the DDL: one updated key + one new key, both carrying z and u.b
    post = spark.createDataFrame(
        [
            ("UPDATE", 0, 20, "v0b", "zz", (0, "b0"), 1, 0),
            ("INSERT", 99, 20, "v99", "z99", (99, "b99"), 1, 1),
        ],
        wide_schema,
    )
    merge_into(spark, store, post, ["pk"], n_buckets=4)
    delta_export(spark, store, out)

    # metaData widened; at least one referenced file is still PRE-DDL
    _, files, meta = delta_log_replay(out)
    log_schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    assert "z" in log_schema.names
    assert "b" in log_schema["u"].dataType.names
    pre_ddl = [
        p
        for p in files
        if "z" not in pq.ParquetFile(os.path.join(out, p)).schema_arrow.names
    ]
    assert pre_ddl, "an untouched bucket must still serve its pre-DDL file"

    def check_reads(label):
        got = read_delta(spark, out)
        assert got.schema["z"].dataType == T.StringType(), label
        rows = {r.pk: r for r in got.collect()}
        assert rows[0].z == "zz" and rows[0].u.b == "b0", label
        assert rows[99].z == "z99", label
        # every pre-DDL row: typed nulls for both added fields
        for pk in range(1, 8):
            assert rows[pk].z is None and rows[pk].u.b is None, (label, pk)
        assert len(rows) == 9, label
        return got

    got = check_reads("json-log")

    # reverse seam: the evolved table bootstraps a store, LWW on top
    store2 = str(tmp_path / "store2")
    import_state(
        spark,
        got.drop("op", "writetime", "segment", "position"),
        store2,
        ["pk"],
        n_buckets=4,
    )
    view = active_view(read_state(spark, store2))
    assert view.count() == 9
    re_rows = {r.pk: r for r in view.collect()}
    assert re_rows[0].z == "zz" and re_rows[0].u.b == "b0"
    assert re_rows[5].z is None and re_rows[5].u.b is None

    # same contract straight off a checkpointed, cleaned log
    write_checkpoint(out)
    delta_log_cleanup(out)
    check_reads("checkpointed")


def test_add_stats_carry_minmax_for_file_skipping(spark, tmp_path):
    """add.stats carries minValues/maxValues/nullCount for top-level
    primitive columns (footer-derived, no data read) — the fields
    external engines use to prune files; numRecords stays consistent
    with the data."""
    store = _store(spark, tmp_path, n=16, n_buckets=4)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    actions = [
        json.loads(line)
        for line in open(os.path.join(out, LOG_DIR, f"{0:020d}.json"))
    ]
    adds = [a["add"] for a in actions if "add" in a]
    assert adds
    lo, hi, total = 10**9, -1, 0
    for add in adds:
        st = json.loads(add["stats"])
        total += st["numRecords"]
        assert st["nullCount"]["pk"] == 0
        lo = min(lo, st["minValues"]["pk"])
        hi = max(hi, st["maxValues"]["pk"])
        assert st["minValues"]["writetime"] == st["maxValues"]["writetime"] == 10
    assert (lo, hi, total) == (0, 15, 16)


def test_timestamp_as_of_reads(spark, tmp_path):
    """TIMESTAMP AS OF: resolved to the last commit at or before the
    requested time; pre-history timestamps refuse."""
    import time as _time

    store = _store(spark, tmp_path, n=8, n_buckets=2)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    t0 = int(_time.time() * 1000)
    v0 = _rows(read_delta(spark, out))
    _time.sleep(0.05)
    up = spark.createDataFrame([("UPDATE", 1, 20, "u", "x", 1, 0)], SCHEMA)
    merge_into(spark, store, up, ["pk"])
    delta_export(spark, store, out)
    assert _rows(read_delta(spark, out, timestamp_ms=t0)) == v0
    now = int(_time.time() * 1000) + 1000
    assert read_delta(spark, out, timestamp_ms=now).filter(
        "pk = 1"
    ).collect()[0].v == "u"
    import pytest

    with pytest.raises(FileNotFoundError):
        read_delta(spark, out, timestamp_ms=t0 - 10_000_000)
    with pytest.raises(ValueError):
        read_delta(spark, out, version=0, timestamp_ms=t0)


def test_delta_changes_classifies_and_cancels_neighbors(spark, tmp_path):
    """delta_changes between two commits: insert / delete /
    update_pre+postimage per key, and — the property that makes the feed
    usable — NO rows for unchanged keys that share a rewritten bucket
    with a changed key."""
    from cdc_apache_cassandra_spark.streaming.delta_log import delta_changes

    store = str(tmp_path / "store")
    out = str(tmp_path / "delta")
    os.makedirs(store)
    base = spark.createDataFrame(
        [("INSERT", i, 10, f"v{i}", "x", 0, i) for i in range(8)], SCHEMA
    )
    merge_into(spark, store, base, ["pk"], n_buckets=2)  # 2 buckets: dense
    delta_export(spark, store, out)
    batch2 = spark.createDataFrame(
        [
            ("UPDATE", 1, 20, "u1", "x", 1, 0),   # update
            ("DELETE", 2, 20, None, None, 1, 1),  # delete
            ("INSERT", 99, 20, "new", "x", 1, 2), # insert
        ],
        SCHEMA,
    )
    merge_into(spark, store, batch2, ["pk"], n_buckets=2)
    delta_export(spark, store, out)

    ch = delta_changes(spark, out, 0, 1, ["pk"]).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], []).append(r)
        assert r["_commit_version"] == 1
    assert [r.pk for r in by_type["insert"]] == [99]
    assert [r.pk for r in by_type["delete"]] == [2]
    assert [(r.pk, r.v) for r in by_type["update_preimage"]] == [(1, "v1")]
    assert [(r.pk, r.v) for r in by_type["update_postimage"]] == [(1, "u1")]
    # 8 keys across 2 buckets => both buckets were rewritten, yet the 5
    # untouched keys emit nothing
    touched = {r.pk for r in ch}
    assert touched == {1, 2, 99}


def test_read_delta_prunes_files_by_log_stats(spark, tmp_path):
    """Data skipping off add.stats alone: a narrow pk range reads a
    strict subset of the table's files, returns exactly the rows the
    full scan filtered, and files without stats are never skipped."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_log_replay,
        prune_files_by_stats,
    )

    store = _store(spark, tmp_path, n=64, n_buckets=8)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    _, files, _ = delta_log_replay(out)

    target = 7
    kept = prune_files_by_stats(files, "pk", target, target)
    assert 0 < len(kept) < len(files), (len(kept), len(files))

    got = read_delta(spark, out, prune=("pk", target, target)).filter(
        F.col("pk") == target
    )
    want = read_delta(spark, out).filter(F.col("pk") == target)
    assert _rows(got) == _rows(want)

    # a file with no stats must survive pruning
    no_stats = dict(files)
    some = next(iter(no_stats))
    no_stats[some] = {**no_stats[some], "stats": None}
    kept2 = prune_files_by_stats(no_stats, "pk", target, target)
    assert some in kept2


def test_delta_changes_since_tails_incrementally(spark, tmp_path):
    """Consumer-loop shape: poll returns (None, v) when nothing moved
    (metadata-only check), then exactly the net changes since the last
    consumed version; works for COMPOUND keys including null clustering
    keys (partition/static rows)."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_changes_since,
    )

    schema = (
        "op string, pk_p long, pk_c long, writetime long, v string, "
        "segment long, position long"
    )
    store = str(tmp_path / "store")
    out = str(tmp_path / "delta")
    os.makedirs(store)
    base = spark.createDataFrame(
        [("INSERT", p, c, 10, f"v{p}.{c}", 0, p * 10 + c)
         for p in range(3) for c in range(2)]
        + [("INSERT", 0, None, 10, "static0", 0, 99)],  # null clustering
        schema,
    )
    merge_into(spark, store, base, ["pk_p", "pk_c"], n_buckets=2,
               bucket_cols=["pk_p"])
    delta_export(spark, store, out)

    ch, v = delta_changes_since(spark, out, -1, ["pk_p", "pk_c"])
    assert v == 0 and ch.count() == 7
    assert {r["_change_type"] for r in ch.collect()} == {"insert"}

    # nothing moved: no read at all
    ch2, v2 = delta_changes_since(spark, out, v, ["pk_p", "pk_c"])
    assert ch2 is None and v2 == 0

    up = spark.createDataFrame(
        [("UPDATE", 1, 0, 20, "u", 1, 0),
         ("UPDATE", 0, None, 20, "staticU", 1, 1)],
        schema,
    )
    merge_into(spark, store, up, ["pk_p", "pk_c"], n_buckets=2,
               bucket_cols=["pk_p"])
    delta_export(spark, store, out)
    ch3, v3 = delta_changes_since(spark, out, v, ["pk_p", "pk_c"])
    assert v3 == 1
    rows = ch3.collect()
    got = {(r.pk_p, r.pk_c, r["_change_type"]) for r in rows}
    # the updated row AND the null-clustering static row both classify
    # as updates (null-safe key join); untouched rows emit nothing
    assert got == {
        (1, 0, "update_preimage"), (1, 0, "update_postimage"),
        (0, None, "update_preimage"), (0, None, "update_postimage"),
    }


def test_randomized_lifecycle_export_always_matches_store(spark, tmp_path):
    """Seeded randomized lifecycle: interleave merges (inserts/updates/
    deletes), compactions, exports, checkpoints, log cleanups, and
    vacuums in random order — after EVERY export the Delta table read
    back through the log must equal the store's active view exactly.
    This is the replay-invariant a foreign reader relies on, fuzzed
    across op interleavings instead of pinned scenarios."""
    import random

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_log_cleanup,
        delta_vacuum,
        write_checkpoint,
    )

    rng = random.Random(20260814)
    store = str(tmp_path / "store")
    out = str(tmp_path / "delta")
    os.makedirs(store)
    wt = [100]

    def batch(n):
        rows = []
        for _ in range(n):
            pk = rng.randrange(24)
            op = rng.choice(["INSERT", "UPDATE", "UPDATE", "DELETE"])
            wt[0] += rng.randrange(1, 5)
            rows.append(
                (op, pk, wt[0], None if op == "DELETE" else f"v{wt[0]}",
                 "x", wt[0], pk)
            )
        return spark.createDataFrame(rows, SCHEMA)

    merge_into(spark, store, batch(12), ["pk"], n_buckets=4)
    delta_export(spark, store, out, checkpoint_interval=3)
    n_checks = 0
    for step in range(14):
        op = rng.choice(["merge", "merge", "merge", "compact", "checkpoint",
                         "cleanup", "vacuum"])
        if op == "merge":
            merge_into(spark, store, batch(rng.randrange(2, 8)), ["pk"],
                       n_buckets=4)
        elif op == "compact":
            compact(spark, store, ["pk"], tombstone_horizon=wt[0] + 1)
        elif op == "checkpoint":
            write_checkpoint(out)
        elif op == "cleanup":
            delta_log_cleanup(out)
        elif op == "vacuum":
            delta_vacuum(out, retain_ms=0)
        delta_export(spark, store, out, checkpoint_interval=3)
        got = _rows(read_delta(spark, out))
        state = read_state(spark, store)
        want = _rows(active_view(state)) if state is not None else []
        assert got == want, f"diverged at step {step} after {op}"
        n_checks += 1
    assert n_checks == 14


def test_consumer_offsets_ride_the_log(spark, tmp_path):
    """Change-feed consumer watermarks as spec txn actions: recorded as
    txn-only commits, readable back, surviving checkpoint + cleanup,
    racing a planted commit via retry, and not perturbing the
    exporter's no-change detection."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _write_commit,
        consumer_offset,
        delta_changes_since,
        delta_log_cleanup,
        record_consumer_offset,
        write_checkpoint,
    )

    store = _store(spark, tmp_path, n=8, n_buckets=2)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)

    assert consumer_offset(out, "job-a") == -1
    ch, v = delta_changes_since(spark, out, consumer_offset(out, "job-a"), ["pk"])
    assert ch.count() == 8 and v == 0
    assert record_consumer_offset(out, "job-a", v) == 1
    assert consumer_offset(out, "job-a") == 0

    # polling again: only the txn commit advanced the log — no data
    # moved, so the poll short-circuits (no Spark job) and the cursor
    # advances past the txn-only commit
    ch2, v2 = delta_changes_since(spark, out, consumer_offset(out, "job-a"), ["pk"])
    assert ch2 is None and v2 == 1

    # the txn-only commit must not break the exporter's no-change check
    assert delta_export(spark, store, out) is None

    # survives checkpoint; cleanup REFUSES while job-a's cursor (0)
    # predates the checkpoint — its next poll still needs the full JSON
    # prefix to reconstruct the file set at version 0
    write_checkpoint(out)
    assert delta_log_cleanup(out) == []
    assert consumer_offset(out, "job-a") == 0

    # race: another writer takes the next version first -> retry lands
    next_v = 2
    _write_commit(out, next_v, [{"commitInfo": {"timestamp": 1}}])
    committed = record_consumer_offset(out, "job-b", 0)
    assert committed == next_v + 1
    assert consumer_offset(out, "job-b") == 0

    # a real store change still exports and feeds after all that
    up = spark.createDataFrame([("UPDATE", 1, 20, "u", "x", 1, 0)], SCHEMA)
    merge_into(spark, store, up, ["pk"])
    newv = delta_export(spark, store, out)
    ch3, v3 = delta_changes_since(spark, out, consumer_offset(out, "job-a"), ["pk"])
    assert v3 == newv
    assert sorted(r["_change_type"] for r in ch3.collect()) == [
        "update_postimage", "update_preimage",
    ]


def test_compound_store_exports_through_compound_active_view(spark, tmp_path):
    """COMPOUND stores must export through compound_active_view (r5):
    partition-range tombstones dominate at READ time, so the default
    op!='DELETE' filter would publish dominated rows to external
    readers. With the view fn: the exported table == the compound
    active view after every commit, incl. a later partition delete that
    erases its partition's rows (and an even-later row that survives
    it)."""
    from cdc_apache_cassandra_spark.operators.lww import (
        compound_active_view,
        compound_reduce,
    )

    schema = (
        "ptype string, op string, pk_p long, pk_c long, writetime long, "
        "s_mktsegment string, v_totalprice double, segment long, position long"
    )
    store = str(tmp_path / "store")
    out = str(tmp_path / "delta")
    os.makedirs(store)
    rows = [
        ("ROW", "INSERT", p, c, 10, None, float(p * 10 + c), 0, p * 10 + c)
        for p in range(4)
        for c in range(3)
    ] + [("STATIC", "UPDATE", 1, None, 11, "SEG1", None, 0, 99)]
    merge_into(
        spark,
        store,
        spark.createDataFrame(rows, schema),
        ["pk_p", "pk_c"],
        n_buckets=2,
        bucket_cols=["pk_p"],
        reducer=compound_reduce,
        kind="compound",
    )
    delta_export(spark, store, out, active_view_fn=compound_active_view)
    got = read_delta(spark, out)
    want = compound_active_view(read_state(spark, store))
    assert got.count() == want.count() == 12
    assert got.filter("pk_p = 1 AND s_mktsegment = 'SEG1'").count() == 3

    # partition delete for pk_p=2, then a NEWER row in that partition
    batch2 = [
        ("PARTITION_KEY_ROW_DELETION", "DELETE", 2, None, 20, None, None, 1, 0),
        ("ROW", "INSERT", 2, 9, 30, None, 299.0, 1, 1),
    ]
    merge_into(
        spark,
        store,
        spark.createDataFrame(batch2, schema),
        ["pk_p", "pk_c"],
        n_buckets=2,
        bucket_cols=["pk_p"],
        reducer=compound_reduce,
        kind="compound",
    )
    delta_export(spark, store, out, active_view_fn=compound_active_view)
    got2 = read_delta(spark, out)
    want2 = compound_active_view(read_state(spark, store))
    g = sorted((r.pk_p, r.pk_c) for r in got2.collect())
    w = sorted((r.pk_p, r.pk_c) for r in want2.collect())
    assert g == w
    # pk_p=2: only the post-tombstone row survives in the PUBLISHED table
    assert [pc for pp, pc in g if pp == 2] == [9]
    # and the old default would have been WRONG here: op!='DELETE' keeps
    # the 3 dominated rows of pk_p=2
    dominated = read_state(spark, store).filter(
        "pk_p = 2 AND op <> 'DELETE' AND pk_c IS NOT NULL"
    )
    assert dominated.count() == 4  # 3 dominated + 1 live


def test_compound_store_export_refuses_default_view(spark, tmp_path):
    """The manifest's kind marker is ENFORCED (r5 advice): exporting a
    compound store without its dominance-aware view raises instead of
    publishing resurrected rows."""
    import pytest

    from cdc_apache_cassandra_spark.operators.lww import compound_reduce

    schema = (
        "ptype string, op string, pk_p long, pk_c long, writetime long, "
        "s_mktsegment string, v_totalprice double, segment long, position long"
    )
    store = str(tmp_path / "store")
    out = str(tmp_path / "delta")
    os.makedirs(store)
    rows = [("ROW", "INSERT", 1, 1, 10, None, 1.0, 0, 0)]
    merge_into(
        spark,
        store,
        spark.createDataFrame(rows, schema),
        ["pk_p", "pk_c"],
        n_buckets=2,
        bucket_cols=["pk_p"],
        reducer=compound_reduce,
        kind="compound",
    )
    with pytest.raises(ValueError, match="compound"):
        delta_export(spark, store, out)


def test_timestamp_stats_min_floors_max_ceils(tmp_path):
    """add.stats timestamp bounds (r5 advice): the JSON form is
    millisecond-precision, so a sub-millisecond true max must round UP
    (a published max below the real max lets engines skip files that
    contain matching rows); min keeps flooring (safe direction)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.streaming.delta_log import _file_stats_json

    lo = datetime.datetime(2024, 1, 1, 12, 0, 0, 1500)   # .0015s
    hi = datetime.datetime(2024, 1, 1, 12, 0, 0, 999999)  # .999999s
    mid = datetime.datetime(2024, 1, 1, 12, 0, 0, 500000)
    exact = datetime.datetime(2024, 1, 2, 0, 0, 0, 3000)  # ms-aligned
    tbl = pa.table(
        {
            "ts": pa.array([lo, mid, hi], pa.timestamp("us")),
            "ts2": pa.array([exact] * 3, pa.timestamp("us")),
        }
    )
    f = str(tmp_path / "t.parquet")
    pq.write_table(tbl, f)
    st = json.loads(_file_stats_json(f))
    assert st["minValues"]["ts"] == "2024-01-01T12:00:00.001Z"  # floored
    assert st["maxValues"]["ts"] == "2024-01-01T12:00:01.000Z"  # ceiled
    # millisecond-aligned values are exact in both directions
    assert st["minValues"]["ts2"] == st["maxValues"]["ts2"] == "2024-01-02T00:00:00.003Z"


def test_version_at_timestamp_timestampless_commit_uses_mtime(spark, tmp_path):
    """TIMESTAMP AS OF over a commit whose commitInfo has no timestamp
    (r5 advice, revised in r10 to delta-spark's actual rule): the commit
    must not default to 0 (always-eligible) — it resolves by the commit
    FILE's modification time, monotonized past its predecessor, exactly
    as DeltaHistoryManager does. Requesting a time clearly after the
    foreign commit landed therefore resolves to it; requesting the
    predecessor's own time does not."""
    import pytest

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        commit_timestamps,
        version_at_timestamp,
    )

    store = _store(spark, tmp_path, n=8, n_buckets=2)
    out = str(tmp_path / "delta")
    delta_export(spark, store, out)
    t0 = delta_history(out)[0]["timestamp"]
    # a timestamp-less foreign commit on top (e.g. a writer that omits
    # commitInfo.timestamp): txn-only, no files. Pin its mtime 5 s past
    # the export so the fallback is deterministic.
    p1 = os.path.join(out, LOG_DIR, f"{1:020d}.json")
    with open(p1, "w") as f:
        f.write(json.dumps({"txn": {"appId": "foreign", "version": 1}}) + "\n")
        f.write(json.dumps({"commitInfo": {"operation": "FOREIGN"}}) + "\n")
    os.utime(p1, ((t0 + 5_000) / 1000.0,) * 2)
    assert dict(commit_timestamps(out))[1] == t0 + 5_000
    assert version_at_timestamp(out, t0) == 0
    assert version_at_timestamp(out, t0 + 10_000) == 1  # mtime fallback
    with pytest.raises(FileNotFoundError):
        version_at_timestamp(out, t0 - 1)


def test_delta_changes_with_nullable_first_pk(spark, tmp_path):
    """Change-feed presence detection (r5 advice): existence after the
    full outer join is decided by explicit markers, not pk nullability —
    a key whose FIRST pk column is null classifies correctly."""
    from cdc_apache_cassandra_spark.streaming.delta_log import delta_changes

    schema = (
        "op string, k1 long, k2 long, writetime long, v string, "
        "segment long, position long"
    )
    store = str(tmp_path / "store")
    out = str(tmp_path / "delta")
    os.makedirs(store)
    b1 = [
        ("INSERT", None, 1, 10, "null-key-v1", 0, 0),  # null FIRST pk col
        ("INSERT", 5, 1, 10, "five", 0, 1),
        ("INSERT", 6, 1, 10, "six", 0, 2),
    ]
    merge_into(spark, store, spark.createDataFrame(b1, schema), ["k1", "k2"], n_buckets=2)
    delta_export(spark, store, out)
    b2 = [
        ("INSERT", None, 1, 20, "null-key-v2", 1, 0),  # update the null key
        ("DELETE", 6, 1, 20, None, 1, 1),              # delete six
        ("INSERT", 7, 1, 20, "seven", 1, 2),           # insert new
    ]
    merge_into(spark, store, spark.createDataFrame(b2, schema), ["k1", "k2"], n_buckets=2)
    delta_export(spark, store, out)

    ch = delta_changes(spark, out, 0, 1, ["k1", "k2"]).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], []).append((r["k1"], r["k2"], r["v"]))
    assert sorted(by_type["insert"]) == [(7, 1, "seven")]
    assert sorted(by_type["delete"]) == [(6, 1, "six")]
    # the null-first-pk key is an UPDATE pair, not a spurious insert+delete
    assert by_type["update_preimage"] == [(None, 1, "null-key-v1")]
    assert by_type["update_postimage"] == [(None, 1, "null-key-v2")]
    # unchanged neighbor (5) cancels entirely
    assert all(r["k1"] != 5 for r in ch)


def test_uri_table_root_reads_through_pyarrow_fs(spark, tmp_path):
    """Remote-log READ seam (r6): a table root given as a URI resolves
    through pyarrow.fs — the same code path an s3://gs:// mount takes —
    and must read identically to the local-path fast path, including
    checkpoint restore after cleanup, time travel, history, and the
    change feed. Writers refuse non-file URIs loudly."""
    import pytest

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_changes,
        delta_history,
        delta_log_cleanup,
        write_checkpoint,
    )

    store = _store(spark, tmp_path, n=16, n_buckets=4)
    out = str(tmp_path / "delta")
    for i in range(3):
        up = spark.createDataFrame(
            [("UPDATE", i, 20 + i, f"u{i}", "x", 1 + i, 0)], SCHEMA
        )
        merge_into(spark, store, up, ["pk"])
        delta_export(spark, store, out)
    write_checkpoint(out)
    delta_log_cleanup(out, respect_consumers=False)

    uri = f"file://{out}"
    local_rows = _rows(read_delta(spark, out))
    assert _rows(read_delta(spark, uri)) == local_rows  # checkpoint restore
    assert _rows(read_delta(spark, uri, version=2)) == local_rows
    assert [h["version"] for h in delta_history(uri)] == [
        h["version"] for h in delta_history(out)
    ]
    # file:// writers work (strip to local); remote schemes are refused
    merge_into(
        spark,
        store,
        spark.createDataFrame([("UPDATE", 9, 99, "z", "x", 9, 0)], SCHEMA),
        ["pk"],
    )
    assert delta_export(spark, store, uri) == 3
    assert _rows(read_delta(spark, out)) == _rows(read_delta(spark, uri))
    # change feed through the URI: checkpoint-restored pre (v2) + JSON
    # tail post (v3) — identical to the local read
    ch_uri = delta_changes(spark, uri, 2, 3, ["pk"])
    ch_loc = delta_changes(spark, out, 2, 3, ["pk"])
    assert sorted(map(tuple, ch_uri.collect())) == sorted(
        map(tuple, ch_loc.collect())
    )
    # a genuinely remote scheme is refused UP FRONT (before any network
    # IO) while the default POSIX-link commit store is active; with a
    # conditional-PUT store the same call is the supported remote path
    # (tests/test_remote_data_plane.py)
    with pytest.raises(NotImplementedError, match="conditional-PUT"):
        delta_export(spark, store, "s3://bucket/table")


def test_io_read_bytes_probes_existence_not_error_text(monkeypatch, tmp_path):
    """ADVICE r6: S3/GCS filesystems word missing-key OSErrors differently
    ('Path does not exist', NO_SUCH_KEY) — _io_read_bytes must probe
    get_file_info, not substring-match, so _read_last_checkpoint on a
    young remote table returns None instead of raising."""
    import pyarrow as pa
    import pyarrow.fs as pafs
    import pytest

    import cdc_apache_cassandra_spark.streaming.delta_log as dl

    class S3ishFS:
        def open_input_stream(self, p):
            raise pa.lib.ArrowIOError(
                f"Path does not exist '{p}'. Detail: [errno 2] NO_SUCH_KEY"
            )

        def get_file_info(self, p):
            class Info:
                type = pafs.FileType.NotFound

            return Info()

    fake = S3ishFS()
    real_fs = dl._fs
    monkeypatch.setattr(
        dl, "_fs", lambda p: (fake, p) if p.startswith("s3x://") else real_fs(p)
    )
    with pytest.raises(FileNotFoundError):
        dl._io_read_bytes("s3x://bucket/table/_delta_log/_last_checkpoint")
    assert dl._read_last_checkpoint("s3x://bucket/table") is None

    # a NON-missing IO error (probe says the key exists) must propagate
    class FlakyFS(S3ishFS):
        def open_input_stream(self, p):
            raise pa.lib.ArrowIOError("connection reset by peer")

        def get_file_info(self, p):
            class Info:
                type = pafs.FileType.File

            return Info()

    flaky = FlakyFS()
    monkeypatch.setattr(
        dl, "_fs", lambda p: (flaky, p) if p.startswith("s3x://") else real_fs(p)
    )
    with pytest.raises(OSError, match="connection reset"):
        dl._io_read_bytes("s3x://bucket/table/_delta_log/_last_checkpoint")


def test_delta_changes_by_time_inclusive_window(spark, tmp_path):
    """table_changes by TIMESTAMPS, both bounds inclusive: a window
    starting exactly at v1's commit time includes v1's diff; a window
    covering v0 includes the v0 rows as inserts (from=-1, the empty
    pre-table state); an empty window raises."""
    import pytest as _pytest

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_changes,
        delta_changes_by_time,
        delta_history,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    store = str(tmp_path / "s")
    table = str(tmp_path / "t")
    os.makedirs(store)
    schema = (
        "op string, pk long, writetime long, v string, "
        "segment long, position long"
    )
    for i, b in enumerate((
        [("INSERT", k, 10, f"v{k}", 0, k) for k in range(6)],
        [("UPDATE", 1, 20, "u1", 1, 0)],
        [("DELETE", 2, 30, None, 2, 0)],
    )):
        merge_into(spark, store, spark.createDataFrame(b, schema), ["pk"])
        delta_export(spark, store, table)
    ts_of = {h["version"]: h["timestamp"] for h in delta_history(table)}

    got = delta_changes_by_time(spark, table, ts_of[1], ts_of[2], ["pk"])
    want = delta_changes(spark, table, 0, 2, ["pk"])
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.select(*got.columns).collect())
    )
    # window covering v0: the NET diff from the empty pre-table state —
    # pk=2 (inserted v0, deleted v2) cancels, the surviving 5 arrive as
    # inserts carrying their final values (net-effect, as over any range)
    all_ = delta_changes_by_time(
        spark, table, ts_of[0] - 5_000, ts_of[2], ["pk"]
    )
    rows = all_.collect()
    assert sorted(r["pk"] for r in rows) == [0, 1, 3, 4, 5]
    assert {r["_change_type"] for r in rows} == {"insert"}
    assert next(r["v"] for r in rows if r["pk"] == 1) == "u1"
    with _pytest.raises(ValueError, match="no commits"):
        delta_changes_by_time(
            spark, table, ts_of[2] + 60_000, ts_of[2] + 120_000, ["pk"]
        )


def test_commit_timestamps_monotonized_with_mtime_fallback(tmp_path):
    """ADVICE r9: timestamp→version resolution must match delta-spark's
    DeltaHistoryManager on FOREIGN logs — commitInfo-free commits fall
    back to the commit file's mtime, and a clock-skewed (non-monotonic)
    writer is monotonized (each commit at least previous + 1 ms)."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        commit_timestamps,
    )

    root = str(tmp_path / "t")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)

    def write(version, lines, mtime=None):
        p = os.path.join(log, f"{version:020d}.json")
        with open(p, "w") as f:
            f.write("\n".join(json.dumps(a) for a in lines) + "\n")
        if mtime is not None:
            os.utime(p, (mtime, mtime))

    write(0, [{"commitInfo": {"timestamp": 1000}}, {"add": {"path": "a"}}])
    # v1: a foreign writer with NO commitInfo — mtime (2.0 s) is the source
    write(1, [{"add": {"path": "b"}}], mtime=2.0)
    # v2: clock skew — stamped BEFORE v0; monotonized to v1's + 1
    write(2, [{"commitInfo": {"timestamp": 500}}, {"add": {"path": "c"}}])
    assert commit_timestamps(root) == [(0, 1000), (1, 2000), (2, 2001)]


def test_commit_timestamps_distinct_error_when_unusable(tmp_path, monkeypatch):
    """Log exists but NO timestamp source at all (no commitInfo, no
    mtimes — the routed-store shape): a DISTINCT ValueError, not a
    misleading 'no Delta log' FileNotFoundError. A truly absent log
    still raises FileNotFoundError."""
    import pytest as _pytest

    from cdc_apache_cassandra_spark.streaming import delta_log as dl

    root = str(tmp_path / "t")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"add": {"path": "a"}}) + "\n")
    monkeypatch.setattr(dl, "_io_file_infos", lambda d: [])
    with _pytest.raises(ValueError, match="no usable timestamps"):
        dl.commit_timestamps(root)
    with _pytest.raises(FileNotFoundError):
        dl.commit_timestamps(str(tmp_path / "absent"))


def test_changes_by_time_on_skewed_foreign_log(spark, tmp_path):
    """delta_changes_by_time over a log whose commitInfo timestamps run
    BACKWARDS resolves through the monotonized sequence — the window
    [v1_adjusted, v1_adjusted] selects exactly v1's diff instead of
    shifting (or raising) on the raw skewed stamps."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        commit_timestamps,
        delta_changes,
        delta_changes_by_time,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    store = str(tmp_path / "s")
    table = str(tmp_path / "t")
    os.makedirs(store)
    schema = (
        "op string, pk long, writetime long, v string, "
        "segment long, position long"
    )
    for b in (
        [("INSERT", k, 10, f"v{k}", 0, k) for k in range(4)],
        [("UPDATE", 1, 20, "u1", 1, 0)],
        [("DELETE", 2, 30, None, 2, 0)],
    ):
        merge_into(spark, store, spark.createDataFrame(b, schema), ["pk"])
        delta_export(spark, store, table)
    # skew the raw stamps: v1 BEFORE v0, v2 between them
    log = os.path.join(table, "_delta_log")
    raw = {0: 10_000, 1: 4_000, 2: 7_000}
    for v, t in raw.items():
        p = os.path.join(log, f"{v:020d}.json")
        lines = [json.loads(l) for l in open(p)]
        for a in lines:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = t
        with open(p, "w") as f:
            for a in lines:
                f.write(json.dumps(a) + "\n")
    adj = dict(commit_timestamps(table))
    assert adj == {0: 10_000, 1: 10_001, 2: 10_002}  # monotonized
    got = delta_changes_by_time(spark, table, adj[1], adj[1], ["pk"])
    want = delta_changes(spark, table, 0, 1, ["pk"])
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.select(*got.columns).collect())
    )


# --- writer-side deletion vectors in delta_export (VERDICT r9 item 6) --------


def _dv_export_store(spark, tmp_path, n=40):
    store = str(tmp_path / "dvstore")
    table = str(tmp_path / "dvtable")
    os.makedirs(store)
    merge_into(
        spark,
        store,
        spark.createDataFrame(
            [("INSERT", k, 10, f"v{k}", 0, k) for k in range(n)], SCHEMA6
        ),
        ["pk"],
        n_buckets=2,
    )
    delta_export(spark, store, table)
    return store, table


SCHEMA6 = (
    "op string, pk long, writetime long, v string, "
    "segment long, position long"
)


def test_export_dv_sparse_delete_repoints_file(spark, tmp_path):
    """A sparse DELETE (under dv_max_fraction) re-points the published
    bucket file at a deletion vector instead of rewriting it: the data
    file set is unchanged on disk and in the log, the snapshot drops
    exactly the deleted keys, the CDF classifies them as deletes, and
    the protocol upgrades to the deletionVectors feature."""
    import glob

    from cdc_apache_cassandra_spark.streaming.delta_log import _replay

    store, table = _dv_export_store(spark, tmp_path)
    files_v0 = set(_replay(table).files)
    merge_into(
        spark,
        store,
        spark.createDataFrame(
            [("DELETE", k, 20, None, 1, k) for k in (4, 6)], SCHEMA6
        ),
        ["pk"],
        n_buckets=2,
    )
    assert delta_export(spark, store, table, deletion_vectors=True) == 1
    s = _replay(table)
    assert set(s.files) == files_v0  # same paths — nothing rewritten
    assert all(a.get("deletionVector") for a in s.files.values())
    assert "deletionVectors" in s.proto["readerFeatures"]
    assert len(glob.glob(os.path.join(table, "data", "*.parquet"))) == 2
    got = sorted(r.pk for r in read_delta(spark, table).collect())
    assert got == [k for k in range(40) if k not in (4, 6)]
    from cdc_apache_cassandra_spark.streaming.delta_log import delta_changes

    feed = delta_changes(spark, table, 0, 1, ["pk"]).collect()
    assert sorted((r.pk, r._change_type) for r in feed) == [
        (4, "delete"),
        (6, "delete"),
    ]


def test_export_dv_accumulates_and_survives_checkpoint(spark, tmp_path):
    """A second sparse delete REPLACES the DV with the cumulative mask;
    checkpoint + log cleanup must preserve both the upgraded protocol
    and the descriptors (a checkpoint that dropped either would
    resurrect rows)."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _replay,
        delta_log_cleanup,
        write_checkpoint,
    )

    store, table = _dv_export_store(spark, tmp_path)
    for batch in ([(4, 20)], [(8, 30)]):
        merge_into(
            spark,
            store,
            spark.createDataFrame(
                [("DELETE", k, wt, None, 1, k) for k, wt in batch], SCHEMA6
            ),
            ["pk"],
            n_buckets=2,
        )
        delta_export(spark, store, table, deletion_vectors=True)
    want = [k for k in range(40) if k not in (4, 8)]
    assert sorted(r.pk for r in read_delta(spark, table).collect()) == want
    write_checkpoint(table)
    delta_log_cleanup(table)
    s = _replay(table)
    assert "deletionVectors" in s.proto["readerFeatures"]
    assert sorted(r.pk for r in read_delta(spark, table).collect()) == want


def test_export_dv_falls_back_on_update_or_dense_delete(spark, tmp_path):
    """Buckets with an UPDATED row (set inequality) or deletes past
    dv_max_fraction rewrite as before — no DV, new file path."""
    from cdc_apache_cassandra_spark.streaming.delta_log import _replay

    store, table = _dv_export_store(spark, tmp_path)
    files_v0 = set(_replay(table).files)
    # update one key + delete one key: the delete alone is sparse, but
    # the update makes the new state not-a-subset -> rewrite
    merge_into(
        spark,
        store,
        spark.createDataFrame(
            [
                ("UPSERT", 2, 20, "v2b", 1, 2),
                ("DELETE", 3, 20, None, 1, 3),
            ],
            SCHEMA6,
        ),
        ["pk"],
        n_buckets=2,
    )
    delta_export(spark, store, table, deletion_vectors=True)
    s = _replay(table)
    touched = [
        a for p, a in s.files.items() if p not in files_v0
    ]
    assert touched, "changed buckets must have been rewritten"
    assert not any(a.get("deletionVector") for a in s.files.values())
    rows = {r.pk: r.v for r in read_delta(spark, table).collect()}
    assert rows[2] == "v2b" and 3 not in rows
    # dense delete: half the keys -> fraction gate rejects, rewrite
    files_v1 = set(_replay(table).files)
    merge_into(
        spark,
        store,
        spark.createDataFrame(
            [("DELETE", k, 30, None, 2, k) for k in range(0, 40, 2) if k not in (2, 3)],
            SCHEMA6,
        ),
        ["pk"],
        n_buckets=2,
    )
    delta_export(spark, store, table, deletion_vectors=True)
    s2 = _replay(table)
    assert not any(a.get("deletionVector") for a in s2.files.values())
    assert set(s2.files) != files_v1


def test_export_dv_plans_executor_side(spark, tmp_path, monkeypatch):
    """The writer-DV planner never materializes deleted ordinals on the
    driver (VERDICT r10's weak: dv_max_fraction is a RELATIVE bound, so
    a driver collect of ordinals scaled with data). Pin both halves:
    (1) the planner's return value carries metadata-sized DESCRIPTOR
    dicts, never ordinal lists; (2) the driver process never calls the
    DV encoder — the file is written executor-side (a driver-side
    revert would trip the patched symbol)."""
    import cdc_apache_cassandra_spark.streaming.delta_log as dl
    import cdc_apache_cassandra_spark.streaming.deletion_vectors as dvmod

    store, table = _dv_export_store(spark, tmp_path)
    merge_into(
        spark,
        store,
        spark.createDataFrame(
            [("DELETE", k, 20, None, 1, k) for k in (4, 6)], SCHEMA6
        ),
        ["pk"],
        n_buckets=2,
    )
    captured: dict = {}
    orig_plan = dl._plan_dv_buckets

    def spy(*a, **k):
        r = orig_plan(*a, **k)
        captured.update(r)
        return r

    def driver_write_forbidden(*a, **k):
        raise AssertionError(
            "write_dv_file called in the DRIVER process — DV files "
            "must be written executor-side by the planner"
        )

    monkeypatch.setattr(dl, "_plan_dv_buckets", spy)
    # executor python workers import their own module copy; this patch
    # only bites driver-side calls
    monkeypatch.setattr(dvmod, "write_dv_file", driver_write_forbidden)
    assert delta_export(spark, store, table, deletion_vectors=True) == 1
    assert captured, "sparse delete must have planned at least one DV"
    for rel, add, dv in captured.values():
        assert isinstance(dv, dict)
        assert set(dv) == {
            "storageType",
            "pathOrInlineDv",
            "offset",
            "sizeInBytes",
            "cardinality",
        }
        assert dv["cardinality"] <= 2  # metadata, not row data
    got = sorted(r.pk for r in read_delta(spark, table).collect())
    assert got == [k for k in range(40) if k not in (4, 6)]


def test_export_dv_stream_feed_sees_deletes(spark, tmp_path):
    """The streaming change feed over a DV-emitting export classifies
    the DV-attach commit as exactly the deleted rows."""
    import uuid as _uuid

    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        register as register_feed,
    )

    store, table = _dv_export_store(spark, tmp_path)
    merge_into(
        spark,
        store,
        spark.createDataFrame(
            [("DELETE", 5, 20, None, 1, 5)], SCHEMA6
        ),
        ["pk"],
        n_buckets=2,
    )
    delta_export(spark, store, table, deletion_vectors=True)
    register_feed(spark)
    name = "dvexp_" + _uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("cdc_delta_changes")
        .option("path", table)
        .option("pkCols", "pk")
        .option("startingVersion", 0)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table(name).collect()
    assert sorted((r.pk, r._change_type) for r in got) == [(5, "delete")]


def test_export_dv_default_off_stays_base_protocol(spark, tmp_path):
    """Without the opt-in, a sparse delete rewrites as always and the
    table stays base-protocol (readable by any Delta client)."""
    from cdc_apache_cassandra_spark.streaming.delta_log import _replay

    store, table = _dv_export_store(spark, tmp_path)
    merge_into(
        spark,
        store,
        spark.createDataFrame([("DELETE", 4, 20, None, 1, 4)], SCHEMA6),
        ["pk"],
        n_buckets=2,
    )
    delta_export(spark, store, table)
    s = _replay(table)
    assert s.proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    assert not any(a.get("deletionVector") for a in s.files.values())


def test_version_at_timestamp_uses_adjusted_timestamps(spark, tmp_path):
    """TIMESTAMP AS OF resolves on the MONOTONIZED sequence — on a
    clock-skewed foreign log, raw-timestamp resolution would pick a
    LATER version than the CDF window for the same instant (the two
    surfaces must place one time on the same side of every commit)."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        commit_timestamps,
        version_at_timestamp,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    store = str(tmp_path / "s")
    table = str(tmp_path / "t")
    os.makedirs(store)
    schema = (
        "op string, pk long, writetime long, v string, "
        "segment long, position long"
    )
    for i in range(3):
        merge_into(
            spark, store,
            spark.createDataFrame([("INSERT", i, 10 + i, f"v{i}", i, 0)], schema),
            ["pk"],
        )
        delta_export(spark, store, table)
    log = os.path.join(table, LOG_DIR)
    for v, t in {0: 10_000, 1: 4_000, 2: 7_000}.items():
        p = os.path.join(log, f"{v:020d}.json")
        lines = [json.loads(l) for l in open(p)]
        for a in lines:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = t
        with open(p, "w") as f:
            for a in lines:
                f.write(json.dumps(a) + "\n")
    assert dict(commit_timestamps(table)) == {0: 10_000, 1: 10_001, 2: 10_002}
    # raw resolution would return 2 (all raw stamps <= 10_001)
    assert version_at_timestamp(table, 10_001) == 1
    assert read_delta(spark, table, timestamp_ms=10_001).count() == 2


def test_export_dv_on_uri_table_root(spark, tmp_path):
    """deletion_vectors=True against a file:// URI root: the DV blob
    must travel the pyarrow-fs seam like every other driver-side byte
    (a plain open() would crash on the scheme)."""
    import glob

    store, table = _dv_export_store(spark, tmp_path)
    # re-root the existing local export as a URI for the DV commit
    uri = "file://" + table
    merge_into(
        spark,
        store,
        spark.createDataFrame([("DELETE", 7, 20, None, 1, 7)], SCHEMA6),
        ["pk"],
        n_buckets=2,
    )
    assert delta_export(spark, store, uri, deletion_vectors=True) == 1
    assert glob.glob(os.path.join(table, "deletion_vector_*.bin"))
    got = sorted(r.pk for r in read_delta(spark, table).collect())
    assert got == [k for k in range(40) if k != 7]


def test_commit_timestamps_prefer_in_commit_timestamp(tmp_path):
    """The inCommitTimestamp writer feature: when a commitInfo carries
    one, it is the AUTHORITATIVE commit time (delta-spark's time travel
    prefers it over the file-landing wall clock)."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        commit_timestamps,
        version_at_timestamp,
    )

    root = str(tmp_path / "t")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    rows = [
        (0, {"timestamp": 9_000, "inCommitTimestamp": 5_000}),
        (1, {"timestamp": 9_500, "inCommitTimestamp": 6_000}),
    ]
    for v, ci in rows:
        with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
            f.write(json.dumps({"commitInfo": ci}) + "\n")
            f.write(json.dumps({"add": {"path": f"f{v}"}}) + "\n")
    assert commit_timestamps(root) == [(0, 5_000), (1, 6_000)]
    assert version_at_timestamp(root, 5_500) == 0


def test_export_in_commit_timestamps_creation_and_monotonic(spark, tmp_path, monkeypatch):
    """inCommitTimestamp writer feature (r11): created with the flag,
    every commit carries a strictly monotonic authoritative time as
    its FIRST action; the flag is sticky via table config; a clock
    stepping BACKWARDS cannot make table time regress; and
    commit_timestamps resolves to exactly these values (no mtime
    fallback, no adjustment)."""
    import cdc_apache_cassandra_spark.streaming.delta_log as dl

    # reuse the store fixture; export to a FRESH table with the flag
    store, _ = _dv_export_store(spark, tmp_path)
    table2 = str(tmp_path / "ict_table")
    assert delta_export(
        spark, store, table2, in_commit_timestamps=True) == 0
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _replay,
        commit_timestamps,
    )

    log = os.path.join(table2, LOG_DIR)
    lines0 = [json.loads(l) for l in open(os.path.join(log, f"{0:020d}.json"))]
    assert "commitInfo" in lines0[0], "commitInfo must be the FIRST action"
    ict0 = lines0[0]["commitInfo"]["inCommitTimestamp"]
    assert isinstance(ict0, int)
    s = _replay(table2)
    assert s.proto["minWriterVersion"] == 7
    assert "inCommitTimestamp" in s.proto["writerFeatures"]
    cfg = s.meta["configuration"]
    assert cfg["delta.enableInCommitTimestamps"] == "true"
    assert "delta.inCommitTimestampEnablementVersion" not in cfg  # at creation
    # clock steps BACKWARDS; the flag is NOT passed again (sticky)
    merge_into(
        spark, store,
        spark.createDataFrame([("UPSERT", 1, 99, "v1b", 9, 1)], SCHEMA6),
        ["pk"], n_buckets=2)
    monkeypatch.setattr(dl, "_now_ms", lambda: ict0 - 50_000)
    assert delta_export(spark, store, table2) == 1
    lines1 = [json.loads(l) for l in open(os.path.join(log, f"{1:020d}.json"))]
    assert "commitInfo" in lines1[0]
    ict1 = lines1[0]["commitInfo"]["inCommitTimestamp"]
    assert ict1 == ict0 + 1, "monotonic floor must beat the skewed clock"
    assert dict(commit_timestamps(table2)) == {0: ict0, 1: ict1}


def test_export_in_commit_timestamps_midlife_enable(spark, tmp_path):
    """Enabling ICT on an EXISTING base-protocol table: in-place
    protocol upgrade to writer version 7 with the legacy-implied
    features, and the spec's enablement provenance keys record the
    enabling version + its timestamp."""
    from cdc_apache_cassandra_spark.streaming.delta_log import _replay

    store, table = _dv_export_store(spark, tmp_path)  # v0: base protocol
    assert _replay(table).proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    merge_into(
        spark, store,
        spark.createDataFrame([("UPSERT", 2, 50, "v2b", 5, 2)], SCHEMA6),
        ["pk"], n_buckets=2)
    assert delta_export(spark, store, table, in_commit_timestamps=True) == 1
    s = _replay(table)
    assert sorted(s.proto["writerFeatures"]) == [
        "appendOnly", "inCommitTimestamp", "invariants"]
    assert s.proto["minReaderVersion"] == 1
    log = os.path.join(table, LOG_DIR)
    lines1 = [json.loads(l) for l in open(os.path.join(log, f"{1:020d}.json"))]
    ict1 = lines1[0]["commitInfo"]["inCommitTimestamp"]
    cfg = s.meta["configuration"]
    assert cfg["delta.enableInCommitTimestamps"] == "true"
    assert cfg["delta.inCommitTimestampEnablementVersion"] == "1"
    assert cfg["delta.inCommitTimestampEnablementTimestamp"] == str(ict1)
    # reads unaffected
    got = sorted(r.pk for r in read_delta(spark, table).collect())
    assert got == list(range(40))


def test_export_protocol_upgrade_preserves_foreign_features(spark, tmp_path):
    """An in-place protocol upgrade (first ICT commit here) must UNION
    with the features the table already declares — rebuilding from the
    export's own flags would silently drop v2Checkpoint/rowTracking
    from a table still using them and downgrade minReaderVersion
    (code-review r11 finding)."""
    from cdc_apache_cassandra_spark.streaming.delta_log import _replay

    store, table = _dv_export_store(spark, tmp_path)
    # a richer protocol lands out-of-band (say a foreign maintenance
    # writer): reader v3 with v2Checkpoint, writer rowTracking
    log = os.path.join(table, LOG_DIR)
    v = _replay(table).last + 1
    with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint", "rowTracking"],
        }}) + "\n")
        f.write(json.dumps({"commitInfo": {"timestamp": 1}}) + "\n")
    merge_into(
        spark, store,
        spark.createDataFrame([("UPSERT", 3, 60, "v3b", 6, 3)], SCHEMA6),
        ["pk"], n_buckets=2)
    assert delta_export(spark, store, table, in_commit_timestamps=True) == v + 1
    p = _replay(table).proto
    assert p["minReaderVersion"] == 3
    assert "v2Checkpoint" in p["readerFeatures"]
    assert set(p["writerFeatures"]) >= {
        "v2Checkpoint", "rowTracking", "inCommitTimestamp",
        "appendOnly", "invariants"}


def test_export_ict_on_empty_store_stays_noop(spark, tmp_path):
    """First export of an EMPTY store with in_commit_timestamps=True:
    there is nothing to export and no schema to write a metaData from
    — must return None exactly as without the flag, not KeyError
    (code-review r11 finding)."""
    class _EmptyManifest:
        def load(self, path):
            return {"version": 0, "buckets": {}, "kind": "lww"}, None

    out = str(tmp_path / "empty_table")
    assert delta_export(
        spark, str(tmp_path / "nostore"), out,
        manifest_store=_EmptyManifest(), in_commit_timestamps=True,
    ) is None
    assert not os.path.exists(os.path.join(out, LOG_DIR))


def test_export_v2_checkpoints_end_to_end(spark, tmp_path):
    """V2 checkpoint WRITER (r11): delta_export(v2_checkpoints=True)
    declares the v2Checkpoint reader feature + delta.checkpointPolicy
    config (sticky), and write_checkpoint auto-detects the policy —
    producing a UUID-named self-contained top-level file with parquet
    sidecars that the engine's own V2 reader restores after log
    cleanup. The empty-bucket memo rides the pointer as always."""
    import glob

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _replay,
        delta_log_cleanup,
        write_checkpoint,
    )

    store, table = _dv_export_store(spark, tmp_path)  # base table exists
    table2 = str(tmp_path / "v2cp")
    assert delta_export(
        spark, store, table2, v2_checkpoints=True) == 0
    s = _replay(table2)
    assert "v2Checkpoint" in s.proto["readerFeatures"]
    assert "v2Checkpoint" in s.proto["writerFeatures"]
    assert s.meta["configuration"]["delta.checkpointPolicy"] == "v2"
    # second commit WITHOUT the flag (sticky), then checkpoint
    merge_into(
        spark, store,
        spark.createDataFrame([("UPSERT", 0, 77, "v0c", 7, 0)], SCHEMA6),
        ["pk"], n_buckets=2)
    assert delta_export(spark, store, table2) == 1
    cp = write_checkpoint(table2)  # v2 auto-detected from config
    log = os.path.join(table2, LOG_DIR)
    assert ".checkpoint." in cp and not cp.endswith(".checkpoint.parquet")
    assert glob.glob(os.path.join(log, "_sidecars", "*.parquet"))
    assert not glob.glob(os.path.join(log, "*.checkpoint.parquet"))
    deleted = delta_log_cleanup(table2)
    assert f"{0:020d}.json" in deleted
    got = {r.pk: r.v for r in read_delta(spark, table2).collect()}
    assert got[0] == "v0c" and len(got) == 40


def test_export_v2_checkpoint_multi_sidecar(spark, tmp_path):
    """parts= forces the sidecar count; restore concatenates them."""
    import glob

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_log_cleanup,
        write_checkpoint,
    )

    store, _ = _dv_export_store(spark, tmp_path)
    table2 = str(tmp_path / "v2multi")
    delta_export(spark, store, table2, v2_checkpoints=True)
    write_checkpoint(table2, parts=2)
    log = os.path.join(table2, LOG_DIR)
    assert len(glob.glob(os.path.join(log, "_sidecars", "*.parquet"))) == 2
    delta_log_cleanup(table2)
    assert read_delta(spark, table2).count() == 40


def test_write_checkpoint_v2_requires_declared_feature(spark, tmp_path):
    """write_checkpoint(v2=True) on a table whose protocol does not
    declare v2Checkpoint refuses loudly — a V2 checkpoint a
    non-declaring reader skipped would resurrect cleaned history."""
    import pytest

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        write_checkpoint,
    )

    _, table = _dv_export_store(spark, tmp_path)
    with pytest.raises(ValueError, match="v2Checkpoint"):
        write_checkpoint(table, v2=True)


# --- characterization: one export commit per write strategy -----------------


def _view_no_deletes(df):
    # the default view's rows through a CUSTOM view function: takes the
    # staging-job strategy instead of the hard-link one
    return df.filter(F.col("op") != "DELETE")


_EXPORT_CASES = {
    # case -> (first export's options, second export's options)
    "linked": ({}, {}),
    "staged": (
        {"active_view_fn": _view_no_deletes},
        {"active_view_fn": _view_no_deletes},
    ),
    "dv_repoint": ({}, {"deletion_vectors": True}),
    "cdf_mixed": ({"change_data_feed": True, "cdf_pk_cols": ["pk"]}, {}),
    "column_mapping": ({"column_mapping": "name"}, {}),
    "ict": ({"in_commit_timestamps": True}, {}),
}


def _commit_shape(table, version):
    """A commit's actions with timestamps and uuid-bearing names
    normalized: what the export decided, not when or under which
    token. ``linked`` lists the newly published data files that are a
    hard link of the store's file (the metadata-only strategy)."""
    import re

    path = os.path.join(table, LOG_DIR, f"{version:020d}.json")
    actions = [json.loads(x) for x in open(path) if x.strip()]
    info = next(a["commitInfo"] for a in actions if "commitInfo" in a)
    meta = next((a["metaData"] for a in actions if "metaData" in a), None)
    adds = [a["add"] for a in actions if "add" in a]
    return {
        "kinds": [next(iter(a)) for a in actions],
        "adds": [
            (
                a["path"],
                a.get("tags"),
                (a.get("deletionVector") or {}).get("cardinality"),
            )
            for a in adds
        ],
        "linked": [
            a["path"]
            for a in adds
            if not a.get("deletionVector")
            and os.stat(os.path.join(table, a["path"])).st_nlink > 1
        ],
        "removes": [
            (a["remove"]["path"], "deletionVector" in a["remove"])
            for a in actions
            if "remove" in a
        ],
        "cdc": [
            re.sub(r"-[0-9a-f]{8}-", "-<token>-", a["cdc"]["path"])
            for a in actions
            if "cdc" in a
        ],
        "operationParameters": info["operationParameters"],
        "emptyBuckets": info["emptyBuckets"],
        "ict": "inCommitTimestamp" in info,
        "protocol": next(
            (a["protocol"] for a in actions if "protocol" in a), None
        ),
        "configuration": None if meta is None else {
            k: "<ts>" if k.endswith("Timestamp") else v
            for k, v in meta["configuration"].items()
        },
    }


def _expected_export_shapes(case):
    """The two commits of ``test_export_commit_shape_per_strategy``:
    v0 publishes all four buckets; v1 empties bucket 0 (memo only),
    rewrites bucket 2 and either rewrites bucket 1 or re-points its
    file at a deletion vector."""

    def data(b, v):
        return f"data/b{b:05d}-v{v:010d}.parquet"

    def tags(b, v):
        return {"bucket": str(b), "storeVersion": str(v)}

    base_protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
    v0 = {
        "kinds": ["protocol", "metaData", "commitInfo"] + ["add"] * 4,
        "adds": [(data(b, 1), tags(b, 1), None) for b in range(4)],
        "linked": [data(b, 1) for b in range(4)],
        "removes": [],
        "cdc": [],
        "operationParameters": {
            "changedBuckets": "4", "droppedBuckets": "0", "storeVersion": "1"
        },
        "emptyBuckets": {},
        "ict": False,
        "protocol": base_protocol,
        "configuration": {},
    }
    v1 = {
        "kinds": ["commitInfo", "remove", "remove", "add", "remove", "add"],
        "adds": [(data(b, 2), tags(b, 2), None) for b in (1, 2)],
        "linked": [data(b, 2) for b in (1, 2)],
        "removes": [(data(b, 1), False) for b in (0, 1, 2)],
        "cdc": [],
        "operationParameters": {
            "changedBuckets": "3", "droppedBuckets": "0", "storeVersion": "2"
        },
        "emptyBuckets": {"0": 2},
        "ict": False,
        "protocol": None,
        "configuration": None,
    }
    if case == "staged":
        v0["linked"] = v1["linked"] = []
    elif case == "dv_repoint":
        v1.update(
            kinds=["protocol"] + v1["kinds"],
            adds=[
                (data(2, 2), tags(2, 2), None),
                (data(1, 1), tags(1, 2), 1),
            ],
            linked=[],
            removes=[(data(b, 1), False) for b in (0, 2, 1)],
            protocol={
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": [
                    "appendOnly", "deletionVectors", "invariants"
                ],
            },
        )
    elif case == "cdf_mixed":
        v0.update(
            linked=[],
            protocol={"minReaderVersion": 1, "minWriterVersion": 4},
            configuration={
                "cdcEngine.changeDataFeed.pkCols": "pk",
                "delta.enableChangeDataFeed": "true",
            },
        )
        v1.update(
            kinds=v1["kinds"] + ["cdc"] * 3,
            linked=[],
            cdc=[
                f"_change_data/cdc-{1:020d}-<token>-{i:05d}.parquet"
                for i in range(3)
            ],
        )
    elif case == "column_mapping":
        v0.update(
            linked=[],
            protocol={"minReaderVersion": 2, "minWriterVersion": 5},
            configuration={
                "delta.columnMapping.maxColumnId": "6",
                "delta.columnMapping.mode": "name",
            },
        )
        v1["linked"] = []
    elif case == "ict":
        v0.update(
            kinds=["commitInfo", "protocol", "metaData"] + ["add"] * 4,
            ict=True,
            protocol={
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": [
                    "appendOnly", "inCommitTimestamp", "invariants"
                ],
            },
            configuration={"delta.enableInCommitTimestamps": "true"},
        )
        v1["ict"] = True
    return {0: v0, 1: v1}


@pytest.mark.parametrize("case", sorted(_EXPORT_CASES))
def test_export_commit_shape_per_strategy(spark, tmp_path, case):
    """Pins the exact commit each export strategy writes — action-kind
    order, add tags, remove paths, commitInfo parameters, the
    empty-bucket memo and the protocol — for a second export that
    empties one bucket, sparsely deletes from another and updates a
    third, leaving the fourth untouched."""
    first, second = _EXPORT_CASES[case]
    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store)
    merge_into(
        spark,
        store,
        spark.createDataFrame(
            [("INSERT", k, 10, f"v{k}", 0, k) for k in range(40)], SCHEMA6
        ),
        ["pk"],
        n_buckets=4,
    )
    got = {}
    assert delta_export(spark, store, table, **first) == 0
    got[0] = _commit_shape(table, 0)
    bucket_of = {
        r.pk: r.b
        for r in spark.range(40)
        .select(
            F.col("id").alias("pk"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(4)).alias("b"),
        )
        .collect()
    }
    in_b = {
        b: sorted(k for k, v in bucket_of.items() if v == b) for b in range(4)
    }
    batch = (
        [("DELETE", k, 20, None, 1, k) for k in in_b[0]]
        + [("DELETE", in_b[1][0], 20, None, 1, 100)]
        + [("UPDATE", in_b[2][0], 20, "upd", 1, 101)]
    )
    merge_into(
        spark, store, spark.createDataFrame(batch, SCHEMA6), ["pk"],
        n_buckets=4,
    )
    assert delta_export(spark, store, table, **second) == 1
    got[1] = _commit_shape(table, 1)
    assert got == _expected_export_shapes(case)
