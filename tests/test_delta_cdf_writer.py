"""delta_export as a Change Data Feed WRITER (r11): mixed commits
carry spec change-data files under _change_data/ (cdc actions), pure
insert/remove commits deliberately none (readers synthesize), sticky
enablement with persisted pk cols, protocol (1,4) / feature upgrade,
and the engine's own CDF readers (batch + readChangeFeed stream)
consuming the export with no pk and no file diffing."""

import json
import os
import uuid

import pytest

from pyspark.sql import functions as F

from cdc_apache_cassandra_spark.streaming.delta_log import (
    CDC_DIR,
    delta_changes,
    delta_changes_cdf,
    delta_export,
)
from cdc_apache_cassandra_spark.streaming.materialize import merge_into
from tests.change_oracle import net_diff

SCHEMA = (
    "op string, pk long, writetime long, v string, segment long, position long"
)

B0 = [("INSERT", i, 10, f"v{i}", 0, i) for i in range(8)]
B1 = [
    ("UPDATE", 1, 20, "u1", 1, 0),
    ("DELETE", 3, 20, None, 1, 1),
    ("INSERT", 9, 20, "nine", 1, 2),
]


def _commit_actions(table, v):
    path = os.path.join(table, "_delta_log", f"{v:020d}.json")
    return [json.loads(x) for x in open(path) if x.strip()]


def _build(spark, tmp_path, **export_opts):
    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store, exist_ok=True)
    merge_into(spark, store, spark.createDataFrame(B0, SCHEMA), ["pk"],
               n_buckets=4)
    delta_export(spark, store, table, change_data_feed=True,
                 cdf_pk_cols=["pk"], **export_opts)
    merge_into(spark, store, spark.createDataFrame(B1, SCHEMA), ["pk"],
               n_buckets=4)
    delta_export(spark, store, table)  # sticky: no flags needed
    return store, table


def test_export_cdf_end_to_end(spark, tmp_path):
    """Creation commit = add-only, NO cdc actions (readers synthesize
    inserts); the rewrite commit is mixed and MUST carry them; the
    batch CDF reader serves the whole window and agrees with the
    pk-diff classification exactly."""
    _, table = _build(spark, tmp_path)
    a0 = _commit_actions(table, 0)
    assert not any("cdc" in a for a in a0)
    proto = next(a["protocol"] for a in a0 if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 4}
    meta = next(a["metaData"] for a in a0 if "metaData" in a)
    assert meta["configuration"]["delta.enableChangeDataFeed"] == "true"
    assert (
        meta["configuration"]["cdcEngine.changeDataFeed.pkCols"] == "pk"
    )
    a1 = _commit_actions(table, 1)
    cdc = [a["cdc"] for a in a1 if "cdc" in a]
    assert cdc, "mixed rewrite commit must carry cdc actions"
    assert all(a["path"].startswith(CDC_DIR + "/") for a in cdc)
    assert all(a["dataChange"] is False for a in cdc)
    # the CDF read (no pk!) == the pk-diff read over the same window
    feed = delta_changes_cdf(spark, table, 0, 1)
    diff = delta_changes(spark, table, 0, 1, ["pk"])
    want_v1 = sorted(
        (r.pk, r._change_type, r.v) for r in diff.collect()
    )
    got_v1 = sorted(
        (r.pk, r._change_type, r.v)
        for r in feed.filter("_commit_version = 1").collect()
    )
    assert got_v1 == want_v1
    # creation commit synthesized as inserts
    assert sorted(
        (r.pk, r.v)
        for r in feed.filter(
            "_commit_version = 0 AND _change_type = 'insert'"
        ).collect()
    ) == [(i, f"v{i}") for i in range(8)]
    assert feed.filter("_commit_version = 0").count() == 8


def test_export_cdf_stream_consumes_export(spark, tmp_path):
    """The readChangeFeed stream tails the CDF-writing export with no
    pkCols — bootstrap + per-version must equal the batch window."""
    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        register as register_feed,
    )

    _, table = _build(spark, tmp_path)
    register_feed(spark)
    name = "cdfw_" + uuid.uuid4().hex[:10]
    q = (
        spark.readStream.format("cdc_delta_changes")
        .option("path", table)
        .option("readChangeFeed", "true")
        .option("maxVersionsPerBatch", 1)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table(name)
    want = delta_changes_cdf(spark, table, 0, 1).select(got.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_export_cdf_requires_pk_once(spark, tmp_path):
    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store)
    merge_into(spark, store, spark.createDataFrame(B0, SCHEMA), ["pk"],
               n_buckets=2)
    with pytest.raises(ValueError, match="cdf_pk_cols"):
        delta_export(spark, store, table, change_data_feed=True)
    # with pk: creation succeeds, and the NEXT export needs no flags
    delta_export(spark, store, table, change_data_feed=True,
                 cdf_pk_cols=["pk"])
    merge_into(spark, store, spark.createDataFrame(B1, SCHEMA), ["pk"],
               n_buckets=2)
    assert delta_export(spark, store, table) == 1
    assert delta_changes_cdf(spark, table, 1, 1).count() > 0


def test_export_cdf_composes_with_deletion_vectors(spark, tmp_path):
    """DV + CDF together: a sparse delete re-points the bucket's file
    at a deletion vector (same path, add+remove = mixed commit) AND
    records the newly masked rows as delete change rows — the generic
    classification of (published file minus OLD DV) against the staged
    live rows, no DV-specific path. The CDF read must agree with the
    pk-diff read exactly."""
    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store)
    big = [("INSERT", i, 10, f"v{i}", 0, i) for i in range(40)]
    merge_into(spark, store, spark.createDataFrame(big, SCHEMA), ["pk"],
               n_buckets=2)
    delta_export(spark, store, table, change_data_feed=True,
                 cdf_pk_cols=["pk"], deletion_vectors=True)
    # sparse delete: 2 of ~20 rows in one bucket
    dels = [("DELETE", 4, 20, None, 1, 0), ("DELETE", 6, 20, None, 1, 1)]
    merge_into(spark, store, spark.createDataFrame(dels, SCHEMA), ["pk"],
               n_buckets=2)
    v = delta_export(spark, store, table, deletion_vectors=True)
    a = _commit_actions(table, v)
    dv_adds = [x["add"] for x in a
               if "add" in x and x["add"].get("deletionVector")]
    assert dv_adds, "sparse delete should have planned a deletion vector"
    assert any("cdc" in x for x in a)
    feed = delta_changes_cdf(spark, table, v, v)
    diff = delta_changes(spark, table, v - 1, v, ["pk"])
    want = sorted((r.pk, r._change_type) for r in diff.collect())
    assert want == [(4, "delete"), (6, "delete")]
    assert sorted((r.pk, r._change_type) for r in feed.collect()) == want


def test_export_cdf_mapped_table(spark, tmp_path):
    """CDF + name-mode column mapping compose: cdc files store data
    under PHYSICAL names with _change_type passed through literally;
    the protocol upgrade lists both feature families; the CDF read
    restores logical names."""
    _, table = _build(spark, tmp_path, column_mapping="name")
    a0 = _commit_actions(table, 0)
    proto = next(a["protocol"] for a in a0 if "protocol" in a)
    # mapped (2,5) already implies changeDataFeed (v4 < v5)
    assert proto == {"minReaderVersion": 2, "minWriterVersion": 5}
    import glob

    cdc_files = glob.glob(os.path.join(table, CDC_DIR, "*.parquet"))
    assert cdc_files
    import pyarrow.parquet as pq

    names = set(pq.read_schema(cdc_files[0]).names)
    assert "_change_type" in names
    assert "pk" not in names  # physical names in the file
    feed = delta_changes_cdf(spark, table, 1, 1)
    diff = delta_changes(spark, table, 0, 1, ["pk"])
    assert sorted((r.pk, r._change_type, r.v) for r in feed.collect()) == \
        sorted((r.pk, r._change_type, r.v) for r in diff.collect())


def test_export_cdf_changeless_rewrite_ships_empty_cdc(spark, tmp_path):
    """A rewrite that changed no logical row (same rows re-merged) is
    still a MIXED commit — it must ship an (empty) cdc file so CDF
    readers serve the commit as changeless instead of refusing it."""
    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store)
    merge_into(spark, store, spark.createDataFrame(B0, SCHEMA), ["pk"],
               n_buckets=2)
    delta_export(spark, store, table, change_data_feed=True,
                 cdf_pk_cols=["pk"])
    # re-merge the SAME rows: store versions move, logical state doesn't
    merge_into(spark, store, spark.createDataFrame(B0, SCHEMA), ["pk"],
               n_buckets=2)
    v = delta_export(spark, store, table)
    if v is None:
        pytest.skip("store dedup made the second export a no-op")
    a = _commit_actions(table, v)
    has_add = any("add" in x for x in a)
    has_remove = any("remove" in x for x in a)
    if has_add and has_remove:
        assert any("cdc" in x for x in a)
        assert delta_changes_cdf(spark, table, v, v).count() == 0


def test_export_cdf_drop_only_commit_synthesizes_deletes(spark, tmp_path):
    """A commit that only DROPS buckets (store rows all deleted) is
    pure-remove: no cdc files, readers synthesize deletes from the
    pre-commit snapshot."""
    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store)
    merge_into(spark, store, spark.createDataFrame(B0, SCHEMA), ["pk"],
               n_buckets=2)
    delta_export(spark, store, table, change_data_feed=True,
                 cdf_pk_cols=["pk"])
    # delete EVERY row -> all buckets empty
    dels = [("DELETE", i, 30, None, 2, i) for i in range(8)]
    merge_into(spark, store, spark.createDataFrame(dels, SCHEMA), ["pk"],
               n_buckets=2)
    v = delta_export(spark, store, table)
    a = _commit_actions(table, v)
    assert not any("add" in x for x in a)
    assert not any("cdc" in x for x in a)
    feed = delta_changes_cdf(spark, table, v, v)
    assert sorted(r.pk for r in feed.collect()) == list(range(8))
    assert set(r._change_type for r in feed.collect()) == {"delete"}


def test_vacuum_cleans_orphaned_cdc_files(spark, tmp_path):
    """delta_log_cleanup orphans the cleaned commits' change-data
    files; delta_vacuum removes exactly those (delta-spark parity),
    keeping every cdc file a SURVIVING commit still references."""
    import glob

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_log_cleanup,
        delta_vacuum,
        write_checkpoint,
    )

    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store)
    merge_into(spark, store, spark.createDataFrame(B0, SCHEMA), ["pk"],
               n_buckets=2)
    delta_export(spark, store, table, change_data_feed=True,
                 cdf_pk_cols=["pk"])
    for wt, val in ((20, "x"), (30, "y"), (40, "z")):
        merge_into(
            spark, store,
            spark.createDataFrame([("UPDATE", 1, wt, val, 1, 0)], SCHEMA),
            ["pk"], n_buckets=2)
        delta_export(spark, store, table)
    all_cdc = set(glob.glob(os.path.join(table, CDC_DIR, "*.parquet")))
    assert len(all_cdc) >= 3
    write_checkpoint(table, 2)
    delta_log_cleanup(table)
    # commits 0..1 gone; their cdc files are orphans now
    deleted = delta_vacuum(table, retain_ms=0)
    orphans = [d for d in deleted if d.startswith(CDC_DIR)]
    assert orphans
    survivors = set(glob.glob(os.path.join(table, CDC_DIR, "*.parquet")))
    assert survivors and survivors < all_cdc
    # the surviving window still serves through its cdc files
    assert delta_changes_cdf(spark, table, 3, 3).count() > 0


def test_table_changes_cdf_by_timestamp(spark, tmp_path):
    """table_changes by TIMESTAMPS over stored change-data files —
    inclusive bounds through the one monotonized resolution helper, so
    the by-time read equals the by-version read exactly (and the
    facade routes versions vs timestamps)."""
    from cdc_apache_cassandra_spark.engine import CdcEngine
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        commit_timestamps,
        delta_changes_cdf_by_time,
    )

    _, table = _build(spark, tmp_path)
    ts = dict(commit_timestamps(table))
    by_time = delta_changes_cdf_by_time(spark, table, ts[1], ts[1])
    by_version = delta_changes_cdf(spark, table, 1, 1)
    assert sorted(map(tuple, by_time.collect())) == sorted(
        map(tuple, by_version.collect()))
    whole = delta_changes_cdf_by_time(spark, table, ts[0], ts[1])
    assert whole.count() == delta_changes_cdf(spark, table, 0, 1).count()
    with pytest.raises(ValueError, match="no commits"):
        delta_changes_cdf_by_time(spark, table, ts[1] + 10_000,
                                  ts[1] + 20_000)
    eng = CdcEngine(spark)
    got = eng.table_changes_cdf(table, start_ms=ts[1], end_ms=ts[1])
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, by_version.collect()))
    with pytest.raises(ValueError, match="not both"):
        eng.table_changes_cdf(table, 0, 1, start_ms=ts[0], end_ms=ts[1])


def test_cdf_upgrade_on_features_form_table_declares_feature(spark, tmp_path):
    """Enabling CDF on a table already in the table-features form (a
    DV table) must surface changeDataFeed IN writerFeatures — merging
    the legacy (1,4) target into a features-form protocol expands the
    legacy version's implied features instead of dropping them
    (code-review session-2 finding #1)."""
    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store)
    big = [("INSERT", i, 10, f"v{i}", 0, i) for i in range(40)]
    merge_into(spark, store, spark.createDataFrame(big, SCHEMA), ["pk"],
               n_buckets=2)
    delta_export(spark, store, table)
    # sparse delete with DVs -> features-form protocol (3,7), no CDF
    dels = [("DELETE", 4, 20, None, 1, 0)]
    merge_into(spark, store, spark.createDataFrame(dels, SCHEMA), ["pk"],
               n_buckets=2)
    delta_export(spark, store, table, deletion_vectors=True)
    # now enable CDF (no DV flag this time)
    ups = [("UPDATE", 5, 30, "u5", 2, 0)]
    merge_into(spark, store, spark.createDataFrame(ups, SCHEMA), ["pk"],
               n_buckets=2)
    v = delta_export(spark, store, table, change_data_feed=True,
                     cdf_pk_cols=["pk"])
    a = _commit_actions(table, v)
    proto = next(x["protocol"] for x in a if "protocol" in x)
    wf = set(proto["writerFeatures"])
    assert "changeDataFeed" in wf
    assert {"appendOnly", "invariants", "deletionVectors"} <= wf
    assert proto["minWriterVersion"] == 7
    # and the NEXT export sees the feature declared: no redundant
    # protocol action per commit
    more = [("UPDATE", 6, 40, "u6", 3, 0)]
    merge_into(spark, store, spark.createDataFrame(more, SCHEMA), ["pk"],
               n_buckets=2)
    v2 = delta_export(spark, store, table)
    assert not any("protocol" in x for x in _commit_actions(table, v2))
    # the CDF read serves both CDF-era commits
    assert delta_changes_cdf(spark, table, v, v2).count() > 0


def test_randomized_cdf_lifecycle_matches_pk_diff(spark, tmp_path):
    """Seeded randomized lifecycle for the CDF WRITER: interleave
    merges (inserts/updates/deletes), compactions, checkpoints, log
    cleanups and vacuums, exporting with change_data_feed=True and a
    randomly toggled deletion_vectors flag — after EVERY committed
    export, the per-commit CDF read (stored cdc files, or synthesis
    for pure commits) must equal the pk-diff classification over the
    same window, and the pk-diff feed must equal the pure-Python net
    diff of the two versions' snapshots. The fuzzed twin of the
    per-scenario tests above, and the strongest writer/reader cross-pin
    we have."""
    import random

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_log_cleanup,
        delta_vacuum,
        read_delta,
        write_checkpoint,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import compact

    rng = random.Random(20260817)
    store = str(tmp_path / "store")
    out = str(tmp_path / "delta")
    os.makedirs(store)
    wt = [100]
    LSCHEMA = ("op string, pk long, writetime long, v string, s string, "
               "segment long, position long")

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
        return spark.createDataFrame(rows, LSCHEMA)

    def snapshot(version, cols):
        return {
            r.pk: tuple(r)
            for r in read_delta(spark, out, version=version)
            .select(cols)
            .collect()
        }

    def check(v):
        feed = delta_changes_cdf(spark, out, v, v)
        cols = [c for c in feed.columns if c != "_commit_timestamp"]
        got = sorted(map(tuple, feed.select(cols).collect()))
        # the pk-diff feed against an independent reference: the net
        # diff of two DV-aware JVM snapshot scans, which share no code
        # with the classifier
        tcols = [c for c in cols if c not in ("_change_type", "_commit_version")]
        pk_feed = delta_changes(spark, out, v - 1, v, ["pk"]).select(cols)
        pre = snapshot(v - 1, tcols) if v > 0 else {}
        assert sorted(map(tuple, pk_feed.collect())) == net_diff(
            pre, snapshot(v, tcols), v
        ), f"pk-diff != snapshot net diff at version {v}"
        if v == 0:
            snap = read_delta(spark, out, version=0)
            want = sorted(
                tuple(r) + ("insert", 0)
                for r in snap.select(
                    [c for c in cols
                     if c not in ("_change_type", "_commit_version")]
                ).collect()
            )
        else:
            diff = delta_changes(spark, out, v - 1, v, ["pk"])
            want = sorted(map(tuple, diff.select(cols).collect()))
        assert got == want, f"CDF != pk-diff at version {v}"

    merge_into(spark, store, batch(12), ["pk"], n_buckets=4)
    v = delta_export(spark, store, out, checkpoint_interval=4,
                     change_data_feed=True, cdf_pk_cols=["pk"])
    check(v)
    checks = 1
    for step in range(12):
        op = rng.choice(["merge", "merge", "merge", "compact",
                         "checkpoint", "cleanup", "vacuum"])
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
        v = delta_export(
            spark, store, out, checkpoint_interval=4,
            deletion_vectors=rng.choice([True, False]),
        )
        if v is not None:
            check(v)
            checks += 1
    assert checks >= 6  # enough committed exports actually fuzzed
