"""delta_restore — Delta's RESTORE TABLE TO VERSION/TIMESTAMP AS OF:
one commit re-adds the target snapshot's files and removes the rest,
metadata restores, protocol never downgrades, vacuumed targets refuse,
the exporter's memo restores, and CDF tables get delta-spark's
file-level restore change rows."""

import json
import os

import pyarrow.parquet as pq
import pytest

from cdc_apache_cassandra_spark.streaming.delta_log import (
    commit_timestamps,
    delta_changes_cdf,
    delta_export,
    delta_restore,
    delta_vacuum,
    read_delta,
)
from cdc_apache_cassandra_spark.streaming.materialize import merge_into

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
    delta_export(spark, store, table, **export_opts)
    merge_into(spark, store, spark.createDataFrame(B1, SCHEMA), ["pk"],
               n_buckets=4)
    delta_export(spark, store, table)
    return store, table


def _rows(df):
    return sorted((r.pk, r.v) for r in df.collect())


def test_restore_to_version_and_export_after(spark, tmp_path):
    """Restore rewinds the current state to the target snapshot in one
    commit; history stays time-travelable; and a LATER export diffs
    against the RESTORED state (tags + memo), re-publishing exactly
    the store's head again."""
    store, table = _build(spark, tmp_path)
    v0_rows = _rows(read_delta(spark, table, version=0))
    head_rows = _rows(read_delta(spark, table, version=1))
    rv = delta_restore(spark, table, version=0)
    assert rv == 2
    assert _rows(read_delta(spark, table)) == v0_rows
    # history is append-only: both pre-restore snapshots still serve
    assert _rows(read_delta(spark, table, version=1)) == head_rows
    a = _commit_actions(table, rv)
    assert not any("protocol" in x for x in a)  # never downgrades
    info = next(x["commitInfo"] for x in a if "commitInfo" in x)
    assert info["operation"] == "RESTORE"
    # a later export converges back to the store's head incrementally
    assert delta_export(spark, store, table) == 3
    assert _rows(read_delta(spark, table)) == head_rows
    # no-op restore: nothing to do, no commit
    assert delta_restore(spark, table, version=3) == 3


def test_restore_by_timestamp(spark, tmp_path):
    _, table = _build(spark, tmp_path)
    ts = dict(commit_timestamps(table))
    v0_rows = _rows(read_delta(spark, table, version=0))
    rv = delta_restore(spark, table, timestamp_ms=ts[0])
    assert rv == 2
    assert _rows(read_delta(spark, table)) == v0_rows
    with pytest.raises(ValueError, match="version OR timestamp_ms"):
        delta_restore(spark, table, version=0, timestamp_ms=ts[0])


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    _, table = _build(spark, tmp_path)
    # vacuum reclaims v0-only files (retention 0)
    deleted = delta_vacuum(table, retain_ms=0)
    assert deleted
    with pytest.raises(FileNotFoundError, match="VACUUM"):
        delta_restore(spark, table, version=0)


def test_restore_cdf_table_writes_file_level_change_rows(spark, tmp_path):
    """On a CDF table a mixed restore commit carries delta-spark's
    file-level change rows: every re-added file's row an insert, every
    removed file's row a delete — served by the batch CDF reader and
    the readChangeFeed stream alike."""
    import uuid

    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        register as register_feed,
    )

    _, table = _build(spark, tmp_path, change_data_feed=True,
                      cdf_pk_cols=["pk"])
    rv = delta_restore(spark, table, version=0)
    a = _commit_actions(table, rv)
    assert any("cdc" in x for x in a)
    feed = delta_changes_cdf(spark, table, rv, rv)
    got = sorted((r.pk, r._change_type, r.v) for r in feed.collect())
    # v1 rewrote the buckets holding pk 1 (update), 3 (delete), 9
    # (insert): restore re-adds those buckets' v0 files and removes
    # their v1 files — file-level rows, not a pk-diff
    assert (1, "insert", "v1") in got and (1, "delete", "u1") in got
    assert (3, "insert", "v3") in got  # un-deleted by the restore
    assert (9, "delete", "nine") in got
    # untouched buckets emit nothing
    untouched = [t for t in got if t[0] not in (1, 3, 9)]
    ins = {t for t in untouched if t[1] == "insert"}
    dels = {(pk, "delete", v) for pk, _c, v in ins}
    assert {t for t in untouched if t[1] == "delete"} <= dels
    # exactly the rows of the files the commit re-added (inserts) and
    # removed (deletes), read with pyarrow directly
    want = sorted(
        (r["pk"], change, r["v"])
        for x in a
        for kind, change in (("add", "insert"), ("remove", "delete"))
        if kind in x
        for r in pq.read_table(
            os.path.join(table, x[kind]["path"]), columns=["pk", "v"]
        ).to_pylist()
    )
    assert got == want
    register_feed(spark)
    name = "rst_" + uuid.uuid4().hex[:10]
    q = (
        spark.readStream.format("cdc_delta_changes")
        .option("path", table)
        .option("readChangeFeed", "true")
        .option("startingVersion", rv - 1)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_rows = sorted(
        (r.pk, r._change_type, r.v) for r in spark.table(name).collect()
    )
    assert stream_rows == got


def test_restore_keeps_cdf_enablement_in_restored_metadata(spark, tmp_path):
    """Restoring past the CDF-enablement commit keeps the feed
    enabled: the restored metaData carries the CURRENT enablement keys
    (a commit that writes cdc files must not disable the feature in
    the same breath)."""
    store = str(tmp_path / "store")
    table = str(tmp_path / "table")
    os.makedirs(store)
    merge_into(spark, store, spark.createDataFrame(B0, SCHEMA), ["pk"],
               n_buckets=4)
    delta_export(spark, store, table)  # v0: NO cdf
    merge_into(spark, store, spark.createDataFrame(B1, SCHEMA), ["pk"],
               n_buckets=4)
    delta_export(spark, store, table, change_data_feed=True,
                 cdf_pk_cols=["pk"])  # v1 enables
    rv = delta_restore(spark, table, version=0)
    meta = next(
        x["metaData"] for x in _commit_actions(table, rv) if "metaData" in x
    )
    assert meta["configuration"]["delta.enableChangeDataFeed"] == "true"
    assert meta["configuration"]["cdcEngine.changeDataFeed.pkCols"] == "pk"
    assert any("cdc" in x for x in _commit_actions(table, rv))


def test_restore_on_ict_table_commitinfo_first_and_monotonic(
    spark, tmp_path, monkeypatch
):
    """RESTORE on an in-commit-timestamp table: commitInfo is the
    commit's first action and its inCommitTimestamp strictly exceeds
    the previous commit's, even when the clock steps backwards."""
    import cdc_apache_cassandra_spark.streaming.delta_log as dl

    _, table = _build(spark, tmp_path, in_commit_timestamps=True)
    prev = _commit_actions(table, 1)[0]["commitInfo"]["inCommitTimestamp"]
    v0_rows = _rows(read_delta(spark, table, version=0))
    monkeypatch.setattr(dl, "_now_ms", lambda: prev - 50_000)
    rv = delta_restore(spark, table, version=0)
    a = _commit_actions(table, rv)
    assert "commitInfo" in a[0], "commitInfo must be the FIRST action"
    assert a[0]["commitInfo"]["operation"] == "RESTORE"
    assert a[0]["commitInfo"]["inCommitTimestamp"] == prev + 1
    assert dict(commit_timestamps(table))[rv] == prev + 1
    assert _rows(read_delta(spark, table)) == v0_rows
