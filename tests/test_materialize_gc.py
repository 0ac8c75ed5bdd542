"""Manifest bucket stats, incremental tombstone GC, and bucket-routed
point reads — the store's 'IO proportional to what you touch' contract
extended from writes to GC and key lookups."""

import json
import os

import pytest

from cdc_apache_cassandra_spark.streaming.materialize import (
    MANIFEST,
    active_view,
    compact,
    expired_tombstone_buckets,
    merge_into,
    point_read,
    read_state,
)

SCHEMA = (
    "op string, pk long, writetime long, v string, w string, "
    "segment long, position long"
)


def _manifest(path):
    return json.load(open(os.path.join(path, MANIFEST)))


@pytest.fixture()
def store(spark, tmp_path):
    """64 keys over 8 buckets, then tombstone two keys: both WIN their
    key's LWW (newer than the insert at wt=10), one already expired vs
    horizon=50 (wt=20) and one still protected (wt=100)."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    base = spark.createDataFrame(
        [("INSERT", i, 10, f"v{i}", "x", 0, i) for i in range(64)], SCHEMA
    )
    merge_into(spark, path, base, ["pk"], n_buckets=8)
    dels = spark.createDataFrame(
        [
            ("DELETE", 3, 20, None, None, 0, 100),  # expired vs horizon=50
            ("DELETE", 7, 100, None, None, 0, 101),  # still protected
        ],
        SCHEMA,
    )
    merge_into(spark, path, dels, ["pk"])
    return path


def test_manifest_records_bucket_stats(spark, store):
    m = _manifest(store)
    stats = m["stats"]
    assert set(stats) == set(m["buckets"])  # every live bucket has stats
    # stats agree with the files they describe
    state = read_state(spark, store)
    assert sum(s["rows"] for s in stats.values()) == state.count()
    assert sum(s["tombstones"] for s in stats.values()) == 2
    with_dels = [b for b, s in stats.items() if s["tombstones"]]
    assert len(with_dels) in (1, 2)  # pk=3 / pk=7 may share a bucket
    for b, s in stats.items():
        if s["tombstones"] == 0:
            assert s["min_del_wt"] is None


def test_expired_bucket_selection_from_stats_alone(store):
    m = _manifest(store)
    got = expired_tombstone_buckets(m, tombstone_horizon=50)
    # exactly the bucket(s) holding the wt=20 tombstone, chosen w/o IO
    assert got and all(m["stats"][str(b)]["min_del_wt"] < 50 for b in got)
    assert expired_tombstone_buckets(m, tombstone_horizon=1) == []
    # a bucket with no stats entry is conservatively a candidate
    m2 = json.loads(json.dumps(m))
    victim = next(iter(m2["buckets"]))
    del m2["stats"][victim]
    assert int(victim) in expired_tombstone_buckets(m2, 1)


def test_incremental_compact_touches_only_expired_buckets(spark, store):
    m_before = _manifest(store)
    targets = expired_tombstone_buckets(m_before, 50)
    compact(spark, store, ["pk"], tombstone_horizon=50, only_expired=True)
    m_after = _manifest(store)
    moved = [
        b
        for b in m_before["buckets"]
        if m_after["buckets"].get(b) != m_before["buckets"][b]
    ]
    assert sorted(int(b) for b in moved) == targets  # GC IO ∝ expired buckets
    state = read_state(spark, store)
    # expired tombstone gone, protected one retained, live rows intact
    assert state.filter("op = 'DELETE' AND pk = 3").count() == 0
    assert state.filter("op = 'DELETE' AND pk = 7").count() == 1
    assert active_view(state).count() == 62
    # stats refreshed for the rewritten buckets
    assert sum(s["tombstones"] for s in m_after["stats"].values()) == 1
    # idempotent: nothing expired remains, second GC is a no-op commit-wise
    v = m_after["version"]
    compact(spark, store, ["pk"], tombstone_horizon=50, only_expired=True)
    assert _manifest(store)["version"] == v


def test_incremental_compact_matches_full_compact(spark, store, tmp_path):
    """Same observable state whichever GC ran."""
    import shutil

    clone = str(tmp_path / "clone")
    shutil.copytree(store, clone)
    compact(spark, store, ["pk"], tombstone_horizon=50, only_expired=True)
    compact(spark, clone, ["pk"], tombstone_horizon=50)
    a = read_state(spark, store).select("op", "pk", "writetime", "v")
    b = read_state(spark, clone).select("op", "pk", "writetime", "v")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_incremental_compact_drops_fully_expired_bucket(spark, tmp_path):
    """A bucket whose every row is an expired tombstone disappears from
    the manifest (and its pointer no longer lists files)."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    only = spark.createDataFrame(
        [("DELETE", 1, 5, None, None, 0, 0)], SCHEMA
    )
    merge_into(spark, path, only, ["pk"], n_buckets=4)
    assert len(_manifest(path)["buckets"]) == 1
    compact(spark, path, ["pk"], tombstone_horizon=50, only_expired=True)
    m = _manifest(path)
    assert m["buckets"] == {} and m.get("stats", {}) == {}
    assert read_state(spark, path) is None


def test_compact_modes_keep_null_op_rows(spark, tmp_path):
    """Only DELETE rows expire. A null-``op`` row compares null against
    'DELETE'; the full rewrite's horizon filter must keep it, as the
    incremental mode does (the stats count only DELETE as tombstones)."""
    import shutil

    path = str(tmp_path / "t")
    os.makedirs(path)
    rows = [("INSERT", 1, 10, "a", "x", 0, 0), (None, 2, 10, "b", "x", 0, 1)]
    merge_into(spark, path, spark.createDataFrame(rows, SCHEMA), ["pk"], n_buckets=1)
    clone = str(tmp_path / "clone")
    shutil.copytree(path, clone)
    compact(spark, path, ["pk"], tombstone_horizon=50, only_expired=True)
    compact(spark, clone, ["pk"], tombstone_horizon=50)
    for p in (path, clone):
        got = sorted(r["pk"] for r in read_state(spark, p).collect())
        assert got == [1, 2], p
    # an expired DELETE makes the incremental mode rewrite the bucket too:
    # it drops the DELETE and still keeps the null-op row
    dels = spark.createDataFrame([("DELETE", 3, 10, None, None, 0, 2)], SCHEMA)
    merge_into(spark, path, dels, ["pk"])
    compact(spark, path, ["pk"], tombstone_horizon=50, only_expired=True)
    assert sorted(r["pk"] for r in read_state(spark, path).collect()) == [1, 2]


def test_point_read_routes_to_single_bucket(spark, store):
    got = point_read(spark, store, ["pk"], [3, 7, 12])
    rows = {r.pk: r for r in got.collect()}
    assert set(rows) == {3, 7, 12}
    assert rows[3].op == "DELETE" and rows[7].op == "DELETE"
    assert rows[12].op == "INSERT" and rows[12].v == "v12"
    # live-only view hides the tombstones
    assert {r.pk for r in active_view(got).collect()} == {12}
    # a key that never existed: no row at all (miss ≠ tombstone)
    assert point_read(spark, store, ["pk"], [9999]).count() == 0


def test_point_read_lists_only_routed_bucket(spark, store):
    """A single key's read plans over exactly one bucket directory —
    the whole point of hash routing (IO ∝ requested keys, not table)."""
    from pyspark.sql import functions as F

    one = point_read(spark, store, ["pk"], [12])
    dirs = {
        os.path.dirname(r[0])
        for r in one.select(F.input_file_name()).distinct().collect()
    }
    assert len(dirs) == 1  # exactly one __bucket directory listed


def _reference_stats(spark, path):
    """Per-bucket stats recomputed from the committed files with a Spark
    ``groupBy("__bucket")`` — the meaning every commit's manifest stats
    must carry, whichever way the commit derived them."""
    from pyspark.sql import functions as F

    from cdc_apache_cassandra_spark.streaming.materialize import _bucket_paths

    m = _manifest(path)
    if not m["buckets"]:
        return {}
    df = (
        spark.read.option("basePath", path).option("mergeSchema", "true")
        .parquet(*_bucket_paths(path, m))
    )
    is_del = F.col("op") == "DELETE" if "op" in df.columns else F.lit(False)
    min_wt = (
        F.min(F.when(is_del, F.col("writetime")))
        if "writetime" in df.columns and "op" in df.columns
        else F.lit(None).cast("long")
    )
    rows = (
        df.groupBy("__bucket")
        .agg(
            F.count("*").alias("rows"),
            F.count(F.when(is_del, True)).alias("tombstones"),
            min_wt.alias("min_del_wt"),
        )
        .collect()
    )
    return {
        str(r["__bucket"]): {
            "rows": r["rows"],
            "tombstones": r["tombstones"],
            "min_del_wt": r["min_del_wt"],
        }
        for r in rows
    }


def _assert_stats_match_files(spark, path):
    m = _manifest(path)
    assert set(m.get("stats", {})) == set(m["buckets"])
    assert m.get("stats", {}) == _reference_stats(spark, path)
    return m


def test_manifest_stats_match_committed_files(spark, tmp_path):
    """Manifest stats == a groupBy over the committed files, on both
    sides of a narrow (few buckets) and a wide (>64 buckets) commit,
    with DELETE and null-op rows sharing one bucket, through incremental
    and full compaction."""
    from pyspark.sql import functions as F

    n = 72
    # keys grouped by the bucket merge_into will route them to
    by_bucket = {}
    for r in (
        spark.range(260)
        .select(
            F.col("id").alias("pk"),
            F.pmod(F.xxhash64("id"), F.lit(n)).cast("int").alias("b"),
        )
        .collect()
    ):
        by_bucket.setdefault(r.b, []).append(r.pk)
    k, shared = next((str(b), ks) for b, ks in by_bucket.items() if len(ks) >= 3)
    path = str(tmp_path / "t")
    os.makedirs(path)
    # wide: 260 keys touch >64 of the 72 buckets
    wide = [
        ("DELETE" if i % 7 == 0 else None if i % 11 == 0 else "INSERT",
         i, 10 + i, f"v{i}", "x", 0, i)
        for i in range(260)
    ]
    merge_into(spark, path, spark.createDataFrame(wide, SCHEMA), ["pk"], n_buckets=n)
    m = _assert_stats_match_files(spark, path)
    assert len(m["buckets"]) > 64
    # narrow: one bucket gets a DELETE, a null op and an insert
    a, b, c = shared[:3]
    narrow = [
        ("DELETE", a, 1000, None, None, 1, 0),
        (None, b, 1001, "n", None, 1, 1),
        ("INSERT", c, 1002, "i", None, 1, 2),
    ]
    merge_into(spark, path, spark.createDataFrame(narrow, SCHEMA), ["pk"])
    m = _assert_stats_match_files(spark, path)
    assert m["stats"][k]["tombstones"] >= 1 and m["stats"][k]["min_del_wt"] is not None
    compact(spark, path, ["pk"], tombstone_horizon=100, only_expired=True)
    _assert_stats_match_files(spark, path)
    compact(spark, path, ["pk"], tombstone_horizon=200)
    _assert_stats_match_files(spark, path)


def test_manifest_stats_without_op_or_writetime(spark, tmp_path):
    """Custom-reducer stores: no ``op`` column (no tombstones, and a
    bucket the reducer empties leaves the map), and ``op`` without
    ``writetime`` (tombstones counted, no oldest writetime)."""
    from pyspark.sql import functions as F

    no_op = str(tmp_path / "no_op")
    os.makedirs(no_op)

    def keep_positive_min(df):
        return df.groupBy("k").agg(F.min("v").alias("v")).filter("v >= 0")

    def merge(path, rows, schema, reducer):
        merge_into(
            spark, path, spark.createDataFrame(rows, schema), ["k"],
            n_buckets=8, reducer=reducer, kind="custom",
        )

    merge(no_op, [(i, i) for i in range(6)], "k long, v long", keep_positive_min)
    before = _assert_stats_match_files(spark, no_op)
    assert all(s["tombstones"] == 0 and s["min_del_wt"] is None
               for s in before["stats"].values())
    # key 0 (alone in its bucket of 8) goes negative: the reducer empties
    # that bucket, which leaves the map
    merge(no_op, [(0, -1)], "k long, v long", keep_positive_min)
    after = _assert_stats_match_files(spark, no_op)
    assert sum(s["rows"] for s in after["stats"].values()) == 5
    assert len(after["buckets"]) == len(before["buckets"]) - 1

    no_wt = str(tmp_path / "no_wt")
    os.makedirs(no_wt)

    def max_op(df):
        return df.groupBy("k").agg(F.max("op").alias("op"))

    merge(
        no_wt,
        [(0, "DELETE"), (1, None), (2, "INSERT"), (3, "DELETE"), (4, None)],
        "k long, op string",
        max_op,
    )
    m = _assert_stats_match_files(spark, no_wt)
    assert sum(s["tombstones"] for s in m["stats"].values()) == 2
    assert all(s["min_del_wt"] is None for s in m["stats"].values())


def test_full_compact_of_only_expired_tombstones_empties_store(spark, tmp_path):
    path = str(tmp_path / "t")
    os.makedirs(path)
    rows = [("DELETE", i, 5, None, None, 0, i) for i in range(4)]
    merge_into(spark, path, spark.createDataFrame(rows, SCHEMA), ["pk"], n_buckets=4)
    _assert_stats_match_files(spark, path)
    compact(spark, path, ["pk"], tombstone_horizon=50)
    m = _assert_stats_match_files(spark, path)
    assert m["buckets"] == {}
    assert read_state(spark, path) is None
