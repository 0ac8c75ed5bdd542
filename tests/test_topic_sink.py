"""cdc_topic custom sink: manifest-committed exactly-once publication of
keyed CDC records (S4/S7 as a first-class Spark sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_apache_cassandra_spark.sources.commitlog_source import (
    register as register_source,
    write_segments,
)
from cdc_apache_cassandra_spark.sources.event_source import mutation_events
from cdc_apache_cassandra_spark.sources.topic_sink import (
    read_topic,
    register as register_sink,
    uncommitted_files,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def topic_run(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("topic")
    seg_dir, topic_dir, ck = (
        str(base / "segments"), str(base / "topic"), str(base / "ckpt")
    )
    write_segments(mutation_events(spark, SF), seg_dir, n_segments=3)
    register_source(spark)
    register_sink(spark)
    q = (
        spark.readStream.format("cdc_commitlog")
        .option("path", seg_dir)
        .load()
        .select("pk", "op", "writetime", "digest", "node_id")
        .writeStream.format("cdc_topic")
        .option("path", topic_dir)
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return topic_dir


def test_topic_rows_match_source(spark, topic_run):
    got = read_topic(spark, topic_run)
    want = mutation_events(spark, SF)
    assert got.count() == want.count()
    # keyed identity preserved (json round-trip: pk/digest/node_id)
    g = {
        (r.pk, r.digest, r.node_id)
        for r in got.select(
            F.col("pk").cast("long").alias("pk"),
            "digest",
            F.col("node_id").cast("long").alias("node_id"),
        ).collect()
    }
    w = {
        (r.pk, r.digest, r.node_id)
        for r in want.select("pk", "digest", "node_id").collect()
    }
    assert g == w


def test_no_uncommitted_files(topic_run):
    """Everything visible is manifest-committed; staging is drained."""
    import glob
    import os

    assert uncommitted_files(topic_run) == []
    assert glob.glob(os.path.join(topic_run, "_staging", "*")) == []


def test_full_reference_dataflow_end_to_end(spark, tmp_path_factory):
    """The whole reference pipeline as ONE streaming query on custom
    endpoints: cdc_commitlog source → watermarked dedup → read-after-event
    join → keyed records with tombstones → cdc_topic sink. The consumer
    view must converge to the batch pipeline's records."""
    import uuid as _uuid

    from cdc_apache_cassandra_spark.config import CdcPipelineConfig
    from cdc_apache_cassandra_spark.engine import CdcEngine
    from cdc_apache_cassandra_spark.sources.registry import load_table

    base = tmp_path_factory.mktemp("e2e")
    seg_dir, topic_dir, ck = (
        str(base / "segments"), str(base / "topic"), str(base / "ckpt")
    )
    write_segments(mutation_events(spark, SF), seg_dir, n_segments=3)
    register_source(spark)
    register_sink(spark)

    value_cols = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    snapshot = load_table(spark, SF, "customer").withColumnRenamed(
        "c_custkey", "pk"
    )
    events = (
        spark.readStream.format("cdc_commitlog").option("path", seg_dir).load()
    )
    engine = CdcEngine(
        spark, CdcPipelineConfig(cache_expire_after_ms=365 * 86_400_000)
    )
    records = engine.to_records(events, snapshot, ["pk"], value_cols).select(
        F.col("key.pk").alias("pk"),
        F.col("value").isNull().alias("tombstone"),
        F.col("value.c_acctbal").alias("c_acctbal"),
    )
    q = (
        records.writeStream.format("cdc_topic")
        .option("path", topic_dir)
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = read_topic(spark, topic_dir)
    want = engine.to_records(
        mutation_events(spark, SF), snapshot, ["pk"], value_cols
    ).select(
        F.col("key.pk").alias("pk"),
        F.col("value").isNull().alias("tombstone"),
        F.col("value.c_acctbal").alias("c_acctbal"),
    )
    assert got.count() == want.count()
    g = {
        (r.pk, r.tombstone, r.c_acctbal)
        for r in got.select(
            F.col("pk").cast("long").alias("pk"),
            F.col("tombstone").cast("boolean").alias("tombstone"),
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
        ).collect()
    }
    w = {(r.pk, r.tombstone, r.c_acctbal) for r in want.collect()}
    assert g == w


def test_commit_replay_is_idempotent(tmp_path):
    """A replayed batch commit (restart after a successful commit, before
    the engine recorded it) must publish nothing twice: the existing
    manifest short-circuits and staged leftovers are discarded."""
    import json
    import os

    from cdc_apache_cassandra_spark.sources.topic_sink import (
        TopicStreamWriter,
        _StagedFile,
    )

    topic = str(tmp_path / "topic")
    os.makedirs(os.path.join(topic, "_staging"))
    w = TopicStreamWriter({"path": topic})

    def stage(content):
        p = os.path.join(topic, "_staging", f"{content}.jsonl")
        with open(p, "w") as f:
            f.write(json.dumps({"k": content}) + "\n")
        return _StagedFile(p, 1)

    w.commit([stage("a"), stage("b")], batchId=7)
    files_after_first = sorted(os.listdir(topic))
    # replay: same batch id, fresh staged files (the task re-ran)
    w.commit([stage("a2")], batchId=7)
    assert sorted(os.listdir(topic)) == files_after_first  # nothing new
    assert os.listdir(os.path.join(topic, "_staging")) == []  # drained
    with open(os.path.join(topic, "_manifest", "batch-0000000007.json")) as f:
        assert json.load(f)["rows"] == 2  # original commit intact
