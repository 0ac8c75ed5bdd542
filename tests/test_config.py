"""Config-surface parity (reference CassandraSourceConnectorConfigTest /
AgentParametersTest shape: defaults, parsing, strict unknown-key
rejection, validation)."""

import pytest

from cdc_apache_cassandra_spark.config import (
    CdcPipelineConfig,
    from_reference_keys,
)


def test_defaults_mirror_reference():
    c = CdcPipelineConfig().validate()
    assert c.batch_size == 200
    assert c.cache_max_digest == 3
    assert c.cache_expire_after_ms == 60_000
    assert c.cache_max_capacity == 32_767
    assert c.query_executors == 10
    assert c.max_inflight == 16_384
    assert c.backoff_ms == 100 and c.max_backoff_s == 3_600


def test_parse_reference_keys():
    c = from_reference_keys(
        {"batch.size": "500", "cache.max.digest": "5", "columns": "c_.*"}
    )
    assert c.batch_size == 500
    assert c.cache_max_digest == 5
    assert c.column_pattern == "c_.*"


def test_unknown_key_rejected():
    with pytest.raises(ValueError, match="unknown config key"):
        from_reference_keys({"no.such.key": "1"})


def test_validation():
    with pytest.raises(ValueError):
        CdcPipelineConfig(batch_size=0).validate()
    with pytest.raises(ValueError):
        CdcPipelineConfig(output_format="xml").validate()
    # a zero TTL would reach transformWithState as "no TTL" (never expire)
    with pytest.raises(ValueError, match="cache.expire.after.ms must be positive"):
        CdcPipelineConfig(cache_expire_after_ms=0).validate()


def test_ttl_string():
    assert CdcPipelineConfig().ttl == "60 seconds"
    assert CdcPipelineConfig(cache_expire_after_ms=120_000).ttl == "120 seconds"


def test_config_drives_cache_operator(spark):
    """cache.max.digest flows into the bounded dedup cache."""
    from cdc_apache_cassandra_spark.streaming.state import mutation_cache_dedup

    rows = [(1, d, i, 0, i) for i, d in enumerate(["d0", "d1", "d0"])]
    df = spark.createDataFrame(
        rows, "pk long, digest string, writetime long, segment long, position long"
    )
    c1 = from_reference_keys({"cache.max.digest": "1"})
    out = mutation_cache_dedup(df, max_digests=c1.cache_max_digest)
    # with a 1-digest cache, d0 re-emits after d1 evicted it
    assert [r["digest"] for r in out.orderBy("writetime").collect()] == [
        "d0", "d1", "d0",
    ]
