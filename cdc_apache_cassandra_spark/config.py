"""Pipeline configuration surface — parity with the reference's config
keys (connector `CassandraSourceConnectorConfig.java:160-227`, agent
`AgentConfig.java:140-283`), mapped onto their Spark equivalents.

A user of the reference configures batching, dedup-cache bounds, query
parallelism and retry policy; here every knob either maps to a Spark
conf / operator parameter or is an explicit documented no-op (the
engine has no external Cassandra to protect).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CdcPipelineConfig:
    """Reference keys -> engine behavior. Defaults mirror the reference's
    (BASELINE.md 'Engineered defaults')."""

    # connector: batch.size (200 events / poll) -> micro-batch admission
    batch_size: int = 200
    # connector: cache.max.digest (3) -> streaming/state.py max_digests
    cache_max_digest: int = 3
    # connector: cache.expire.after.ms (60 s) -> watermark/state TTL
    cache_expire_after_ms: int = 60_000
    # connector: cache.max.capacity (32767) -> no-op: Spark state is
    # watermark-bounded, not entry-bounded (documented deviation)
    cache_max_capacity: int = 32_767
    # connector: query.executors (10, adaptive) -> the per-trigger
    # admission policy's max level (streaming/adaptive.py:
    # AdaptiveParallelism); shuffle and state partitions follow the
    # session's cores, not this count
    query_executors: int = 10
    # connector: query.minMobileAvgLatency (10 ms) / query.
    # maxMobileAvgLatency (100 ms) -> the adaptive policy's grow/shrink
    # thresholds over the 10-batch moving average
    min_mobile_avg_latency_ms: int = 10
    max_mobile_avg_latency_ms: int = 100
    # connector: columns regexp -> key_value_schemas(column_pattern=...)
    column_pattern: str | None = None
    # connector: key/value converter -> output mode ('avro'-like struct
    # or 'json' via F.to_json)
    output_format: str = "struct"  # struct | json
    # agent: cdcPollIntervalMs (60 s) -> trigger processing interval
    poll_interval_ms: int = 60_000
    # agent: maxInflightMessagesPerTask (16384) -> maxFilesPerTrigger-ish
    # admission bound for file replays
    max_inflight: int = 16_384
    # connector: query.backoffInMs / maxBackoffInSec -> no-op: retries of
    # the lookup join are Spark task retries (spark.task.maxFailures)
    backoff_ms: int = 100
    max_backoff_s: int = 3_600
    # connector: consistency ladder LOCAL_QUORUM->LOCAL_ONE -> no-op:
    # single source of truth (J2)
    consistency_downgrade: bool = True

    def validate(self) -> "CdcPipelineConfig":
        if self.batch_size <= 0:
            raise ValueError("batch.size must be positive")
        if self.cache_max_digest <= 0:
            raise ValueError("cache.max.digest must be positive")
        # transformWithState reads a zero state TTL as "no TTL": 0 would
        # silently mean "never expire", the opposite of the reference
        if self.cache_expire_after_ms <= 0:
            raise ValueError("cache.expire.after.ms must be positive")
        if self.output_format not in ("struct", "json"):
            raise ValueError(f"unknown output format {self.output_format!r}")
        return self

    @property
    def ttl(self) -> str:
        """Watermark-delay string for dropDuplicatesWithinWatermark."""
        return f"{self.cache_expire_after_ms // 1000} seconds"


def from_reference_keys(d: dict[str, str]) -> CdcPipelineConfig:
    """Parse a reference-style key map (the exact keys the connector
    documents) into a CdcPipelineConfig; unknown keys are rejected like
    the reference's strict config parsing
    (CassandraSourceConnectorConfigTest.java)."""
    mapping = {
        "batch.size": ("batch_size", int),
        "cache.max.digest": ("cache_max_digest", int),
        "cache.expire.after.ms": ("cache_expire_after_ms", int),
        "cache.max.capacity": ("cache_max_capacity", int),
        "query.executors": ("query_executors", int),
        "query.minMobileAvgLatency": ("min_mobile_avg_latency_ms", int),
        "query.maxMobileAvgLatency": ("max_mobile_avg_latency_ms", int),
        "columns": ("column_pattern", str),
        "output.format": ("output_format", str),
        "cdcPollIntervalMs": ("poll_interval_ms", int),
        "maxInflightMessagesPerTask": ("max_inflight", int),
        "query.backoffInMs": ("backoff_ms", int),
        "query.maxBackoffInSec": ("max_backoff_s", int),
    }
    kwargs = {}
    for k, v in d.items():
        if k not in mapping:
            raise ValueError(f"unknown config key {k!r}")
        attr, cast = mapping[k]
        kwargs[attr] = cast(v)
    return CdcPipelineConfig(**kwargs).validate()
