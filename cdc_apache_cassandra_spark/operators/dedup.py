"""Mutation deduplication — the reference's MutationCache re-expressed.

Reference semantics (connector/.../MutationCache.java:30-82, SURVEY A1/W1):
per-PK bounded list of recent md5 digests with TTL; a (pk, digest) pair seen
before is dropped. RF replicas emit identical digests, so dedup collapses
them to exactly one event per mutation.

Spark mapping:
- batch:      ``dropDuplicates(["pk", "digest"])`` — a hash aggregate,
              map-side partial + single shuffle on the dedup key.
- streaming:  ``withWatermark(...).dropDuplicatesWithinWatermark`` — state
              bounded by the watermark just as Caffeine's TTL bounded the
              cache (60 s default, CassandraSourceConnectorConfig.java:205-211).
- exact-cache refinement (≤N digests per key, processing-time TTL) lives
  in ``streaming/state.py``: one transformWithState operator for batch
  and stream.

Scale: dedup shuffles on (pk, digest) — maximal key cardinality, so skew is
impossible by construction; AQE coalesces post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DEFAULT_TTL = "60 seconds"  # cache.expire.after.ms default (60_000)


def dedup_mutations(events: DataFrame, pk_cols: list[str] | None = None) -> DataFrame:
    """Collapse replica duplicates: keep one row per (pk, digest).

    Works on batch DataFrames. The surviving row's non-key columns are
    identical across replicas except node_id, which we drop — matching the
    reference, where the data topic does not carry the origin node.
    """
    keys = (pk_cols or ["pk"]) + ["digest"]
    return events.drop("node_id").dropDuplicates(keys)


def dedup_mutations_stream(
    events: DataFrame,
    ttl: str = DEFAULT_TTL,
    pk_cols: list[str] | None = None,
    event_time_col: str = "event_time",
) -> DataFrame:
    """Streaming dedup with watermark-bounded state (TTL semantics).

    ``event_time_col`` must be a TimestampType column (derive from the µs
    writetime with ``timestamp_micros``).
    """
    keys = (pk_cols or ["pk"]) + ["digest"]
    return (
        events.withWatermark(event_time_col, ttl)
        .dropDuplicatesWithinWatermark(keys)
        .drop("node_id")
    )
