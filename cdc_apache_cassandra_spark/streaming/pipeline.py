"""The end-to-end streaming CDC pipeline (SURVEY §3.2's four-liner, grown up).

Reference dataflow (connector/.../CassandraSource.java:452-631):
events topic -> batch of ≤200 -> per-key dedup -> CQL point read -> keyed
data topic with tombstones. Spark mapping, one logical pipeline:

    readStream(events)                                   # S5
      .withWatermark(event_time, ttl)                    # W1
      .dropDuplicatesWithinWatermark([pk, digest])       # A1
      .join(snapshot, pk, "left")                        # J1 stream-static
      -> key/value projection with tombstones            # P6/S7
      .writeStream.option("checkpointLocation", ...)     # O3 offsets

The SAME stage functions run in batch mode (backfill, SURVEY T2) because
each stage is DataFrame -> DataFrame; `build_pipeline` only differs in how
the source DataFrame was constructed.

Scale notes:
- dedup state is watermark-bounded (the Caffeine TTL analogue); key space
  is (pk, digest) so state size ~ event rate × TTL, independent of table size.
- the stream-static join re-reads the snapshot per micro-batch; back the
  snapshot with partitioned/bucketed-on-pk parquet so the re-read prunes.
- per-key ordering (reference A4): Spark shuffles by pk for the stateful
  dedup, giving per-key colocation within a batch; ORDER across batches is
  resolved by last-write-wins on (writetime, segment, position), not by
  arrival order — see operators/lww.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_apache_cassandra_spark.operators.dedup import (
    DEFAULT_TTL,
    dedup_mutations,
    dedup_mutations_stream,
)
from cdc_apache_cassandra_spark.operators.lookup import key_value_records, read_after_event


def with_event_time(events: DataFrame, writetime_col: str = "writetime") -> DataFrame:
    """Derive the TimestampType event-time column from the µs writetime
    (reference W2: mutation carries Cassandra writetime in µs)."""
    return events.withColumn("event_time", F.timestamp_micros(F.col(writetime_col)))


def build_pipeline(
    events: DataFrame,
    snapshot: DataFrame,
    pk_cols: list[str],
    value_cols: list[str],
    ttl: str = DEFAULT_TTL,
    streaming: bool = True,
) -> DataFrame:
    """events (stream or batch) -> keyed data-topic records with tombstones."""
    deduped = (
        dedup_mutations_stream(with_event_time(events), ttl, pk_cols)
        if streaming
        else dedup_mutations(events, pk_cols)
    )
    enriched = read_after_event(deduped, snapshot, pk_cols, value_cols)
    return key_value_records(enriched, pk_cols, value_cols)


def run_to_memory(out: DataFrame, name: str) -> None:
    """Drain a streaming DataFrame into an in-memory table synchronously —
    the test harness's stand-in for the data topic (docs: memory sink is
    for testing; production uses kafka/parquet + checkpointLocation)."""
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
