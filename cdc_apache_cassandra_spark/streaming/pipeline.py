"""Helpers for the end-to-end streaming CDC pipeline (SURVEY §3.2's
four-liner, grown up).

Reference dataflow (connector/.../CassandraSource.java:452-631):
events topic -> batch of ≤200 -> per-key dedup -> CQL point read -> keyed
data topic with tombstones. Spark mapping, one logical pipeline:

    readStream(events)                                   # S5
      .withWatermark(event_time, ttl)                    # W1
      .dropDuplicatesWithinWatermark([pk, digest])       # A1
      .join(snapshot, pk, "left")                        # J1 stream-static
      -> key/value projection with tombstones            # P6/S7
      .writeStream.option("checkpointLocation", ...)     # O3 offsets

``CdcEngine.to_records`` is that pipeline: dedup → ``read_after_event``
→ ``key_value_records``, streaming or batch by the input (backfill,
SURVEY T2, runs the same stages because each is DataFrame ->
DataFrame). This module keeps the event-time column it watermarks on
(:func:`with_event_time`) and the memory-sink drain tests use
(:func:`run_to_memory`).

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


def with_event_time(events: DataFrame, writetime_col: str = "writetime") -> DataFrame:
    """Derive the TimestampType event-time column from the µs writetime
    (reference W2: mutation carries Cassandra writetime in µs)."""
    return events.withColumn("event_time", F.timestamp_micros(F.col(writetime_col)))


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
