"""Exact MutationCache semantics as one stateful operator (SURVEY A1/A2
refinement, §7.2 step 4).

The reference cache (connector/.../MutationCache.java:39-73) keeps, per PK,
a bounded list of the most recent ``cache.max.digest`` (default 3) md5
digests with ``expireAfterWrite`` TTL (default 60 s). Consequences the
simple dropDuplicates misses:

- BOUNDED memory per key: a digest can be re-emitted (at-least-once!) if
  more than N other digests for the same key intervened — dedup is an
  optimization, not a guarantee (duplicates are tolerated downstream by
  last-write-wins).
- TTL expiry: after 60 s of silence the key's digests are forgotten.

Spark mapping: ``groupBy(pk).transformWithState`` with the row-mode
:class:`MutationCacheProcessor`. The digest list lives in a RocksDB
``ValueState`` with native processing-time TTL — the engine evicts expired
keys itself, the analogue of Caffeine's expireAfterWrite. One operator
serves both run modes: streaming inputs run it with timeMode
"ProcessingTime", batch inputs with timeMode "None", so the batch
correctness gate exercises the same engine path the stream runs. Per-key
serial processing (the reference's hash(key)%threads executor, A4) falls
out of the shuffle. ``_dedup_rows`` is the pure pandas reference the tests
compare the operator against.

Scale: state per key is ≤N 32-char strings; keys live only TTL long. The
shuffle on pk is the same one the downstream join needs — Catalyst reuses
the partitioning.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from cdc_apache_cassandra_spark.streaming.protoshim import ensure_protobuf

DEFAULT_MAX_DIGESTS = 3  # cache.max.digest
DEFAULT_TTL_MS = 60_000  # cache.expire.after.ms

ORDER = ["writetime", "segment", "position"]


def _dedup_rows(
    pdf: pd.DataFrame, seen: list[str], max_digests: int
) -> tuple[pd.DataFrame, list[str]]:
    """Pure core: process one key's rows in mutation order against the
    bounded digest list; returns (surviving rows, new digest list)."""
    pdf = pdf.sort_values(ORDER, kind="mergesort")
    keep_mask = []
    for digest in pdf["digest"]:
        if digest in seen:
            keep_mask.append(False)
        else:
            keep_mask.append(True)
            seen.append(digest)
            if len(seen) > max_digests:
                seen.pop(0)  # evict oldest (reference evicts list head)
    return pdf[pd.Series(keep_mask, index=pdf.index)], seen


class MutationCacheProcessor(StatefulProcessor):
    """Row-mode ``transformWithState`` processor of the mutation cache.
    The bounded digest list lives in a ValueState with native TTL
    (``ttlDurationMs``). ``handleInputRows`` receives plain Rows: no
    per-key pandas DataFrame construction, which on the streaming gate
    measured ~3× the task time of the dedup itself (allUpdatesTimeMs
    174 s → 58 s over 30 k keys at ~1.5 rows each — guide §4: per-key
    boundary overhead is the operator's floor; pandas-per-tiny-group
    multiplies it).

    Semantics match :func:`_dedup_rows` on each key's batch: rows sort
    stably by (writetime, segment, position) across the whole key-batch,
    then first-seen digests survive against the bounded ``seen`` list
    (evicting the oldest, as the reference evicts the list head). Column
    positions are resolved from the input schema at plan time
    (``sort_idx``/``digest_idx``) so the per-row work is tuple indexing,
    not name lookups."""

    def __init__(
        self,
        sort_idx: tuple[int, int, int],
        digest_idx: int,
        max_digests: int = DEFAULT_MAX_DIGESTS,
        ttl_ms: int | None = DEFAULT_TTL_MS,
    ):
        self._sort_idx = sort_idx
        self._digest_idx = digest_idx
        self._max_digests = max_digests
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._seen = handle.getValueState(
            "seen", "seen array<string>", ttlDurationMs=self._ttl_ms
        )

    def handleInputRows(self, key, rows, timerValues):
        # ONE state read per key: ValueState.get() returns None for an
        # absent key, so no exists() probe — that would be a second full
        # state-server round trip per key per batch (~35% of this
        # operator's task time, measured).
        got = self._seen.get()
        seen = list(got[0]) if got is not None else []
        iw, isg, ipos = self._sort_idx
        idg = self._digest_idx
        max_digests = self._max_digests
        out = []
        for r in sorted(rows, key=lambda r: (r[iw], r[isg], r[ipos])):
            d = r[idg]
            if d not in seen:
                seen.append(d)
                if len(seen) > max_digests:
                    seen.pop(0)  # evict oldest (reference evicts list head)
                out.append(r)
        self._seen.update((seen,))
        return iter(out)

    def close(self) -> None:
        pass


def warm_state_store_coordinator(spark) -> None:
    """transformWithState in BATCH mode still loads executor state
    stores through the driver's StateStoreCoordinator, which Spark only
    materializes lazily for streaming queries — touch it through the
    session's StreamingQueryManager so a batch TWS plan can run without
    a prior streaming query (otherwise executors fail with
    RpcEndpointNotFoundException: StateStoreCoordinator)."""
    spark._jsparkSession.sessionState().streamingQueryManager().stateStoreCoordinator()


def mutation_cache_dedup(
    events: DataFrame,
    max_digests: int = DEFAULT_MAX_DIGESTS,
    ttl_ms: int | None = DEFAULT_TTL_MS,
    pk_col: str = "pk",
) -> DataFrame:
    """The mutation cache over a batch or streaming ``events`` frame
    carrying ``digest``, ``writetime``, ``segment`` and ``position``.

    Runs :class:`MutationCacheProcessor` through ``transformWithState`` on
    the RocksDB state store (at scale also the right store: changelog
    checkpointing, bounded executor memory).

    - Streaming: timeMode "ProcessingTime" with native state TTL of
      ``ttl_ms``; ``ttl_ms=None`` disables TTL (timeMode "None") so finite
      replays settle in tests. The session's state store provider is set
      to RocksDB, the only one streaming transformWithState accepts.
    - Batch: timeMode "None" after warming the StateStoreCoordinator; a
      bounded input has no processing-time horizon, so ``ttl_ms`` is
      ignored. Batch transformWithState runs without the session
      provider, so it is left alone: it is session-wide, and every later
      stateful stream of the session would start its stores on RocksDB.

    The transformWithState Python worker needs ``google.protobuf``;
    :func:`ensure_protobuf` supplies the real wheel or the vendored wire
    shim (it must also run before the JVM starts for workers to see it)."""
    ensure_protobuf()
    spark = events.sparkSession
    if events.isStreaming:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    else:
        warm_state_store_coordinator(spark)
        ttl_ms = None
    names = events.schema.names
    sort_idx = tuple(names.index(c) for c in ORDER)
    return events.groupBy(pk_col).transformWithState(
        MutationCacheProcessor(
            sort_idx, names.index("digest"), max_digests, ttl_ms
        ),
        outputStructType=events.schema,
        outputMode="append",
        timeMode="ProcessingTime" if ttl_ms is not None else "None",
    )
