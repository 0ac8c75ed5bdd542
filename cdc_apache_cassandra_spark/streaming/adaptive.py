"""Adaptive batch parallelism (SURVEY A5 / §6 'Adaptive parallelism') —
the reference tunes its CQL-query thread pool from a 10-batch moving
average of per-query latency and backs off exponentially on availability
errors (CassandraSource.java:217-275 adjustExecutors/decreaseExecutors/
backoffRetry; defaults CassandraSourceConnectorConfig.java:165-190:
executors 10, minMobileAvgLatency 10 ms, maxMobileAvgLatency 100 ms,
backoffInMs 100, maxBackoffInSec 3600).

Spark mapping: task parallelism inside a micro-batch is Spark's job
(AQE), but per-TRIGGER admission is ours — the analogue of the
reference's pool size is how much source data one cycle admits
(``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``); shuffle partitions
follow the session's cores. :class:`AdaptiveParallelism` is the
policy, kept semantically exact to the reference (same circular window,
same integer division, same ±1 grow/shrink bounds, same 10%% error
shrink, same ``backoff_ms << attempt`` jittered wait) so its behavior is
verifiable against the Java; :class:`AdaptiveLatencyListener` feeds it
per-micro-batch observations from Structured Streaming progress events;
:func:`adaptive_drain` runs availableNow drain cycles (the same seam
DdlRestartingStream uses) re-deriving the admission option between
cycles — a running query cannot re-plan its options, a cycle boundary
can, exactly like the reference re-sizing its pool between batches.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: reference defaults (CassandraSourceConnectorConfig.java:165-190)
DEFAULT_EXECUTORS = 10
DEFAULT_MIN_MOBILE_AVG_LATENCY_MS = 10
DEFAULT_MAX_MOBILE_AVG_LATENCY_MS = 100
DEFAULT_BACKOFF_MS = 100
DEFAULT_MAX_BACKOFF_S = 3_600
WINDOW = 10


class MobileAverage:
    """The reference's circular latency window (CassandraSource.java:
    187-190,217-230): fixed-size long array, head pointer, average with
    integer division over the filled prefix."""

    def __init__(self, size: int = WINDOW):
        self._values = [0] * size
        self._head = 0
        self._filled = 0

    def record(self, value: int) -> int:
        self._values[self._head] = int(value)
        self._head = (self._head + 1) % len(self._values)
        self._filled = min(self._filled + 1, len(self._values))
        return self.value

    @property
    def value(self) -> int:
        if self._filled == 0:
            return 0
        # long arithmetic: sum then integer-divide, like the Java
        return sum(self._values[: self._filled]) // self._filled


@dataclass
class AdaptiveParallelism:
    """Grow/shrink a parallelism level from batch latency observations.

    Exact policy parity with the reference:

    - ``record_batch``: batch avg = total_latency // n_queries, pushed
      into the mobile window; grow +1 while the mobile average is below
      ``min_latency_ms`` and level < ``max_level``; shrink -1 while it
      is above ``max_latency_ms`` and level > 1
      (CassandraSource.java:217-239).
    - ``on_read_error``: shrink by max(1, level // 10) — the
      ReadTimeout/Overloaded path (CassandraSource.java:246-256).
    - ``on_unavailable``: increment the consecutive-failure counter and
      return a uniform-random wait in [0, min(max_backoff_s * 1000,
      backoff_ms << attempt)) (CassandraSource.java:258-275).
    - ``on_success``: reset the failure counter
      (CassandraSource.java:594).
    """

    max_level: int = DEFAULT_EXECUTORS
    min_latency_ms: int = DEFAULT_MIN_MOBILE_AVG_LATENCY_MS
    max_latency_ms: int = DEFAULT_MAX_MOBILE_AVG_LATENCY_MS
    backoff_ms: int = DEFAULT_BACKOFF_MS
    max_backoff_s: int = DEFAULT_MAX_BACKOFF_S
    rng: random.Random = field(default_factory=random.Random)

    @classmethod
    def from_config(cls, cfg, rng: random.Random | None = None):
        """Build from a :class:`~cdc_apache_cassandra_spark.config.
        CdcPipelineConfig` (the reference's key names parse into it)."""
        return cls(
            max_level=cfg.query_executors,
            min_latency_ms=cfg.min_mobile_avg_latency_ms,
            max_latency_ms=cfg.max_mobile_avg_latency_ms,
            backoff_ms=cfg.backoff_ms,
            max_backoff_s=cfg.max_backoff_s,
            rng=rng or random.Random(),
        )

    def __post_init__(self):
        # the reference STARTS at the configured pool size and adapts
        # downward/back up (initQueryExecutors creates all of them)
        self.level = self.max_level
        self.consecutive_unavailable = 0
        self._window = MobileAverage(WINDOW)

    @property
    def mobile_avg(self) -> int:
        return self._window.value

    def record_batch(self, total_latency_ms: int, n_queries: int) -> int:
        """One completed batch; returns the (possibly adjusted) level."""
        if n_queries <= 0:
            return self.level
        mobile = self._window.record(int(total_latency_ms) // int(n_queries))
        if mobile < self.min_latency_ms and self.level < self.max_level:
            self.level += 1
        if mobile > self.max_latency_ms and self.level > 1:
            self.level -= 1
        self.consecutive_unavailable = 0
        return self.level

    def on_read_error(self) -> int:
        """Overload/timeout: drop 10% of the pool, floor 1."""
        if self.level > 1:
            self.level = max(1, self.level - max(1, self.level // 10))
        return self.level

    def _wait_ms(self, attempt: int) -> int:
        return min(self.max_backoff_s * 1000, self.backoff_ms << attempt)

    def on_unavailable(self) -> int:
        """Availability error: exponential jittered backoff (ms)."""
        self.consecutive_unavailable += 1
        return self.rng.randrange(
            0, max(1, self._wait_ms(self.consecutive_unavailable))
        )

    def on_success(self) -> None:
        self.consecutive_unavailable = 0

    # ---- Spark knob derivations -------------------------------------
    def recommend_max_files(self, files_per_level: int = 1) -> int:
        """Admission bound for the next availableNow cycle."""
        return max(1, self.level * files_per_level)


class AdaptiveLatencyListener(StreamingQueryListener):
    """Feeds Structured Streaming progress into the policy: per
    micro-batch, total latency = ``durationMs['triggerExecution']`` —
    the engine's analogue of the reference's batchTotalLatency /
    batchTotalQuery counters.

    Unit calibration (code-review r4): the reference's "query" is ONE
    CQL point lookup (~ms each), so its 10/100 ms thresholds are per
    lookup. The engine's per-ROW pipeline cost is microseconds — feeding
    raw ``numInputRows`` floors the per-unit latency to 0 ms and the
    policy could only ever grow. ``rows_per_unit`` (default 1000 ≈ the
    reference's 200-event batch × 5 lookup envelope) maps N rows to one
    reference-query unit, landing healthy batches in the same 10/100 ms
    band the thresholds were written for and making BOTH the grow and
    shrink branches reachable."""

    #: bounded history for inspection/tests — a long-running query must
    #: not accumulate one dict per trigger forever
    HISTORY = 256

    def __init__(
        self,
        policy: AdaptiveParallelism,
        query_name: str | None = None,
        rows_per_unit: int = 1000,
    ):
        from collections import deque

        self.policy = policy
        self.query_name = query_name
        self.rows_per_unit = max(1, rows_per_unit)
        self.batches: "deque[dict]" = deque(maxlen=self.HISTORY)

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if self.query_name is not None and p.name != self.query_name:
            return
        n = p.numInputRows or 0
        if n <= 0:
            return  # idle trigger: nothing measured, nothing adjusted
        total_ms = (p.durationMs or {}).get("triggerExecution", 0)
        units = max(1, n // self.rows_per_unit)
        level = self.policy.record_batch(total_ms, units)
        self.batches.append(
            {
                "numInputRows": n,
                "triggerExecutionMs": total_ms,
                "mobileAvg": self.policy.mobile_avg,
                "level": level,
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def adaptive_drain(
    start_query,
    policy: AdaptiveParallelism,
    cycles: int,
    files_per_level: int = 1,
    sleep_s: float = 0.0,
    on_error=None,
):
    """Run ``cycles`` availableNow drain cycles, re-deriving the
    admission bound from the policy between cycles.

    ``start_query(max_files: int)`` starts one availableNow streaming
    query against a shared checkpoint and returns it (same contract as
    DdlRestartingStream.start_query, plus the admission knob). A cycle
    that raises is fed to the policy: availability-shaped errors
    (``on_error(exc)`` returns 'unavailable') trigger the jittered
    backoff sleep and a retry of the SAME cycle; 'overloaded' shrinks
    10% and retries; anything else re-raises — mirroring the
    reference's exception triage (CassandraSource.java:596-623).

    Returns the per-cycle admission bounds used (for tests/inspection).
    """
    used: list[int] = []
    i = 0
    while i < cycles:
        max_files = policy.recommend_max_files(files_per_level)
        try:
            q = start_query(max_files)
            q.awaitTermination()
        except Exception as exc:  # noqa: BLE001 — triaged below
            kind = on_error(exc) if on_error is not None else None
            if kind == "unavailable":
                time.sleep(policy.on_unavailable() / 1000.0)
                continue
            if kind == "overloaded":
                policy.on_read_error()
                continue
            raise
        used.append(max_files)
        policy.on_success()
        i += 1
        if sleep_s and i < cycles:
            time.sleep(sleep_s)
    return used
