"""CdcEngine — the user-facing facade: the reference's whole workflow
(agent → events topic → connector → data topic, plus backfill CLI) as one
config-driven object over the operator library.

A reference user's mental model maps 1:1:

| reference                          | CdcEngine call                     |
|------------------------------------|------------------------------------|
| connector consumes events topic    | ``dedup(events)``                  |
| MutationCache (cache.max.digest,   | ``mutation_cache(events)``         |
|   cache.expire.after.ms)           |                                    |
| dedup → CQL read-after-event →     | ``to_records(events, snapshot)``   |
|   data topic (batch or stream)     |                                    |
| converged table state              | ``converged_state(events)``        |
| backfill CLI                       | ``backfill(snapshot)`` + union     |
| replay to a point in time          | ``snapshot_as_of(events, t)``      |
| incremental consumption            | ``changes_between(events, t1, t2)``|
| stream materialization             | ``materialize(stream, path)``      |

Every method is DataFrame → DataFrame and works on batch or streaming
inputs where the underlying operator supports it (§7.1 one pipeline).
Config comes from :class:`~cdc_apache_cassandra_spark.config.CdcPipelineConfig`
— construct from reference-style keys via ``CdcEngine.from_config_keys``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_apache_cassandra_spark.config import (
    CdcPipelineConfig,
    from_reference_keys,
)
from cdc_apache_cassandra_spark.operators.dedup import (
    dedup_mutations,
    dedup_mutations_stream,
)
from cdc_apache_cassandra_spark.operators.lookup import (
    key_value_records,
    read_after_event,
)
from cdc_apache_cassandra_spark.operators.lww import last_write_wins
from cdc_apache_cassandra_spark.sources.backfill import backfill_mutations
from cdc_apache_cassandra_spark.streaming.pipeline import with_event_time
from cdc_apache_cassandra_spark.streaming.state import mutation_cache_dedup


class CdcEngine:
    """One engine instance per logical pipeline (≈ one connector task)."""

    def __init__(
        self, spark: SparkSession, config: CdcPipelineConfig | None = None
    ):
        self.spark = spark
        # object-store deployment wiring (use_object_store): the
        # manifest CAS adapter every store method passes through (its
        # base_url/mirror_local drive the declarative sources' options)
        # and the commit store to restore on detach
        self._manifest_store = None
        self._prev_log_store = None
        self.config = (config or CdcPipelineConfig()).validate()

    @classmethod
    def from_config_keys(
        cls, spark: SparkSession, keys: dict[str, str]
    ) -> "CdcEngine":
        """Build from reference-style config keys (strict: unknown keys
        raise, like CassandraSourceConnectorConfig)."""
        return cls(spark, from_reference_keys(keys))

    # --- dedup (MutationCache) ----------------------------------------------

    def dedup(self, events: DataFrame) -> DataFrame:
        """Replica-duplicate suppression on (pk, digest). Streaming inputs
        get watermark-bounded state (TTL = cache.expire.after.ms); batch
        inputs the hash-aggregate form. The bounded ≤N-digest reference
        cache is :meth:`mutation_cache`."""
        if events.isStreaming:
            return dedup_mutations_stream(
                with_event_time(events), ttl=self.config.ttl
            )
        return dedup_mutations(events)

    def mutation_cache(self, events: DataFrame) -> DataFrame:
        """Exact reference-cache semantics (≤cache.max.digest digests per
        key, TTL = cache.expire.after.ms) through the one
        transformWithState operator on RocksDB, for batch and streaming
        inputs alike; streaming state expires by native processing-time
        TTL (see streaming/state.py::mutation_cache_dedup)."""
        return mutation_cache_dedup(
            events,
            max_digests=self.config.cache_max_digest,
            ttl_ms=self.config.cache_expire_after_ms,
        )

    # --- data-topic records -------------------------------------------------

    def to_records(
        self,
        events: DataFrame,
        snapshot: DataFrame,
        pk_cols: list[str],
        value_cols: list[str],
    ) -> DataFrame:
        """events (already deduped or raw) → keyed records with tombstones:
        the connector's read() loop. Raw inputs are deduped first."""
        deduped = self.dedup(events) if "node_id" in events.columns else events
        enriched = read_after_event(deduped, snapshot, pk_cols, value_cols)
        recs = key_value_records(enriched, pk_cols, value_cols)
        if self.config.output_format == "json":
            recs = recs.select(
                F.to_json(F.col("key")).alias("key"),
                F.when(
                    F.col("value").isNotNull(), F.to_json(F.col("value"))
                ).alias("value"),
            )
        return recs

    # --- state views --------------------------------------------------------

    def converged_state(self, events: DataFrame) -> DataFrame:
        """Dedup + last-write-wins: the table the data topic converges to."""
        return last_write_wins(self.dedup(events))

    def snapshot_as_of(self, events: DataFrame, writetime_us: int) -> DataFrame:
        """Point-in-time state: converged view of mutations ≤ t."""
        return self.converged_state(
            events.filter(F.col("writetime") <= writetime_us)
        )

    def changes_between(
        self, events: DataFrame, from_us: int, to_us: int
    ) -> DataFrame:
        """Deduped change feed for the half-open window (t1, t2]."""
        return self.dedup(
            events.filter(
                (F.col("writetime") > from_us) & (F.col("writetime") <= to_us)
            )
        )

    def scd2(self, events: DataFrame) -> DataFrame:
        """SCD Type-2 temporal table: one version row per mutation with
        [valid_from, valid_to) intervals; open version ≡ converged state."""
        from cdc_apache_cassandra_spark.operators.lww import scd2_intervals

        return scd2_intervals(self.dedup(events))

    # --- backfill -----------------------------------------------------------

    def backfill(
        self, snapshot: DataFrame, pk_col: str, value_cols: list[str]
    ) -> DataFrame:
        """Snapshot rows as synthetic mutations (digest BACK_FILL_INSERT,
        writetime −1 so any live event wins) — unionByName with the live
        stream and run through the same pipeline (T2)."""
        return backfill_mutations(snapshot, pk_col, value_cols)

    # --- materialization + lakehouse (§7.4 downstream legs) ------------------

    def materialize(
        self,
        events: DataFrame,
        path: str,
        checkpoint: str,
        pk_cols: list[str] | None = None,
        delta_path: str | None = None,
        **kwargs,
    ):
        """Wire a (deduped) mutation stream into the incremental bucket
        store; ``delta_path`` mirrors every commit into the native Delta
        log. Returns the StreamingQuery."""
        from cdc_apache_cassandra_spark.streaming.materialize import (
            materialize_stream,
        )

        if self._manifest_store is not None:
            kwargs.setdefault("store", self._manifest_store)
        return materialize_stream(
            events, path, checkpoint, pk_cols or ["pk"],
            delta_path=delta_path, **kwargs,
        )

    def read_store(self, path: str, mode: str = "active") -> DataFrame:
        """The bucket store as a declarative SCAN (``cdc_store`` format):
        Catalyst plans against it directly, and an equality/IN predicate
        covering the store's bucket key prunes to exactly those buckets
        at PLANNING time — the reference's per-key LIMIT 1 point read
        (CassandraClient.java:292-337) as ordinary SQL.
        ``mode="state"`` exposes tombstone winners (the tombstone-vs-miss
        contract); ``"active"`` hides them (plain-LWW stores only —
        compound stores read state + operators.lww.compound_active_view)."""
        from cdc_apache_cassandra_spark.sources.store_source import register

        register(self.spark)
        reader = (
            self.spark.read.format("cdc_store")
            .option("path", path)
            .option("mode", mode)
        )
        if self._manifest_store is not None:
            # the HTTP store is authoritative in BOTH mirror modes (URI
            # roots never have a local mirror at all) — and an unwired
            # (local-manifest-only) table fails loudly here instead of
            # reading through a stale or absent mirror
            reader = reader.option("manifestUrl", self._manifest_store.base_url)
        return reader.load()

    def point_read(
        self,
        path: str,
        keys,
        pk_cols: list[str] | None = None,
        bucket_cols: list[str] | None = None,
    ) -> DataFrame | None:
        """Key lookup touching ONLY the routed buckets. Literal key lists
        route driver-side with the same bit-exact hash the cdc_store
        scan's filter pushdown uses (one routing code path); DataFrame
        keys route via one metadata-sized Spark job."""
        from cdc_apache_cassandra_spark.streaming.materialize import (
            point_read,
        )

        result = point_read(
            self.spark, path, pk_cols or ["pk"], keys,
            bucket_cols=bucket_cols, store=self._manifest_store,
        )
        if result is None and self._manifest_store is not None:
            import os as _os

            if "://" not in path and _os.path.exists(
                _os.path.join(path, "_MANIFEST.json")
            ):
                # the table EXISTS but was committed outside the wired
                # store — silent None would read live data as absent
                raise ValueError(
                    f"{path}: table has a local manifest but none in the "
                    "wired object store; detach_object_store() to read "
                    "locally-committed tables"
                )
        return result

    def stream_changes(
        self,
        out_path: str,
        pk_cols: list[str] | None = None,
        starting_version: int = -1,
        max_versions_per_batch: int | None = None,
        consumer_id: str | None = None,
        read_change_feed: bool = False,
    ) -> DataFrame:
        """Tail the export's change feed as a STRUCTURED STREAMING source
        (``cdc_delta_changes``): Delta versions as offsets, classified
        change rows per micro-batch, optional durable consumer cursor
        recorded in the log (what cleanup retention respects) — the
        reference connector's consume→process→acknowledge loop over the
        export instead of the events topic.

        ``read_change_feed=True`` consumes the log's own CHANGE-DATA
        files instead of pk-diff classification (delta-spark's CDF
        stream): no pk needed, per-version emission, plus a
        ``_commit_timestamp`` column — for CDF-enabled tables
        (``export_delta(..., change_data_feed=True)`` or any foreign
        ``delta.enableChangeDataFeed`` writer)."""
        from cdc_apache_cassandra_spark.sources.change_feed_source import (
            register,
        )

        register(self.spark)
        reader = (
            self.spark.readStream.format("cdc_delta_changes")
            .option("path", out_path)
            .option("startingVersion", starting_version)
        )
        if read_change_feed:
            reader = reader.option("readChangeFeed", "true")
            if pk_cols:
                reader = reader.option("pkCols", ",".join(pk_cols))
        else:
            reader = reader.option("pkCols", ",".join(pk_cols or ["pk"]))
        if max_versions_per_batch is not None:
            reader = reader.option("maxVersionsPerBatch", max_versions_per_batch)
        if consumer_id is not None:
            reader = reader.option("consumerId", consumer_id)
        if self._manifest_store is not None:
            # the source's WORKER process must route through the store
            # in BOTH mirror modes (a driver-side set_log_commit_store
            # never reaches it): no-mirror workers resolve log READS
            # through it, and mirror-mode workers must still PUBLISH
            # cursor commits through the conditional PUT — a worker
            # committing only locally would leave holes in the
            # authoritative create-only sequence that a later HTTP
            # winner's mirror silently overwrites
            reader = reader.option(
                "logStoreUrl", self._manifest_store.base_url
            ).option(
                "logStoreMirror",
                "true" if self._manifest_store.mirror_local else "false",
            )
        return reader.load()

    def use_object_store(self, base_url: str, mirror_local: bool = False):
        """ONE call wires this engine for the object-store deployment
        (the 100 TB shape): the bucket-store manifest CAS and every
        Delta commit route through HTTP conditional writes against
        ``base_url`` (S3/GCS/Azure header semantics, or the in-process
        :class:`ConditionalPutServer` in dev), and the engine's store
        methods (materialize / point_read / read_store / export_delta /
        stream_changes) pass the adapters automatically — so URI table
        roots work end to end with no per-call ``store=`` plumbing.

        ``mirror_local=False`` (default) is the cross-machine shape:
        no filesystem copy of manifests or logs anywhere; reads resolve
        through the stores' reader halves. A wired engine reads ONLY
        through the store — tables committed OUTSIDE it (a pre-wiring
        local manifest) are refused loudly, never silently read as
        empty. This sets the PROCESS-GLOBAL Delta commit store; undo
        the whole wiring with :meth:`detach_object_store` (re-wiring
        without detaching keeps the ORIGINAL store as the restore
        target). Returns (manifest_store, previous_log_store)."""
        from cdc_apache_cassandra_spark.streaming.delta_log import (
            set_log_commit_store,
        )
        from cdc_apache_cassandra_spark.streaming.object_store import (
            HttpLogCommitStore,
            HttpManifestStore,
        )

        self._manifest_store = HttpManifestStore(
            base_url, mirror_local=mirror_local
        )
        prev_log = set_log_commit_store(
            HttpLogCommitStore(base_url, mirror_local=mirror_local)
        )
        if self._prev_log_store is None:
            self._prev_log_store = prev_log
        return self._manifest_store, prev_log

    def detach_object_store(self) -> None:
        """Undo :meth:`use_object_store` COMPLETELY: restore the
        original Delta commit store and stop injecting the HTTP
        adapters — partial restores (only ``set_log_commit_store``)
        would split-brain the engine: commits landing locally while
        ``stream_changes`` still replays the HTTP log and silently sees
        no new versions."""
        if self._prev_log_store is not None:
            from cdc_apache_cassandra_spark.streaming.delta_log import (
                set_log_commit_store,
            )

            set_log_commit_store(self._prev_log_store)
        self._manifest_store = None
        self._prev_log_store = None

    def export_delta(self, store_path: str, out_path: str, **kwargs):
        """Publish the store's active view as a native Delta table
        (incremental; auto-checkpoints every 10 commits). Returns the
        committed version or None when already current."""
        from cdc_apache_cassandra_spark.streaming.delta_log import delta_export

        if self._manifest_store is not None:
            kwargs.setdefault("manifest_store", self._manifest_store)
        return delta_export(self.spark, store_path, out_path, **kwargs)

    def read_table(self, out_path: str, **kwargs) -> DataFrame:
        """Snapshot read of a Delta table (ours or a foreign
        base-protocol one, checkpointed included); ``version=`` /
        ``timestamp_ms=`` time travel, ``prune=(col, lo, hi)`` data
        skipping."""
        from cdc_apache_cassandra_spark.streaming.delta_log import read_delta

        return read_delta(self.spark, out_path, **kwargs)

    def table_changes(
        self, out_path: str, last_version: int, pk_cols: list[str] | None = None
    ):
        """Tail the row-level change feed: ``(changes | None,
        new_version)`` since ``last_version`` — the incremental-consumer
        loop (Delta CDF analogue)."""
        from cdc_apache_cassandra_spark.streaming.delta_log import (
            delta_changes_since,
        )

        return delta_changes_since(
            self.spark, out_path, last_version, pk_cols or ["pk"]
        )

    def table_changes_cdf(
        self,
        out_path: str,
        starting_version: int | None = None,
        ending_version: int | None = None,
        *,
        start_ms: int | None = None,
        end_ms: int | None = None,
    ) -> DataFrame:
        """delta-spark's ``table_changes`` surface (r11): spec-exact
        CDF from the log's own ``cdc`` actions — inclusive window by
        VERSIONS (positional) or by TIMESTAMPS (``start_ms``/
        ``end_ms`` keywords, resolved through the one monotonized
        helper every time-travel surface shares), no primary key;
        commits without change-data files synthesize file-level
        inserts/deletes. Returns the table's columns +
        ``_change_type``/``_commit_version``/``_commit_timestamp``."""
        from cdc_apache_cassandra_spark.streaming.delta_log import (
            delta_changes_cdf,
            delta_changes_cdf_by_time,
        )

        by_version = starting_version is not None or ending_version is not None
        by_time = start_ms is not None or end_ms is not None
        if by_version == by_time:
            raise ValueError(
                "table_changes_cdf: pass starting_version+ending_version "
                "OR start_ms+end_ms, not both / neither"
            )
        if by_time:
            if start_ms is None or end_ms is None:
                raise ValueError(
                    "table_changes_cdf: both start_ms and end_ms required"
                )
            return delta_changes_cdf_by_time(
                self.spark, out_path, start_ms, end_ms
            )
        if starting_version is None or ending_version is None:
            raise ValueError(
                "table_changes_cdf: both starting_version and "
                "ending_version required"
            )
        return delta_changes_cdf(
            self.spark, out_path, starting_version, ending_version
        )

    def restore_table(
        self,
        out_path: str,
        version: int | None = None,
        timestamp_ms: int | None = None,
    ) -> int:
        """Delta's RESTORE TABLE — make an earlier snapshot the
        current state with one commit (by version or by timestamp
        through the shared monotonized resolution); CDF tables get
        delta-spark's file-level restore change rows. Returns the
        committed version."""
        from cdc_apache_cassandra_spark.streaming.delta_log import (
            delta_restore,
        )

        return delta_restore(
            self.spark, out_path, version=version, timestamp_ms=timestamp_ms
        )

    def clone_table(
        self,
        src_path: str,
        dst_path: str,
        version: int | None = None,
        timestamp_ms: int | None = None,
    ) -> int:
        """Delta's SHALLOW CLONE: a new table referencing the source
        snapshot's files by absolute path — zero data copied. Optional
        version/timestamp picks the snapshot."""
        from cdc_apache_cassandra_spark.streaming.delta_log import (
            delta_clone,
        )

        return delta_clone(
            self.spark, src_path, dst_path,
            version=version, timestamp_ms=timestamp_ms,
        )

    def maintain(
        self,
        store_path: str | None = None,
        table_path: str | None = None,
        *,
        pk_cols: list[str] | None = None,
        bucket_cols: list[str] | None = None,
        tombstone_horizon: int | None = None,
        staging_ttl_seconds: float = 3600.0,
        retain_ms: int | None = None,
        respect_consumers: bool = True,
    ) -> dict:
        """ONE scheduled entry point for the table's maintenance loop —
        the five individually-safe calls in the order that keeps them
        safe together (VERDICT r7 item 3: five footguns → one method):

        1. ``compact(only_expired=True)`` — drop expired tombstones
           incrementally (only when ``tombstone_horizon`` is given;
           IO ∝ expired-tombstone buckets, never the table).
        2. ``gc_orphan_dirs`` — reclaim crashed writers' staging,
           age-gated on ``staging_ttl_seconds`` (fresh trees are live).
        3. ``delta_log_cleanup`` — drop JSON covered by the PREVIOUS
           checkpoint; a change-feed consumer still behind it blocks
           this entirely unless ``respect_consumers=False`` (evict
           laggards deliberately, never by default). Cleanup runs
           BEFORE the checkpoint advances: a maintain() that
           checkpointed the head first would raise the consumer bar
           every run (the cursor's own txn commit always trails a
           fresh checkpoint), deadlocking cleanup forever — under the
           previous pointer, each run reclaims what consumers have
           actually moved past, and the log stays bounded at one
           maintenance cycle of lag.
        4. ``write_checkpoint`` — then compact the log at the current
           head (what the NEXT run's cleanup reclaims under); skipped
           when the head is already checkpointed.
        5. ``delta_vacuum`` — delete unreferenced data files outside
           the retention window (``retain_ms``; default keeps the
           module's in-flight-export guard).

        ``store_path`` / ``table_path`` are each optional — pass only
        the side being maintained. Uses the engine's wired object store
        automatically (:meth:`use_object_store`). Returns a summary
        dict: ``{"compacted", "gc_dirs", "checkpoint", "cleaned",
        "vacuumed"}``."""
        from cdc_apache_cassandra_spark.streaming import delta_log as dl
        from cdc_apache_cassandra_spark.streaming.materialize import (
            compact,
            gc_orphan_dirs,
        )

        out: dict = {
            "compacted": False,
            "gc_dirs": [],
            "checkpoint": None,
            "cleaned": [],
            "vacuumed": [],
        }
        if store_path is not None:
            store_kw = (
                {"store": self._manifest_store}
                if self._manifest_store is not None
                else {}
            )
            if tombstone_horizon is not None:
                compact(
                    self.spark,
                    store_path,
                    pk_cols or ["pk"],
                    tombstone_horizon=tombstone_horizon,
                    only_expired=True,
                    bucket_cols=bucket_cols,
                    **store_kw,
                )
                out["compacted"] = True
            out["gc_dirs"] = gc_orphan_dirs(
                store_path, older_than_seconds=staging_ttl_seconds, **store_kw
            )
        if table_path is not None:
            head, _files, _meta = dl.delta_log_replay(table_path)
            if head >= 0:
                out["cleaned"] = dl.delta_log_cleanup(
                    table_path, respect_consumers=respect_consumers
                )
                last_cp = dl._read_last_checkpoint(table_path)
                if last_cp is None or int(last_cp["version"]) < head:
                    dl.write_checkpoint(table_path)
                    out["checkpoint"] = head
                vacuum_kw = {} if retain_ms is None else {"retain_ms": retain_ms}
                out["vacuumed"] = dl.delta_vacuum(table_path, **vacuum_kw)
        return out

    def consumer_offset(self, out_path: str, app_id: str) -> int:
        """This consumer's durable change-feed cursor (-1 if none)."""
        from cdc_apache_cassandra_spark.streaming.delta_log import (
            consumer_offset,
        )

        return consumer_offset(out_path, app_id)

    def record_consumed(self, out_path: str, app_id: str, version: int) -> int:
        """Record the consumed-through version in the log itself (txn
        action) — call after processing a ``table_changes`` batch."""
        from cdc_apache_cassandra_spark.streaming.delta_log import (
            record_consumer_offset,
        )

        return record_consumer_offset(out_path, app_id, version)
