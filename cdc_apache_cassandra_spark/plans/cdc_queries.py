"""CDC-semantics queries — the reference's correctness-critical operators
(SURVEY §2 rows flagged ◆) as deterministic DataFrame queries with DuckDB
oracles over the shared synthetic event stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_apache_cassandra_spark.operators.dedup import dedup_mutations
from cdc_apache_cassandra_spark.operators.lww import last_write_wins
from cdc_apache_cassandra_spark.operators.lookup import read_after_event
from cdc_apache_cassandra_spark.plans.registry import register
from cdc_apache_cassandra_spark.sources.backfill import backfill_mutations
from cdc_apache_cassandra_spark.sources.event_source import (
    VALUE_COLS,
    events_cte,
    mutation_events,
)
from cdc_apache_cassandra_spark.sources.registry import load_table
from cdc_apache_cassandra_spark.caching import persist_scoped

_CTE = events_cte()
_VALUE_LIST = ", ".join(VALUE_COLS)


# --- A1/A3/T1: replica fan-in + digest dedup -------------------------------

@register(
    "cdc_dedup_events",
    sql=f"""
WITH {_CTE}
SELECT pk, digest, op, writetime, segment, position,
       COUNT(*) AS n_replicas,
       COUNT(DISTINCT node_id) AS n_nodes
FROM events_stream
GROUP BY pk, digest, op, writetime, segment, position
""",
)
def cdc_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica fan-in: every mutation appears once per replica with an
    identical digest (F-9 scenario, PulsarDualNodeTests.java:161-172).
    Group on the full mutation identity; n_replicas==RF, n_nodes==RF."""
    ev = mutation_events(spark, sf_dir)
    return ev.groupBy("pk", "digest", "op", "writetime", "segment", "position").agg(
        F.count("*").alias("n_replicas"),
        F.countDistinct("node_id").alias("n_nodes"),
    )


# --- A1+W3: dedup then last-write-wins materialization ---------------------

_LWW_SQL = f"""
WITH {_CTE},
deduped AS (
  SELECT DISTINCT pk, op, writetime, segment, position, digest, {_VALUE_LIST}
  FROM events_stream
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY pk ORDER BY writetime DESC, segment DESC, position DESC
  ) AS rn
  FROM deduped
)
SELECT pk, op, (op = 'DELETE') AS is_tombstone, {_VALUE_LIST}
FROM ranked WHERE rn = 1
"""


@register("cdc_lww_state", sql=_LWW_SQL)
def cdc_lww_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged per-key state: dedup replica duplicates, then keep the
    newest mutation by (writetime, segment, position); DELETE winning means
    the key is a tombstone (PulsarDualNodeTests.java:222-320 convergence)."""
    deduped = dedup_mutations(mutation_events(spark, sf_dir))
    latest = last_write_wins(deduped)
    return latest.select(
        "pk",
        "op",
        (F.col("op") == "DELETE").alias("is_tombstone"),
        *VALUE_COLS,
    )


# --- J1/S6/P6/S7: read-after-event lookup join with tombstones -------------

_RAE_SQL = f"""
WITH {_CTE},
deduped AS (SELECT DISTINCT pk, op, writetime, digest FROM events_stream)
SELECT d.pk, d.op, d.writetime, d.digest,
       (d.op = 'DELETE') AS is_tombstone,
       CASE WHEN d.op = 'DELETE' THEN NULL ELSE c.c_name END AS c_name,
       CASE WHEN d.op = 'DELETE' THEN NULL ELSE c.c_nationkey END AS c_nationkey,
       CASE WHEN d.op = 'DELETE' THEN NULL ELSE c.c_acctbal END AS c_acctbal,
       CASE WHEN d.op = 'DELETE' THEN NULL ELSE c.c_mktsegment END AS c_mktsegment
FROM deduped d LEFT JOIN customer c ON d.pk = c.c_custkey
"""


@register("cdc_read_after_event", sql=_RAE_SQL)
def cdc_read_after_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one join shape: deduped event stream LEFT JOIN the
    current table snapshot by PK; DELETE (or missing row) => tombstone with
    null value columns (CassandraSource.java:534-565)."""
    ev = dedup_mutations(mutation_events(spark, sf_dir)).select(
        "pk", "op", "writetime", "digest"
    )
    snapshot = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "pk"
    )
    return read_after_event(ev, snapshot, ["pk"], list(VALUE_COLS))


# --- T2: backfill ∪ live union, idempotent under LWW -----------------------

_BACKFILL_SQL = f"""
WITH {_CTE},
live AS (
  SELECT DISTINCT op, pk, writetime, {_VALUE_LIST}, digest, segment, position
  FROM events_stream WHERE pk % 2 = 0
),
backfill AS (
  SELECT 'INSERT' AS op, c_custkey AS pk, CAST(-1 AS BIGINT) AS writetime,
         {_VALUE_LIST}, 'BACK_FILL_INSERT' AS digest,
         CAST(-1 AS BIGINT) AS segment, CAST(-1 AS BIGINT) AS position
  FROM customer
),
unioned AS (SELECT * FROM live UNION ALL SELECT * FROM backfill),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY pk ORDER BY writetime DESC, segment DESC, position DESC
  ) AS rn
  FROM unioned
)
SELECT pk, op, (op = 'DELETE') AS is_tombstone, writetime,
       (digest = 'BACK_FILL_INSERT') AS from_backfill, {_VALUE_LIST}
FROM ranked WHERE rn = 1
"""


@register("cdc_backfill_union", sql=_BACKFILL_SQL)
def cdc_backfill_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill bootstrap: snapshot rows as synthetic mutations (digest
    BACK_FILL_INSERT, writetime/segment -1 per PulsarImporter.java:80-102)
    unioned with a partial live stream; LWW gives live events precedence
    (writetime -1 loses to any real writetime)."""
    live = dedup_mutations(
        mutation_events(spark, sf_dir).filter(F.col("pk") % 2 == 0)
    ).select("op", "pk", "writetime", *VALUE_COLS, "digest", "segment", "position")
    snap = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "pk")
    bf = backfill_mutations(snap, "pk", list(VALUE_COLS))
    latest = last_write_wins(live.unionByName(bf))
    return latest.select(
        "pk",
        "op",
        (F.col("op") == "DELETE").alias("is_tombstone"),
        "writetime",
        (F.col("digest") == "BACK_FILL_INSERT").alias("from_backfill"),
        *VALUE_COLS,
    )


# --- schema evolution: ALTER TABLE ADD column mid-stream --------------------
# (testSinglePk scenario, PulsarCassandraSourceTests.java:261-343: rows from
# before the DDL carry null for the added column)

_EVOLVED_SQL = f"""
WITH {_CTE},
old_events AS (
  SELECT *, CAST(NULL AS VARCHAR) AS c_tier FROM events_stream WHERE pk % 2 = 0
),
new_events AS (
  SELECT *, CASE WHEN c_acctbal IS NULL THEN NULL
                 WHEN c_acctbal >= 5000 THEN 'gold' ELSE 'std' END AS c_tier
  FROM events_stream WHERE pk % 2 = 1
),
unioned AS (SELECT * FROM old_events UNION ALL SELECT * FROM new_events),
deduped AS (
  SELECT DISTINCT pk, op, writetime, segment, position, digest,
         {_VALUE_LIST}, c_tier
  FROM unioned
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY pk ORDER BY writetime DESC, segment DESC, position DESC
  ) AS rn
  FROM deduped
)
SELECT pk, op, (op = 'DELETE') AS is_tombstone, (pk % 2 = 0) AS pre_ddl,
       {_VALUE_LIST}, c_tier
FROM ranked WHERE rn = 1
"""


@register("cdc_schema_evolution_union", sql=_EVOLVED_SQL)
def cdc_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKWARD-compatible schema evolution mid-stream: pre-DDL events
    (old schema) and post-DDL events (added nullable c_tier column) are
    reconciled by streaming/schema_evolution.union_evolved — old rows
    flow with typed nulls, exactly the reference's Avro union-null
    default — then the standard dedup + LWW converges the mixed stream.
    The reconcile/align is plan-time projection only: no extra shuffle."""
    from cdc_apache_cassandra_spark.streaming.schema_evolution import (
        union_evolved,
    )

    ev = mutation_events(spark, sf_dir)
    old = ev.filter(F.col("pk") % 2 == 0)
    new = ev.filter(F.col("pk") % 2 == 1).withColumn(
        "c_tier",
        F.when(F.col("c_acctbal").isNull(), F.lit(None).cast("string"))
        .when(F.col("c_acctbal") >= 5000, "gold")
        .otherwise("std"),
    )
    unioned = union_evolved(old, new)
    latest = last_write_wins(dedup_mutations(unioned))
    return latest.select(
        "pk",
        "op",
        (F.col("op") == "DELETE").alias("is_tombstone"),
        (F.col("pk") % 2 == 0).alias("pre_ddl"),
        *VALUE_COLS,
        "c_tier",
    )


# --- UDT evolution: ALTER TYPE ADD field mid-stream -------------------------
# (onUserDefinedTypeUpdated scenario, CassandraSource.java:666-698: adding a
# field to a UDT is BACKWARD-compatible in Avro; pre-DDL events carry null
# for the new UDT field INSIDE the nested record)

_UDT_EVOLVED_SQL = f"""
WITH {_CTE},
old_events AS (
  SELECT pk, op, writetime, segment, position, digest,
         CASE WHEN op = 'DELETE' THEN NULL
              ELSE {{'seg': c_mktsegment, 'tier': CAST(NULL AS VARCHAR)}}
         END AS profile
  FROM events_stream WHERE pk % 2 = 0
),
new_events AS (
  SELECT pk, op, writetime, segment, position, digest,
         CASE WHEN op = 'DELETE' THEN NULL
              ELSE {{'seg': c_mktsegment,
                     'tier': CASE WHEN c_acctbal IS NULL THEN NULL
                                  WHEN c_acctbal >= 5000 THEN 'gold'
                                  ELSE 'std' END}}
         END AS profile
  FROM events_stream WHERE pk % 2 = 1
),
unioned AS (SELECT * FROM old_events UNION ALL SELECT * FROM new_events),
deduped AS (SELECT DISTINCT * FROM unioned),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY pk ORDER BY writetime DESC, segment DESC, position DESC
  ) AS rn
  FROM deduped
)
SELECT pk, op, (op = 'DELETE') AS is_tombstone, (pk % 2 = 0) AS pre_ddl,
       to_json(profile) AS profile_json
FROM ranked WHERE rn = 1
"""


@register("cdc_udt_evolution_union", sql=_UDT_EVOLVED_SQL)
def cdc_udt_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDT schema evolution mid-stream: pre-DDL events carry a nested
    record (UDT) WITHOUT the new field; post-DDL events carry the widened
    UDT. reconcile_schemas recurses into the StructType (additive
    nullable field inside a nested record is BACKWARD-compatible, the
    onUserDefinedTypeUpdated case) and align_to_schema back-fills the
    missing nested field with typed nulls while preserving null UDTs —
    all plan-time struct rewriting, no shuffle beyond the dedup. Rendered
    to JSON for the oracle (struct canonicalization, see
    cql_udt_tuple_projection)."""
    from cdc_apache_cassandra_spark.streaming.schema_evolution import (
        union_evolved,
    )

    base = mutation_events(spark, sf_dir).select(
        "pk", "op", "writetime", "segment", "position", "digest", "node_id",
        "c_mktsegment", "c_acctbal",
    )
    tier = (
        F.when(F.col("c_acctbal").isNull(), F.lit(None).cast("string"))
        .when(F.col("c_acctbal") >= 5000, "gold")
        .otherwise("std")
    )
    old = base.filter(F.col("pk") % 2 == 0).select(
        "pk", "op", "writetime", "segment", "position", "digest", "node_id",
        F.when(F.col("op") == "DELETE", F.lit(None))
        .otherwise(F.struct(F.col("c_mktsegment").alias("seg")))
        .alias("profile"),
    )
    new = base.filter(F.col("pk") % 2 == 1).select(
        "pk", "op", "writetime", "segment", "position", "digest", "node_id",
        F.when(F.col("op") == "DELETE", F.lit(None))
        .otherwise(
            F.struct(F.col("c_mktsegment").alias("seg"), tier.alias("tier"))
        )
        .alias("profile"),
    )
    unioned = union_evolved(old, new)
    latest = last_write_wins(dedup_mutations(unioned))
    return latest.select(
        "pk",
        "op",
        (F.col("op") == "DELETE").alias("is_tombstone"),
        (F.col("pk") % 2 == 0).alias("pre_ddl"),
        F.to_json(F.col("profile"), {"ignoreNullFields": "false"}).alias(
            "profile_json"
        ),
    )


# --- replica divergence audit ------------------------------------------------

_DIVERGENCE_SQL = f"""
WITH {_CTE},
-- simulate replica loss: node 1's copy never arrives for pk % 11 = 0
-- (a stopped node whose hints were not yet replayed)
lossy AS (
  SELECT * FROM events_stream
  WHERE NOT (node_id = 1 AND pk % 11 = 0)
),
arrival AS (
  SELECT pk, digest, op, writetime,
         COUNT(*) AS n_copies,
         COUNT(DISTINCT node_id) AS n_nodes
  FROM lossy
  GROUP BY pk, digest, op, writetime
)
SELECT pk, digest, op, writetime, n_copies, n_nodes,
       (n_nodes < 2) AS under_replicated
FROM arrival
WHERE n_nodes < 2
"""


@register("cdc_replica_divergence", sql=_DIVERGENCE_SQL)
def cdc_replica_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once audit: mutations whose digest arrived from FEWER
    than RF distinct nodes — the observable signature of a down replica
    with unreplayed hints (the dual-node test's stopped-node scenario,
    PulsarDualNodeTests.java:222-320, inverted into a monitoring query).
    One aggregate on the full mutation identity; at 100 TB this runs as
    a windowed streaming aggregate with the same shape."""
    ev = mutation_events(spark, sf_dir).filter(
        ~((F.col("node_id") == 1) & (F.col("pk") % 11 == 0))
    )
    arrival = ev.groupBy("pk", "digest", "op", "writetime").agg(
        F.count("*").alias("n_copies"),
        F.countDistinct("node_id").alias("n_nodes"),
    )
    return arrival.filter(F.col("n_nodes") < 2).select(
        "pk", "digest", "op", "writetime", "n_copies", "n_nodes",
        (F.col("n_nodes") < 2).alias("under_replicated"),
    )


# --- out-of-order arrival statistics ----------------------------------------

_OOO_SQL = f"""
WITH {_CTE},
arrivals AS (
  SELECT DISTINCT pk, digest, op, writetime, segment, position
  FROM events_stream
),
seq AS (
  SELECT pk, digest, op, writetime,
         ROW_NUMBER() OVER (PARTITION BY pk ORDER BY segment, position, digest)
           AS arrival_rank,
         MAX(writetime) OVER (PARTITION BY pk ORDER BY segment, position, digest
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_seen
  FROM arrivals
)
SELECT pk, digest, op, writetime, arrival_rank,
       (max_seen IS NOT NULL AND writetime < max_seen) AS is_late
FROM seq
"""


@register("cdc_out_of_order_stats", sql=_OOO_SQL)
def cdc_out_of_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder observability (the W3 tolerance made measurable): replay
    each key's mutations in ARRIVAL order (segment, position — the
    commitlog's physical order) and flag events whose writetime is older
    than something already seen for that key — exactly the events whose
    correctness depends on last-write-wins rather than arrival order.
    One shuffle on pk; the running max is a bounded per-key window. The
    late fraction is the metric that sizes the production watermark."""
    ev = dedup_mutations(mutation_events(spark, sf_dir)).select(
        "pk", "digest", "op", "writetime", "segment", "position"
    )
    from pyspark.sql import Window

    order = [F.col("segment"), F.col("position"), F.col("digest")]
    w = Window.partitionBy("pk").orderBy(*order)
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    seq = ev.select(
        "pk",
        "digest",
        "op",
        "writetime",
        F.row_number().over(w).alias("arrival_rank"),
        F.max("writetime").over(w_prev).alias("max_seen"),
    )
    return seq.select(
        "pk",
        "digest",
        "op",
        "writetime",
        "arrival_rank",
        (
            F.col("max_seen").isNotNull()
            & (F.col("writetime") < F.col("max_seen"))
        ).alias("is_late"),
    )


# --- §7.4: incremental MERGE materialization through the bucket store -------

_MAT_SQL = f"""
WITH {_CTE},
deduped AS (
  SELECT DISTINCT pk, op, writetime, segment, position, digest, {_VALUE_LIST}
  FROM events_stream
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY pk ORDER BY writetime DESC, segment DESC, position DESC
  ) AS rn
  FROM deduped
)
SELECT pk, op, writetime, {_VALUE_LIST}
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""


@register("cdc_materialized_state", sql=_MAT_SQL)
def cdc_materialized_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE-into materialization (streaming/materialize.py):
    the deduped mutation stream is committed through the manifest-pointer
    bucket store in THREE segment-interleaved batches — each commit
    rewrites only the hash buckets that batch touches (the Delta
    ``whenMatchedDelete`` analogue: tombstone winners hide keys from the
    active view but stay in state to block stale resurrections). Oracle =
    direct LWW winners minus tombstones: the store must converge to the
    same table no matter how mutations are batched, which is exactly the
    downstream-sink contract the reference delegates (SURVEY §7.4;
    CassandraSource.java:554 null-value tombstones)."""
    import tempfile

    from cdc_apache_cassandra_spark.streaming.materialize import (
        active_view,
        merge_into,
        read_state,
    )

    # Persist the deduped feed: each merge commit evaluates its batch
    # twice (touched-bucket scan + merged write), so 3 commits would
    # otherwise replay the event pipeline 6 times. In a real stream the
    # micro-batch is already materialized by the engine; the cache stands
    # in for that.
    ev = dedup_mutations(mutation_events(spark, sf_dir)).transform(persist_scoped)
    path = tempfile.mkdtemp(prefix="cdc_mat_state_")
    # segment-interleaved batches: writetimes arrive OUT of order across
    # commits, so convergence genuinely exercises LWW-under-merge
    for i in range(3):
        merge_into(
            spark, path, ev.filter(F.pmod(F.col("segment"), F.lit(3)) == i), ["pk"]
        )
    ev.unpersist()
    state = read_state(spark, path)
    return active_view(state).select("pk", "op", "writetime", *VALUE_COLS)


_POINT_READ_SQL = f"""
WITH {_CTE},
deduped AS (
  SELECT DISTINCT pk, op, writetime, segment, position, digest, {_VALUE_LIST}
  FROM events_stream
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY pk ORDER BY writetime DESC, segment DESC, position DESC
  ) AS rn
  FROM deduped
)
SELECT pk, op, (op = 'DELETE') AS is_tombstone, writetime, {_VALUE_LIST}
FROM ranked WHERE rn = 1 AND pk % 41 = 0
"""


@register("cdc_point_read_routing", sql=_POINT_READ_SQL)
def cdc_point_read_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The store-side LIMIT-1 point read under the oracle gate (SURVEY
    O2/S6: the reference's per-key ``SELECT ... WHERE pk=? LIMIT 1``,
    CassandraSource.java single-row lookup): materialize the deduped
    stream into the bucket store, then ``point_read`` a deterministic
    key set (pk % 41 == 0). Routing is the scale property — only the
    requested keys' hash buckets are listed or read — and the contract
    returns op='DELETE' rows too, so a caller distinguishes 'deleted'
    from 'never existed' exactly like the reference's tombstone-vs-miss.
    Oracle = LWW winners (tombstones INCLUDED) for the same keys."""
    import tempfile

    from cdc_apache_cassandra_spark.engine import CdcEngine
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    ev = dedup_mutations(mutation_events(spark, sf_dir)).transform(persist_scoped)
    path = tempfile.mkdtemp(prefix="cdc_point_read_")
    merge_into(spark, path, ev, ["pk"])
    ev.unpersist()
    keys = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("pk"))
        .filter(F.col("pk") % 41 == 0)
    )
    # through the FACADE (r5 item 5): CdcEngine.point_read delegates to
    # the one routing code path shared with the cdc_store scan pushdown
    got = CdcEngine(spark).point_read(path, keys, ["pk"])
    return got.select(
        "pk",
        "op",
        (F.col("op") == "DELETE").alias("is_tombstone"),
        "writetime",
        *VALUE_COLS,
    )


@register("cdc_store_point_read", sql=_POINT_READ_SQL)
def cdc_store_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME point-read contract as cdc_point_read_routing, but through
    the declarative scan: ``spark.read.format("cdc_store")`` with the key
    set pushed down as an IN filter (PySpark 4 DataSource ``pushFilters``).
    Planning re-derives each key's bucket with the bit-exact Python port
    of Spark's xxhash64 (functions/xxhash64_py.py, parity pinned in
    tests/test_store_source.py) and lists ONLY those buckets' files —
    the reference's per-key ``LIMIT 1`` read
    (connector/src/main/java/com/datastax/oss/cdc/CassandraClient.java:292-337)
    surfaced as ordinary SQL. mode=state so tombstone winners come back
    (the tombstone-vs-miss contract). Oracle = LWW winners (tombstones
    included) for the same keys — identical to cdc_point_read_routing, so
    the two routing surfaces are pinned to each other through the gate."""
    import tempfile

    from cdc_apache_cassandra_spark.sources.store_source import (
        register as register_store,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    ev = dedup_mutations(mutation_events(spark, sf_dir)).transform(persist_scoped)
    path = tempfile.mkdtemp(prefix="cdc_store_scan_")
    merge_into(spark, path, ev, ["pk"])
    ev.unpersist()
    # literal key set: a point read's keys are driver-known by nature
    # (bounded by the request, never the table)
    keys = [
        r["pk"]
        for r in load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("pk"))
        .filter(F.col("pk") % 41 == 0)
        .collect()
    ]
    register_store(spark)
    got = (
        spark.read.format("cdc_store")
        .option("path", path)
        .option("mode", "state")
        .load()
        .filter(F.col("pk").isin(keys))
    )
    return got.select(
        "pk",
        "op",
        (F.col("op") == "DELETE").alias("is_tombstone"),
        "writetime",
        *VALUE_COLS,
    )


@register("cdc_delta_export_state", sql=_MAT_SQL)
def cdc_delta_export_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse interop under the oracle gate (r3 verdict item 7, native
    half): the bucket store is built in two segment-interleaved MERGE
    commits and published to a REAL Delta table after each —
    streaming/delta_log.py writes the public Delta transaction log
    (protocol/metaData/add/remove JSON actions, delta.io PROTOCOL.md)
    with no delta-spark jar, remove+add-ing only the buckets each commit
    touched. The returned rows are read BACK through the log (schema
    from metaData, files from action replay), so the gate pins that an
    external Delta reader sees exactly the LWW-converged active view:
    oracle = direct LWW winners minus tombstones, same as
    cdc_materialized_state."""
    import tempfile

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_export,
        read_delta,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    ev = dedup_mutations(mutation_events(spark, sf_dir)).transform(persist_scoped)
    root = tempfile.mkdtemp(prefix="cdc_delta_export_")
    store = f"{root}/store"
    table = f"{root}/table"
    import os

    os.makedirs(store)
    # commit 1: the bulk; commit 2: a ~1% key slice — the second export
    # must rewrite only that slice's buckets (remove+add per touched
    # bucket), which is the property that makes the log an incremental
    # feed at 100 TB
    late = F.pmod(F.col("pk"), F.lit(97)) == 0
    for batch in (ev.filter(~late), ev.filter(late)):
        merge_into(spark, store, batch, ["pk"])
        delta_export(spark, store, table)
    ev.unpersist()
    return read_delta(spark, table).select("pk", "op", "writetime", *VALUE_COLS)


@register("cdc_delta_clone", sql=_MAT_SQL)
def cdc_delta_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE under the oracle gate (r11): the two-commit
    export cloned to a NEW table whose version-0 commit references the
    source's files by absolute path — zero data copied, metadata-sized
    at any table size. The rows read back through the CLONE's log must
    equal the LWW-converged active view exactly (same oracle as
    cdc_delta_export_state: a clone is the same table, elsewhere)."""
    import tempfile

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_clone,
        delta_export,
        read_delta,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    ev = dedup_mutations(mutation_events(spark, sf_dir)).transform(persist_scoped)
    root = tempfile.mkdtemp(prefix="cdc_delta_clone_")
    store = f"{root}/store"
    table = f"{root}/table"
    clone = f"{root}/clone"
    import os

    os.makedirs(store)
    late = F.pmod(F.col("pk"), F.lit(97)) == 0
    for batch in (ev.filter(~late), ev.filter(late)):
        merge_into(spark, store, batch, ["pk"])
        delta_export(spark, store, table)
    ev.unpersist()
    delta_clone(spark, table, clone)
    return read_delta(spark, clone).select("pk", "op", "writetime", *VALUE_COLS)


_MAT_DV_SQL = f"""
WITH {_CTE},
deduped AS (
  SELECT DISTINCT pk, op, writetime, segment, position, digest, {_VALUE_LIST}
  FROM events_stream
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY pk ORDER BY writetime DESC, segment DESC, position DESC
  ) AS rn
  FROM deduped
)
SELECT pk, op, writetime, {_VALUE_LIST}
FROM ranked WHERE rn = 1 AND op <> 'DELETE' AND NOT pk % 101 = 0
"""


@register("cdc_delta_export_dv_state", sql=_MAT_DV_SQL)
def cdc_delta_export_dv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DV-emitting export under the oracle gate (VERDICT r9 item 6,
    writer half): the store converges as in cdc_delta_export_state,
    then a PURE sparse-delete commit (tombstones for the pk % 101 = 0
    slice of surviving keys, later writetime) exports with
    ``deletion_vectors=True`` — the touched buckets re-point their
    EXISTING parquet files at roaring-bitmap deletion vectors (spec
    storageType "u") instead of rewriting, upgrading the table protocol
    to the deletionVectors feature. Reading the table back through the
    log must apply the masks: oracle = LWW winners minus tombstones
    minus the deleted slice. The gate therefore pins both halves of the
    DV lifecycle — this writer's masks and the reader's decode — against
    DuckDB's view of the same mutation stream."""
    import os
    import tempfile

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_export,
        read_delta,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    ev = dedup_mutations(mutation_events(spark, sf_dir)).transform(persist_scoped)
    root = tempfile.mkdtemp(prefix="cdc_delta_export_dv_")
    store = f"{root}/store"
    table = f"{root}/table"
    os.makedirs(store)
    merge_into(spark, store, ev, ["pk"])
    delta_export(spark, store, table)
    # pure sparse delete: tombstone the % 101 slice of LIVE keys at a
    # writetime above everything in the stream — every touched bucket's
    # new state is its old rows minus a sparse subset (the DV shape)
    wt_max = ev.agg(F.max("writetime")).collect()[0][0]
    dels = (
        read_delta(spark, table)
        .filter(F.pmod(F.col("pk"), F.lit(101)) == 0)
        .select(
            F.lit("DELETE").alias("op"),
            "pk",
            (F.lit(wt_max) + 1).cast("long").alias("writetime"),
            *[F.lit(None).cast(f.dataType).alias(f.name)
              for f in ev.schema.fields
              if f.name in set(VALUE_COLS)],
            F.lit(10_000).cast("long").alias("segment"),
            F.col("pk").cast("long").alias("position"),
        )
        .select("op", "pk", "writetime", "segment", "position", *VALUE_COLS)
    )
    merge_into(spark, store, dels, ["pk"])
    delta_export(spark, store, table, deletion_vectors=True)
    ev.unpersist()
    return read_delta(spark, table).select("pk", "op", "writetime", *VALUE_COLS)


@register("cdc_delta_mapped_export_state", sql=_MAT_SQL)
def cdc_delta_mapped_export_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapped-export writer half under the oracle gate (VERDICT r10
    item 5): the store converges as in cdc_delta_export_state but the
    table is created with ``column_mapping="name"`` — schemaString
    fields carry delta.columnMapping physicalName/id, configuration
    records mode=name + maxColumnId, and the data files are staged
    under PHYSICAL column names (the delta-spark layout; verified here
    by asserting the parquet footer shows no logical name). The second
    incremental export continues the mapping without the flag. Rows
    are read BACK through the engine's own name-mode mapped reader:
    oracle = direct LWW winners minus tombstones, identical to
    cdc_materialized_state — mapping must not change one row."""
    import os
    import tempfile

    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_export,
        delta_log_replay,
        read_delta,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    ev = dedup_mutations(mutation_events(spark, sf_dir)).transform(persist_scoped)
    root = tempfile.mkdtemp(prefix="cdc_delta_mapped_export_")
    store = f"{root}/store"
    table = f"{root}/table"
    os.makedirs(store)
    late = F.pmod(F.col("pk"), F.lit(97)) == 0
    for i, batch in enumerate((ev.filter(~late), ev.filter(late))):
        merge_into(spark, store, batch, ["pk"])
        delta_export(
            spark, store, table,
            column_mapping="name" if i == 0 else None,
        )
    ev.unpersist()
    # the published files must be PHYSICAL-named (writer parity, not
    # just reader tolerance)
    _, files, _ = delta_log_replay(table)
    names = set(pq.read_schema(os.path.join(table, sorted(files)[0])).names)
    if "pk" in names:
        raise AssertionError(
            "mapped export staged a LOGICAL column name into parquet"
        )
    return read_delta(spark, table).select("pk", "op", "writetime", *VALUE_COLS)


@register("cdc_remote_store_lifecycle", sql=_MAT_SQL)
def cdc_remote_store_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB deployment shape under the oracle gate (r7): the table
    LIVES in an object store, it doesn't just commit through one. The
    bucket store is built against a ``file://`` URI root treated as
    remote — every driver-side byte (staging renames, footer stats,
    superseded-dir pruning) through the pyarrow.fs seam
    (streaming/delta_log._io_*), Spark's distributed IO through the
    Hadoop filesystem for the scheme — with the manifest CAS'd through
    HTTP conditional writes (HttpManifestStore, NO local mirror: readers
    resolve through the store, the cross-machine shape) and every Delta
    commit published create-only via conditional PUT
    (HttpLogCommitStore) against an in-process S3-semantics emulator.
    Rows are read BACK through the exported Delta log from the remote
    root. Oracle = direct LWW winners minus tombstones, identical to
    cdc_materialized_state — remoteness must not change one row.
    Reference parity: the reference's data plane lives on distributed
    storage (Pulsar brokers + Cassandra,
    agent/.../AbstractPulsarMutationSender.java:243-270); this is the
    lakehouse analogue. The os-audit twin of this gate is
    tests/test_remote_data_plane.py."""
    import tempfile

    import cdc_apache_cassandra_spark.streaming.delta_log as dl
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into
    from cdc_apache_cassandra_spark.streaming.object_store import (
        ConditionalPutServer,
        HttpLogCommitStore,
        HttpManifestStore,
    )

    ev = dedup_mutations(mutation_events(spark, sf_dir)).transform(persist_scoped)
    root = tempfile.mkdtemp(prefix="cdc_remote_lifecycle_")
    store_uri = f"file://{root}/store"
    table_uri = f"file://{root}/table"
    import os

    os.makedirs(f"{root}/store")
    os.makedirs(f"{root}/table")
    server = ConditionalPutServer()
    url = server.start()
    try:
        mstore = HttpManifestStore(url, mirror_local=False)
        prev = dl.set_log_commit_store(HttpLogCommitStore(url))
        try:
            # two segment-interleaved merge+export cycles: writetimes
            # cross commits out of order, so LWW-under-merge and the
            # incremental (changed-buckets-only) re-export both run for
            # real; two cycles pin the same convergence as three at ~2/3
            # the gate cost
            for i in range(2):
                merge_into(
                    spark,
                    store_uri,
                    ev.filter(F.pmod(F.col("segment"), F.lit(2)) == i),
                    ["pk"],
                    store=mstore,
                )
                dl.delta_export(
                    spark, store_uri, table_uri, manifest_store=mstore
                )
        finally:
            dl.set_log_commit_store(prev)
    finally:
        # replay happened at export time; read_delta below re-replays the
        # log MIRRORED into the remote root, so the emulator can stop —
        # the returned plan reads only parquet + the on-root log
        server.stop()
    ev.unpersist()
    return dl.read_delta(spark, table_uri).select(
        "pk", "op", "writetime", *VALUE_COLS
    )


@register("cdc_streaming_end_to_end", sql=_MAT_SQL)
def cdc_streaming_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING engine end-to-end under the oracle gate (r4 verdict
    item 3) — not the batch twin: mutation events written as commitlog
    segments, replayed by the cdc_commitlog PYTHON DATA SOURCE as a
    Structured Streaming source (one InputPartition per segment, Arrow
    batches), deduped per-key by the ACTUAL row-mode transformWithState
    MutationCacheProcessor (RocksDB state store; vendored protobuf wire
    shim where the wheel is absent), and committed through
    ``materialize_stream`` — a real ``writeStream.foreachBatch`` query
    with a checkpointLocation, drained synchronously. The returned rows
    are the bucket store's active view; oracle = direct LWW winners
    minus tombstones, same as cdc_materialized_state: the streaming and
    batch executions of the §3.2 pipeline must converge to the same
    table (reference CassandraSource.java:452-631 dataflow)."""
    import tempfile

    from cdc_apache_cassandra_spark.sources.commitlog_source import (
        register as register_source,
        write_segments,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import (
        active_view,
        materialize_stream,
        read_state,
    )
    from cdc_apache_cassandra_spark.streaming.state import mutation_cache_dedup

    root = tempfile.mkdtemp(prefix="cdc_stream_e2e_")
    seg_dir = f"{root}/segments"
    table = f"{root}/table"
    ckpt = f"{root}/ckpt"
    write_segments(mutation_events(spark, sf_dir), seg_dir, n_segments=4)
    register_source(spark)

    stream = (
        spark.readStream.format("cdc_commitlog").option("path", seg_dir).load()
    )
    deduped = mutation_cache_dedup(stream.drop("node_id"), ttl_ms=None)
    q = materialize_stream(deduped, table, ckpt, ["pk"], n_buckets=8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return active_view(read_state(spark, table)).select(
        "pk", "op", "writetime", *VALUE_COLS
    )


@register("cdc_delta_checkpoint_state", sql=_MAT_SQL)
def cdc_delta_checkpoint_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The long-lived-export shape (r4 verdict item 1): TWELVE
    position-sliced MERGE commits each published as a Delta commit, so
    the log crosses delta-spark's default 10-commit checkpoint cadence —
    streaming/delta_log.py writes a spec parquet checkpoint
    ({v}.checkpoint.parquet + _last_checkpoint) at version 10 by itself.
    The pre-checkpoint JSON commits are then CLEANED
    (delta_log_cleanup — what real writers do with expired metadata), so
    the rows returned here are readable ONLY via checkpoint restore +
    JSON-tail replay, never full-history JSON. Oracle = direct LWW
    winners minus tombstones, same as cdc_materialized_state: the
    checkpointed table an external engine mounts must equal the
    converged active view exactly."""
    import tempfile

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_export,
        delta_log_cleanup,
        read_delta,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    ev = dedup_mutations(mutation_events(spark, sf_dir)).transform(persist_scoped)
    root = tempfile.mkdtemp(prefix="cdc_delta_ckpt_")
    store = f"{root}/store"
    table = f"{root}/table"
    import os

    os.makedirs(store)
    for i in range(12):
        merge_into(
            spark,
            store,
            ev.filter(F.pmod(F.col("position"), F.lit(12)) == i),
            ["pk"],
            n_buckets=8,
        )
        delta_export(spark, store, table)
    ev.unpersist()
    assert os.path.exists(
        f"{table}/_delta_log/{10:020d}.checkpoint.parquet"
    ), "default cadence must have checkpointed at version 10"
    delta_log_cleanup(table)
    return read_delta(spark, table).select("pk", "op", "writetime", *VALUE_COLS)


# --- Delta CDF: row-level change feed between export versions ---------------

_CDF_CUT = "(1600000000000000 + 300000000)"  # WRITETIME_BASE + 300s, µs

_CDF_COLS = "pk, op, writetime, segment, position, " + _VALUE_LIST
_CDF_DIFF = " OR ".join(
    f"(a.{c} IS DISTINCT FROM b.{c})"
    for c in ["op", "writetime", "segment", "position", *VALUE_COLS]
)


def _cdf_state_sql(where: str) -> str:
    return f"""
  SELECT {_CDF_COLS} FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY pk ORDER BY writetime DESC, segment DESC, position DESC
    ) AS rn
    FROM deduped WHERE {where}
  ) WHERE rn = 1 AND op <> 'DELETE'
"""


_CDF_SQL = f"""
WITH {_CTE},
deduped AS (
  SELECT DISTINCT {_CDF_COLS}
  FROM events_stream
),
pre AS ({_cdf_state_sql(f"writetime <= {_CDF_CUT}")}),
post AS ({_cdf_state_sql("TRUE")}),
diff AS (
  SELECT a.pk FROM pre a JOIN post b ON a.pk = b.pk WHERE {_CDF_DIFF}
)
SELECT *, CAST(1 AS BIGINT) AS _commit_version FROM (
  SELECT b.*, 'insert' AS _change_type
  FROM post b LEFT JOIN pre a ON a.pk = b.pk WHERE a.pk IS NULL
  UNION ALL
  SELECT a.*, 'delete' AS _change_type
  FROM pre a LEFT JOIN post b ON b.pk = a.pk WHERE b.pk IS NULL
  UNION ALL
  SELECT a.*, 'update_preimage' AS _change_type
  FROM pre a JOIN diff d ON d.pk = a.pk
  UNION ALL
  SELECT b.*, 'update_postimage' AS _change_type
  FROM post b JOIN diff d ON d.pk = b.pk
)
"""


@register("cdc_delta_change_feed", sql=_CDF_SQL)
def cdc_delta_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CHANGE FEED between two Delta export versions — the
    Delta CDF surface (table_changes) derived from the plain add/remove
    log (streaming/delta_log.py::delta_changes): the store is built in
    two writetime-cut batches (pre-cutoff, then the tail), each
    published as one Delta commit; the feed between version 0 and 1
    must classify every key as insert (first event after the cutoff),
    update_preimage/update_postimage (a newer winner displaced the
    pre-cutoff row), or delete (a post-cutoff tombstone won) — and emit
    NOTHING for untouched keys, including unchanged rows inside
    rewritten buckets (cancelled by null-safe full-row equality). The
    engine reads only the net file diff (IO ∝ changed buckets); the
    oracle computes the same classification from the two LWW states
    directly. This is what a downstream training pipeline tails instead
    of re-scanning the table."""
    import tempfile

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_changes,
        delta_export,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    cut = 1_600_000_000_000_000 + 300_000_000
    ev = (
        dedup_mutations(mutation_events(spark, sf_dir))
        .select("pk", "op", "writetime", "segment", "position", *VALUE_COLS)
        .transform(persist_scoped)
    )
    root = tempfile.mkdtemp(prefix="cdc_delta_cdf_")
    store = f"{root}/store"
    table = f"{root}/table"
    import os

    os.makedirs(store)
    versions = []
    for batch in (
        ev.filter(F.col("writetime") <= cut),
        ev.filter(F.col("writetime") > cut),
    ):
        merge_into(spark, store, batch, ["pk"], n_buckets=8)
        versions.append(delta_export(spark, store, table))
    ev.unpersist()
    if versions[1] is None:
        # tiny SFs can place every event before the cutoff: the second
        # commit is a no-op and the feed is legitimately EMPTY (exactly
        # what the oracle's pre==post classification yields)
        from cdc_apache_cassandra_spark.streaming.delta_log import read_delta
        from pyspark.sql import types as T2

        base = read_delta(spark, table).schema
        return spark.createDataFrame(
            [],
            T2.StructType(
                list(base.fields)
                + [
                    T2.StructField("_change_type", T2.StringType()),
                    T2.StructField("_commit_version", T2.LongType()),
                ]
            ),
        )
    return delta_changes(spark, table, versions[0], versions[1], ["pk"])


_RESTORE_SQL = f"""
WITH {_CTE},
deduped AS (
  SELECT DISTINCT {_CDF_COLS}
  FROM events_stream
)
{_cdf_state_sql(f"writetime <= {_CDF_CUT}")}
"""


@register("cdc_delta_restore", sql=_RESTORE_SQL)
def cdc_delta_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's RESTORE TABLE under the oracle gate (r11): the same
    two-commit export as cdc_delta_change_feed, rewound to version 0
    with ONE ``delta_restore`` commit — the table read at head must
    then equal the PRE-cut LWW state exactly (the snapshot the first
    commit published), while history stays append-only. Oracle = the
    pre-cut state SQL the CDF oracles already share."""
    import tempfile

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_export,
        delta_restore,
        read_delta,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    cut = 1_600_000_000_000_000 + 300_000_000
    ev = (
        dedup_mutations(mutation_events(spark, sf_dir))
        .select("pk", "op", "writetime", "segment", "position", *VALUE_COLS)
        .transform(persist_scoped)
    )
    root = tempfile.mkdtemp(prefix="cdc_delta_restore_")
    store = f"{root}/store"
    table = f"{root}/table"
    import os

    os.makedirs(store)
    for batch in (
        ev.filter(F.col("writetime") <= cut),
        ev.filter(F.col("writetime") > cut),
    ):
        merge_into(spark, store, batch, ["pk"], n_buckets=8)
        delta_export(spark, store, table)
    ev.unpersist()
    delta_restore(spark, table, version=0)
    return read_delta(spark, table).select(
        "pk", "op", "writetime", "segment", "position", *VALUE_COLS
    )


@register("cdc_delta_export_cdf", sql=_CDF_SQL)
def cdc_delta_export_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export as a Change Data Feed WRITER (r11): the same
    two-commit export as cdc_delta_change_feed but with
    ``change_data_feed=True`` — the second (mixed) commit persists its
    row-level change rows as spec CHANGE-DATA files (``cdc`` actions)
    at export time, and ``delta_changes_cdf`` serves the window from
    those STORED files (no pk, no file diffing at read time). Oracle =
    the SAME classification SQL as cdc_delta_change_feed: what the
    writer stored must equal what the pk-diff would compute, exactly —
    writer and reader pinned against each other through DuckDB."""
    import tempfile

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_changes_cdf,
        delta_export,
        read_delta,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    cut = 1_600_000_000_000_000 + 300_000_000
    ev = (
        dedup_mutations(mutation_events(spark, sf_dir))
        .select("pk", "op", "writetime", "segment", "position", *VALUE_COLS)
        .transform(persist_scoped)
    )
    root = tempfile.mkdtemp(prefix="cdc_delta_cdf_writer_")
    store = f"{root}/store"
    table = f"{root}/table"
    import os

    os.makedirs(store)
    versions = []
    for batch in (
        ev.filter(F.col("writetime") <= cut),
        ev.filter(F.col("writetime") > cut),
    ):
        merge_into(spark, store, batch, ["pk"], n_buckets=8)
        versions.append(
            delta_export(
                spark, store, table,
                change_data_feed=True, cdf_pk_cols=["pk"],
            )
        )
    ev.unpersist()
    if versions[1] is None:
        # tiny SFs can place every event before the cutoff: the second
        # commit is a no-op and the feed is legitimately EMPTY
        from pyspark.sql import types as T2

        base = read_delta(spark, table).schema
        return spark.createDataFrame(
            [],
            T2.StructType(
                list(base.fields)
                + [
                    T2.StructField("_change_type", T2.StringType()),
                    T2.StructField("_commit_version", T2.LongType()),
                ]
            ),
        )
    return delta_changes_cdf(
        spark, table, versions[1], versions[1]
    ).drop("_commit_timestamp")


@register("cdc_delta_change_feed_stream", sql=_CDF_SQL)
def cdc_delta_change_feed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed consumed as a STRUCTURED STREAMING SOURCE (r5
    verdict item 4): the same two-commit export as cdc_delta_change_feed,
    but tailed through ``readStream.format("cdc_delta_changes")`` — log
    versions as offsets, changed buckets packed whole into at most one
    InputPartition per core (the exporter's add tags co-locate each
    key's pre/post files),
    classification computed inside the partitions, and the consumer's
    durable cursor recorded in the log itself
    (delta_log.record_consumer_offset — what cleanup retention respects).
    This is the reference connector's consume→process→acknowledge loop
    (CassandraSource.java:452-499) over the export instead of the events
    topic. Oracle = the SAME classification SQL as cdc_delta_change_feed:
    the streaming and batch reads of the feed must agree exactly."""
    import tempfile
    import uuid as _uuid

    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        register as register_feed,
    )
    from cdc_apache_cassandra_spark.streaming.delta_log import delta_export
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    cut = 1_600_000_000_000_000 + 300_000_000
    ev = (
        dedup_mutations(mutation_events(spark, sf_dir))
        .select("pk", "op", "writetime", "segment", "position", *VALUE_COLS)
        .transform(persist_scoped)
    )
    root = tempfile.mkdtemp(prefix="cdc_delta_cdf_stream_")
    store = f"{root}/store"
    table = f"{root}/table"
    import os

    os.makedirs(store)
    for batch in (
        ev.filter(F.col("writetime") <= cut),
        ev.filter(F.col("writetime") > cut),
    ):
        merge_into(spark, store, batch, ["pk"], n_buckets=8)
        delta_export(spark, store, table)
    ev.unpersist()

    register_feed(spark)
    name = "cdf_stream_" + _uuid.uuid4().hex[:10]
    stream = (
        spark.readStream.format("cdc_delta_changes")
        .option("path", table)
        .option("pkCols", "pk")
        .option("startingVersion", 0)
        .option("maxVersionsPerBatch", 1)
        .option("consumerId", "gate-consumer")
        .load()
    )
    q = stream.writeStream.format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@register("cdc_change_feed_range_split", sql=_CDF_SQL)
def cdc_change_feed_range_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed under the FOREIGN-TABLE worst case (r8): bucket
    tags stripped from the log (any key may pair across files, so all
    files collapse to ONE group) and ``maxBytesPerPartition`` forced
    below the group's bytes — the source must split the group into
    key-RANGE sub-partitions cut from the adds' numeric stats (refined
    by parquet row-group mins), each reading only its overlapping
    files/row groups, and the UNION across splits must classify
    byte-identically to the batch CDF oracle. Same oracle SQL as
    cdc_delta_change_feed: splitting is an execution detail, never a
    semantics change."""
    import json as _json
    import tempfile
    import uuid as _uuid

    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        register as register_feed,
    )
    from cdc_apache_cassandra_spark.streaming.delta_log import delta_export
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    cut = 1_600_000_000_000_000 + 300_000_000
    ev = (
        dedup_mutations(mutation_events(spark, sf_dir))
        .select("pk", "op", "writetime", "segment", "position", *VALUE_COLS)
        .transform(persist_scoped)
    )
    root = tempfile.mkdtemp(prefix="cdc_cdf_range_")
    store = f"{root}/store"
    table = f"{root}/table"
    import glob as _glob
    import os

    os.makedirs(store)
    for batch in (
        ev.filter(F.col("writetime") <= cut),
        ev.filter(F.col("writetime") > cut),
    ):
        merge_into(spark, store, batch, ["pk"], n_buckets=8)
        delta_export(spark, store, table)
    ev.unpersist()

    # foreign-writer shape: strip the exporter's bucket tags (stats stay
    # — real engines write them; they are what the range split cuts on)
    for f in _glob.glob(os.path.join(table, "_delta_log", "*.json")):
        lines = []
        for line in open(f):
            if not line.strip():
                continue
            a = _json.loads(line)
            if "add" in a:
                a["add"].pop("tags", None)
            lines.append(_json.dumps(a))
        open(f, "w").write("\n".join(lines) + "\n")

    register_feed(spark)
    # threshold = a quarter of the table's data bytes: forces ~4-6
    # range splits at EVERY scale factor (a fixed byte threshold would
    # plan up to 64 Python partitions at larger SFs — per-partition
    # worker overhead dominating a correctness gate measures nothing)
    data_bytes = sum(
        os.path.getsize(p)
        for p in _glob.glob(os.path.join(table, "data", "*.parquet"))
    )
    name = "cdf_range_" + _uuid.uuid4().hex[:10]
    stream = (
        spark.readStream.format("cdc_delta_changes")
        .option("path", table)
        .option("pkCols", "pk")
        .option("startingVersion", 0)
        .option("maxVersionsPerBatch", 1)
        .option("maxBytesPerPartition", max(4000, data_bytes // 8))
        .load()
    )
    q = stream.writeStream.format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# --- spec-exact CDF from cdc actions (r11) -----------------------------------

_CDF_TC_SQL = """
WITH base AS (
  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 13 = 0
)
SELECT c_custkey, 'insert' AS change_type, 0 AS commit_version,
       bal FROM base
UNION ALL
SELECT c_custkey, 'update_preimage', 1, bal
FROM base WHERE c_custkey % 2 = 0
UNION ALL
SELECT c_custkey, 'update_postimage', 1, CAST(0 AS DOUBLE)
FROM base WHERE c_custkey % 2 = 0
UNION ALL
SELECT c_custkey, 'delete', 2,
       CASE WHEN c_custkey % 2 = 0 THEN CAST(0 AS DOUBLE) ELSE bal END
FROM base
"""


def _cdf_tc_fixture(sf_dir: str) -> str:
    """The CDF-gate fixture table (shared by the batch and STREAM
    entries): the c_custkey % 13 = 0 slice of customer as a
    CDF-enabled foreign Delta table — v0 add-only creation, v1 zeroes
    even keys' balances via a rewrite carrying authoritative
    CHANGE-DATA files, v2 remove-only drop. Returns the table root."""
    import os
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.streaming import foreign_delta as fx

    t = pq.read_table(
        os.path.join(sf_dir, "customer.parquet"),
        columns=["c_custkey", "c_acctbal"],
    )
    keys = t.column("c_custkey").to_numpy()
    t = t.take(np.nonzero(keys % 13 == 0)[0]).sort_by("c_custkey")
    keys = t.column("c_custkey").to_numpy()
    bal = t.column("c_acctbal").to_numpy()
    root = tempfile.mkdtemp(prefix="cdc_cdf_tc_")
    add0 = fx.write_data_file(root, "part-000.parquet", t,
                              stats_cols=["c_custkey"])
    fx.write_commit(root, 0, [
        fx.protocol_action(1, 4),
        fx.metadata_action(
            [fx.field("c_custkey", "long"), fx.field("c_acctbal", "double")],
            configuration={"delta.enableChangeDataFeed": "true"},
        ),
        add0,
    ])
    even = keys % 2 == 0
    cdc_t = pa.table({
        "c_custkey": np.concatenate([keys[even], keys[even]]),
        "c_acctbal": np.concatenate(
            [bal[even], np.zeros(int(even.sum()))]
        ),
        "_change_type": ["update_preimage"] * int(even.sum())
        + ["update_postimage"] * int(even.sum()),
    })
    os.makedirs(os.path.join(root, "_change_data"))
    cdc_path = os.path.join(root, "_change_data", "cdc-000.parquet")
    pq.write_table(cdc_t, cdc_path)
    post = pa.table({
        "c_custkey": keys,
        "c_acctbal": np.where(even, 0.0, bal),
    })
    add1 = fx.write_data_file(root, "part-001.parquet", post,
                              stats_cols=["c_custkey"])
    fx.write_commit(root, 1, [
        fx.remove_action(add0),
        add1,
        {"cdc": {"path": "_change_data/cdc-000.parquet",
                 "partitionValues": {},
                 "size": os.path.getsize(cdc_path), "dataChange": False}},
    ])
    fx.write_commit(root, 2, [fx.remove_action(add1)])
    return root


def _cdf_gate_projection(feed: DataFrame) -> DataFrame:
    return feed.select(
        "c_custkey",
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").alias("commit_version"),
        F.col("c_acctbal").cast("decimal(18,2)").cast("double").alias("bal"),
    )


@register("cdc_delta_cdf_table_changes", sql=_CDF_TC_SQL)
def cdc_delta_cdf_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delta-spark's ``table_changes`` surface under the oracle gate
    (r11): a CDF-enabled foreign table (delta.enableChangeDataFeed)
    whose UPDATE commit carries spec CHANGE-DATA files (``cdc``
    actions) — ``delta_changes_cdf`` must return exactly those rows
    for that commit (ignoring its add/remove rewrite), synthesize
    ``insert`` rows for the add-only creation commit, and synthesize
    ``delete`` rows from the PRE-commit snapshot for the remove-only
    drop commit. No primary key involved anywhere — this is the
    file-level CDF contract, complementary to the pk-diff
    ``cdc_delta_change_feed``. Fixture: _cdf_tc_fixture."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_changes_cdf,
    )

    root = _cdf_tc_fixture(sf_dir)
    return _cdf_gate_projection(delta_changes_cdf(spark, root, 0, 2))


@register("cdc_delta_cdf_stream", sql=_CDF_TC_SQL)
def cdc_delta_cdf_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delta-spark's CDF STREAM surface (r11): the same CDF-enabled
    foreign table as ``cdc_delta_cdf_table_changes``, consumed through
    ``readStream.format("cdc_delta_changes").option("readChangeFeed",
    "true")`` — change-data files authoritative per version, inserts/
    deletes synthesized for add-only/remove-only commits by the SAME
    shared planner the batch surface uses
    (delta_log._cdf_window_plan), no primary key anywhere. Paced at
    one version per micro-batch from the default start, the bootstrap
    window (-1, 0] serves v0's snapshot (= its insert rows), so the
    whole stream must equal the batch window [0, 2] row-for-row —
    same oracle SQL, streaming==batch pinned by the gate."""
    import uuid as _uuid

    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        register as register_feed,
    )

    root = _cdf_tc_fixture(sf_dir)
    register_feed(spark)
    name = "cdf_cdc_stream_" + _uuid.uuid4().hex[:10]
    stream = (
        spark.readStream.format("cdc_delta_changes")
        .option("path", root)
        .option("readChangeFeed", "true")
        .option("maxVersionsPerBatch", 1)
        .load()
    )
    q = stream.writeStream.format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return _cdf_gate_projection(spark.table(name))


# --- foreign Delta import: deletion vectors + column mapping (r8 items 1+2) -

_DV_IMPORT_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
WHERE o_orderkey % 20 = 0 AND NOT o_orderkey % 120 = 0
GROUP BY o_orderstatus
"""


@register("cdc_delta_dv_import", sql=_DV_IMPORT_SQL)
def cdc_delta_dv_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Import of a MODERN foreign Delta table — the migrating-user
    shape a 2024-era delta-spark writer produces (VERDICT r8 items
    1+2): reader version 3 with the ``deletionVectors`` and
    ``columnMapping`` (name mode) features, parquet files under
    PHYSICAL column names, and a delta-spark-style DELETE commit
    (remove(p) + add(p, dv) re-pointing the same file at a roaring-
    bitmap DV). The fixture holds orders with o_orderkey % 20 = 0 in
    two files (keys % 40 = 0 and the rest); the DV masks the first
    file's rows with o_orderkey % 3 = 0 (i.e. % 120 = 0 overall).
    ``read_delta`` must translate physical->logical names, apply the
    DV mask, and aggregate to exactly the oracle's surviving set.
    Reference bar: the connector consumes whatever schema the live
    registry serves (CassandraSource.java:666-698) — the lakehouse
    import matches that tolerance for the two most common reader
    features."""
    import os
    import tempfile

    import numpy as np
    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.streaming import foreign_delta as fx
    from cdc_apache_cassandra_spark.streaming.delta_log import read_delta
    from cdc_apache_cassandra_spark.streaming.deletion_vectors import (
        write_dv_file,
    )

    # fixture construction (driver-side, bounded: 1/20th of orders,
    # sorted for deterministic row positions — DV indexes are ordinal)
    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    keys = t.column("o_orderkey").to_numpy()
    t = t.take(np.nonzero(keys % 20 == 0)[0]).sort_by("o_orderkey")
    keys = t.column("o_orderkey").to_numpy()
    in_a = keys % 40 == 0
    phys = {"o_orderkey": "col-9f3a", "o_orderstatus": "col-10bd",
            "o_totalprice": "col-55e0"}
    root = tempfile.mkdtemp(prefix="cdc_dv_import_")

    def physical(tbl):
        return tbl.rename_columns([phys[c] for c in tbl.column_names])

    add_a = fx.write_data_file(
        root, "part-a.parquet",
        physical(t.take(np.nonzero(in_a)[0])), stats_cols=[phys["o_orderkey"]],
    )
    add_b = fx.write_data_file(
        root, "part-b.parquet",
        physical(t.take(np.nonzero(~in_a)[0])), stats_cols=[phys["o_orderkey"]],
    )
    fx.write_commit(root, 0, [
        fx.protocol_action(
            3, 7,
            reader_features=["deletionVectors", "columnMapping"],
            writer_features=["deletionVectors", "columnMapping"],
        ),
        fx.metadata_action(
            [
                fx.field("o_orderkey", "long", physical=phys["o_orderkey"]),
                fx.field("o_orderstatus", "string",
                         physical=phys["o_orderstatus"]),
                fx.field("o_totalprice", "double",
                         physical=phys["o_totalprice"]),
            ],
            configuration={
                "delta.columnMapping.mode": "name",
                "delta.enableDeletionVectors": "true",
            },
        ),
        add_a,
        add_b,
    ])
    keys_a = keys[in_a]
    dv_rows = np.nonzero(keys_a % 3 == 0)[0].tolist()
    dv = write_dv_file(None, [dv_rows], table_root=root)[0]
    fx.write_commit(root, 1, [fx.remove_action(add_a), fx.with_dv(add_a, dv)])

    df = read_delta(spark, root)
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# --- foreign Delta import: V2 checkpoints (VERDICT r9 item 4) ----------------

_V2CP_IMPORT_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
WHERE o_orderkey % 10 = 0
  AND (o_orderkey % 30 = 0 OR NOT o_orderkey % 7 = 0)
GROUP BY o_orderstatus
"""


@register("cdc_delta_v2_checkpoint_import", sql=_V2CP_IMPORT_SQL)
def cdc_delta_v2_checkpoint_import(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Import of a foreign Delta table whose history survives ONLY
    through a V2 CHECKPOINT (table feature ``v2Checkpoint`` — the
    sidecar-file layout modern delta-spark/UniForm writers produce,
    VERDICT r9 item 4): a UUID-named top-level checkpoint parquet
    carrying checkpointMetadata + protocol + metaData, TWO parquet
    sidecars under ``_delta_log/_sidecars/`` holding the file actions,
    the checkpointed JSON commit CLEANED (metadata retention), and one
    JSON tail commit after the checkpoint deleting rows by rewriting a
    file. ``read_delta`` must reconstruct the snapshot from the V2
    layout and apply the tail. Fixture: orders with o_orderkey % 10 = 0
    in two files (keys % 30 = 0 and the rest); the tail rewrite drops
    o_orderkey % 7 = 0 from the second file. Reference bar:
    CassandraSource.java:666-698 — the connector consumes whatever the
    live registry serves; this import matches that tolerance for the
    checkpoint layout a migrating user's table actually has."""
    import os
    import tempfile

    import numpy as np
    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.streaming import foreign_delta as fx
    from cdc_apache_cassandra_spark.streaming.delta_log import read_delta

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    keys = t.column("o_orderkey").to_numpy()
    t = t.take(np.nonzero(keys % 10 == 0)[0]).sort_by("o_orderkey")
    keys = t.column("o_orderkey").to_numpy()
    in_a = keys % 30 == 0
    root = tempfile.mkdtemp(prefix="cdc_v2cp_import_")

    add_a = fx.write_data_file(
        root, "part-a.parquet", t.take(np.nonzero(in_a)[0]),
        stats_cols=["o_orderkey"],
    )
    b = t.take(np.nonzero(~in_a)[0])
    add_b = fx.write_data_file(
        root, "part-b.parquet", b, stats_cols=["o_orderkey"],
    )
    proto = fx.protocol_action(
        3, 7, reader_features=["v2Checkpoint"],
        writer_features=["v2Checkpoint"],
    )
    meta = fx.metadata_action(
        [
            fx.field("o_orderkey", "long"),
            fx.field("o_orderstatus", "string"),
            fx.field("o_totalprice", "double"),
        ]
    )
    fx.write_commit(root, 0, [proto, meta, add_a, add_b])
    fx.write_v2_checkpoint(
        root, 0, [proto, meta], sidecar_groups=[[add_a], [add_b]]
    )
    os.remove(os.path.join(root, fx.LOG_DIR, f"{0:020d}.json"))
    # tail commit AFTER the checkpoint: delete keys % 7 == 0 from B by
    # rewriting the file (base-protocol delete shape)
    keys_b = b.column("o_orderkey").to_numpy()
    b2 = b.take(np.nonzero(keys_b % 7 != 0)[0])
    add_b2 = fx.write_data_file(
        root, "part-b2.parquet", b2, stats_cols=["o_orderkey"],
    )
    fx.write_commit(root, 1, [fx.remove_action(add_b), add_b2])

    df = read_delta(spark, root)
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# --- foreign Delta import: PARTITIONED tables (r10) ---------------------------

_PART_IMPORT_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
WHERE o_orderkey % 25 = 0
GROUP BY o_orderstatus
"""


@register("cdc_delta_partitioned_import", sql=_PART_IMPORT_SQL)
def cdc_delta_partitioned_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Import of a foreign PARTITIONED Delta table — the single most
    common foreign-table shape (date/status-partitioned delta-spark
    tables): partition column values live in ``add.partitionValues``
    (the spec keeps them OUT of the parquet files), so a reader that
    scans the files alone returns typed NULLS for them — silent wrong
    data, worse than refusal. ``read_delta`` reconstructs them per file
    from the log (broadcast per-file map, Arrow-batched fill — no
    shuffle, no plan growth with partition count). Fixture: orders with
    o_orderkey % 25 = 0 split into one file per o_orderstatus, each
    file WITHOUT the status column; grouping on the reconstructed
    column must match DuckDB over the original rows exactly."""
    import os
    import tempfile

    import numpy as np
    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.streaming import foreign_delta as fx
    from cdc_apache_cassandra_spark.streaming.delta_log import read_delta

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    keys = t.column("o_orderkey").to_numpy()
    t = t.take(np.nonzero(keys % 25 == 0)[0]).sort_by("o_orderkey")
    status = t.column("o_orderstatus").to_numpy(zero_copy_only=False)
    root = tempfile.mkdtemp(prefix="cdc_part_import_")
    adds = []
    for i, st in enumerate(sorted(set(status.tolist()))):
        part = t.take(np.nonzero(status == st)[0]).drop_columns(
            ["o_orderstatus"]
        )
        add = fx.write_data_file(
            root, f"part-{i:03d}.parquet", part, stats_cols=["o_orderkey"]
        )
        add["add"]["partitionValues"] = {"o_orderstatus": st}
        adds.append(add)
    meta = fx.metadata_action(
        [
            fx.field("o_orderkey", "long"),
            fx.field("o_totalprice", "double"),
            fx.field("o_orderstatus", "string"),
        ],
        partition_columns=["o_orderstatus"],
    )
    fx.write_commit(root, 0, [fx.protocol_action(1, 2), meta] + adds)

    df = read_delta(spark, root)
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# --- §1.1 wire fidelity: events-topic Avro round trip under the gate --------

_WIRE_RT_SQL = f"""
WITH {_CTE}
SELECT DISTINCT pk, digest, CAST(node_id AS VARCHAR) AS node_id,
       writetime, segment, position
FROM events_stream
"""


@register("cdc_wire_avro_roundtrip", sql=_WIRE_RT_SQL)
def cdc_wire_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events-topic wire encoding under the oracle gate: every
    mutation event encoded to KeyValue⟨Avro PK record, Avro
    MutationValue⟩ (functions/avro_codec.py — the reference's binary
    format, AbstractPulsarMutationSender.java:190-193) and decoded back
    must reproduce the event identity bit-for-bit. Arrow-batched codec
    at the boundary; the distinct collapses the replica duplicates so
    the oracle is a plain projection of the stream."""
    from cdc_apache_cassandra_spark.sources.wire_format import (
        from_event_topic_records,
        to_event_topic_records,
    )
    from pyspark.sql import types as T

    ev = mutation_events(spark, sf_dir)
    wire = to_event_topic_records(ev, ["pk"], codec="avro")
    key_schema = T.StructType([T.StructField("pk", T.LongType())])
    back = from_event_topic_records(wire, key_schema, codec="avro")
    return back.select(
        "pk", "digest", "node_id", "writetime", "segment", "position"
    ).distinct()
