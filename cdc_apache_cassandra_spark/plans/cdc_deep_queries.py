"""Deep CDC semantics over the compound-PK event stream — the reference's
correctness-critical record-assembly rules as deterministic queries
(SURVEY §2 ◆ rows P2/P3/P6/P7/P8, W2/W3, T3, A6; e2e scenarios
PulsarCassandraSourceTests.java testClusteringKey/testStaticColumn and
FIXTURES F-4/F-5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_apache_cassandra_spark.functions.hashing import (
    route_expr,
    route_sql,
    token_expr,
    token_sql,
)
from cdc_apache_cassandra_spark.plans.registry import register
from cdc_apache_cassandra_spark.sources.compound_event_source import (
    PROCESSED_PTYPES,
    compound_events,
    compound_events_cte,
)
from cdc_apache_cassandra_spark.sources.event_source import events_cte, mutation_events
from cdc_apache_cassandra_spark.sources.registry import load_table
from cdc_apache_cassandra_spark.caching import persist_scoped

_CTE = compound_events_cte()
_CTE_SKIPPED = compound_events_cte(include_skipped=True)
_PROCESSED_IN = ", ".join(f"'{p}'" for p in PROCESSED_PTYPES)


# --- P2/P3: partition-type classifier + skip filter ------------------------

_CLASSIFIER_SQL = f"""
WITH {_CTE_SKIPPED}
SELECT ptype, op,
       (ptype IN ({_PROCESSED_IN})) AS is_processed,
       COUNT(*) AS n_events,
       COUNT(DISTINCT digest) AS n_mutations
FROM compound_events
GROUP BY ptype, op
"""


@register("cdc_partition_classifier", sql=_CLASSIFIER_SQL)
def cdc_partition_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3: classify every mutation into the 7 partition types; only the
    first 4 are processed, MATERIALIZED_VIEW / SECONDARY_INDEX / COUNTER
    are counted and dropped (CommitLogReadHandlerImpl.java:111-138).
    n_events = n_mutations x RF (replica fan-in, T1)."""
    ev = compound_events(spark, sf_dir, include_skipped=True)
    return ev.groupBy("ptype", "op").agg(
        F.col("ptype").isin(*PROCESSED_PTYPES).alias("is_processed"),
        F.count("*").alias("n_events"),
        F.countDistinct("digest").alias("n_mutations"),
    ).select("ptype", "op", "is_processed", "n_events", "n_mutations")


# --- P6/P7/P8 + dedup: compound-key data-topic records ---------------------

_RECORDS_SQL = f"""
WITH {_CTE},
deduped AS (
  SELECT DISTINCT pk_p, pk_c, ptype, op, writetime, digest,
         s_mktsegment, v_totalprice, v_orderstatus
  FROM compound_events
  WHERE ptype IN ({_PROCESSED_IN})
)
SELECT pk_p AS key_custkey, pk_c AS key_orderkey,
       (pk_c IS NULL) AS is_partition_event,
       op, ptype, writetime,
       (op = 'DELETE') AS is_tombstone,
       s_mktsegment, v_totalprice, v_orderstatus
FROM deduped
"""


@register("cdc_compound_key_records", sql=_RECORDS_SQL)
def cdc_compound_key_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-topic record per deduped mutation for a compound-PK table:
    full-PK deletes carry both key fields + null value; partition deletes
    and static-only updates carry a NULL clustering key (P8 null-PK
    compaction); static-only updates carry ONLY static columns in the
    value (P7 switch); DELETE => tombstone (testClusteringKey,
    PulsarCassandraSourceTests.java:346-455)."""
    ev = compound_events(spark, sf_dir).filter(
        F.col("ptype").isin(*PROCESSED_PTYPES)
    )
    deduped = ev.dropDuplicates(["digest"]).drop("node_id", "digest")
    return deduped.select(
        F.col("pk_p").alias("key_custkey"),
        F.col("pk_c").alias("key_orderkey"),
        F.col("pk_c").isNull().alias("is_partition_event"),
        "op",
        "ptype",
        "writetime",
        (F.col("op") == "DELETE").alias("is_tombstone"),
        "s_mktsegment",
        "v_totalprice",
        "v_orderstatus",
    )


# --- W3 at compound granularity: partition-delete-aware LWW ----------------

def _compound_lww_sql(where: str = "TRUE") -> str:
    """Compound converged-state SQL, optionally truncated at a writetime
    cutoff (time travel = a predicate on the same pipeline)."""
    return f"""
WITH {_CTE},
deduped AS (
  SELECT DISTINCT pk_p, pk_c, ptype, op, writetime,
         s_mktsegment, v_totalprice, v_orderstatus
  FROM compound_events WHERE {where}
),
part_del AS (
  SELECT pk_p, MAX(writetime) AS wt_pd
  FROM deduped WHERE ptype = 'PARTITION_KEY_ROW_DELETION'
  GROUP BY pk_p
),
row_latest AS (
  SELECT * FROM (
    SELECT pk_p, pk_c, op, writetime, v_totalprice, v_orderstatus,
           ROW_NUMBER() OVER (PARTITION BY pk_p, pk_c
                              ORDER BY writetime DESC) AS rn
    FROM deduped WHERE pk_c IS NOT NULL
  ) WHERE rn = 1
),
static_latest AS (
  SELECT * FROM (
    SELECT pk_p, s_mktsegment, writetime AS wt_s,
           ROW_NUMBER() OVER (PARTITION BY pk_p
                              ORDER BY writetime DESC) AS rn
    FROM deduped WHERE s_mktsegment IS NOT NULL
  ) WHERE rn = 1
)
SELECT r.pk_p AS custkey, r.pk_c AS orderkey,
       CASE WHEN s.wt_s > COALESCE(p.wt_pd, -1) THEN s.s_mktsegment END
         AS mktsegment,
       r.v_totalprice AS totalprice, r.v_orderstatus AS orderstatus,
       r.writetime
FROM row_latest r
LEFT JOIN part_del p ON p.pk_p = r.pk_p
LEFT JOIN static_latest s ON s.pk_p = r.pk_p
WHERE r.op <> 'DELETE' AND r.writetime > COALESCE(p.wt_pd, -1)
"""


_COMPOUND_LWW_SQL = _compound_lww_sql()

#: compound time-travel cutoff (µs): truncates the higher-orderkey row
#: events and the partition/static tail near the boundary.
_COMPOUND_AS_OF = 1_600_000_000_000_000 + 2_000_000_000


def _compound_converged(ev) -> DataFrame:
    """Shared compound converged-state pipeline (dedup → partition-delete
    dominance → row/static LWW)."""
    deduped = ev.dropDuplicates(["digest"]).drop("node_id", "digest")

    part_del = (
        deduped.filter(F.col("ptype") == "PARTITION_KEY_ROW_DELETION")
        .groupBy("pk_p")
        .agg(F.max("writetime").alias("wt_pd"))
    )
    w_row = Window.partitionBy("pk_p", "pk_c").orderBy(F.col("writetime").desc())
    row_latest = (
        deduped.filter(F.col("pk_c").isNotNull())
        .withColumn("rn", F.row_number().over(w_row))
        .filter(F.col("rn") == 1)
        .select("pk_p", "pk_c", "op", "writetime", "v_totalprice", "v_orderstatus")
    )
    w_part = Window.partitionBy("pk_p").orderBy(F.col("writetime").desc())
    static_latest = (
        deduped.filter(F.col("s_mktsegment").isNotNull())
        .withColumn("rn", F.row_number().over(w_part))
        .filter(F.col("rn") == 1)
        .select("pk_p", "s_mktsegment", F.col("writetime").alias("wt_s"))
    )
    alive = (
        row_latest.join(part_del, "pk_p", "left")
        .join(static_latest, "pk_p", "left")
        .filter(
            (F.col("op") != "DELETE")
            & (F.col("writetime") > F.coalesce(F.col("wt_pd"), F.lit(-1)))
        )
    )
    return alive.select(
        F.col("pk_p").alias("custkey"),
        F.col("pk_c").alias("orderkey"),
        F.when(
            F.col("wt_s") > F.coalesce(F.col("wt_pd"), F.lit(-1)),
            F.col("s_mktsegment"),
        ).alias("mktsegment"),
        F.col("v_totalprice").alias("totalprice"),
        F.col("v_orderstatus").alias("orderstatus"),
        "writetime",
    )


@register("cdc_compound_lww_state", sql=_COMPOUND_LWW_SQL)
def cdc_compound_lww_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged state of the compound-PK table: a row survives iff its
    latest row-level event is not a DELETE and is newer than any
    partition-level delete of its partition; the static column converges
    independently across the whole partition (Cassandra semantics the
    connector's per-row lookups reproduce; the partition tombstone
    dominates older rows only — testUnorderedMutations convergence,
    PulsarDualNodeTests.java:222-320)."""
    return _compound_converged(compound_events(spark, sf_dir))


@register(
    "cdc_compound_snapshot_asof",
    sql=_compound_lww_sql(f"writetime <= {_COMPOUND_AS_OF}"),
)
def cdc_compound_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound-PK state AS OF a past instant: the writetime predicate
    truncates history BEFORE the same dedup/dominance/LWW pipeline —
    partition-delete dominance is evaluated against only the deletes
    that had happened by T (a later partition tombstone must not erase
    the historical view). Predicate pushes to the event scan."""
    ev = compound_events(spark, sf_dir).filter(
        F.col("writetime") <= _COMPOUND_AS_OF
    )
    return _compound_converged(ev)


# --- J1 at compound granularity: three-branch read-after-event -------------

_COMPOUND_RAE_SQL = f"""
WITH {_CTE},
deduped AS (
  SELECT DISTINCT pk_p, pk_c, ptype, op, writetime FROM compound_events
),
snap AS (
  SELECT o_custkey AS pk_p, o_orderkey AS pk_c, c_mktsegment AS s_seg,
         o_totalprice AS r_price, o_orderstatus AS r_status
  FROM orders JOIN customer ON c_custkey = o_custkey
),
statics AS (SELECT pk_p, MAX(s_seg) AS s_seg FROM snap GROUP BY pk_p),
row_branch AS (
  SELECT d.pk_p, d.pk_c, d.op, d.ptype, d.writetime,
         (d.op = 'DELETE' OR s.s_seg IS NULL) AS is_tombstone,
         CASE WHEN d.op = 'DELETE' OR s.s_seg IS NULL THEN NULL
              ELSE s.s_seg END AS s_seg,
         CASE WHEN d.op = 'DELETE' OR s.s_seg IS NULL THEN NULL
              ELSE s.r_price END AS r_price,
         CASE WHEN d.op = 'DELETE' OR s.s_seg IS NULL THEN NULL
              ELSE s.r_status END AS r_status
  FROM deduped d LEFT JOIN snap s ON s.pk_p = d.pk_p AND s.pk_c = d.pk_c
  WHERE d.ptype IN ('ROW_LEVEL_MODIFICATION',
                    'PARTITION_AND_CLUSTERING_KEY_ROW_DELETION')
),
static_branch AS (
  -- a prefix matching no snapshot partition is an empty read: tombstone
  SELECT d.pk_p, CAST(NULL AS BIGINT) AS pk_c, d.op, d.ptype, d.writetime,
         (st.pk_p IS NULL) AS is_tombstone, st.s_seg,
         CAST(NULL AS DOUBLE) AS r_price, CAST(NULL AS VARCHAR) AS r_status
  FROM deduped d LEFT JOIN statics st ON st.pk_p = d.pk_p
  WHERE d.ptype = 'PARTITION_LEVEL_MODIFICATION'
),
del_branch AS (
  SELECT pk_p, CAST(NULL AS BIGINT), op, ptype, writetime,
         TRUE, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
         CAST(NULL AS VARCHAR)
  FROM deduped WHERE ptype = 'PARTITION_KEY_ROW_DELETION'
)
SELECT * FROM row_branch
UNION ALL SELECT * FROM static_branch
UNION ALL SELECT * FROM del_branch
"""


@register("cdc_compound_read_after_event", sql=_COMPOUND_RAE_SQL)
def cdc_compound_read_after_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 with the three compound lookup shapes (SURVEY §7.4): row events
    join the snapshot on the FULL primary key; partition-level static
    updates join on the PK PREFIX and project statics only (P7); partition
    deletes skip the lookup entirely. Implemented as two join branches +
    union, not a dynamic key list."""
    from cdc_apache_cassandra_spark.operators.lookup import (
        read_after_event_compound,
    )

    ev = (
        compound_events(spark, sf_dir)
        .dropDuplicates(["digest"])
        .select("pk_p", "pk_c", "ptype", "op", "writetime")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    snap = o.join(c, F.col("c_custkey") == F.col("o_custkey")).select(
        F.col("o_custkey").alias("pk_p"),
        F.col("o_orderkey").alias("pk_c"),
        F.col("c_mktsegment").alias("s_seg"),
        F.col("o_totalprice").alias("r_price"),
        F.col("o_orderstatus").alias("r_status"),
    )
    return read_after_event_compound(
        ev, snap, ["pk_p"], ["pk_c"], ["s_seg"], ["r_price", "r_status"]
    )


# --- F-4: PK-only table (value carries the PK columns) ---------------------

_PK_ONLY_SQL = """
WITH base AS (
  SELECT n_nationkey AS pk, 'INSERT' AS op FROM nation
  UNION ALL
  SELECT n_nationkey, 'DELETE' FROM nation WHERE n_nationkey % 5 = 0
),
ev AS (
  SELECT pk, op, r.node_id,
         md5(CAST(pk AS VARCHAR) || '|' || op) AS digest
  FROM base
  CROSS JOIN (SELECT CAST(0 AS BIGINT) AS node_id UNION ALL SELECT 1) r
),
deduped AS (SELECT DISTINCT pk, op, digest FROM ev)
SELECT pk AS key_nationkey, op,
       (op = 'DELETE') AS is_tombstone,
       CASE WHEN op = 'DELETE' THEN NULL ELSE pk END AS value_nationkey
FROM deduped
"""


@register("cdc_pk_only_table", sql=_PK_ONLY_SQL)
def cdc_pk_only_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK-only table: no regular columns, so the VALUE carries the PK
    columns too (CassandraSource.java:346-350 special case; FIXTURES F-4,
    testOnlyPk). Routed THROUGH read_after_event with value_cols=[] so
    the gate pins the operator's PK-only branch — an event whose key
    exists is NOT a tombstone, a DELETE is. Replica duplicates suppressed
    by digest dedup."""
    from cdc_apache_cassandra_spark.operators.lookup import read_after_event

    n = load_table(spark, sf_dir, "nation")
    base = (
        n.select(F.col("n_nationkey").alias("pk"))
        .withColumn("op", F.lit("INSERT"))
        .unionByName(
            n.filter(F.col("n_nationkey") % 5 == 0)
            .select(F.col("n_nationkey").alias("pk"))
            .withColumn("op", F.lit("DELETE"))
        )
    )
    replicas = spark.range(2).select(F.col("id").alias("node_id"))
    ev = base.crossJoin(F.broadcast(replicas)).withColumn(
        "digest", F.md5(F.concat_ws("|", F.col("pk"), F.col("op")))
    )
    deduped = ev.dropDuplicates(["digest"]).select("pk", "op")
    snapshot = n.select(F.col("n_nationkey").alias("pk"))
    out = read_after_event(deduped, snapshot, ["pk"], [], broadcast_snapshot=True)
    return out.select(
        F.col("pk").alias("key_nationkey"),
        "op",
        "is_tombstone",
        F.col("value_pk").alias("value_nationkey"),
    )


# --- J1 edge: live row whose LEADING value column is NULL -------------------
# (pins VERDICT r3 finding #1: row presence must come from a join marker,
# not from null-ness of the first value column)

_NULL_LEAD_SQL = """
WITH ev AS (
  SELECT c_custkey AS pk,
         CASE WHEN c_custkey % 10 = 0 THEN 'DELETE' ELSE 'INSERT' END AS op
  FROM customer
),
snap AS (
  SELECT c_custkey AS pk,
         CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS seg_opt,
         c_acctbal
  FROM customer WHERE c_custkey % 7 <> 0
)
SELECT e.pk, e.op,
       (e.op = 'DELETE' OR s.pk IS NULL) AS is_tombstone,
       CASE WHEN e.op = 'DELETE' OR s.pk IS NULL THEN NULL
            ELSE s.seg_opt END AS seg_opt,
       CASE WHEN e.op = 'DELETE' OR s.pk IS NULL THEN NULL
            ELSE s.c_acctbal END AS c_acctbal
FROM ev e LEFT JOIN snap s ON e.pk = s.pk
"""


@register("cdc_null_leading_snapshot", sql=_NULL_LEAD_SQL)
def cdc_null_leading_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A snapshot row that EXISTS but whose first value column is NULL
    must stay a live row (null column, is_tombstone=false) — tombstone
    means the whole row is gone (CassandraSource.java:554), never "the
    first column was null". Rows missing from the snapshot (pk % 7 = 0
    here) and DELETE events are the only tombstones."""
    from cdc_apache_cassandra_spark.operators.lookup import read_after_event

    c = load_table(spark, sf_dir, "customer")
    ev = c.select(
        F.col("c_custkey").alias("pk"),
        F.when(F.col("c_custkey") % 10 == 0, "DELETE")
        .otherwise("INSERT")
        .alias("op"),
    )
    snap = c.filter(F.col("c_custkey") % 7 != 0).select(
        F.col("c_custkey").alias("pk"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_opt"),
        "c_acctbal",
    )
    return read_after_event(ev, snap, ["pk"], ["seg_opt", "c_acctbal"])


# --- T3: token partitioning / routing --------------------------------------

_ROUTING_SQL = f"""
WITH {events_cte()},
keyed AS (
  SELECT DISTINCT pk FROM events_stream
),
tokens AS (
  SELECT pk, {token_sql("pk")} AS token FROM keyed
)
SELECT {route_sql("token", 32)} AS route,
       COUNT(*) AS n_keys, MIN(token) AS min_token, MAX(token) AS max_token
FROM tokens GROUP BY 1
"""


@register("cdc_token_routing", sql=_ROUTING_SQL)
def cdc_token_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 token-affinity routing: deterministic per-key token (murmur3
    stand-in, functions/hashing.py) -> partition route. The distribution
    check is what Murmur3MessageRouter.java:25-28 guarantees: stable
    route per key, near-uniform spread."""
    ev = mutation_events(spark, sf_dir)
    keyed = ev.select("pk").distinct()
    tokens = keyed.select("pk", token_expr("pk").alias("token"))
    return tokens.groupBy(
        route_expr(F.col("token"), 32).alias("route")
    ).agg(
        F.count("*").alias("n_keys"),
        F.min("token").alias("min_token"),
        F.max("token").alias("max_token"),
    )


# --- T3 with HASH FIDELITY: the real Cassandra murmur3 token ----------------

_M3_ROUTING_SQL = f"""
WITH {{events_cte}},
keyed AS (
  SELECT DISTINCT pk FROM events_stream
),
tokens AS (
  SELECT * FROM ({{token_sql}})
)
SELECT m3_token_route16 % 32 AS route,
       COUNT(*) AS n_keys, MIN(m3_token) AS min_token,
       MAX(m3_token) AS max_token
FROM tokens GROUP BY 1
"""


def _m3_routing_sql() -> str:
    from cdc_apache_cassandra_spark.functions.murmur3 import token_sql as m3_sql

    return _M3_ROUTING_SQL.format(
        events_cte=events_cte(),
        token_sql=m3_sql(
            "SELECT CAST(pk AS BIGINT) AS pk FROM keyed", "pk", 8
        ),
    )


@register("cdc_token_routing_murmur3", sql=_m3_routing_sql())
def cdc_token_routing_murmur3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 with HASH FIDELITY: the exact Cassandra Murmur3Partitioner
    token (hash3_x64_128 upper half with the Java sign-extended-tail
    quirk, Long.MIN normalized to MAX) and the exact router
    ``((token >>> 48) + 32768) % n`` (Murmur3MessageRouter.java:25-28,
    CommitLogReadHandlerImpl.java:322-323) — a user inter-operating with
    real Cassandra token ranges gets the placement Cassandra computes,
    unlike the oracle-portable Knuth stand-in (cdc_token_routing).

    Both engines run the SAME 16-bit-limb integer program
    (functions/murmur3.py::token_steps): pure Catalyst expressions on
    the Spark side (whole-stage codegen, no Python, ANSI-safe — every
    intermediate < 2^63), the dialect twin on DuckDB — so the token is
    oracle-checked end-to-end, not just golden-pinned."""
    from cdc_apache_cassandra_spark.functions.murmur3 import (
        attach_token_columns,
    )

    ev = mutation_events(spark, sf_dir)
    keyed = ev.select(F.col("pk").cast("bigint").alias("pk")).distinct()
    tk = attach_token_columns(keyed, "pk", 8)
    return tk.groupBy(
        (F.col("m3_token_route16") % 32).alias("route")
    ).agg(
        F.count("*").alias("n_keys"),
        F.min("m3_token").alias("min_token"),
        F.max("m3_token").alias("max_token"),
    )


# --- W2/A6: writetime propagation + replication-latency metric -------------

_LATENCY_SQL = f"""
WITH {events_cte()},
proc AS (
  SELECT node_id, writetime,
         writetime + (pk % 50) * 1000 + node_id * 500 AS processing_ts
  FROM events_stream
)
SELECT node_id,
       COUNT(*) AS n_events,
       CAST(SUM(processing_ts - writetime) AS DOUBLE) / COUNT(*)
         AS avg_latency_us,
       MAX(processing_ts - writetime) AS max_latency_us
FROM proc GROUP BY node_id
"""


@register("cdc_replication_latency", sql=_LATENCY_SQL)
def cdc_replication_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/A6: the writetime rides every event (Constants.java writetime
    property); replication latency = processing time - writetime, here a
    deterministic synthetic delay. The reference exports the same metric
    per node (CassandraSource.java:529-553, monitor.adoc)."""
    ev = mutation_events(spark, sf_dir)
    proc = ev.select(
        "node_id",
        "writetime",
        (
            F.col("writetime")
            + (F.col("pk") % 50) * 1000
            + F.col("node_id") * 500
        ).alias("processing_ts"),
    )
    lat = F.col("processing_ts") - F.col("writetime")
    return proc.groupBy("node_id").agg(
        F.count("*").alias("n_events"),
        (F.sum(lat).cast("double") / F.count("*")).alias("avg_latency_us"),
        F.max(lat).alias("max_latency_us"),
    )


# --- compound change feed ----------------------------------------------------

_COMPOUND_FROM = 1_600_000_000_000_000 + 500_000_000
_COMPOUND_TO = 1_600_000_000_000_000 + 1_500_000_000

_COMPOUND_CHANGES_SQL = f"""
WITH {_CTE},
win AS (
  SELECT * FROM compound_events
  WHERE writetime > {_COMPOUND_FROM} AND writetime <= {_COMPOUND_TO}
),
deduped AS (
  SELECT DISTINCT pk_p, pk_c, ptype, op, writetime,
         s_mktsegment, v_totalprice, v_orderstatus
  FROM win
)
SELECT pk_p, pk_c, ptype, op, writetime,
       (pk_c IS NULL) AS is_partition_event,
       (op = 'DELETE') AS is_tombstone,
       s_mktsegment, v_totalprice, v_orderstatus
FROM deduped
"""


@register("cdc_compound_changes_between", sql=_COMPOUND_CHANGES_SQL)
def cdc_compound_changes_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound-PK change feed for a writetime window: every distinct
    mutation — row-level AND partition-level (null clustering key) AND
    static-only — with its classifier columns, so an incremental consumer
    can apply partition-delete dominance itself. The single-PK variant is
    cdc_changes_between; together they cover the reference's full event
    taxonomy as a feed."""
    ev = compound_events(spark, sf_dir).filter(
        (F.col("writetime") > _COMPOUND_FROM)
        & (F.col("writetime") <= _COMPOUND_TO)
    )
    deduped = ev.dropDuplicates(["digest"]).drop("node_id", "digest")
    return deduped.select(
        "pk_p",
        "pk_c",
        "ptype",
        "op",
        "writetime",
        F.col("pk_c").isNull().alias("is_partition_event"),
        (F.col("op") == "DELETE").alias("is_tombstone"),
        "s_mktsegment",
        "v_totalprice",
        "v_orderstatus",
    )


# --- §7.4 at compound granularity: partition-tombstone-aware MERGE store ----


@register(
    "cdc_compound_materialized_state",
    # deterministic 1/3 partition sample: every event class (insert/update/
    # row delete/partition delete/static update) still present; bounds the
    # two serial merge commits' cost in the bench loop
    sql=_compound_lww_sql("pk_p % 3 = 0"),
)
def cdc_compound_materialized_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE materialization of the COMPOUND-PK table with
    partition-RANGE tombstones: the store buckets on the PARTITION key
    (pk_p), so a partition delete is co-located with every row it
    dominates, and the merge reducer (operators/lww.py::compound_reduce)
    retains per-row LWW winners + the latest partition tombstone + the
    latest static event — idempotent and merge-associative, so the
    3-way segment-interleaved batching below must converge to exactly
    the direct converged state (the cdc_compound_lww_state oracle).
    This is the Delta `whenMatchedDelete` analogue extended to range
    tombstones, the §7.4 hard-part the single-PK store can't express."""
    import tempfile

    from cdc_apache_cassandra_spark.operators.lww import (
        compound_active_view,
        compound_reduce_bucketed,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import (
        merge_into,
        read_state,
    )

    # Persisted: each commit evaluates its batch twice (touched-bucket
    # scan + merged write) — the cache stands in for the already-
    # materialized micro-batch a real stream hands foreachBatch.
    ev = (
        compound_events(spark, sf_dir)
        .filter(F.col("pk_p") % 3 == 0)
        .dropDuplicates(["digest"])
        .drop("node_id", "digest")
        .transform(persist_scoped)
    )
    path = tempfile.mkdtemp(prefix="cdc_compound_mat_")
    for i in range(2):
        merge_into(
            spark,
            path,
            ev.filter(F.pmod(F.coalesce(F.col("pk_c"), F.col("pk_p")), F.lit(2)) == i),
            pk_cols=["pk_p", "pk_c"],
            bucket_cols=["pk_p"],
            reducer=compound_reduce_bucketed,
            kind="compound",
            reducer_bucketed=True,
        )
    ev.unpersist()
    state = read_state(spark, path)
    alive = compound_active_view(state)
    return alive.select(
        F.col("pk_p").alias("custkey"),
        F.col("pk_c").alias("orderkey"),
        F.col("s_mktsegment").alias("mktsegment"),
        F.col("v_totalprice").alias("totalprice"),
        F.col("v_orderstatus").alias("orderstatus"),
        "writetime",
    )


@register(
    "cdc_compound_delta_export_state",
    sql=_compound_lww_sql("pk_p % 3 = 0"),
)
def cdc_compound_delta_export_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse interop for the COMPOUND table (r5): the
    partition-bucketed store (range tombstones + statics,
    compound_reduce) publishes to a native Delta table through its
    dominance-aware view (delta_export(active_view_fn=
    compound_active_view)) — the published rows external engines read
    must equal the compound converged state, i.e. partition deletes and
    static resolution are applied BEFORE publication, never left to the
    reader. Two segment-split commits so the second export rewrites
    only the buckets it touched. Oracle = the direct compound LWW
    state, same as cdc_compound_materialized_state."""
    import tempfile

    from cdc_apache_cassandra_spark.operators.lww import (
        compound_active_view,
        compound_reduce_bucketed,
    )
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_export,
        read_delta,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    ev = (
        compound_events(spark, sf_dir)
        .filter(F.col("pk_p") % 3 == 0)
        .dropDuplicates(["digest"])
        .drop("node_id", "digest")
        .transform(persist_scoped)
    )
    root = tempfile.mkdtemp(prefix="cdc_compound_delta_")
    store = f"{root}/store"
    table = f"{root}/table"
    import os

    os.makedirs(store)
    for i in range(2):
        merge_into(
            spark,
            store,
            ev.filter(
                F.pmod(F.coalesce(F.col("pk_c"), F.col("pk_p")), F.lit(2)) == i
            ),
            pk_cols=["pk_p", "pk_c"],
            bucket_cols=["pk_p"],
            reducer=compound_reduce_bucketed,
            kind="compound",
            n_buckets=8,
            reducer_bucketed=True,
        )
        delta_export(spark, store, table, active_view_fn=compound_active_view)
    ev.unpersist()
    return read_delta(spark, table).select(
        F.col("pk_p").alias("custkey"),
        F.col("pk_c").alias("orderkey"),
        F.col("s_mktsegment").alias("mktsegment"),
        F.col("v_totalprice").alias("totalprice"),
        F.col("v_orderstatus").alias("orderstatus"),
        "writetime",
    )


@register(
    "cdc_compound_streaming_end_to_end",
    sql=_compound_lww_sql("pk_p % 3 = 0"),
)
def cdc_compound_streaming_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOUND pipeline through the actual STREAMING engine (the
    compound sibling of cdc_streaming_end_to_end): the partition-sampled
    event corpus replays as a multi-micro-batch file stream
    (maxFilesPerTrigger=1 over 2 files - two genuine engine
    batches; more would add per-commit overhead, not coverage),
    replica-deduped by streaming
    dropDuplicates on the digest (state-bounded in production via the
    watermarked variant, dedup_mutations_stream), and committed through
    ``materialize_stream`` — real writeStream.foreachBatch MERGEs,
    bucketed on the PARTITION key with the partition-range-tombstone
    reducer (operators/lww.py::compound_reduce). Micro-batch boundaries
    land in arrival order, NOT writetime order, so convergence genuinely
    exercises range-tombstone LWW under the streaming engine. Oracle =
    the direct compound converged state, same as
    cdc_compound_materialized_state."""
    import tempfile

    from cdc_apache_cassandra_spark.operators.lww import (
        compound_active_view,
        compound_reduce_bucketed,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import (
        materialize_stream,
        read_state,
    )

    root = tempfile.mkdtemp(prefix="cdc_compound_stream_")
    src = f"{root}/events"
    table = f"{root}/table"
    ckpt = f"{root}/ckpt"
    (
        compound_events(spark, sf_dir)
        .filter(F.col("pk_p") % 3 == 0)
        .repartition(2)
        .write.parquet(src)
    )
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = stream.dropDuplicates(["digest"]).drop("node_id", "digest")
    q = materialize_stream(
        deduped,
        table,
        ckpt,
        ["pk_p", "pk_c"],
        n_buckets=8,
        bucket_cols=["pk_p"],
        reducer=compound_reduce_bucketed,
        kind="compound",
        reducer_bucketed=True,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    alive = compound_active_view(read_state(spark, table))
    return alive.select(
        F.col("pk_p").alias("custkey"),
        F.col("pk_c").alias("orderkey"),
        F.col("s_mktsegment").alias("mktsegment"),
        F.col("v_totalprice").alias("totalprice"),
        F.col("v_orderstatus").alias("orderstatus"),
        "writetime",
    )


# --- S8 parallel export: dsbulk-style token-range splits --------------------


def _token_splits_sql() -> str:
    from cdc_apache_cassandra_spark.functions.murmur3 import token_sql as m3
    from cdc_apache_cassandra_spark.sources.backfill import (
        split_id_sql,
        token_range_splits,
    )

    n = 8
    width = (1 << 64) // n  # 2^61 for n=8
    return f"""
WITH keys AS (SELECT DISTINCT c_custkey AS pk FROM customer),
tokens AS (SELECT * FROM ({m3("SELECT pk FROM keys", "pk", 8)})),
assigned AS (
  SELECT pk, m3_token, {split_id_sql("m3_token", n)} AS split_id FROM tokens
),
agg AS (
  SELECT split_id, COUNT(*) AS n_keys,
         MIN(m3_token) AS min_token, MAX(m3_token) AS max_token
  FROM assigned GROUP BY split_id
)
SELECT split_id, n_keys, min_token, max_token,
       (min_token >= (CAST(split_id AS BIGINT) - {n // 2}) * {width}
        AND max_token <= (CAST(split_id AS BIGINT) - {n // 2}) * {width}
                         + {width - 1}) AS in_range
FROM agg
"""


@register("cdc_backfill_token_splits", sql=_token_splits_sql())
def cdc_backfill_token_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 parallel export partitioning: assign every snapshot PK to one
    of 8 contiguous Murmur3 token ranges — the dsbulk `WHERE token(pk)
    IN (lo, hi]` slicing backfill-cli scans with
    (TableExporter.buildExportQuery; PulsarImporter resumable slices).
    ``in_range`` (per-split min/max inside the exact integer boundaries)
    proves the shift assignment agrees with the ring ranges; counts sum
    to the distinct key count (disjoint cover). Token is pure Catalyst;
    the only shuffle is the 8-row aggregate. The range bounds are
    ARITHMETIC functions of split_id ((id - n/2) * 2^61), not a joined
    lookup table: any join against the plan carrying the ~400-node token
    expression sends constraint inference into an expression-copy storm
    (observed OOM on a 16 GB driver) — post-agg projections are safe."""
    from cdc_apache_cassandra_spark.sources.backfill import (
        backfill_token_splits,
    )

    n = 8
    width = (1 << 64) // n
    keys = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("pk"))
        .distinct()
    )
    assigned = backfill_token_splits(keys, "pk", n)
    agg = assigned.groupBy("split_id").agg(
        F.count("*").alias("n_keys"),
        F.min("m3_token").alias("min_token"),
        F.max("m3_token").alias("max_token"),
    )
    lo = (F.col("split_id").cast("bigint") - F.lit(n // 2)) * F.lit(width)
    return agg.select(
        "split_id",
        "n_keys",
        "min_token",
        "max_token",
        (
            (F.col("min_token") >= lo)
            & (F.col("max_token") <= lo + F.lit(width - 1))
        ).alias("in_range"),
    )


# --- A1 on the Spark-4 engine path: transformWithState under the gate -------

_TWS_DEDUP_SQL = f"""
WITH {events_cte()}
SELECT DISTINCT pk, digest, writetime, segment, position
FROM events_stream
"""


@register("cdc_dedup_events_tws", sql=_TWS_DEDUP_SQL)
def cdc_dedup_events_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica-fan-in dedup through the ACTUAL transformWithState
    mutation cache (batch mode, RocksDB state store, the vendored
    protobuf wire shim where the wheel is absent) — not a DataFrame
    twin. Replica duplicates share the full mutation identity and sort
    adjacent, so the bounded ≤N-digest cache yields exactly DISTINCT
    semantics, which is the oracle. Coordinator warm-up quirk documented
    in streaming/state.py::warm_state_store_coordinator."""
    from cdc_apache_cassandra_spark.streaming.state import mutation_cache_dedup

    ev = mutation_events(spark, sf_dir).select(
        "pk", "digest", "writetime", "segment", "position"
    )
    return mutation_cache_dedup(ev)
