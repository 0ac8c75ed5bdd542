"""Materialize the CDC stream into a queryable table — the data-topic ->
table leg the reference leaves to downstream sinks (ES/another C* via
Pulsar sinks). Spark mapping: ``foreachBatch`` incremental merge with
last-write-wins resolution and tombstone deletion (SURVEY §7.4:
'null-value rows must survive every sink' — a DELETE winner hides the key
from the read view, the parquet analogue of Delta's ``whenMatchedDelete``).

Storage layout — a miniature merge-on-write table format:

    root/
      _MANIFEST.json          # {"version": V, "n_buckets": N,
                              #  "buckets": {"<b>": <ver_written>, ...}}
      __ver=<ver>/__bucket=<b>/part-*.parquet

State rows are hash-bucketed on the primary key. Each micro-batch rewrites
ONLY the buckets its keys touch: read those buckets' current files, union
the batch, LWW-merge, write the result under a fresh ``__ver=<ver>`` directory,
then atomically swap the manifest pointer (``os.replace``). Untouched
buckets keep their existing files — per-batch work is proportional to the
touched-bucket data, never the whole table, and nothing round-trips
through the driver (the only driver-side values are the touched bucket
IDs, bounded by ``n_buckets`` integers).

This mirrors how Delta/Iceberg commit MERGEs (rewrite affected files, swap
a metadata pointer). The commit point is pluggable (:class:`ManifestStore`):
the local implementation is a compare-and-swap under an O_EXCL lock file
(version re-checked inside the critical section — a concurrent or replayed
commit raises :class:`CommitConflict` instead of silently clobbering);
an object-store implementation maps the same interface onto S3
conditional writes (``If-Match``/``If-None-Match`` PUT) or GCS generation
preconditions — everything else is plain distributed parquet IO. At
100 TB, size ``n_buckets`` so a bucket is a few hundred MB (e.g. 4096+);
the default 16 suits test scale.

Tombstones must stay in the state table (with their writetime): micro-
batches replay files in arbitrary order, so an INSERT older than an
already-applied DELETE can arrive LATER — dropping the tombstone on merge
would let that stale insert resurrect the key. Queries read through
:func:`active_view`, which hides tombstones. :func:`compact` drops
tombstones older than the disorder horizon once it has passed.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_apache_cassandra_spark.operators.lww import last_write_wins

MANIFEST = "_MANIFEST.json"
DEFAULT_BUCKETS = 16



def _dl():
    """delta_log's URI-capable driver-IO helpers (_io_*). Lazy: delta_log
    imports THIS module at top level, so the reference resolves at call
    time — by which point both modules exist."""
    from cdc_apache_cassandra_spark.streaming import delta_log

    return delta_log


@contextlib.contextmanager
def manifest_lock(path: str, attempts: int = 1000):
    """O_EXCL lock-file critical section shared by every local-manifest
    mutator (LocalManifestStore.commit, HttpManifestStore's mirror):
    yields True when acquired, False after ``attempts`` x 10ms — the
    caller decides whether a timeout is fatal. ONE protocol, one lock
    name: two implementations of the spin would silently stop excluding
    each other the day one changed."""
    import time as _time

    lock = os.path.join(path, MANIFEST + ".lock")
    fd = None
    for _ in range(attempts):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:  # another writer inside its critical section
            _time.sleep(0.01)
    try:
        yield fd is not None
    finally:
        if fd is not None:
            os.close(fd)
            os.unlink(lock)


def _bucket_expr(pk_cols: list[str], n_buckets: int):
    # xxhash64 over the key columns — same family as the engine's token
    # routing (functions/hashing.py); stable across batches and sessions.
    return F.pmod(F.xxhash64(*pk_cols), F.lit(n_buckets)).cast("int")


def _by_bucket(df: DataFrame, n: int) -> DataFrame:
    """Hash-partition ``df`` on ``__bucket`` for a bucket-layout write of
    ``n`` buckets: one task per bucket, at most one task per core. Hash
    partitioning keeps each bucket in exactly one task, and the
    ``partitionBy`` writer writes one file per partition value per task,
    so every bucket dir still gets one file per side (what linking,
    :func:`_commit_stats` and the export's ``_staged_file`` rely on).
    The task count follows the cores, not the bucket count: per-task
    cost, not per-file cost, dominates these writes (on 4 cores, 128
    tasks of ~31 rows took 5.0 s; 4 tasks took 2.5 s)."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(max(1, min(n, cores)), F.col("__bucket"))


def _check_store_for_path(path: str, store: "ManifestStore | None") -> None:
    """URI table roots have no local manifest file EVER (the HTTP
    mirror skips them by design), so the local-filesystem CAS can
    neither read nor commit one — refuse UP FRONT, before any
    distributed work, instead of silently treating an existing remote
    table as empty and failing later on a mangled lock path (the same
    guard class delta_export applies to its commit store)."""
    if "://" in path and isinstance(store or _DEFAULT_STORE, LocalManifestStore):
        raise ValueError(
            f"{path}: a URI table root needs a conditional-write "
            "ManifestStore (e.g. HttpManifestStore) — the local "
            "filesystem CAS cannot address it; pass store="
        )


class CommitConflict(RuntimeError):
    """The manifest moved between load and commit — another writer (or a
    replayed attempt of an already-committed batch) got there first. The
    caller must reload and re-merge; blindly retrying the same commit
    would publish a merge computed against stale state."""


class ManifestStore:
    """Commit-pointer storage with compare-and-swap semantics — the seam
    where the table format meets the storage system.

    ``load(path)``   -> (manifest | None, tag): current manifest plus an
                        opaque precondition tag.
    ``commit(path, manifest, expect_tag)``: publish atomically IFF the
                        stored tag still equals ``expect_tag``, else
                        raise :class:`CommitConflict`.

    Implementations: :class:`LocalManifestStore` (POSIX: O_EXCL lock +
    re-check + ``os.replace``). An S3 store implements ``commit`` as a
    conditional PUT (``If-Match: etag`` / ``If-None-Match: *`` for the
    first version); GCS uses ``ifGenerationMatch``. The merge logic
    never assumes more than this interface."""

    def load(self, path: str) -> tuple[dict | None, object]:
        raise NotImplementedError

    def commit(self, path: str, manifest: dict, expect_tag: object) -> None:
        raise NotImplementedError


class LocalManifestStore(ManifestStore):
    """Filesystem CAS: the version number is the precondition tag; the
    critical section (re-read, compare, replace) runs under an O_EXCL
    lock file, so two local writers cannot interleave."""

    def load(self, path: str) -> tuple[dict | None, object]:
        try:
            with open(os.path.join(path, MANIFEST)) as f:
                m = json.load(f)
            return m, m["version"]
        except FileNotFoundError:
            return None, None

    def commit(self, path: str, manifest: dict, expect_tag: object) -> None:
        with manifest_lock(path) as acquired:
            if not acquired:
                raise CommitConflict(
                    f"manifest lock at {path} held too long"
                )
            current, tag = self.load(path)
            if tag != expect_tag:
                raise CommitConflict(
                    f"manifest moved: expected version {expect_tag}, found {tag}"
                )
            tmp = os.path.join(path, MANIFEST + ".tmp")
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, os.path.join(path, MANIFEST))


class InMemoryManifestStore(ManifestStore):
    """Reference conditional-PUT semantics in memory — the exact shape an
    S3 (``If-Match`` / ``If-None-Match: *``) or GCS
    (``ifGenerationMatch``) backend implements: ``load`` returns the
    manifest plus its generation tag; ``commit`` publishes IFF the stored
    tag still equals the caller's, else :class:`CommitConflict`. Used by
    the contended-CAS tests (tests/test_manifest_cas.py) to force the
    race window (``on_commit`` runs after the caller's load, inside its
    commit — the interleave point), and usable as-is for ephemeral
    stores. An object-store backend replaces the dict with its bucket
    and the tag with the ETag/generation; nothing else in merge_into /
    delta_export changes."""

    def __init__(self):
        self.blobs: dict[str, dict] = {}
        self.on_commit = None
        self.commits = 0

    def load(self, path: str) -> tuple[dict | None, object]:
        m = self.blobs.get(path)
        if m is None:
            return None, None
        return json.loads(json.dumps(m)), m["version"]

    def commit(self, path: str, manifest: dict, expect_tag: object) -> None:
        hook, self.on_commit = self.on_commit, None
        if hook is not None:
            hook()  # competing writer lands inside the CAS window
        current = self.blobs.get(path)
        tag = None if current is None else current["version"]
        if tag != expect_tag:
            raise CommitConflict(
                f"precondition failed: expected tag {expect_tag}, found {tag}"
            )
        self.blobs[path] = json.loads(json.dumps(manifest))
        self.commits += 1


_DEFAULT_STORE = LocalManifestStore()


def _py_cast(value, dt):
    """Driver-side twin of the ``cast(pk to table dtype)`` the DataFrame
    key path applies before hashing: coerce a literal Python key value to
    the type Spark's xxhash64 would see. Raises TypeError/ValueError for
    anything the cast can't represent — the caller falls back to routing
    through the JVM expression (which nulls uncastables, matching the
    DataFrame path's semantics)."""
    if value is None:
        return None
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        if isinstance(value, float) and not value.is_integer():
            raise TypeError(f"non-integral {value!r} for {s} key")
        return int(value)
    if s in ("float", "double"):
        return float(value)
    if s == "string":
        return str(value)
    if s == "boolean":
        # strict: bool(value) diverges from the JVM cast the DataFrame
        # path applies (bool('false') is True, bool('') is False vs JVM
        # null) — a coerced mistype would route to the WRONG bucket and
        # silently return empty; raising takes the JVM-routing fallback
        if isinstance(value, bool):
            return value
        if isinstance(value, int) and value in (0, 1):
            return bool(value)
        raise TypeError(f"{type(value).__name__} for boolean key")
    if s == "binary":
        if isinstance(value, (bytes, bytearray, memoryview)):
            return bytes(value)
        raise TypeError(f"non-bytes {type(value).__name__} for binary key")
    if s == "date":
        import datetime

        if isinstance(value, datetime.date) and not isinstance(
            value, datetime.datetime
        ):
            return value
        raise TypeError(f"{type(value).__name__} for date key")
    raise TypeError(f"no driver-side cast for key type {s!r}")


def _all_nullable(dt):
    """Parquet round-trips every field as nullable — normalize the plan
    schema the same way so the recorded schema matches what any reader of
    the files (including cdc_store) actually observes."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _all_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_all_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, _all_nullable(dt.valueType), True)
    return dt


def _record_schema(manifest: dict, schema) -> None:
    """Fold ``schema`` into the manifest's recorded table schema under the
    evolution rules (additive nullable fields merge, type changes raise) —
    a narrow-bucket rewrite can never regress the recorded schema."""
    schema = _all_nullable(schema)
    recorded = manifest.get("schema")
    if recorded:
        from pyspark.sql import types as T

        from cdc_apache_cassandra_spark.streaming.schema_evolution import (
            reconcile_schemas,
        )

        schema = reconcile_schemas(T.StructType.fromJson(json.loads(recorded)), schema)
    manifest["schema"] = schema.json()


def _read_manifest(path: str) -> dict | None:
    return _DEFAULT_STORE.load(path)[0]


def version_dir(manifest: dict, version: int) -> str:
    """Resolve a committed version number to its directory name. New
    commits write to WRITER-UNIQUE directories ``__ver=<v>-<token>``
    (recorded in ``manifest["dirs"]``) so two in-flight committers can
    never collide on the same staging path — the CAS then decides whose
    directory the pointer adopts (exactly Delta's content-addressed
    files + pointer). Legacy stores without the map resolve to the old
    ``__ver=<v>`` layout."""
    return (manifest.get("dirs") or {}).get(str(version), f"__ver={version}")


def _live_dirs(manifest: dict) -> set[str]:
    return {
        version_dir(manifest, v)
        for v in {manifest["buckets"][k] for k in manifest["buckets"]}
    }


def _bucket_paths(path: str, manifest: dict, buckets: list[int] | None = None) -> list[str]:
    live = manifest["buckets"]
    keys = [str(b) for b in buckets] if buckets is not None else list(live)
    return [
        os.path.join(path, version_dir(manifest, live[k]), f"__bucket={k}")
        for k in keys
        if k in live
    ]


def _stored_schema(manifest: dict):
    """The table-wide Spark schema ``merge_into``/``compact`` recorded at
    write time (data columns only, no ``__bucket``) — or None on a
    legacy store that predates schema recording."""
    from pyspark.sql import types as T

    s = manifest.get("schema")
    return T.StructType.fromJson(json.loads(s)) if s else None


#: Error-text markers of a read that raced :func:`_prune_superseded` —
#: Spark error classes (FAILED_READ_FILE.FILE_NOT_EXIST at execution,
#: PATH_NOT_FOUND at plan-time listing) plus the raw JVM/Hadoop message
#: fragments they wrap. Matched on str(e) because PySpark surfaces them
#: as different exception types per phase (AnalysisException vs
#: SparkException vs Py4JJavaError).
_STALE_READ_MARKERS = (
    "FAILED_READ_FILE",
    "FILE_NOT_EXIST",
    "PATH_NOT_FOUND",
    "FileNotFoundException",
)


def _is_stale_read_error(e: BaseException) -> bool:
    s = str(e)
    return any(m in s for m in _STALE_READ_MARKERS)


def _conflict_if_moved(
    store: ManifestStore, path: str, manifest: dict, out_dir: str | None = None
) -> None:
    """Inside an ``except`` around a Spark read/write of store files:
    if the manifest moved since ``manifest`` was loaded, a competing
    commit PRUNED the superseded version dirs this job was reading —
    surface that as the :class:`CommitConflict` it is (reload + re-merge
    fixes it). An unmoved manifest means a genuine IO error: return so
    the caller re-raises the original untouched."""
    current, _ = store.load(path)
    if current is not None and current["version"] != manifest["version"]:
        if out_dir is not None:
            _dl()._io_rmtree(out_dir)  # only OUR staging
        raise CommitConflict(
            f"manifest moved from {manifest['version']} to "
            f"{current['version']} during the merge job (superseded "
            "files pruned under this reader); reload and re-merge"
        )


def _read_bucket_files(spark: SparkSession, path: str, manifest: dict, paths):
    """Scan live bucket files with the manifest's RECORDED schema — zero
    footer IO and zero schema-inference Spark job at plan time (guide
    §1/§6: the mergeSchema option used to cost one distributed
    footer-merging job per read, per merge commit). Spark appends the
    ``__ver``/``__bucket`` partition columns to the explicit schema from
    the directory names; files written before an ALTER-ADD surface the
    missing columns as nulls, exactly what footer unification produced.
    Legacy stores without a recorded schema keep the mergeSchema path."""
    schema = _stored_schema(manifest)
    reader = spark.read.option("basePath", path)
    reader = (
        reader.schema(schema)
        if schema is not None
        else reader.option("mergeSchema", "true")
    )
    return reader.parquet(*paths)


def read_state(
    spark: SparkSession, path: str, store: ManifestStore | None = None
) -> DataFrame | None:
    """Current table state (tombstones included), resolved via the
    manifest pointer. Partition pruning is structural: only live
    ``v=/b=`` directories are listed at all. ``store`` overrides the
    module-default manifest resolution (cross-machine readers of an
    HTTP-committed store pass their HttpManifestStore here)."""
    _check_store_for_path(path, store)
    manifest = (store or _DEFAULT_STORE).load(path)[0]
    if manifest is None or not manifest["buckets"]:
        return None
    paths = _bucket_paths(path, manifest)
    return (
        _read_bucket_files(spark, path, manifest, paths)
        .drop("__ver", "__bucket")
    )


def _union_evolving(old: DataFrame, batch: DataFrame) -> DataFrame:
    """Union that admits BACKWARD-compatible schema drift between stored
    state and an incoming batch (the UDT/ALTER-ADD scenario flowing into
    the store after a DDL restart): reconcile under the evolution rules
    — additive nullable fields at any depth merge, type changes raise —
    then align both sides. Identical schemas skip straight to the plain
    union (no plan overhead on the common path)."""
    if old.schema == batch.schema:
        return old.unionByName(batch)
    from cdc_apache_cassandra_spark.streaming.schema_evolution import (
        align_to_schema,
        reconcile_schemas,
    )

    target = reconcile_schemas(old.schema, batch.schema)
    return align_to_schema(old, target).unionByName(
        align_to_schema(batch, target)
    )


def merge_batch_lww(
    state: DataFrame | None, batch: DataFrame, pk_cols: list[str]
) -> DataFrame:
    """Pure merge: union prior state with the new batch, keep the newest
    mutation per key. Tombstone winners are kept (see module doc)."""
    merged = batch if state is None else _union_evolving(state, batch)
    return last_write_wins(merged, pk_cols=pk_cols)


def active_view(state: DataFrame) -> DataFrame:
    """The queryable table: live rows only, tombstones hidden."""
    return state.filter("op <> 'DELETE'")


def _write_bucket_split(merged: DataFrame, out_dir: str) -> dict:
    """Stage a merge/compact output with each bucket's rows SPLIT into an
    active file and a tombstone file, then flatten the split back into
    the flat ``__bucket=<b>/`` layout every reader already knows:

        __bucket=<b>/active-<part>.parquet   rows where op != 'DELETE'
        __bucket=<b>/tombs-<part>.parquet    tombstones (op = 'DELETE',
                                             or op unparseable/null)

    The point (guide §2.4/VERDICT r11 item 4): ``delta_export``'s staging
    job re-read and re-wrote exactly the active subset of these bytes as
    a SECOND distributed write per commit. With the split, the active
    file IS the export content for default-view (lww) stores, so the
    export hard-links it instead of running a Spark job — one distributed
    write per commit instead of two. The split rides the SAME write job
    (``partitionBy`` adds a bucket-local sort by a boolean, no extra
    exchange), and the flatten is ≤2 metadata renames per touched bucket
    on the driver, so readers — which key on the flat ``__bucket=`` dirs
    and glob ``*.parquet`` — never see a layout change (a mixed
    old/new-depth layout would break Spark's partition discovery, which
    is why the split does NOT stay as a directory level).

    Stores without an ``op`` column (custom reducers) write everything
    as one active file — their exporters pass a custom view anyway.

    Returns what was staged, from the renames themselves (no listing job,
    no read-back): ``{"<b>": ([active files], [tombs files])}`` for every
    bucket that received rows. A bucket the reducer emptied gets no
    directory and so no entry; an all-rows-filtered write returns ``{}``.
    :func:`_commit_stats` turns this into the manifest's bucket stats."""
    active = (
        F.coalesce(F.col("op") != F.lit("DELETE"), F.lit(False))
        if "op" in merged.columns
        else F.lit(True)
    )
    (
        merged.withColumn("__active", active)
        .write.mode("overwrite")
        .partitionBy("__bucket", "__active")
        .parquet(out_dir)
    )
    dl = _dl()
    staged = {}
    for bname in dl._io_listdir(out_dir):
        if not bname.startswith("__bucket="):
            continue
        bdir = os.path.join(out_dir, bname)
        sides = staged[bname[len("__bucket="):]] = ([], [])
        for sub, prefix, files in (
            ("__active=true", "active-", sides[0]),
            ("__active=false", "tombs-", sides[1]),
        ):
            sdir = os.path.join(bdir, sub)
            names = dl._io_listdir(sdir)
            for n in names:
                if n.endswith(".parquet"):
                    files.append(os.path.join(bdir, prefix + n))
                    dl._io_move(os.path.join(sdir, n), files[-1])
            if names:
                dl._io_rmtree(sdir)
    return staged


def _commit_stats(staged: dict) -> dict:
    """Per-bucket manifest stats of a staged write (see
    :func:`_write_bucket_split`) from the files' parquet footers alone —
    the numbers the writer already recorded, so no Spark job re-reads
    what was just written (Delta's ``add`` stats come from the same
    place). ``rows`` counts both sides; ``tombstones`` and ``min_del_wt``
    (the oldest DELETE writetime, what lets :func:`compact` GC
    incrementally) come from the tombs files, see :func:`_tombs_stats`.
    Stores without ``op`` write no tombs file: 0 tombstones, no
    ``min_del_wt``. Buckets without rows stay out of the result."""
    dl = _dl()
    stats = {}
    for b, (active, tombs) in staged.items():
        rows = sum(dl._io_parquet_file(f).metadata.num_rows for f in active)
        dels, min_wt = 0, None
        for f in tombs:
            n, d, wt = _tombs_stats(dl._io_parquet_file(f))
            rows, dels = rows + n, dels + d
            if wt is not None and (min_wt is None or wt < min_wt):
                min_wt = wt
        if rows:
            stats[b] = {"rows": rows, "tombstones": dels, "min_del_wt": min_wt}
    return stats


def _tombs_stats(pf) -> tuple[int, int, object]:
    """(rows, DELETE rows, min DELETE writetime or None) of one tombs
    file. The split sends ``op = 'DELETE'`` AND null ``op`` here, so the
    footer answers exactly when ``op`` has no nulls: every row is a
    DELETE and the ``writetime`` chunk minimum is theirs. Only a file
    with null-``op`` rows (or without chunk statistics) reads its
    ``op``/``writetime`` columns, through the same IO seam. Columns are
    matched top-level (:func:`delta_log.footer_leaf_index`): a nested
    ``payload.writetime`` is never taken for ``writetime``."""
    dl = _dl()
    md = pf.metadata
    iop = dl.footer_leaf_index(md, "op")
    iwt = dl.footer_leaf_index(md, "writetime")
    chunks = [md.row_group(r) for r in range(md.num_row_groups)]
    op_st = [c.column(iop).statistics for c in chunks]
    wt_st = [c.column(iwt).statistics for c in chunks] if iwt is not None else []
    if all(
        s is not None and s.has_null_count and s.null_count == 0 for s in op_st
    ) and all(s is not None and s.has_min_max for s in wt_st):
        return md.num_rows, md.num_rows, min((s.min for s in wt_st), default=None)
    import pyarrow.compute as pc

    t = pf.read(columns=["op"] + (["writetime"] if iwt is not None else []))
    dels = pc.fill_null(pc.equal(t["op"], "DELETE"), False)
    wt = pc.min(pc.filter(t["writetime"], dels)).as_py() if iwt is not None else None
    return md.num_rows, pc.sum(dels).as_py() or 0, wt


def _adopt_buckets(
    manifest: dict, version: int, dirname: str, rewritten, stats: dict
) -> None:
    """Point every ``rewritten`` bucket that still holds rows at the new
    ``version`` (staged under ``dirname``) with its fresh stats; a bucket
    the rewrite emptied has no staged files, so it leaves the map (a
    pointer at a nonexistent path would fail every later read). Then
    prune ``dirs`` to the versions live buckets still reference."""
    manifest["version"] = version
    manifest.setdefault("dirs", {})[str(version)] = dirname
    for b in rewritten:
        k = str(b)
        if k in stats:
            manifest["buckets"][k] = version
            manifest.setdefault("stats", {})[k] = stats[k]
        else:
            manifest["buckets"].pop(k, None)
            manifest.get("stats", {}).pop(k, None)
    live_versions = {manifest["buckets"][k] for k in manifest["buckets"]}
    manifest["dirs"] = {
        v: d for v, d in manifest["dirs"].items() if int(v) in live_versions
    }


def merge_into(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    pk_cols: list[str],
    n_buckets: int = DEFAULT_BUCKETS,
    bucket_cols: list[str] | None = None,
    reducer=None,
    store: ManifestStore = _DEFAULT_STORE,
    kind: str | None = None,
    reducer_bucketed: bool = False,
) -> None:
    """One incremental MERGE commit: rewrite only the buckets the batch
    touches, then CAS-swap the manifest (:class:`ManifestStore`).
    Retry-safe AND multi-writer-safe: every attempt stages into a
    writer-unique ``__ver=<v>-<token>`` directory, so concurrent
    committers never collide on disk — the CAS alone decides the winner;
    a loser deletes only its own staging and raises
    :class:`CommitConflict` (see :func:`merge_into_retrying`), a crashed
    attempt's never-referenced staging is reclaimed by
    :func:`gc_orphan_dirs`.

    ``bucket_cols`` (default: ``pk_cols``) chooses the co-location key —
    compound tables bucket on the PARTITION key so a partition-range
    tombstone lands in the same bucket as every row it dominates.
    ``reducer`` (default: full-PK :func:`last_write_wins`) reduces
    ``old ∪ batch`` to the retained state; it must be idempotent and
    merge-associative (reduce(reduce(a) ∪ b) == reduce(a ∪ b)) — the
    property that makes batching order irrelevant.

    ``kind`` names the store's READ semantics in the manifest so scan-level
    readers know which active view is sound: ``"lww"`` (default when
    ``reducer`` is None — a row tombstone filter suffices), ``"compound"``
    (partition-range tombstones + static resolution: the raw op filter
    would resurrect dominated rows), or any caller-defined tag for custom
    reducers (default ``"custom"``). Write-once consistency: an explicit
    ``kind`` must match the recorded one; omitting it with a custom
    ``reducer`` INHERITS the recorded kind (incremental re-merges never
    restate it); omitting BOTH implies "lww" — merging the default LWW
    reducer into a compound store raises rather than corrupting it."""
    _check_store_for_path(path, store)
    manifest, tag = store.load(path)
    bucket_cols = bucket_cols or pk_cols
    # what this call asserts about the store's semantics: the explicit
    # kind, or "lww" when the default reducer is used (the default
    # reducer IS lww semantics); a custom reducer without a kind asserts
    # nothing and inherits.
    asserted_kind = kind if kind is not None else ("lww" if reducer is None else None)
    default_kind = asserted_kind or "custom"
    manifest = manifest or {
        "version": 0,
        "n_buckets": n_buckets,
        "buckets": {},
        # self-describing routing: scan-level readers (the cdc_store
        # DataSource's pushFilters bucket pruning) re-derive the bucket
        # of a pushed-down key from the manifest alone
        "bucket_cols": bucket_cols,
        # self-describing semantics: which active view is sound on top
        # of this state (cdc_store 'active' mode / delta_export default)
        "kind": default_kind,
    }
    n_buckets = manifest["n_buckets"]
    recorded = manifest.setdefault("bucket_cols", bucket_cols)
    if recorded != bucket_cols:
        raise ValueError(
            f"store at {path} is bucketed on {recorded}; merging with "
            f"bucket_cols={bucket_cols} would split keys across buckets"
        )
    recorded_kind = manifest.setdefault("kind", default_kind)
    if asserted_kind is not None and recorded_kind != asserted_kind:
        raise ValueError(
            f"store at {path} has kind={recorded_kind!r}; merging with "
            f"kind={asserted_kind!r}"
            f"{' (implied by the default LWW reducer)' if kind is None else ''}"
            " would flip its read semantics mid-life"
        )
    # Schema recording is safe only when the recorded schema cannot NARROW
    # the table: a fresh store (this merge defines it), or a store that
    # already records one (reconcile only widens). A LEGACY store's first
    # post-upgrade merge sees only its touched buckets — recording that
    # would drop columns living solely in untouched buckets — so legacy
    # stores keep the footer-unification read path until a full-coverage
    # rewrite (compact) records the true table schema.
    can_record_schema = "schema" in manifest or not manifest["buckets"]
    default_lww = reducer is None
    batch = batch.withColumn("__bucket", _bucket_expr(bucket_cols, n_buckets))

    # Metadata-sized driver exchange: WHICH buckets changed (≤ n_buckets
    # ints). collect_set over a partial map-side aggregation: each task
    # ships at most n_buckets ints to one reducer — measurably cheaper
    # than distinct().collect()'s row shuffle (guide §2.3, aggregate
    # before you shuffle) and the same metadata-sized driver traffic.
    touched = sorted(batch.agg(F.collect_set("__bucket")).first()[0])
    if not touched:
        return

    old_paths = _bucket_paths(path, manifest, touched)
    if old_paths:
        try:
            # eager file listing: a competing commit may prune these
            # dirs between our manifest load and this plan-time listing
            old = _read_bucket_files(spark, path, manifest, old_paths).drop("__ver")
        except Exception:
            _conflict_if_moved(store, path, manifest)
            raise
        unioned = _union_evolving(old, batch)
    else:
        unioned = batch
    # ONE exchange for reduce + file layout (guide §2.4: two operations
    # keyed the same way share one shuffle). ``__bucket`` is a
    # deterministic function of ``bucket_cols``, so when the reducer's
    # grouping keys contain ``bucket_cols`` (the default LWW reducer
    # groups by pk_cols ⊇ bucket_cols), pre-partitioning the union by
    # __bucket and PREFIXING the reducer's grouping with __bucket
    # reduces in place: the window/aggregate's ClusteredDistribution is
    # already satisfied, no second exchange, and each bucket stays in
    # exactly one task ⇒ one file per bucket dir (the invariant
    # delta_export's staging relies on). ``reducer_bucketed=True`` is a
    # caller promise that its custom reducer has the same property
    # (its grouping keys all functionally determine __bucket's value).
    # Reducers without it keep the reduce-then-repartition shape.
    bucketed = reducer_bucketed or (
        default_lww and set(bucket_cols) <= set(pk_cols)
    )
    if default_lww:
        lww_keys = ["__bucket", *pk_cols] if bucketed else pk_cols
        reducer = lambda df: last_write_wins(df, pk_cols=lww_keys)  # noqa: E731
    if bucketed:
        merged = reducer(_by_bucket(unioned, len(touched)))
    else:
        merged = reducer(unioned)
        merged = merged.withColumn(
            "__bucket", _bucket_expr(bucket_cols, n_buckets)
        )
        # Repartition by bucket: one task per bucket, at most one task
        # per core ⇒ one file per bucket dir (without it, every shuffle
        # partition writes a sliver into every bucket — the small-files
        # anti-pattern).
        merged = _by_bucket(merged, len(touched))

    version = manifest["version"] + 1
    old_dirs = _live_dirs(manifest)
    # WRITER-UNIQUE directory: two in-flight committers stage disjoint
    # paths; the CAS decides whose directory the manifest adopts, and
    # the loser deletes only its own staging (see except below).
    dirname = f"__ver={version}-{uuid.uuid4().hex[:8]}"
    out_dir = os.path.join(path, dirname)
    try:
        staged = _write_bucket_split(merged, out_dir)
    except Exception:
        # A competing commit may have PRUNED the old bucket files this
        # merge was reading mid-job — surface that as the conflict it
        # is; a genuine IO error with an unmoved manifest propagates.
        _conflict_if_moved(store, path, manifest, out_dir=out_dir)
        raise

    # Record the TABLE-WIDE schema (Spark StructType JSON): the merged
    # schema of the touched buckets reconciled with what was recorded
    # before — it only ever widens (additive evolution), so scan planning
    # (cdc_store DataSource.schema) needs ZERO footer IO on stores with
    # this field; legacy stores fall back to footer unification.
    # Derived from merged.schema (analyzed once, shared with the write) —
    # a .drop().schema here would re-analyze the whole merge plan per
    # commit, a measurable driver cost on commit-heavy streams.
    if can_record_schema:
        from pyspark.sql import types as T

        _record_schema(
            manifest,
            T.StructType(
                [
                    f
                    for f in merged.schema.fields
                    if f.name not in ("__bucket", "__active")
                ]
            ),
        )
    # Per-bucket stats from the staged files' footers: no Spark job, the
    # same path for narrow and wide commits. A bucket the reducer emptied
    # staged no files and leaves the map.
    _adopt_buckets(manifest, version, dirname, touched, _commit_stats(staged))
    try:
        store.commit(path, manifest, tag)
    except CommitConflict:
        _dl()._io_rmtree(out_dir)  # only OUR staging
        raise
    _prune_superseded(path, old_dirs, _live_dirs(manifest))


def merge_into_retrying(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    pk_cols: list[str],
    n_buckets: int = DEFAULT_BUCKETS,
    bucket_cols: list[str] | None = None,
    reducer=None,
    store: ManifestStore = _DEFAULT_STORE,
    max_attempts: int = 5,
    kind: str | None = None,
    reducer_bucketed: bool = False,
) -> int:
    """Multi-writer ergonomics over :func:`merge_into`: on
    :class:`CommitConflict` the ENTIRE merge re-runs — reload manifest,
    re-read the (now newer) touched buckets, re-reduce, re-commit — the
    only correct retry (replaying the same staged merge would publish a
    result computed against stale state; the reducer's idempotence +
    merge-associativity makes the re-merge converge regardless of which
    competing batch landed first, the property test_manifest_cas pins).
    Returns the number of attempts used. Bounded: conflicts mean live
    contention, and each loser's next attempt merges ON TOP of the
    winner, so N writers finish in ≤N rounds absent a crash loop.

    Stale-read Spark failures (FAILED_READ_FILE / PATH_NOT_FOUND /
    FileNotFoundException) are retried EXACTLY like conflicts: they are
    what a loser sees when a winner's :func:`_prune_superseded` deletes
    the version dirs the loser's staged merge was still reading, and
    merge_into's own version check cannot prove the race when the
    competing commit lands after the check ran. The fresh-manifest
    re-merge converges identically; a GENUINE missing-file store
    corruption fails every attempt and the last one propagates the
    original error."""
    for attempt in range(1, max_attempts + 1):
        try:
            merge_into(
                spark, path, batch, pk_cols, n_buckets,
                bucket_cols=bucket_cols, reducer=reducer, store=store,
                kind=kind, reducer_bucketed=reducer_bucketed,
            )
            return attempt
        except CommitConflict:
            if attempt == max_attempts:
                raise
        except Exception as e:
            if attempt == max_attempts or not _is_stale_read_error(e):
                raise
    raise AssertionError("unreachable")


def _prune_superseded(path: str, old_dirs: set[str], new_dirs: set[str]) -> None:
    """Delete exactly the version directories THIS commit superseded
    (referenced before, unreferenced now). Never a blanket
    unreferenced-sweep: a concurrent writer's in-flight staging is
    unreferenced by construction, and sweeping it would fail that
    writer's Spark job mid-write instead of letting its CAS lose
    cleanly. Crashed writers' never-referenced staging is reclaimed by
    :func:`gc_orphan_dirs` (age-gated maintenance) instead."""
    for name in old_dirs - new_dirs:
        _dl()._io_rmtree(os.path.join(path, name))


def gc_orphan_dirs(
    path: str,
    older_than_seconds: float = 3600.0,
    store: ManifestStore = _DEFAULT_STORE,
) -> list[str]:
    """Maintenance sweep for staging directories that will never be
    referenced — a writer that crashed between its data write and its
    CAS. Age-gated on the NEWEST mtime inside the directory (an
    in-flight writer is actively creating files, so its tree stays
    fresh), the same reason Delta's VACUUM keeps a retention window.
    Returns the deleted directory names."""
    import time

    dl = _dl()
    # the guard matters MOST here: a URI root read through the local
    # default store yields manifest=None, which would make every
    # version directory look unreferenced — an age-gated deleter one
    # retention window away from reaping the whole table
    _check_store_for_path(path, store)
    manifest, _ = store.load(path)
    live = _live_dirs(manifest) if manifest else set()
    horizon = time.time() - older_than_seconds
    deleted = []
    for name in sorted(dl._io_listdir(path)):
        if not name.startswith("__ver=") or name in live:
            continue
        full = os.path.join(path, name)
        newest = _tree_newest_mtime(full)
        if newest < horizon:
            dl._io_rmtree(full)
            deleted.append(name)
    return deleted


def _tree_newest_mtime(root: str) -> float:
    """Newest mtime in a directory tree, through the URI seam. The tree
    must read as FRESH when nothing reports an mtime (empty just-created
    staging, stores without LastModified): the caller is an age-gated
    deleter, and 'unknown age' treated as 'ancient' would reap an ACTIVE
    writer's staging directory seconds after creation."""
    import time

    dl = _dl()
    fs, p = dl._fs(root)
    if fs is None:
        try:
            newest = os.path.getmtime(p)
        except FileNotFoundError:
            return time.time()  # tree vanished under us — read as fresh
        for r, _dirs, files in os.walk(p):
            for f in files:
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(r, f)))
                except FileNotFoundError:
                    pass
        return newest
    import pyarrow.fs as pafs

    mtimes = []
    try:
        own = fs.get_file_info(p)
        if own.mtime is not None:
            mtimes.append(own.mtime.timestamp())
        for i in fs.get_file_info(pafs.FileSelector(p, recursive=True)):
            if i.mtime is not None:
                mtimes.append(i.mtime.timestamp())
    except FileNotFoundError:
        # the tree vanished between the caller's listdir and this stat
        # (a concurrent prune/gc won the race) — read as FRESH, same
        # no-mtime rule: an age-gated deleter must never reap on a
        # vanished/unknown reading, and the next sweep sees truth
        return time.time()
    return max(mtimes) if mtimes else time.time()


def expired_tombstone_buckets(manifest: dict, tombstone_horizon: int) -> list[int]:
    """Buckets that (may) hold a tombstone older than the horizon,
    decided from MANIFEST stats alone — no file IO. Buckets written
    before stats existed have no entry and are candidates conservatively."""
    out = []
    stats = manifest.get("stats", {})
    for b in manifest["buckets"]:
        s = stats.get(b)
        if s is None or (
            s["tombstones"] > 0
            and (s["min_del_wt"] is None or s["min_del_wt"] < tombstone_horizon)
        ):
            out.append(int(b))
    return sorted(out)


def compact(
    spark: SparkSession,
    path: str,
    pk_cols: list[str],
    tombstone_horizon: int | None = None,
    store: ManifestStore = _DEFAULT_STORE,
    only_expired: bool = False,
    bucket_cols: list[str] | None = None,
) -> None:
    """Re-LWW buckets and drop DELETE rows whose writetime precedes the
    disorder horizon (safe once the watermark has passed them — no staler
    INSERT can still arrive).

    ``only_expired=True`` (requires a horizon) compacts INCREMENTALLY:
    manifest stats name the buckets that hold expired tombstones, only
    those are rewritten, every other bucket keeps its current files —
    GC IO ∝ expired-tombstone buckets, never the table. The default full
    rewrite remains the defragmentation path (it also re-buckets rows
    after an ``n_buckets`` policy change).

    ``bucket_cols`` MUST match what ``merge_into`` was called with when
    it differs from ``pk_cols`` (compound stores bucket on the partition
    key): the full rewrite recomputes bucket ids, and re-bucketing on the
    wrong columns would strand every row where later merges and
    ``point_read`` cannot find it."""
    _check_store_for_path(path, store)
    manifest, tag = store.load(path)
    if manifest is None or not manifest["buckets"]:
        return
    n_buckets = manifest["n_buckets"]

    if only_expired:
        if tombstone_horizon is None:
            raise ValueError("only_expired requires a tombstone_horizon")
        targets = expired_tombstone_buckets(manifest, tombstone_horizon)
        if not targets:
            return
        paths = _bucket_paths(path, manifest, targets)
        state = _read_bucket_files(spark, path, manifest, paths).drop("__ver")
    else:
        # read through the SAME store whose tag this compaction will
        # commit with: the default-store fallback would read a stale
        # (or absent) local mirror while committing against the fresh
        # HTTP tag — publishing a rewrite that silently drops rows
        # newer commits added
        state = read_state(spark, path, store=store)
        if state is None:
            return
        targets = None

    state = last_write_wins(state, pk_cols=pk_cols)
    if tombstone_horizon is not None:
        # only DELETE rows expire: a null op compares null, and must
        # keep its row as the incremental mode does
        state = state.filter(
            F.coalesce(F.col("op") != "DELETE", F.lit(True))
            | (F.col("writetime") >= tombstone_horizon)
        )
    if targets is None:
        state = state.withColumn(
            "__bucket", _bucket_expr(bucket_cols or pk_cols, n_buckets)
        )
        state = _by_bucket(state, n_buckets)
    else:
        # already carries __bucket from the partitioned read
        state = _by_bucket(state, len(targets))
    version = manifest["version"] + 1
    old_dirs = _live_dirs(manifest)
    dirname = f"__ver={version}-{uuid.uuid4().hex[:8]}"
    out_dir = os.path.join(path, dirname)
    try:
        staged = _write_bucket_split(state, out_dir)
    except Exception:
        # same prune-under-reader race as merge_into: a concurrent merge
        # commit may delete the version dirs this compaction was reading
        _conflict_if_moved(store, path, manifest, out_dir=out_dir)
        raise

    stats = _commit_stats(staged)
    if targets is None:
        buckets = {b: version for b in stats}
        new_manifest = {
            "version": version,
            "n_buckets": n_buckets,
            "buckets": buckets,
            "stats": stats,
            "dirs": {str(version): dirname},
        }
        # the store's identity survives a full rewrite: routing columns,
        # read semantics, recorded schema (a compaction never narrows)
        for key in ("bucket_cols", "kind", "schema"):
            if key in manifest:
                new_manifest[key] = manifest[key]
        # a full rewrite reads EVERY live bucket, so its schema is the
        # true table schema — this is also how a LEGACY store (no
        # recorded schema; merge_into must not record from partial
        # coverage) upgrades to zero-footer-IO scan planning
        from pyspark.sql import types as T

        _record_schema(
            new_manifest,
            T.StructType(
                [
                    f
                    for f in state.schema.fields
                    if f.name not in ("__bucket", "__active")
                ]
            ),
        )
    else:
        # a target whose every row was an expired tombstone is gone
        new_manifest = manifest
        _adopt_buckets(new_manifest, version, dirname, targets, stats)
    try:
        store.commit(path, new_manifest, tag)
    except CommitConflict:
        _dl()._io_rmtree(out_dir)
        raise
    _prune_superseded(path, old_dirs, _live_dirs(new_manifest))


def point_read(
    spark: SparkSession,
    path: str,
    pk_cols: list[str],
    keys,
    bucket_cols: list[str] | None = None,
    store: ManifestStore | None = None,
) -> DataFrame | None:
    """Key lookup that touches ONLY the routed buckets — the store-side
    analogue of the reference's per-key ``LIMIT 1`` point read (SURVEY
    O2: CassandraSource.java single-row query): the requested keys hash
    to their buckets with the same expression `merge_into` bucketed on,
    every other bucket directory is never listed or read.

    ``keys``: a DataFrame carrying the key columns, or a list of tuples
    (scalars for a single-column key). Returns current state rows for
    those keys — op='DELETE' rows included, so a caller distinguishes
    'deleted' from 'never existed' exactly like the reference's
    tombstone-vs-miss contract; wrap in :func:`active_view` for live
    rows only. IO: #distinct-routed-buckets directories, one broadcast
    semi-join, nothing row-sized on the driver."""
    from pyspark.sql import types as T

    _check_store_for_path(path, store)
    manifest = (store or _DEFAULT_STORE).load(path)[0]
    if manifest is None or not manifest["buckets"]:
        return None
    n_buckets = manifest["n_buckets"]
    bucket_cols = bucket_cols or pk_cols
    # table schema: the recorded one, or (legacy store) one live
    # bucket's footer — never a full-store listing
    one = _bucket_paths(path, manifest)[:1]
    schema = (
        _read_bucket_files(spark, path, manifest, one)
        .drop("__ver", "__bucket")
        .schema
    )
    rows = (
        None
        if isinstance(keys, DataFrame)
        else [k if isinstance(k, tuple) else (k,) for k in keys]
    )  # materialized ONCE — keys may be a generator
    if rows is None:
        kdf = keys
    else:
        kdf = spark.createDataFrame(
            rows, schema=T.StructType([schema[c] for c in pk_cols])
        )
    # align key dtypes to the table's — the bucket hash is type-sensitive
    kdf = kdf.select(
        *[F.col(c).cast(schema[c].dataType).alias(c) for c in pk_cols]
    )

    def _routed_via_jvm():
        return sorted(
            r["__b"]
            for r in kdf.select(
                _bucket_expr(bucket_cols, n_buckets).alias("__b")
            )
            .distinct()
            .collect()
        )

    if rows is not None:
        # literal keys route DRIVER-SIDE with the same bit-exact xxhash64
        # port the cdc_store scan's pushFilters uses — ONE routing code
        # path for both surfaces (pinned against each other in
        # tests/test_store_source.py), and zero Spark jobs before the
        # actual read. Values are coerced like the kdf cast above (the
        # hash is type-sensitive); anything the Python port can't map —
        # or a value the cast would have nulled — falls back to the JVM.
        from cdc_apache_cassandra_spark.functions.xxhash64_py import (
            spark_bucket,
        )

        types = [schema[c].dataType for c in bucket_cols]
        idx = [pk_cols.index(c) for c in bucket_cols]
        try:
            routed = sorted(
                {
                    spark_bucket(
                        [_py_cast(row[i], types[j]) for j, i in enumerate(idx)],
                        types,
                        n_buckets,
                    )
                    for row in rows
                }
            )
        except (TypeError, ValueError):
            routed = _routed_via_jvm()
    else:
        routed = _routed_via_jvm()
    paths = _bucket_paths(path, manifest, routed)
    if not paths:
        return spark.createDataFrame([], schema=schema)
    df = _read_bucket_files(spark, path, manifest, paths).drop("__ver", "__bucket")
    return df.join(F.broadcast(kdf), on=pk_cols, how="left_semi")


def export_snapshot(
    spark: SparkSession,
    path: str,
    out_path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Lakehouse-interop seam (r3 verdict item 7): publish the CURRENT
    active view (tombstones applied — deletes are gone, exactly Delta's
    ``whenMatchedDelete`` result) as a plain parquet table any external
    reader (DuckDB, Trino, Hive, pandas) consumes directly — the bucket
    store's ``__ver=/__bucket=`` layout and manifest pointer never leak.

    One distributed read of the live buckets + one write; no driver data
    path. For incremental external feeds, export after :func:`compact`
    or on a schedule — the snapshot is self-consistent because it reads
    through one manifest version."""
    state = read_state(spark, path)
    if state is None:
        raise FileNotFoundError(f"no materialized state at {path}")
    df = active_view(state)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_path)


def delta_available(spark: SparkSession) -> bool:
    """True when the delta-spark package (JVM + Python) is importable —
    probed through Spark's classloader chain (sees --packages jars)."""
    try:
        import delta  # noqa: F401

        spark._jvm.org.apache.spark.util.Utils.classForName(
            "org.apache.spark.sql.delta.DeltaLog", True, False
        )
        return True
    except Exception:
        return False


def export_delta(spark: SparkSession, path: str, out_path: str) -> None:
    """Write the active view as a Delta table THROUGH delta-spark
    (full-snapshot overwrite — self-consistent at one manifest version).
    Activates only on clusters carrying the jar (:func:`delta_available`,
    same capability-gate pattern as the spark-avro wire codec).

    The jar-free production path is ``streaming/delta_log.py``: it
    writes the public Delta transaction log directly and exports
    INCREMENTALLY (remove+add of only the buckets each store commit
    touched), which is what the `cdc_delta_export_state` gate entry
    runs. Keep this delta-spark variant where a cluster already
    standardizes on it (e.g. to follow with ``MERGE``/``OPTIMIZE``)."""
    if not delta_available(spark):
        raise ModuleNotFoundError(
            "delta-spark is not on this cluster; use export_snapshot() "
            "(plain parquet) or add the delta-spark package"
        )
    state = read_state(spark, path)
    if state is None:
        raise FileNotFoundError(f"no materialized state at {path}")
    active_view(state).write.format("delta").mode("overwrite").save(out_path)


def import_state(
    spark: SparkSession,
    table: DataFrame,
    path: str,
    pk_cols: list[str],
    writetime: int = -1,
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Reverse seam: bootstrap a bucket store from an external table —
    each row becomes a synthetic INSERT at ``writetime`` (default -1,
    the backfill convention: any live event outranks it). One
    :func:`merge_into` commit; later CDC merges converge on top."""
    _dl()._io_mkdirs(path)
    batch = (
        table.withColumn("op", F.lit("INSERT"))
        .withColumn("writetime", F.lit(writetime).cast("long"))
        .withColumn("segment", F.lit(-1).cast("long"))
        .withColumn("position", F.lit(-1).cast("long"))
    )
    merge_into(spark, path, batch, pk_cols, n_buckets=n_buckets)


def foreach_batch_upsert(
    path: str,
    pk_cols: list[str],
    n_buckets: int = DEFAULT_BUCKETS,
    bucket_cols: list[str] | None = None,
    reducer=None,
    delta_path: str | None = None,
    delta_active_view_fn=None,
    kind: str | None = None,
    store: ManifestStore = _DEFAULT_STORE,
    reducer_bucketed: bool = False,
):
    """foreachBatch hook: incremental bucket MERGE per micro-batch.

    Atomic per micro-batch because foreachBatch serializes batches and the
    manifest swap is the single commit point; retried batches are
    idempotent (the merge is deterministic and the reducer absorbs
    replays — at-least-once safe).

    ``delta_path`` additionally publishes each committed merge as one
    Delta-log commit (``streaming/delta_log.py``): remove+add of only
    the buckets the batch touched, so external engines tail the stream's
    output as an ordinary incremental Delta feed. Idempotence under
    at-least-once foreachBatch uses the protocol's ``txn`` device
    (appId = this store's path, version = batch_id — the same
    txnAppId/txnVersion contract delta-spark prescribes): a replayed
    batch's export is skipped before any IO. One bounded caveat: if the
    stream crashes between the STORE commit and the export, the replay
    re-merges (bumping store versions) and skips its own export, so the
    next live batch's export re-publishes those buckets once — identical
    content, flagged dataChange, exactly the at-least-once surface a
    Delta MERGE writer has after a crash."""

    # the txn appId must be a STABLE identity for this store across
    # restarts: abspath canonicalizes local relative paths; URI roots
    # are already canonical (abspath would mangle the scheme)
    app_path = path if "://" in path else os.path.abspath(path)

    def apply(batch: DataFrame, batch_id: int) -> None:
        # merge_into runs TWO actions on the batch (touched-bucket
        # aggregation + staging write); inside foreachBatch each action
        # RE-EXECUTES the micro-batch plan — source read AND any stateful
        # operator upstream (dedup state re-loaded and re-processed per
        # action). Persist for the commit's duration so the micro-batch
        # computes once (guide §5 cache-when-reused; measured ~35% off
        # the compound streaming drain). Released in finally: the store
        # files, not this cache, are the commit's durable output. The
        # scoped ledger is the crash-path backstop, as in delta_export.
        from cdc_apache_cassandra_spark.caching import (
            persist_scoped,
            release_one,
        )

        batch = persist_scoped(batch)
        try:
            merge_into(
                batch.sparkSession,
                path,
                batch,
                pk_cols,
                n_buckets,
                bucket_cols=bucket_cols,
                reducer=reducer,
                kind=kind,
                store=store,
                reducer_bucketed=reducer_bucketed,
            )
        finally:
            release_one(batch)
        if delta_path is not None:
            from cdc_apache_cassandra_spark.streaming.delta_log import (
                delta_export,
            )

            # One bounded retry on a commit race: the loser re-replays
            # the log and re-diffs — if the competing exporter published
            # this store state already, the retry is a no-op (txn memo /
            # identical diff); a second conflict propagates and fails the
            # batch, which Structured Streaming replays idempotently.
            try:
                delta_export(
                    batch.sparkSession,
                    path,
                    delta_path,
                    txn_app=f"materialize::{app_path}",
                    txn_version=batch_id,
                    active_view_fn=delta_active_view_fn,
                    manifest_store=store,
                )
            except CommitConflict:
                delta_export(
                    batch.sparkSession,
                    path,
                    delta_path,
                    txn_app=f"materialize::{app_path}",
                    txn_version=batch_id,
                    active_view_fn=delta_active_view_fn,
                    manifest_store=store,
                )

    return apply


def materialize_stream(
    events: DataFrame,
    path: str,
    checkpoint: str,
    pk_cols: list[str],
    n_buckets: int = DEFAULT_BUCKETS,
    bucket_cols: list[str] | None = None,
    reducer=None,
    delta_path: str | None = None,
    delta_active_view_fn=None,
    kind: str | None = None,
    store: ManifestStore = _DEFAULT_STORE,
    reducer_bucketed: bool = False,
):
    """Wire a mutation-event stream into the materialized table.
    Compound tables pass ``bucket_cols=[partition_key]`` and
    ``reducer=operators.lww.compound_reduce`` for partition-range
    tombstone semantics. ``delta_path`` mirrors every commit into a
    native Delta log (see :func:`foreach_batch_upsert`). ``store``
    routes the manifest CAS — a stream can materialize straight into a
    remote (URI) table root with an HTTP store, the same shape the
    batch lifecycle gate runs."""
    _dl()._io_mkdirs(path)
    return (
        events.writeStream.foreachBatch(
            foreach_batch_upsert(
                path, pk_cols, n_buckets, bucket_cols, reducer,
                delta_path=delta_path,
                delta_active_view_fn=delta_active_view_fn,
                kind=kind,
                store=store,
                reducer_bucketed=reducer_bucketed,
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
