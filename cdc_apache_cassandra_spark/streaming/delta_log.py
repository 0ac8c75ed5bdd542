"""Native Delta Lake transaction-log export of the bucket store — no
delta-spark jar required.

Implements the PUBLIC Delta table protocol (delta.io PROTOCOL.md; the
format Spark+delta-spark, delta-rs, DuckDB's ``delta`` extension, and
Trino all read): a table directory holding parquet data files plus a
``_delta_log/`` of zero-padded numbered JSON commits whose actions
(``protocol``, ``metaData``, ``add``, ``remove``, ``txn``) replay in
version order to the current file set. Emitted tables use
minReaderVersion=1 / minWriterVersion=2 — plain adds/removes, no
deletion vectors or column mapping: the maximally-portable profile.

Mapping onto the bucket store (``streaming/materialize.py``) is 1:1:

  store bucket   -> one parquet data file ``data/b<bucket>-v<ver>.parquet``
                    holding the bucket's LIVE rows (tombstones filtered —
                    Delta's ``whenMatchedDelete`` result)
  store commit   -> one Delta commit: ``remove`` of each changed bucket's
                    previous file + ``add`` of its rewrite, tagged with
                    the bucket id and store version so the next export
                    diffs MANIFESTS, never data
  CAS manifest   -> the log's optimistic-concurrency rule: a commit file
                    must be PUBLISHED atomically and only if absent.
                    Locally that is write-temp + ``os.link`` (atomic,
                    fails on an existing target); object stores use a
                    conditional PUT (``If-None-Match: *``) — the same
                    seam :class:`ManifestStore` rides.

Export IO is ∝ changed buckets: the exporter reads only buckets whose
store version moved since the last export and rewrites only their data
files; unchanged buckets keep their already-published files, and a
no-change export writes nothing at all (all-tombstone buckets are
remembered in commitInfo so they cannot re-trigger work). At 100 TB
with 4096 buckets an hourly export rewrites only what CDC touched in
that hour — the log IS the incremental feed external engines tail.

Streaming idempotence uses the protocol's own device: a ``txn`` action
``{appId, version}`` per exporting micro-batch. A replayed foreachBatch
invocation (same appId+batch id) is skipped before any IO — the
mechanism delta-spark itself prescribes for idempotent ``foreachBatch``
writes (``txnAppId``/``txnVersion``).

Reference parity: the DataStax connector leaves table materialization to
downstream Pulsar sinks (ES / another Cassandra); SURVEY §7.4 maps that
leg onto ``foreachBatch`` MERGE through the bucket store. This module is
the interop half the r3 verdict flagged ("nothing interops with external
readers"): the merged, tombstone-applied state published in a format the
rest of the lakehouse already speaks, kept current incrementally.
"""

from __future__ import annotations

import functools
import json
from typing import NamedTuple
import os
import shutil
import time
import uuid

import pandas as pd  # type hints of the DV-filter pandas UDF resolve here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_apache_cassandra_spark.streaming.materialize import (
    CommitConflict,
    _bucket_paths,
    _by_bucket,
    _read_bucket_files,
    _read_manifest,
    _stored_schema,
    version_dir,
)

LOG_DIR = "_delta_log"
DATA_DIR = "data"
#: change-data files of a CDF-writing export (delta-spark's own layout)
CDC_DIR = "_change_data"
#: table-configuration key persisting the CDF classification's pk cols
#: (engine-namespaced custom key — Delta configurations carry arbitrary
#: keys; spec readers ignore unknown ones)
_CDF_PK_KEY = "cdcEngine.changeDataFeed.pkCols"
PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
LAST_CHECKPOINT = "_last_checkpoint"
#: delta-spark's own default cadence — a parquet checkpoint every 10
#: commits, so external readers replay O(10) JSON files, not the whole
#: history, and old JSON can be cleaned (:func:`delta_log_cleanup`)
CHECKPOINT_INTERVAL = 10
#: default VACUUM retention — protects data files an in-flight export
#: has staged into ``data/`` but not yet committed (Delta's own VACUUM
#: keeps a retention window for the same reason)
VACUUM_RETAIN_MS = 24 * 3600 * 1000


def _commit_path(out_path: str, version: int) -> str:
    return os.path.join(out_path, LOG_DIR, f"{version:020d}.json")


# ---------------------------------------------------------------------------
# Driver-side IO seam: local paths take the plain-POSIX fast path; URI
# table roots (file://, s3://, gs://, hdfs://) resolve through
# pyarrow.fs, so a table's LOG replays from — and, since r7, its DATA
# plane STAGES AND PUBLISHES into — an object store with no extra
# Python dependency (pyarrow ships S3/GCS/Hadoop filesystems). Spark's
# distributed scans/writes of the data files use the cluster's Hadoop
# filesystem for the same scheme (hadoop-aws/S3A etc., standard on
# managed Spark); file:// is handled natively end to end and is what
# the tests exercise (treated as remote: every driver byte through
# these helpers, asserted by a monkeypatched os-audit test). Only two
# primitives are scheme-constrained: create-only commit publication
# (POSIX link locally; conditional PUT via set_log_commit_store
# remotely) and the manifest CAS (ManifestStore implementations).
# ---------------------------------------------------------------------------


def _fs(path: str):
    """(filesystem | None, path-in-that-filesystem). None = plain POSIX.
    The filesystem client is cached per scheme+authority (ONE
    ``from_uri`` — and one credential/region resolution on S3 — per
    table root, however many files the log holds); the file's
    in-filesystem path is derived by appending the URI path to the
    authority root's."""
    if "://" not in path:
        return None, path
    import urllib.parse

    parts = urllib.parse.urlsplit(path)
    fs, root = _fs_cached(f"{parts.scheme}://{parts.netloc}/")
    # root = the authority root's in-fs path ("/" locally, "bucket/" on
    # S3); rstrip so the join never doubles the separator
    return fs, root.rstrip("/") + parts.path


@functools.lru_cache(maxsize=64)
def _fs_cached(authority_uri: str):
    import pyarrow.fs as pafs

    return pafs.FileSystem.from_uri(authority_uri)


def _local_root(path: str) -> str:
    """A POSIX-addressable form of ``path`` for primitives that only
    exist locally (``os.link`` create-only publication): plain paths
    pass through, file:// URIs strip to their local path, anything else
    is refused — commits against genuinely remote roots go through the
    conditional-PUT seam (:func:`set_log_commit_store`). The DATA plane
    (staging, renames, stats, vacuum) is scheme-agnostic via the
    ``_io_*`` helpers and needs no local root."""
    if "://" not in path:
        return path
    if path.startswith("file://"):
        return _fs(path)[1]
    # refused by SCHEME, before any remote filesystem is instantiated
    # (an S3 client construction may touch credentials/network)
    raise NotImplementedError(
        f"{path}: create-only commit publication on this scheme needs a "
        "conditional-PUT store (set_log_commit_store / HttpLogCommitStore)"
    )


def _io_listdir(dir_path: str) -> list[str]:
    """Base names in a directory; [] when it doesn't exist."""
    fs, p = _fs(dir_path)
    if fs is None:
        try:
            return os.listdir(p)
        except FileNotFoundError:
            return []
    import pyarrow.fs as pafs

    try:
        infos = fs.get_file_info(pafs.FileSelector(p, recursive=False))
    except FileNotFoundError:
        return []
    return [i.base_name for i in infos]


def _io_exists(path: str) -> bool:
    fs, p = _fs(path)
    if fs is None:
        return os.path.exists(p)
    import pyarrow.fs as pafs

    return fs.get_file_info(p).type != pafs.FileType.NotFound


def _io_read_bytes(path: str) -> bytes:
    """Raises FileNotFoundError uniformly when absent."""
    fs, p = _fs(path)
    if fs is None:
        with open(p, "rb") as f:
            return f.read()
    import pyarrow as pa

    try:
        with fs.open_input_stream(p) as f:
            return f.read()
    except FileNotFoundError:
        raise FileNotFoundError(p)
    except pa.lib.ArrowIOError as e:
        # pyarrow surfaces missing keys as OSError with filesystem-specific
        # wording ('No such file' locally, 'Path does not exist' /
        # NO_SUCH_KEY on S3/GCS) — probe existence instead of matching text
        import pyarrow.fs as pafs

        try:
            missing = fs.get_file_info(p).type == pafs.FileType.NotFound
        except Exception:
            missing = False  # probe failed — surface the original error
        if missing:
            raise FileNotFoundError(p) from e
        raise


def _io_read_parquet(path: str):
    import pyarrow.parquet as pq

    fs, p = _fs(path)
    return pq.read_table(p, filesystem=fs) if fs is not None else pq.read_table(p)


def _io_mkdirs(path: str) -> None:
    fs, p = _fs(path)
    if fs is None:
        os.makedirs(p, exist_ok=True)
    else:
        fs.create_dir(p, recursive=True)  # no-op on flat object stores


def _io_write_bytes(path: str, data: bytes) -> None:
    """Plain (non-atomic, non-conditional) write — staging/tmp files
    only; anything commit-like goes through the LogCommitStore or a
    tmp-write + :func:`_io_move`. The local branch fsyncs: these tmp
    files become pointers via rename, and rename-without-fsync can
    surface a zero-length file after power loss (ext4 delayed
    allocation)."""
    fs, p = _fs(path)
    if fs is None:
        with open(p, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
    else:
        with fs.open_output_stream(p) as f:
            f.write(data)


def _io_move(src: str, dst: str) -> None:
    """Rename within ONE filesystem (atomic on POSIX/HDFS; copy+delete
    on object stores, where the final PUT is itself atomic per key —
    a reader never observes a torn object)."""
    sfs, sp = _fs(src)
    dfs, dp = _fs(dst)
    if sfs is None and dfs is None:
        os.replace(sp, dp)
    elif sfs is not None and dfs is not None:
        sfs.move(sp, dp)
    else:
        raise ValueError(f"cross-filesystem move {src!r} -> {dst!r}")


def _io_link_or_copy(src: str, dst: str) -> None:
    """Publish an immutable source file under a SECOND name without
    moving it: hard link where the filesystem supports it (same-device
    POSIX — metadata-only, zero data bytes), else copy. Safe because
    data files here are immutable and each side only ever UNLINKS its
    own name (store prune / table vacuum never touch the shared
    content). Used by delta_export to adopt a bucket store's active
    file as the table's data file (one distributed write per commit
    instead of two)."""
    sfs, sp = _fs(src)
    dfs, dp = _fs(dst)
    if sfs is None and dfs is None:
        if os.path.exists(dp):
            os.remove(dp)
        try:
            os.link(sp, dp)
        except OSError:  # cross-device / linkless fs: fall back to copy
            import shutil

            shutil.copyfile(sp, dp)
        return
    if sfs is not None and dfs is not None:
        # same-scheme seam (store and table share the filesystem in
        # every deployment shape here); object stores copy server-side
        sfs.copy_file(sp, dp)
        return
    _io_write_bytes(dst, _io_read_bytes(src))


def _io_delete(path: str) -> None:
    fs, p = _fs(path)
    if fs is None:
        os.unlink(p)
    else:
        fs.delete_file(p)


def _io_rmtree(path: str) -> None:
    """Best-effort recursive delete (missing tree is fine) — staging
    cleanup, superseded version dirs."""
    fs, p = _fs(path)
    if fs is None:
        shutil.rmtree(p, ignore_errors=True)
        return
    try:
        fs.delete_dir(p)
    except (FileNotFoundError, OSError):
        pass


def _io_size(path: str) -> int:
    fs, p = _fs(path)
    if fs is None:
        return os.path.getsize(p)
    return fs.get_file_info(p).size


def footer_leaf_index(md, col: str) -> int | None:
    """Parquet leaf index of the TOP-LEVEL column ``col`` in a file's
    footer metadata, or None. Matches on the full dotted ``path`` — a
    NESTED leaf that shares the column's bare name (e.g.
    ``payload.writetime`` vs ``writetime``) must never be mistaken for
    it: its stats describe different data, and pruning on them silently
    drops matching rows. Shared by every footer-stats pruning surface
    (cdc_store scan, change-feed range splits)."""
    for i in range(md.num_columns):
        if md.schema.column(i).path == col:
            return i
    return None


def _io_file_infos(dir_path: str) -> list[tuple[str, int, float]]:
    """(base_name, size, mtime_epoch_seconds) for the FILES directly in
    a directory; [] when it doesn't exist. Vacuum/GC metadata."""
    fs, p = _fs(dir_path)
    out = []
    if fs is None:
        try:
            names = os.listdir(p)
        except FileNotFoundError:
            return []
        for n in names:
            full = os.path.join(p, n)
            if os.path.isfile(full):
                st = os.stat(full)
                out.append((n, st.st_size, st.st_mtime))
        return out
    import pyarrow.fs as pafs

    try:
        infos = fs.get_file_info(pafs.FileSelector(p, recursive=False))
    except FileNotFoundError:
        return []
    for i in infos:
        if i.type == pafs.FileType.File:
            # a store that reports no mtime must read as FRESH, never
            # ancient: age-gated deleters (vacuum, orphan GC) otherwise
            # reap files an in-flight export staged seconds ago
            mtime = i.mtime.timestamp() if i.mtime is not None else time.time()
            out.append((i.base_name, i.size, mtime))
    return out


def _io_parquet_file(path: str):
    """pq.ParquetFile resolved through the URI seam (footer-only reads:
    stats, row counts)."""
    import pyarrow.parquet as pq

    fs, p = _fs(path)
    if fs is None:
        return pq.ParquetFile(p)
    return pq.ParquetFile(fs.open_input_file(p))


def _now_ms() -> int:
    return int(time.time() * 1000)


class _LogState:
    """Replayed log state: the file set, newest matching protocol +
    metaData, txn watermarks, and this exporter's empty-bucket memo
    (from commitInfo)."""

    def __init__(self):
        self.last = -1
        self.files: dict[str, dict] = {}
        self.meta: dict | None = None
        self.proto: dict | None = None
        self.txns: dict[str, int] = {}
        self.empty_buckets: dict[int, int] = {}
        #: the LAST replayed commit's commitInfo.inCommitTimestamp
        #: (None when it carried none or state came straight from a
        #: checkpoint) — lets the ICT writer skip re-reading the file
        #: it just replayed
        self.last_ict: int | None = None

    def has_reader_feature(self, feature: str) -> bool:
        """True when the replayed protocol declares ``feature`` (or no
        protocol action survived — conservatively assume anything a
        checkpointed foreign log might carry). NOT used to gate the
        per-file DV diff keys — those stay per-add (a spec-sloppy
        writer can attach a DV without declaring the feature, and its
        deletes must still be seen); delta_export's in-place protocol
        upgrade is the consumer."""
        if self.proto is None:
            return True
        return feature in (self.proto.get("readerFeatures") or [])


def _read_last_checkpoint(out_path: str) -> dict | None:
    """Parse ``_delta_log/_last_checkpoint`` — the spec's pointer file
    ``{"version": V, "size": n, ...}`` (extra fields tolerated; this
    writer stashes its empty-bucket memo there). A TORN pointer (crash
    between rename and fsync on filesystems with delayed allocation)
    falls back to scanning the log dir for the newest complete
    single-part checkpoint — delta-spark tolerates a corrupt pointer
    the same way — and to pure-JSON replay when none exists."""
    log_dir = os.path.join(out_path, LOG_DIR)
    try:
        return json.loads(_log_read_bytes(os.path.join(log_dir, LAST_CHECKPOINT)))
    except FileNotFoundError:
        return None
    except (json.JSONDecodeError, UnicodeDecodeError):
        return _newest_complete_checkpoint(_log_listdir(log_dir))


def _newest_complete_checkpoint(names: list[str]) -> dict | None:
    """Reconstruct a ``_last_checkpoint`` pointer from log dir names —
    the torn-pointer fallback. Recognizes ALL spec layouts: single-part
    ``{v}.checkpoint.parquet``, a foreign writer's multi-part
    ``{v}.checkpoint.{i}.{n}.parquet`` (complete sets only — all n parts
    present; a half-copied set must not be chosen over an older complete
    one, since JSON commits before the newest checkpoint may already be
    cleaned), and UUID-named V2 checkpoints
    ``{v}.checkpoint.{uuid}.{json|parquet}`` (each self-contained).
    Returns ``{"version": v}`` or ``{"version": v, "parts": n}``
    for the newest complete checkpoint, None when there is none."""
    single: set[int] = set()
    multi: dict[tuple[int, int], set[int]] = {}
    suffix = ".checkpoint.parquet"
    for n in names:
        if not n.endswith(".parquet"):
            continue
        if n.endswith(suffix) and n[: -len(suffix)].isdigit():
            single.add(int(n[: -len(suffix)]))
            continue
        stem = n[: -len(".parquet")]
        parts = stem.split(".checkpoint.")
        if len(parts) == 2:
            ver, rest = parts
            bits = rest.split(".")
            if ver.isdigit() and len(bits) == 2 and all(b.isdigit() for b in bits):
                multi.setdefault((int(ver), int(bits[1])), set()).add(int(bits[0]))
    # UUID-named V2: a bare {"version": v} pointer resolves through
    # _checkpoint_files' V2 fallback when the classic file is absent
    for n in names:
        head = n.split(".checkpoint.", 1)[0]
        if head.isdigit() and _v2_uuid_names([n], int(head)):
            single.add(int(head))
    candidates: list[dict] = [{"version": v} for v in single]
    candidates += [
        {"version": v, "parts": n}
        for (v, n), have in multi.items()
        if n > 0 and have == set(range(1, n + 1))
    ]
    if not candidates:
        return None
    # newest version wins; at a tie prefer the single-part form
    return max(candidates, key=lambda c: (c["version"], "parts" not in c))


def _v2_uuid_names(names: list[str], version: int) -> list[str]:
    """UUID-named V2 checkpoint files for ``version`` among log dir
    ``names`` — the spec's ``{v}.checkpoint.{uniqueStr}.{json|parquet}``
    form. One dot-free middle segment distinguishes it from the
    multi-part ``{v}.checkpoint.{i}.{n}.parquet`` layout (two numeric
    segments); an all-digit uniqueStr is possible in principle but a
    single numeric segment cannot be a complete multi-part set, so it
    still resolves here. Sorted for deterministic choice when a writer
    left several self-contained V2 checkpoints of the same version."""
    prefix = f"{version:020d}.checkpoint."
    out = []
    for n in names:
        if not n.startswith(prefix):
            continue
        rest = n[len(prefix):]
        for ext in (".parquet", ".json"):
            if rest.endswith(ext):
                mid = rest[: -len(ext)]
                if mid and "." not in mid:
                    out.append(n)
                break
    return sorted(out)


def _checkpoint_files(out_path: str, last_cp: dict) -> list[str]:
    """Resolve the checkpoint pointer to its file(s) — classic
    single-part ``{v}.checkpoint.parquet``, multi-part
    ``{v}.checkpoint.{i}.{n}.parquet`` (both spec formats delta-spark
    writes by default), or a UUID-named V2 checkpoint
    ``{v}.checkpoint.{uuid}.{json|parquet}`` (table feature
    ``v2Checkpoint`` — each is SELF-CONTAINED, so exactly one is
    chosen; its sidecars resolve during the load)."""
    log_dir = os.path.join(out_path, LOG_DIR)
    v = int(last_cp["version"])
    parts = last_cp.get("parts")
    if parts:
        files = [
            os.path.join(
                log_dir,
                f"{v:020d}.checkpoint.{i:010d}.{int(parts):010d}.parquet",
            )
            for i in range(1, int(parts) + 1)
        ]
    else:
        files = [os.path.join(log_dir, f"{v:020d}.checkpoint.parquet")]
    missing = [p for p in files if not _log_exists(p)]
    if missing:
        v2 = _v2_uuid_names(_log_listdir(log_dir), v)
        if v2:
            # prefer parquet over json at a tie (cheaper structured read)
            chosen = min(
                v2, key=lambda n: (not n.endswith(".parquet"), n)
            )
            return [os.path.join(log_dir, chosen)]
        raise FileNotFoundError(
            f"{out_path}: _last_checkpoint points at version {v} but "
            f"{missing[0]} is absent; incomplete copy?"
        )
    return files


def _list_commits(
    out_path: str, after: int = -1
) -> list[tuple[int, str]]:
    """Numbered JSON commits with version > ``after``, version order.
    Commits ≤ ``after`` are covered by a checkpoint and may legitimately
    have been cleaned; the surviving tail must be contiguous from
    ``after``+1 or the replay would silently drop files — refuse loudly
    on a gap."""
    log_dir = os.path.join(out_path, LOG_DIR)
    names = _log_listdir(log_dir)
    commits = sorted(
        (int(n[: -len(".json")]), os.path.join(log_dir, n))
        for n in names
        if n.endswith(".json") and n[: -len(".json")].isdigit()
    )
    commits = [(v, p) for v, p in commits if v > after]
    for i, (v, _) in enumerate(commits):
        if v != after + 1 + i:
            raise FileNotFoundError(
                f"delta log at {out_path} is not contiguous from {after + 1} "
                f"(found version {v} at position {i}); incomplete copy?"
            )
    return commits


#: reader features this module implements (deletion vectors, column
#: mapping in name AND id mode, V2 checkpoints, timestampNtz) or that
#: are SPEC-SAFE to ignore on read: vacuumProtocolCheck only obligates
#: VACUUM *writers* to re-check the protocol — snapshot/CDF reads are
#: unaffected, and modern delta-spark stamps it routinely (refusing it
#: narrowed the import funnel for no correctness gain). rowTracking
#: and domainMetadata are writer features (never in readerFeatures);
#: their artifacts — domainMetadata actions, baseRowId /
#: defaultRowCommitVersion on adds — are tolerated by replay
#: (test_row_tracking_table_reads). typeWidening (stable + the 3.x
#: "-preview" spelling): a widened table's OLD files carry the
#: pre-widening physical type and the reader's obligation is exactly
#: an upcast to the current schema — the JVM scan does this natively
#: (Spark 4.x parquet readers promote int→long, float→double,
#: decimal precision/scale growth, date→timestampNtz), and every
#: pyarrow surface ends in a cast to the logical schema
#: (test_type_widened_table_reads pins both paths). Genuinely
#: semantic reader features (variantType, coordinated commits) still
#: refuse loudly: misreading them is silent wrong data.
_SUPPORTED_READER_FEATURES = {
    "timestampNtz",
    "deletionVectors",
    "columnMapping",
    "v2Checkpoint",
    "vacuumProtocolCheck",
    "typeWidening",
    "typeWidening-preview",
}


def _check_protocol(proto: dict, out_path: str) -> None:
    """Refuse reader requirements this module does not implement —
    loudly, never a silent misread. Implemented: base protocol
    (version 1), column mapping (version 2 legacy, or the
    ``columnMapping`` reader feature — NAME mode only, enforced where
    the metaData is interpreted), deletion vectors (the
    ``deletionVectors`` feature), and V2 checkpoints (UUID-named or
    compat-named, JSON or parquet top-level, parquet sidecars — the
    ``v2Checkpoint`` feature). Every other feature still raises."""
    min_reader = int(proto.get("minReaderVersion", 1))
    features = set(proto.get("readerFeatures") or [])
    if min_reader > 3 or (min_reader == 3 and not features):
        raise NotImplementedError(
            f"{out_path}: table requires minReaderVersion={min_reader}; "
            "read it with a full Delta client."
        )
    unsupported = features - _SUPPORTED_READER_FEATURES
    if unsupported:
        raise NotImplementedError(
            f"{out_path}: table requires reader features {sorted(unsupported)}; "
            "read it with a full Delta client."
        )


#: V2 checkpoint sidecar directory (spec: sidecar file paths are
#: relative to ``_delta_log/_sidecars/``)
SIDECAR_DIR = "_sidecars"


def _checkpoint_actions(path: str):
    """One action dict per row/line of a checkpoint file — parquet
    (classic and V2) or JSON (V2 only, one action per line). Parquet
    rows carry every action column with all-but-one null; nulls are
    dropped so both formats yield the same shape."""
    if path.endswith(".json"):
        for line in _log_read_bytes(path).decode().splitlines():
            line = line.strip()
            if line:
                yield json.loads(line)
        return
    tbl = _log_read_parquet(path)
    for row in tbl.to_pylist():
        yield {k: v for k, v in row.items() if v is not None}


def _apply_checkpoint_action(state: "_LogState", action: dict, out_path: str):
    """Fold one checkpoint action into ``state`` (shared by the
    top-level file and V2 sidecars). ``remove`` rows are VACUUM
    tombstones, irrelevant to the current file set."""
    if action.get("protocol"):
        _check_protocol(action["protocol"], out_path)
        state.proto = {
            k: (list(v) if isinstance(v, (list, tuple)) else v)
            for k, v in dict(action["protocol"]).items()
            if v is not None
        }
    if action.get("metaData"):
        meta = dict(action["metaData"])
        fmt = meta.get("format") or {}
        meta["format"] = {
            "provider": fmt.get("provider", "parquet"),
            "options": dict(fmt.get("options") or {}),
        }
        for k in ("partitionColumns",):
            meta[k] = list(meta.get(k) or [])
        for k in ("configuration",):
            meta[k] = dict(meta.get(k) or {})
        state.meta = meta
    if action.get("add"):
        add = dict(action["add"])
        add["partitionValues"] = dict(add.get("partitionValues") or {})
        if add.get("tags") is not None:
            add["tags"] = dict(add["tags"])
        if add.get("deletionVector") is not None:
            add["deletionVector"] = dict(add["deletionVector"])
        # delta-spark side-structs (stats_parsed, partitionValues_parsed)
        # are writer conveniences — drop anything non-spec-required
        add.pop("stats_parsed", None)
        add.pop("partitionValues_parsed", None)
        state.files[add["path"]] = add
    if action.get("txn"):
        t = action["txn"]
        state.txns[t["appId"]] = max(
            int(t["version"]), state.txns.get(t["appId"], -1)
        )


def _load_checkpoint_state(out_path: str, last_cp: dict) -> "_LogState":
    """Reconstruct log state from a checkpoint — the spec's compacted
    snapshot. Classic: one parquet file (or a complete multi-part set),
    one row per action, struct columns ``add`` / ``remove`` /
    ``metaData`` / ``protocol`` / ``txn`` (one non-null each). V2
    (table feature ``v2Checkpoint``): a self-contained top-level file
    (UUID-named or compat-named, parquet or JSON) carrying exactly one
    ``checkpointMetadata`` action and the non-file actions, with file
    actions either inline or in parquet SIDECAR files under
    ``_delta_log/_sidecars/`` referenced by ``sidecar`` actions.
    Driver-side pyarrow reads: checkpoints are metadata-sized (one row
    per live file)."""
    state = _LogState()
    state.last = int(last_cp["version"])
    log_dir = os.path.join(out_path, LOG_DIR)
    sidecars: list[str] = []
    for path in _checkpoint_files(out_path, last_cp):
        for action in _checkpoint_actions(path):
            if action.get("checkpointMetadata"):
                cm_v = int(action["checkpointMetadata"]["version"])
                if cm_v != state.last:
                    raise FileNotFoundError(
                        f"{out_path}: V2 checkpoint file {path} declares "
                        f"version {cm_v} but the pointer names "
                        f"{state.last}; incomplete copy?"
                    )
                continue
            if action.get("sidecar"):
                sidecars.append(action["sidecar"]["path"])
                continue
            _apply_checkpoint_action(state, action, out_path)
    for name in sidecars:
        # spec: sidecar.path is a file name under _delta_log/_sidecars/
        # OR an absolute path/URI — joining an absolute reference under
        # the sidecar dir would mangle it into a nonexistent path
        if "://" in name or name.startswith("/"):
            sp = name
        else:
            sp = os.path.join(log_dir, SIDECAR_DIR, name)
        for action in _checkpoint_actions(sp):
            _apply_checkpoint_action(state, action, out_path)
    empties = last_cp.get("emptyBuckets")
    if empties:
        state.empty_buckets = {int(b): int(v) for b, v in empties.items()}
    return state


def _replay(out_path: str, max_version: int | None = None) -> _LogState:
    """One action-replay loop for every reader in this module — the
    spec's state reconstruction: restore from the newest parquet
    checkpoint when ``_last_checkpoint`` names one, then apply the JSON
    commits after it in version order (last add/remove per path wins,
    newest metaData is the schema). Time travel BEFORE the checkpoint
    falls back to pure-JSON replay from 0 and fails loudly if those
    commits were cleaned."""
    last_cp = _read_last_checkpoint(out_path)
    if last_cp is not None and (
        max_version is None or max_version >= int(last_cp["version"])
    ):
        state = _load_checkpoint_state(out_path, last_cp)
    else:
        state = _LogState()
    for version, path in _list_commits(out_path, after=state.last):
        if max_version is not None and version > max_version:
            break
        # one commit may carry remove(p) AND add(p) for the SAME path —
        # the shape delta-spark writes when it attaches a deletion
        # vector to an existing file. Within a commit the add wins
        # regardless of line order, so removes apply first, adds after.
        adds_in_commit: dict[str, dict] = {}
        commit_ict: int | None = None
        for line in _log_read_bytes(path).decode().splitlines():
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "add" in action:
                adds_in_commit[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                rp = action["remove"]["path"]
                if rp not in adds_in_commit:
                    state.files.pop(rp, None)
            elif "metaData" in action:
                state.meta = action["metaData"]
            elif "txn" in action:
                t = action["txn"]
                state.txns[t["appId"]] = max(
                    t["version"], state.txns.get(t["appId"], -1)
                )
            elif "protocol" in action:
                _check_protocol(action["protocol"], out_path)
                state.proto = action["protocol"]
            elif "commitInfo" in action:
                empties = action["commitInfo"].get("emptyBuckets")
                if empties is not None:
                    state.empty_buckets = {
                        int(b): int(v) for b, v in empties.items()
                    }
                ict = action["commitInfo"].get("inCommitTimestamp")
                if ict is not None:
                    commit_ict = int(ict)
        state.files.update(adds_in_commit)
        state.last = version
        state.last_ict = commit_ict
    if max_version is not None and state.last < max_version:
        raise FileNotFoundError(
            f"delta version {max_version} not found at {out_path} "
            f"(last {state.last})"
        )
    return state


def delta_log_replay(out_path: str) -> tuple[int, dict[str, dict], dict | None]:
    """Public replay: ``(last_version, {path: add_action}, metaData)``;
    ``(-1, {}, None)`` when no log exists."""
    s = _replay(out_path)
    return s.last, s.files, s.meta


def _file_identity(files: dict) -> dict:
    """``{(path, deletion-vector id): (path, add)}`` over a replayed
    file map — the identity every file diff keys on. A delta-spark
    DELETE re-adds the SAME parquet path under a new deletion vector,
    so a path-only diff would see that commit as data-free. The DV id
    is computed only for adds that carry one, and deliberately not
    gated on the protocol's deletionVectors flag: a spec-sloppy foreign
    writer that attaches a DV without declaring the feature still has
    its deletes seen."""
    from cdc_apache_cassandra_spark.streaming.deletion_vectors import (
        dv_unique_id,
    )

    ids = {}
    for p, a in files.items():
        dv = a.get("deletionVector")
        ids[(p, dv_unique_id(dv) if dv else None)] = (p, a)
    return ids


class LocalLogCommitStore:
    """Create-only publication on POSIX: full content to a temp file,
    then ``os.link`` into place — readers never observe a torn commit, a
    crash before the link leaves no log entry at all, and linking onto
    an existing commit fails (the spec's optimistic-concurrency rule).
    file:// roots strip to their local path (the primitive is the same
    filesystem); other schemes are refused — genuinely remote logs
    publish through a conditional-PUT store."""

    def publish(self, path: str, data: bytes) -> None:
        path = _local_root(path)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflict(
                f"delta commit file already exists at {path}: another "
                "exporter published first; replay the log and re-diff"
            )
        finally:
            os.unlink(tmp)


#: the create-only publication seam every numbered commit goes through —
#: ONE primitive, two transports: POSIX link locally, conditional PUT
#: (``If-None-Match: *``, streaming/object_store.HttpLogCommitStore) on
#: an object store. Swap with :func:`set_log_commit_store`.
_LOG_COMMIT_STORE = LocalLogCommitStore()


def set_log_commit_store(store) -> object:
    """Route all Delta commit publication through ``store`` (an object
    with ``publish(path, data) -> None`` raising :class:`CommitConflict`
    when the commit already exists). Returns the previous store so
    callers can restore it."""
    global _LOG_COMMIT_STORE
    prev, _LOG_COMMIT_STORE = _LOG_COMMIT_STORE, store
    return prev


def _log_reads_via_store() -> bool:
    """True when the active commit store is the AUTHORITATIVE log reader
    (``mirror_local=False`` HTTP store): no local/remote files mirror
    the commits, so listing and reading the log must go through the
    store's reader half (``list_dir``/``read_bytes``) — the no-mirror
    deployment shape (VERDICT r6 item 4)."""
    return bool(getattr(_LOG_COMMIT_STORE, "authoritative_reads", False))


def _log_listdir(dir_path: str) -> list[str]:
    if _log_reads_via_store():
        return _LOG_COMMIT_STORE.list_dir(dir_path)
    return _io_listdir(dir_path)


def _log_read_bytes(path: str) -> bytes:
    if _log_reads_via_store():
        return _LOG_COMMIT_STORE.read_bytes(path)
    return _io_read_bytes(path)


def _log_exists(path: str) -> bool:
    if _log_reads_via_store():
        head, base = os.path.split(path)
        return base in _LOG_COMMIT_STORE.list_dir(head)
    return _io_exists(path)


def _log_delete(path: str) -> None:
    if _log_reads_via_store():
        _LOG_COMMIT_STORE.delete(path)
    else:
        _io_delete(path)


def _log_read_parquet(path: str):
    """Checkpoint parquet through the log seam (store-resident bytes
    read via pa.BufferReader — checkpoints are metadata-sized)."""
    if _log_reads_via_store():
        import pyarrow as pa
        import pyarrow.parquet as pq

        return pq.read_table(pa.BufferReader(_LOG_COMMIT_STORE.read_bytes(path)))
    return _io_read_parquet(path)


def _write_commit(out_path: str, version: int, actions: list[dict]) -> None:
    """Publish commit ``version`` atomically and create-only through the
    pluggable :data:`_LOG_COMMIT_STORE` (POSIX link by default;
    conditional PUT against an object store via
    :func:`set_log_commit_store`). Racing a commit that already exists
    raises :class:`CommitConflict` — the caller replays and re-diffs."""
    if not _log_reads_via_store():
        _io_mkdirs(os.path.join(out_path, LOG_DIR))
    path = _commit_path(out_path, version)
    data = b"".join(
        json.dumps(action, separators=(",", ":")).encode() + b"\n"
        for action in actions
    )
    _LOG_COMMIT_STORE.publish(path, data)


def _parquet_num_rows(path: str) -> int:
    return _io_parquet_file(path).metadata.num_rows


def _file_stats_json(path: str) -> str:
    """Delta ``add.stats`` JSON from the parquet footer ALONE (no data
    read): numRecords plus per-column minValues/maxValues/nullCount for
    top-level primitive columns with valid chunk statistics — the fields
    delta-spark/delta-rs/Trino use for file skipping, so external
    engines prune our exports' buckets exactly like their own tables.
    Columns without safe stats (nested, binary, NaN-polluted floats) are
    simply omitted — stats are advisory in the spec."""
    import datetime

    meta = _io_parquet_file(path).metadata

    def render(v, ceil=False):
        if isinstance(v, str):
            # writers may truncate long binary stats; a truncated max is
            # NOT an upper bound — only publish comfortably-short strings
            return v if len(v) < 32 else None
        if isinstance(v, (bool, int)):
            return v
        if isinstance(v, float):
            return v if v == v and abs(v) != float("inf") else None
        if isinstance(v, bytes):
            return None  # binary stats are truncated bytes — unsafe
        if isinstance(v, datetime.datetime):
            # the JSON form carries millisecond precision; flooring the
            # sub-millisecond tail is only safe for MIN — a maxValues
            # below the file's true max lets engines skip a file that
            # contains matching rows (delta-spark rounds truncated max
            # stats UP for the same reason)
            if ceil and v.microsecond % 1000 != 0:
                v = v + datetime.timedelta(milliseconds=1)
            return v.strftime("%Y-%m-%dT%H:%M:%S.") + f"{v.microsecond // 1000:03d}Z"
        if isinstance(v, datetime.date):
            return v.isoformat()
        from decimal import Decimal

        if isinstance(v, Decimal):
            return str(v)
        return None

    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    for ci in range(meta.num_columns):
        col0 = meta.row_group(0).column(ci)
        name = col0.path_in_schema
        if "." in name:
            continue  # nested leaves use dotted paths — top-level only
        lo = hi = None
        nn = 0
        ok = True
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max or st.null_count is None:
                ok = False
                break
            nn += st.null_count
            lo = st.min if lo is None or st.min < lo else lo
            hi = st.max if hi is None or st.max > hi else hi
        if not ok:
            continue
        rlo, rhi = render(lo), render(hi, ceil=True)
        nulls[name] = nn
        if rlo is not None and rhi is not None:
            mins[name] = rlo
            maxs[name] = rhi
    out: dict = {"numRecords": meta.num_rows}
    if mins:
        out["minValues"] = mins
        out["maxValues"] = maxs
    if nulls:
        out["nullCount"] = nulls
    return json.dumps(out, separators=(",", ":"))


def _checkpoint_arrow_schema():
    """The spec checkpoint schema: one struct column per action type,
    exactly one non-null per row. Types mirror the JSON actions
    (partitionValues/tags/options as string maps) so delta-spark /
    delta-rs / DuckDB read the file as their own checkpoint."""
    import pyarrow as pa

    smap = pa.map_(pa.string(), pa.string())
    return pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [
                        pa.field("minReaderVersion", pa.int32()),
                        pa.field("minWriterVersion", pa.int32()),
                        # null for base-protocol tables; carried when a
                        # DV-enabled export upgraded the table (the
                        # checkpoint must reproduce the live protocol or
                        # restored readers would mis-gate features)
                        pa.field("readerFeatures", pa.list_(pa.string())),
                        pa.field("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        pa.field("id", pa.string()),
                        pa.field("name", pa.string()),
                        pa.field("description", pa.string()),
                        pa.field(
                            "format",
                            pa.struct(
                                [
                                    pa.field("provider", pa.string()),
                                    pa.field("options", smap),
                                ]
                            ),
                        ),
                        pa.field("schemaString", pa.string()),
                        pa.field("partitionColumns", pa.list_(pa.string())),
                        pa.field("configuration", smap),
                        pa.field("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "txn",
                pa.struct(
                    [
                        pa.field("appId", pa.string()),
                        pa.field("version", pa.int64()),
                        pa.field("lastUpdated", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("partitionValues", smap),
                        pa.field("size", pa.int64()),
                        pa.field("modificationTime", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                        pa.field("stats", pa.string()),
                        pa.field("tags", smap),
                        # deletion-vector descriptor (null when absent) —
                        # dropping it here would RESURRECT deleted rows
                        # on checkpoint restore
                        pa.field(
                            "deletionVector",
                            pa.struct(
                                [
                                    pa.field("storageType", pa.string()),
                                    pa.field("pathOrInlineDv", pa.string()),
                                    pa.field("offset", pa.int32()),
                                    pa.field("sizeInBytes", pa.int32()),
                                    pa.field("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            pa.field(
                "remove",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("deletionTimestamp", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                    ]
                ),
            ),
        ]
    )


#: actions per checkpoint part before the writer goes MULTI-PART
#: (``{v}.checkpoint.{i}.{n}.parquet``) — one driver-side parquet
#: serialization per part. 50k actions ≈ tens of MB of metadata; real
#: delta-spark splits at a similar per-part action budget so no single
#: checkpoint file grows unboundedly with the table's file count.
CHECKPOINT_PART_ACTIONS = 50_000


def _publish_checkpoint(
    part_files: list[tuple[str, bytes]],
    lc_path: str,
    lc_bytes: bytes,
    version: int,
    mkdirs: str,
) -> str:
    """Publish checkpoint artifacts then swing the pointer — ONE
    implementation shared by the classic and V2 writers (a fix to the
    guard or the ordering must never apply to only one layout).
    Artifacts land in list order BEFORE the pointer, so a reader can
    never resolve a dangling reference. Store-authoritative logs:
    checkpoint + pointer are DERIVED artifacts (recomputable from the
    create-only commits), so a CAS overwrite is sound; the POINTER
    must be MONOTONIC — a stalled checkpointer swapping it back below
    JSON that cleanup already deleted would make the table unreadable
    (non-contiguous replay) — so the guard runs against the stored
    value inside the CAS. POSIX/URI roots: tmp-name + move (atomic
    rename locally; on object stores the final single-key PUT is
    itself atomic). Returns the last artifact's path."""
    cp_path = part_files[-1][0]
    if _log_reads_via_store():
        def _newer(current: bytes | None) -> bool:
            if current is None:
                return True
            try:
                return int(json.loads(current)["version"]) < version
            except (ValueError, KeyError, TypeError):
                return True  # torn/foreign pointer: ours repairs it

        for p, blob in part_files:
            _LOG_COMMIT_STORE.put_overwrite(p, blob)
        _LOG_COMMIT_STORE.put_overwrite(
            lc_path, lc_bytes, should_replace=_newer
        )
        return cp_path
    _io_mkdirs(mkdirs)
    for p, blob in part_files:
        tmp = f"{p}.{uuid.uuid4().hex}.tmp"
        _io_write_bytes(tmp, blob)
        _io_move(tmp, p)
    tmp = f"{lc_path}.{uuid.uuid4().hex}.tmp"
    _io_write_bytes(tmp, lc_bytes)
    _io_move(tmp, lc_path)
    return cp_path


def _v2_checkpoint_arrow_schema():
    """The V2 checkpoint schema: the classic action columns plus the
    two V2 action structs (``checkpointMetadata``, ``sidecar``) —
    shared by this module's V2 WRITER and the foreign-fixture builder
    (one source of truth; delta-spark/UniForm write the same shape)."""
    import pyarrow as pa

    smap = pa.map_(pa.string(), pa.string())
    fields = list(_checkpoint_arrow_schema())
    fields.append(
        pa.field(
            "checkpointMetadata",
            pa.struct(
                [pa.field("version", pa.int64()), pa.field("tags", smap)]
            ),
        )
    )
    fields.append(
        pa.field(
            "sidecar",
            pa.struct(
                [
                    pa.field("path", pa.string()),
                    pa.field("sizeInBytes", pa.int64()),
                    pa.field("modificationTime", pa.int64()),
                    pa.field("tags", smap),
                ]
            ),
        )
    )
    return pa.schema(fields)


def write_checkpoint(
    out_path: str,
    version: int | None = None,
    parts: int | None = None,
    v2: bool | None = None,
) -> str:
    """Compact the log at ``version`` (default: current last) into a
    spec parquet checkpoint and point ``_last_checkpoint`` at it.
    External readers then replay one checkpoint plus the JSON tail
    instead of the whole history, and :func:`delta_log_cleanup` may
    drop the checkpointed JSON. The checkpoint holds the full
    reconstructed state: protocol, newest metaData, txn watermarks, and
    every live ``add`` (``dataChange`` false, per spec — a checkpoint
    repeats known data). ``remove`` tombstones are only VACUUM hints
    and this writer's vacuum works off the live set, so none are
    carried. The exporter's empty-bucket memo rides ``_last_checkpoint``
    (extra JSON fields are spec-tolerated).

    Layout: single-part ``{v}.checkpoint.parquet`` below
    :data:`CHECKPOINT_PART_ACTIONS` actions; MULTI-PART
    ``{v}.checkpoint.{i:010d}.{n:010d}.parquet`` above it (or when
    ``parts`` forces a count) — the same spec layout delta-spark writes
    for large tables and this reader already restores
    (:func:`_checkpoint_files`), so both directions interoperate.
    ``_last_checkpoint`` then carries ``"parts": n``; every part is
    published BEFORE the pointer swings, so a reader can never resolve
    a half-written set.

    Driver-side pyarrow write — a checkpoint is metadata-sized (one row
    per live file; 4096 buckets → 4096 rows). Files publish atomically
    (temp + ``os.replace``): ``_last_checkpoint`` is the spec's single
    mutable pointer, and a torn checkpoint parquet is never observable
    under its final name.

    ``v2``: write the spec's V2 layout instead — a self-contained
    UUID-named top-level file (``checkpointMetadata`` + non-file
    actions + ``sidecar`` references) with the file actions in parquet
    SIDECARS under ``_delta_log/_sidecars/`` (``parts`` then forces
    the sidecar count). Requires the table protocol to declare the
    ``v2Checkpoint`` reader feature (enable via
    ``delta_export(v2_checkpoints=True)``) — a V2 checkpoint a
    non-declaring reader silently skipped would resurrect cleaned
    history. Default ``None`` auto-detects from the table's
    ``delta.checkpointPolicy`` configuration (delta-spark's switch),
    so maintenance callers keep doing the right thing unchanged.
    Superseded checkpoints (classic parquet or old sidecars) strand
    like classic ones do — cleanup only ever deletes covered JSON."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    state = _replay(out_path, version)
    if state.last < 0:
        raise FileNotFoundError(f"no Delta log at {out_path} to checkpoint")
    if v2 is None:
        v2 = (
            ((state.meta or {}).get("configuration") or {}).get(
                "delta.checkpointPolicy"
            )
            == "v2"
        )
    if v2 and (
        state.proto is None
        or "v2Checkpoint" not in (state.proto.get("readerFeatures") or [])
    ):
        raise ValueError(
            f"{out_path}: v2 checkpoint requested but the protocol does "
            "not declare the v2Checkpoint reader feature — enable it "
            "first (delta_export(v2_checkpoints=True))"
        )
    version = state.last
    now = _now_ms()
    rows: list[dict] = [{"protocol": state.proto or PROTOCOL}]
    if state.meta is not None:
        meta = dict(state.meta)
        meta.setdefault("description", None)
        rows.append({"metaData": meta})
    for app_id, txn_ver in sorted(state.txns.items()):
        rows.append(
            {"txn": {"appId": app_id, "version": txn_ver, "lastUpdated": now}}
        )
    for path in sorted(state.files):
        add = dict(state.files[path])
        add["dataChange"] = False
        rows.append({"add": add})

    log_dir = os.path.join(out_path, LOG_DIR)
    lc_path = os.path.join(log_dir, LAST_CHECKPOINT)
    if v2:
        schema = _v2_checkpoint_arrow_schema()
        adds = [r for r in rows if "add" in r]
        non_file = [r for r in rows if "add" not in r]
        n_side = (
            parts if parts else -(-len(adds) // CHECKPOINT_PART_ACTIONS)
        )
        n_side = max(1, min(n_side, max(1, len(adds))))

        def _blob(chunk: list[dict]) -> bytes:
            sink = pa.BufferOutputStream()
            pq.write_table(pa.Table.from_pylist(chunk, schema=schema), sink)
            return sink.getvalue().to_pybytes()

        side_actions: list[dict] = []
        part_files = []  # (path, serialized bytes), sidecars first
        if adds:
            base_n, rem = divmod(len(adds), n_side)
            pos = 0
            for i in range(n_side):
                take = base_n + (1 if i < rem else 0)
                chunk, pos = adds[pos : pos + take], pos + take
                if not chunk:
                    continue
                name = f"{uuid.uuid4()}.parquet"
                blob = _blob(chunk)
                part_files.append(
                    (os.path.join(log_dir, SIDECAR_DIR, name), blob)
                )
                side_actions.append(
                    {
                        "sidecar": {
                            "path": name,
                            "sizeInBytes": len(blob),
                            "modificationTime": now,
                        }
                    }
                )
        top_rows = (
            [{"checkpointMetadata": {"version": version}}]
            + non_file
            + side_actions
        )
        part_files.append(
            (
                os.path.join(
                    log_dir,
                    f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet",
                ),
                _blob(top_rows),
            )
        )
        # size = every action the checkpoint carries: the classic rows
        # plus checkpointMetadata plus one sidecar action per sidecar
        pointer = {
            "version": version,
            "size": len(rows) + 1 + len(side_actions),
        }
        if state.empty_buckets:
            pointer["emptyBuckets"] = {
                str(b): v for b, v in state.empty_buckets.items()
            }
        lc_bytes = json.dumps(pointer, separators=(",", ":")).encode()
        return _publish_checkpoint(
            part_files,
            lc_path,
            lc_bytes,
            version,
            mkdirs=os.path.join(log_dir, SIDECAR_DIR),
        )
    schema = _checkpoint_arrow_schema()
    n_parts = parts if parts else -(-len(rows) // CHECKPOINT_PART_ACTIONS)
    n_parts = max(1, min(n_parts, len(rows)))
    if n_parts <= 1:
        part_files = [
            (os.path.join(log_dir, f"{version:020d}.checkpoint.parquet"), rows)
        ]
    else:
        # BALANCED slices (sizes differ by at most one): any
        # distribution of actions across parts is spec-valid (readers
        # concatenate all parts before replay), but ceil-bunching into
        # the early parts would leave zero-row trailing files when a
        # forced count doesn't divide evenly — nonstandard territory a
        # strict foreign reader never sees from delta-spark
        base_n, rem = divmod(len(rows), n_parts)
        part_files = []
        pos = 0
        for i in range(n_parts):
            take = base_n + (1 if i < rem else 0)
            part_files.append(
                (
                    os.path.join(
                        log_dir,
                        f"{version:020d}.checkpoint.{i + 1:010d}."
                        f"{n_parts:010d}.parquet",
                    ),
                    rows[pos : pos + take],
                )
            )
            pos += take

    def _serialize(chunk: list[dict]) -> bytes:
        sink = pa.BufferOutputStream()
        pq.write_table(pa.Table.from_pylist(chunk, schema=schema), sink)
        return sink.getvalue().to_pybytes()

    pointer = {"version": version, "size": len(rows)}
    if n_parts > 1:
        pointer["parts"] = n_parts
    if state.empty_buckets:
        pointer["emptyBuckets"] = {
            str(b): v for b, v in state.empty_buckets.items()
        }
    lc_bytes = json.dumps(pointer, separators=(",", ":")).encode()
    return _publish_checkpoint(
        [(p, _serialize(chunk)) for p, chunk in part_files],
        lc_path,
        lc_bytes,
        version,
        mkdirs=log_dir,
    )


def delta_log_cleanup(
    out_path: str, respect_consumers: bool = True
) -> list[str]:
    """Delete JSON commits strictly older than the last checkpoint —
    they are fully covered by it, so the log stops growing without
    bound (the reason real Delta writers checkpoint at all). The
    checkpoint version's own JSON is kept (one file; preserves
    ``DESCRIBE HISTORY`` continuity at the boundary). Time travel to
    cleaned versions stops working, as in Delta's own metadata
    retention.

    ``respect_consumers`` (default): when any recorded change-feed
    consumer (:func:`record_consumer_offset`) still sits BEFORE the
    checkpoint, nothing is cleaned — reconstructing the file set at
    that cursor needs the full JSON prefix, so cleaning would break
    that consumer's next poll (the Kafka-retention-vs-consumer-lag
    tradeoff, decided for safety; pass False to evict laggards).
    Returns the deleted file names."""
    last_cp = _read_last_checkpoint(out_path)
    if last_cp is None:
        return []
    cp_version = int(last_cp["version"])
    if respect_consumers:
        state = _replay(out_path)
        lagging = [
            v
            for app, v in state.txns.items()
            if app.startswith(_CONSUMER_NS) and v < cp_version
        ]
        if lagging:
            return []
    log_dir = os.path.join(out_path, LOG_DIR)
    deleted = []
    for name in sorted(_log_listdir(log_dir)):
        if not (
            name.endswith(".json") and name[: -len(".json")].isdigit()
        ):
            continue  # pointer, CRC, or a V2 .json checkpoint — not a commit
        if int(name[: -len(".json")]) < cp_version:
            try:
                _log_delete(os.path.join(log_dir, name))
            except FileNotFoundError:
                pass  # a concurrent cleaner got there first — same outcome
            deleted.append(name)
    return deleted


def _plan_dv_buckets(
    spark: SparkSession,
    out_path: str,
    live: DataFrame,
    log: "_LogState",
    changed: list[int],
    max_fraction: float,
    mapped_fields: list[dict] | None = None,
) -> dict[int, tuple[str, dict, dict]]:
    """Changed buckets whose NEW state is the published file's rows
    minus a sparse subset — attach a deletion vector instead of
    rewriting the bucket (VERDICT r9 item 6). Returns
    ``{bucket: (rel_path, old_add, dv_descriptor)}``.

    Two stages, both scale-shaped: (1) a METADATA gate — old live row
    counts come from the log's add.stats numRecords minus the old DV
    cardinality, new counts from one small count-by-bucket aggregate;
    only buckets whose apparent delete fraction is in (0, max_fraction]
    proceed. (2) ONE distributed union+groupBy over the candidate
    buckets' old files and new rows verifies set-equality on every
    column (Spark's grouping equality = eqNullSafe incl. NaN
    normalization — the same rule the CDF classifier uses) and resolves
    the deleted rows' FILE ORDINALS via ``_metadata.row_index``. Any
    bucket with a new/updated row falls back to rewrite.

    The deleted ordinals never reach the driver (VERDICT r10's one
    weak: ``max_fraction`` is a RELATIVE bound, so collecting them
    scaled with data). Each qualifying bucket's group — shuffled to one
    executor by ``groupBy(__b)``, the same per-bucket bound the rewrite
    path's repartition already carries — serializes its roaring bitmap
    (merged with the bucket's old DV, broadcast bitmap-compressed) and
    writes the spec-layout DV FILE from the worker via the pure encoder
    in ``streaming/deletion_vectors.py``; only the metadata-sized
    DESCRIPTOR row (uuid path, offset, size, cardinality) returns. A DV
    file whose commit later loses the publication race is orphaned
    garbage, never referenced — exactly the staged-parquet semantics.

    Buckets whose schema contains a MapType column are never candidates
    (maps are not groupable in Spark — the verify pass cannot run)."""
    changed_set = set(changed)
    cols = [c for c in live.columns if c != "__bucket"]

    def has_map(dt) -> bool:
        # recursive: a map nested in a struct/array is just as
        # un-groupable as a top-level one — such schemas must fall back
        # to rewrite, not crash the verify groupBy
        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return has_map(dt.elementType)
        return False

    if any(
        has_map(f.dataType)
        for f in live.schema.fields
        if f.name != "__bucket"
    ):
        return {}
    old_info: dict[int, tuple[str, dict, int]] = {}
    for path, add in log.files.items():
        tags = add.get("tags") or {}
        if "bucket" not in tags or int(tags["bucket"]) not in changed_set:
            continue
        try:
            n = int(json.loads(add["stats"])["numRecords"])
        except (KeyError, TypeError, ValueError):
            continue
        dv = add.get("deletionVector")
        if dv:
            n -= int(dv.get("cardinality") or 0)
        old_info[int(tags["bucket"])] = (path, add, n)
    if not old_info:
        return {}
    new_counts = {
        int(r["__bucket"]): r["n"]
        for r in live.groupBy("__bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    cand = {
        b: (path, add)
        for b, (path, add, n_old) in old_info.items()
        if 0 < new_counts.get(b, 0) < n_old
        and (n_old - new_counts[b]) / n_old <= max_fraction
    }
    if not cand:
        return {}
    read_schema = T.StructType(
        [f for f in live.schema.fields if f.name != "__bucket"]
    )
    phys_fields = read_schema.fields
    if mapped_fields is not None:
        # published files of a mapped table carry PHYSICAL names: read
        # with the physical schema, rename back positionally (pure
        # rename — same shape by construction)
        jf = {f["name"]: f for f in mapped_fields}
        phys_fields = [
            T.StructField(
                jf[f.name]["metadata"]["delta.columnMapping.physicalName"],
                _physical_type_for(f.dataType, jf[f.name]["type"]),
                f.nullable,
            )
            for f in read_schema.fields
        ]

    def scan(rels: list[str]) -> DataFrame:
        # an unmapped table is the identity mapping: same names and
        # types, so nothing is cast and each alias keeps its name
        return (
            spark.read.schema(T.StructType(phys_fields))
            .parquet(*[os.path.join(out_path, r) for r in rels])
            .select(
                *[
                    (
                        F.col(pf.name)
                        if pf.dataType == lf.dataType
                        else F.col(pf.name).cast(lf.dataType)
                    ).alias(lf.name)
                    for pf, lf in zip(phys_fields, read_schema.fields)
                ],
                F.col("_metadata.file_path").alias("__fp"),
                F.col("_metadata.row_index").alias("__ri"),
            )
        )

    plain = [rel for rel, add in cand.values() if not add.get("deletionVector")]
    dved = {
        rel: add["deletionVector"]
        for rel, add in cand.values()
        if add.get("deletionVector")
    }
    # the old masks, loaded ONCE (bitmap-compressed bytes, one blob per
    # already-DV'd candidate bucket), serve both consumers below: the
    # masked-scan filter (keyed by rel path) and the worker-side merge
    # (keyed by bucket — a DV REPLACES, never stacks, so the new mask
    # carries the old masked ordinals plus this export's deletes)
    old_blobs: dict[str, bytes] = {}
    if dved:
        from cdc_apache_cassandra_spark.streaming.deletion_vectors import (
            load_dv_bytes,
        )

        old_blobs = {
            rel: load_dv_bytes(out_path, dv, _io_read_bytes)
            for rel, dv in dved.items()
        }
    scans: list[DataFrame] = []
    if plain:
        scans.append(scan(plain))
    # ONE broadcast of the old masks serves both consumers (the
    # masked-scan filter here and the worker-side merge below) — the
    # worker resolves its bucket's rel path through the tiny captured
    # dv_rel_of map instead of a second bucket-keyed broadcast of the
    # same bytes
    bc = None
    if dved:
        # rows the OLD DV already masks are not part of the old live
        # state — filter with the same broadcast-bitmap UDF the scans use
        bc = spark.sparkContext.broadcast(old_blobs)
        masked = _dv_deleted_udf(bc)
        scans.append(
            scan(list(dved)).filter(
                ~masked(F.col("__fp"), F.col("__ri"))
            )
        )
    old_df = scans[0]
    for extra in scans[1:]:
        old_df = old_df.unionByName(extra)
    old_sel = old_df.select(
        F.regexp_extract("__fp", r"b(\d+)-v\d+\.parquet$", 1)
        .cast("int")
        .alias("__b"),
        F.col("__ri"),
        *cols,
        F.lit(0).alias("__side"),
    )
    live_sel = (
        live.filter(F.col("__bucket").isin(list(cand)))
        .select(
            F.col("__bucket").cast("int").alias("__b"),
            F.lit(None).cast("long").alias("__ri"),
            *cols,
            F.lit(1).alias("__side"),
        )
    )
    dv_rel_of = {
        b: rel
        for b, (rel, add) in cand.items()
        if add.get("deletionVector")
    }
    desc_schema = (
        "b int, storageType string, pathOrInlineDv string, "
        "offset int, sizeInBytes long, cardinality long"
    )
    _DESC_COLS = [
        "b",
        "storageType",
        "pathOrInlineDv",
        "offset",
        "sizeInBytes",
        "cardinality",
    ]

    def _plan_one_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # runs on the EXECUTOR holding this bucket's verify group:
        # decides DV-vs-rewrite, serializes the merged bitmap, writes
        # the DV file through the same pyarrow-fs seam the staged
        # parquet rides, and returns ONE descriptor row (or none —
        # absent buckets fall back to rewrite)
        import numpy as np

        from cdc_apache_cassandra_spark.streaming.delta_log import (
            _io_write_bytes as write_bytes,
        )
        from cdc_apache_cassandra_spark.streaming.deletion_vectors import (
            deserialize_dv,
            write_dv_file,
        )

        empty = pd.DataFrame({c: [] for c in _DESC_COLS})
        if int((pdf["n_new"] - pdf["n_old"]).clip(lower=0).sum()):
            return empty  # an updated/new row: not a subset, rewrite
        dels: list[int] = []
        for n_old, n_new, ris in zip(pdf["n_old"], pdf["n_new"], pdf["ris"]):
            k = int(n_old) - int(n_new)
            if k > 0:
                dels.extend(int(i) for i in ris[:k])
        if not dels:
            return empty  # nothing deleted after verify: rewrite path
        idx = np.unique(np.asarray(dels, dtype=np.int64))
        b = int(pdf["__b"].iloc[0])
        rel = dv_rel_of.get(b)
        old_blob = bc.value.get(rel) if bc is not None and rel else None
        if old_blob is not None:
            idx = np.union1d(idx, deserialize_dv(old_blob))
        desc = write_dv_file(
            None, [idx], table_root=out_path, write_bytes=write_bytes
        )[0]
        return pd.DataFrame([{"b": b, **desc}])

    descriptors = (
        old_sel.unionByName(live_sel)
        .groupBy("__b", *cols)
        .agg(
            F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).alias("n_old"),
            F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).alias("n_new"),
            # collect_list skips nulls: only the OLD rows' file ordinals
            F.sort_array(F.collect_list("__ri")).alias("ris"),
        )
        .select("__b", "n_old", "n_new", "ris")
        .groupBy("__b")
        .applyInPandas(_plan_one_bucket, desc_schema)
        .collect()  # ≤ one DESCRIPTOR row per candidate bucket
    )
    out: dict[int, tuple[str, dict, dict]] = {}
    for row in descriptors:
        b = int(row["b"])
        if b not in cand:
            continue
        rel, add = cand[b]
        out[b] = (
            rel,
            add,
            {
                "storageType": row["storageType"],
                "pathOrInlineDv": row["pathOrInlineDv"],
                "offset": int(row["offset"]),
                "sizeInBytes": int(row["sizeInBytes"]),
                "cardinality": int(row["cardinality"]),
            },
        )
    return out


def _next_ict(log: "_LogState", out_path: str, now: int) -> int:
    """The next commit's ``inCommitTimestamp``: strictly monotonic —
    max(clock, previous commit's + 1), so clock skew cannot run table
    time backwards. The replay already captured the last commit's
    ICT; the commit file is re-read only when state came straight off
    a checkpoint (the one case replay never saw the commit). No
    surviving previous commit, or one carrying none (pre-enablement
    tail / cleaned history), leaves the clock to floor the sequence."""
    prev = log.last_ict
    if prev is None and log.last >= 0:
        try:
            raw = _log_read_bytes(_commit_path(out_path, log.last))
        except FileNotFoundError:
            raw = b""
        for line in raw.decode().splitlines():
            if line.strip() and "commitInfo" in (action := json.loads(line)):
                prev = action["commitInfo"].get("inCommitTimestamp")
                break
    return max(now, int(prev) + 1 if prev is not None else 0)


def _commit(
    out_path: str,
    version: int,
    header: list[dict],
    info: dict,
    actions: list[dict],
    ict: int | None,
) -> None:
    """Write one commit: ``header`` (protocol/metaData/txn), the
    ``commitInfo`` and the data actions. With ``ict`` (from
    :func:`_next_ict`) the commitInfo carries it and comes FIRST, per
    spec (readers resolve the time without scanning the whole file)."""
    ci = {"commitInfo": info}
    if ict is None:
        _write_commit(out_path, version, header + [ci] + actions)
        return
    info["inCommitTimestamp"] = ict
    _write_commit(out_path, version, [ci] + header + actions)


def _remove_action(path: str, now: int, dv: dict | None = None) -> dict:
    """A spec ``remove`` of one data file; ``dv`` is the deletion
    vector the removed add carried (the pair is the file's identity)."""
    rm = {"path": path, "deletionTimestamp": now, "dataChange": True}
    if dv:
        rm["deletionVector"] = dv
    return {"remove": rm}


def _bucket_add(
    out_path: str, rel: str, bucket: int, store_version: int, now: int
) -> dict:
    """The ``add`` of a bucket's published data file, tagged with the
    bucket and the store version it captured (the next export's diff
    key)."""
    dst = os.path.join(out_path, rel)
    return {
        "add": {
            "path": rel,
            "partitionValues": {},
            "size": _io_size(dst),
            "modificationTime": now,
            "dataChange": True,
            "stats": _file_stats_json(dst),
            "tags": {"bucket": str(bucket), "storeVersion": str(store_version)},
        }
    }


class _ExportPlan(NamedTuple):
    """What one :func:`delta_export` will do, decided from metadata
    alone — the store manifest, the replayed log and the changed
    buckets' directory listings — before any data is read."""

    version: int
    #: bucket -> (published path | None, store version it captured)
    published: dict[int, tuple[str | None, int]]
    #: bucket -> current store version
    store_buckets: dict[int, int]
    changed: list[int]
    dropped: list[int]
    #: changed bucket -> the store's active file to hard-link (None:
    #: every row a tombstone)
    linkable: dict[int, str | None]
    #: changed buckets the staging job reads through the active view
    staged: list[int]
    #: staged buckets the DV planner may re-point instead of rewriting
    dv_candidates: list[int]
    #: the empty-bucket memo entries that survive (bucket still stored)
    empty_kept: dict[int, int]
    is_mapped: bool
    #: the table configuration this export commits (updated in place
    #: by the mapping and ICT steps)
    cfg: dict
    ict_on: bool
    v2c_on: bool
    cdf_on: bool
    cdf_pk: list[str]
    stored_schema: T.StructType | None


def _export_manifest(
    store_path: str, out_path: str, manifest_store, active_view_fn
) -> dict:
    """The store manifest an export publishes, after the refusals that
    must precede any IO against the table root."""
    if (
        "://" in out_path
        and not out_path.startswith("file://")
        and isinstance(_LOG_COMMIT_STORE, LocalLogCommitStore)
    ):
        # refused by SCHEME up front, before any remote filesystem (an
        # S3 client construction may touch credentials/network): the
        # default POSIX-link publication cannot commit to this root
        raise NotImplementedError(
            f"{out_path}: exporting to this scheme needs a conditional-"
            "PUT commit store (set_log_commit_store / HttpLogCommitStore)"
        )
    manifest = (
        _read_manifest(store_path)
        if manifest_store is None
        else manifest_store.load(store_path)[0]
    )
    if manifest is None:
        raise FileNotFoundError(f"no materialized state at {store_path}")
    # The default view (row-level op filter) is sound ONLY for plain-LWW
    # stores. The manifest records the store's kind at merge time; a
    # compound/custom store exported without its dominance-aware view
    # would RESURRECT dominated rows for every external reader — refuse
    # rather than publish wrong data. A manifest WITHOUT the marker is
    # indistinguishable (compound stores predate it), so it is refused
    # too: one merge_into records the marker on a legacy lww store.
    if active_view_fn is None and manifest.get("kind") != "lww":
        raise ValueError(
            f"store at {store_path} has kind={manifest.get('kind')!r}; "
            "pass active_view_fn (operators.lww.compound_active_view for "
            "compound stores) — the default op!='DELETE' view would "
            "resurrect rows dominated by partition-range tombstones. For "
            "a legacy lww store, one merge_into records kind='lww'."
        )
    return manifest


def _export_plan(
    store_path: str,
    out_path: str,
    manifest: dict,
    log: "_LogState",
    default_view: bool,
    column_mapping: str | None,
    deletion_vectors: bool,
    in_commit_timestamps: bool,
    v2_checkpoints: bool,
    change_data_feed: bool,
    cdf_pk_cols: list[str] | None,
) -> _ExportPlan:
    """Decide an export from metadata: which buckets changed (store
    version moved since the published add tag / empty memo) or were
    dropped, how each changed bucket's file comes to exist, and the
    table's protocol-relevant flags (column mapping, ICT, V2
    checkpoints, CDF — each sticky through the table configuration)."""
    published: dict[int, tuple[str | None, int]] = {
        b: (None, v) for b, v in log.empty_buckets.items()
    }
    for path, add in log.files.items():
        tags = add.get("tags") or {}
        if "bucket" in tags:
            published[int(tags["bucket"])] = (path, int(tags["storeVersion"]))
    store_buckets = {int(b): v for b, v in manifest["buckets"].items()}
    changed = sorted(
        b
        for b, v in store_buckets.items()
        if b not in published or published[b][1] != v
    )
    existing_mode = _column_mapping_mode(log.meta)
    if existing_mode not in ("none", "name"):
        raise NotImplementedError(
            f"{out_path}: export target carries column-mapping mode "
            f"{existing_mode!r}; this exporter writes name mode only"
        )
    if column_mapping in ("id", "none"):
        # a mode name that is not a source-table path: refuse with the
        # right diagnosis instead of FileNotFoundError('id')
        raise NotImplementedError(
            f"column_mapping={column_mapping!r}: this exporter writes "
            'name mode only — pass "name" to mint fresh identities or '
            "a source-table path to inherit them"
        )
    if column_mapping is not None and log.meta is not None:
        raise ValueError(
            "column_mapping applies at table CREATION; an existing "
            "mapped table continues its mapping automatically"
            if existing_mode == "name"
            else "column_mapping applies at table CREATION; this "
            "table already exists without mapping"
        )
    is_mapped = existing_mode == "name" or (
        log.meta is None and column_mapping is not None
    )
    cfg = dict((log.meta or {}).get("configuration") or {})
    v2c_on = v2_checkpoints or cfg.get("delta.checkpointPolicy") == "v2"
    if v2c_on:
        cfg["delta.checkpointPolicy"] = "v2"
    cdf_on = change_data_feed or (
        cfg.get("delta.enableChangeDataFeed") == "true"
    )
    cdf_pk = list(cdf_pk_cols or []) or [
        c for c in (cfg.get(_CDF_PK_KEY) or "").split(",") if c
    ]
    if cdf_on:
        if not cdf_pk:
            raise ValueError(
                "change_data_feed requires cdf_pk_cols (the row "
                "identity the change classification joins on); once "
                "given they persist in the table configuration"
            )
        cfg["delta.enableChangeDataFeed"] = "true"
        cfg[_CDF_PK_KEY] = ",".join(cdf_pk)
    # LINK instead of rewrite (guide §2.4 remove-shuffles-outright /
    # VERDICT r11 item 4): for the default row-tombstone view, a
    # changed bucket's publishable rows are EXACTLY the store's
    # ``active-*.parquet`` file — merge_into staged the active/
    # tombstone split in its own write job precisely so this export
    # can adopt the file by hard link (metadata-only) instead of
    # re-reading and re-writing the same bytes as a second
    # distributed job per commit. Guards: default view only (custom
    # views — compound dominance — do real work), unmapped tables
    # (mapped files stage under physical names), no DVs, no CDF
    # (its classification consumes the live view anyway), recorded
    # manifest schema (the linked file's schema equals it by
    # construction), and the bucket dir actually carries the split
    # layout (pre-split and compacted-legacy dirs fall back to the
    # staging job per bucket).
    stored_schema = _stored_schema(manifest) if changed else None
    linkable: dict[int, str | None] = {}
    if (
        default_view
        and not is_mapped
        and not deletion_vectors
        and not cdf_on
        and stored_schema is not None
    ):
        for b in changed:
            bdir = os.path.join(
                store_path,
                version_dir(manifest, store_buckets[b]),
                f"__bucket={b}",
            )
            names = [n for n in _io_listdir(bdir) if n.endswith(".parquet")]
            actives = [n for n in names if n.startswith("active-")]
            if (
                names
                and len(actives) <= 1
                and all(n.startswith(("active-", "tombs-")) for n in names)
            ):
                linkable[b] = (
                    os.path.join(bdir, actives[0]) if actives else None
                )
    staged = [b for b in changed if b not in linkable]
    return _ExportPlan(
        version=log.last + 1,
        published=published,
        store_buckets=store_buckets,
        changed=changed,
        dropped=sorted(b for b in published if b not in store_buckets),
        linkable=linkable,
        staged=staged,
        dv_candidates=staged if deletion_vectors else [],
        empty_kept={
            b: v for b, v in log.empty_buckets.items() if b in store_buckets
        },
        is_mapped=is_mapped,
        cfg=cfg,
        ict_on=in_commit_timestamps
        or cfg.get("delta.enableInCommitTimestamps") == "true",
        v2c_on=v2c_on,
        cdf_on=cdf_on,
        cdf_pk=cdf_pk,
        stored_schema=stored_schema,
    )


def _export_view(
    spark: SparkSession,
    store_path: str,
    manifest: dict,
    plan: _ExportPlan,
    active_view_fn,
) -> tuple[DataFrame | None, T.StructType]:
    """The staged buckets' publishable rows (``__bucket`` kept) and
    their data schema; ``(None, recorded schema)`` for an all-linked
    export, whose scan would have produced exactly the recorded data
    columns. Persisted when more than one step consumes the rows."""
    if not plan.staged:
        return None, plan.stored_schema
    paths = _bucket_paths(store_path, manifest, plan.staged)
    # recorded-schema scan: no footer-merging job at plan time
    # (guide §1/§6; legacy manifests fall back to mergeSchema)
    raw = _read_bucket_files(spark, store_path, manifest, paths).drop("__ver")
    # ``active_view_fn``: state rows -> publishable table rows. The
    # default (row-tombstone filter) matches the single-PK store;
    # COMPOUND stores MUST pass operators.lww.compound_active_view —
    # their dominance rules (partition-range tombstones, static
    # resolution) are read-time, and publishing raw op!='DELETE'
    # rows would resurrect dominated rows for external readers.
    # Bucket-local application is sound because the store buckets on
    # the partition key: a partition's tombstone/static co-locate
    # with every row they govern (the merge_into invariant).
    view_fn = active_view_fn or (lambda df: df.filter(F.col("op") != "DELETE"))
    live = view_fn(raw)
    if "__bucket" not in live.columns:
        raise ValueError(
            "active_view_fn must preserve the __bucket column "
            "(operate on state rows, do not project it away)"
        )
    if plan.dv_candidates:
        # the DV planner's two jobs (count-by-bucket gate, set-equality
        # verify) and the staging write would each re-read the changed
        # buckets' store files — persist the view once (scoped-tracked
        # AND explicitly released after its last use; on an exception
        # in between, the scope tracking is the backstop)
        from cdc_apache_cassandra_spark.caching import persist_scoped

        live = persist_scoped(live)
    return live, live.drop("__bucket").schema


def _export_schema(
    log: "_LogState",
    plan: _ExportPlan,
    new_schema: T.StructType,
    column_mapping: str | None,
) -> tuple[str, list[dict] | None]:
    """The schemaString this export commits and, for a mapped table,
    its name-mode fields (which record their mapping keys in
    ``plan.cfg``). The table schema only ever WIDENS: this export's
    (changed-buckets) schema is reconciled with the log's current
    metaData, so a re-export of an old narrow bucket cannot regress
    it."""
    if log.meta is not None:
        from cdc_apache_cassandra_spark.streaming.schema_evolution import (
            reconcile_schemas,
        )

        new_schema = reconcile_schemas(
            T.StructType.fromJson(json.loads(log.meta["schemaString"])),
            new_schema,
        )
    if not plan.is_mapped:
        return new_schema.json(), None
    # graft name-mode mapping metadata onto the (reconciled) LOGICAL
    # schema: existing fields keep their physical name/id (reconcile
    # preserves old StructField metadata), inherited fields copy the
    # source table's, new fields mint fresh ids past maxColumnId
    inherit = None
    next_id = int(plan.cfg.get("delta.columnMapping.maxColumnId") or 0)
    if log.meta is not None:
        # later commits inherit the log's OWN mapping by name:
        # reconcile_schemas rebuilds a type-widened StructField WITHOUT
        # its metadata, so relying on reconcile alone would re-mint
        # that column's physical name and silently null it in every
        # previously published file (code-review r11 finding)
        inherit = json.loads(log.meta["schemaString"])["fields"]
    elif column_mapping != "name":
        src = _replay(column_mapping)
        if src.meta is None:
            raise FileNotFoundError(
                f"column_mapping source has no Delta log: {column_mapping}"
            )
        if _column_mapping_mode(src.meta) == "none":
            raise ValueError(
                f"column_mapping source {column_mapping} carries no "
                "column mapping to inherit; pass "
                'column_mapping="name" to mint fresh'
            )
        inherit = json.loads(src.meta["schemaString"])["fields"]
        src_cfg = src.meta.get("configuration") or {}
        next_id = max(
            next_id, int(src_cfg.get("delta.columnMapping.maxColumnId") or 0)
        )
    mapped_fields, next_id = _graft_mapping(
        new_schema.jsonValue()["fields"], inherit, next_id
    )
    plan.cfg["delta.columnMapping.mode"] = "name"
    plan.cfg["delta.columnMapping.maxColumnId"] = str(next_id)
    return json.dumps({"type": "struct", "fields": mapped_fields}), mapped_fields


def _stage_buckets(
    spark: SparkSession,
    out_path: str,
    plan: _ExportPlan,
    log: "_LogState",
    live: DataFrame | None,
    mapped_fields: list[dict] | None,
    dv_max_fraction: float,
) -> tuple[str | None, list[int], dict]:
    """Run the ONE distributed job that writes the staged buckets'
    files, after the DV planner has taken the sparse-delete buckets it
    can re-point instead. Returns ``(staging dir, rewritten buckets,
    {bucket: (rel_path, old_add, dv_descriptor)})``."""
    if live is None:
        return None, [], {}
    # staging is unique per writer: two racing exporters never clobber
    # each other's files; the loser of the commit race cleans up its
    # own staging and nothing else
    staging = os.path.join(
        out_path, f"_staging_{plan.version}_{uuid.uuid4().hex[:8]}"
    )
    try:
        dv_buckets = (
            _plan_dv_buckets(
                spark,
                out_path,
                live,
                log,
                plan.dv_candidates,
                dv_max_fraction,
                mapped_fields,
            )
            if plan.dv_candidates
            else {}
        )
        rewrite = [b for b in plan.staged if b not in dv_buckets]
        to_stage = (
            live
            if not dv_buckets
            else live.filter(F.col("__bucket").isin(rewrite))
        )
        if mapped_fields is not None:
            # mapped tables stage parquet under PHYSICAL names (the
            # delta-spark layout; add.stats then key physical too)
            to_stage = _to_physical(to_stage, mapped_fields)
        if rewrite:
            (
                _by_bucket(to_stage, len(rewrite))
                .write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(staging)
            )
        else:
            _io_mkdirs(staging)  # the caller's cleanup expects the dir
    finally:
        if plan.dv_candidates:
            # release AND drop the ledger entry (looping callers outside
            # the registry/bench would otherwise accumulate one dead
            # reference per export)
            from cdc_apache_cassandra_spark.caching import release_one

            release_one(live)
    return staging, rewrite, dv_buckets


def _staged_file(staging: str, bucket: int) -> str | None:
    """The staged bucket's single data file (None: every row was a
    tombstone, so the write job produced none)."""
    bdir = os.path.join(staging, f"__bucket={bucket}")
    parts = [n for n in _io_listdir(bdir) if n.endswith(".parquet")]
    if len(parts) > 1:
        raise RuntimeError(
            f"bucket {bucket}: expected one staged file, got {parts} "
            "(repartition-by-bucket invariant broken)"
        )
    return os.path.join(bdir, parts[0]) if parts else None


def _publish_buckets(
    out_path: str,
    plan: _ExportPlan,
    sources: dict[int, str | None],
    publish,
    now: int,
    empty_now: dict[int, int],
) -> list[dict]:
    """Publish each bucket's new data file under its content-addressed
    name with ``publish(src, dst)`` — a hard link of the store's active
    file or a move out of staging, metadata-sized driver work either
    way — removing the bucket's previously published file. A bucket
    with no source (every row a tombstone) gets no add but is
    REMEMBERED in the commitInfo memo, so the next export does not
    reclassify it as changed."""
    actions: list[dict] = []
    for b, src in sources.items():
        old = plan.published.get(b, (None, 0))[0]
        if old is not None:
            actions.append(_remove_action(old, now))
        store_version = plan.store_buckets[b]
        if src is None:
            empty_now[b] = store_version
            continue
        empty_now.pop(b, None)
        rel = f"{DATA_DIR}/b{b:05d}-v{store_version:010d}.parquet"
        publish(src, os.path.join(out_path, rel))
        actions.append(_bucket_add(out_path, rel, b, store_version, now))
    return actions


def _repoint_actions(
    plan: _ExportPlan, dv_buckets: dict, now: int
) -> list[dict]:
    """Re-point each DV bucket's EXISTING file at the deletion vector
    the planner wrote executor-side (the ordinals never reach the
    driver): remove the old (file, DV) pair and re-add the file with
    the new DV and the bucket's current store version."""
    actions: list[dict] = []
    for b in sorted(dv_buckets):
        rel, old_add, dv = dv_buckets[b]
        actions.append(_remove_action(rel, now, old_add.get("deletionVector")))
        tags = {
            **(old_add.get("tags") or {}),
            "storeVersion": str(plan.store_buckets[b]),
        }
        actions.append(
            {
                "add": {
                    **old_add,
                    "deletionVector": dv,
                    "dataChange": True,
                    "modificationTime": now,
                    "tags": tags,
                }
            }
        )
    return actions


def _export_cdf_actions(
    spark: SparkSession,
    out_path: str,
    plan: _ExportPlan,
    log: "_LogState",
    actions: list[dict],
    schema_json: str,
    mapped_fields: list[dict] | None,
) -> list[dict]:
    """CHANGE-DATA files for a MIXED commit. Spec synthesis covers
    pure-insert and pure-remove commits, so those deliberately get
    none; a mixed commit MUST carry cdc actions (readers treat them as
    authoritative and refuse a mixed commit without them) — including
    the rare rewrite that changed no row, which ships one EMPTY cdc
    file rather than an unreadable commit. The change rows are the
    pk-diff of the committed files (``log.files``) against the files
    after this commit's ``actions`` — adds, removes, DV re-points and
    dropped buckets' removes — both read under the NEW schema, planned
    and classified exactly as :func:`delta_changes` does. The staged
    files are already published, so workers read them like any data
    file; the driver handles file names only."""
    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        plan_pk_diff,
        run_changes,
    )

    post = dict(log.files)
    for a in actions:
        if "remove" in a:
            post.pop(a["remove"]["path"], None)
    # within a commit an add wins over a remove of the same path (a DV
    # re-point), as replay applies it
    post.update({a["add"]["path"]: a["add"] for a in actions if "add" in a})
    meta = {
        "schemaString": schema_json,
        "partitionColumns": [],
        "configuration": plan.cfg,
    }
    parts = plan_pk_diff(
        out_path, log.files, post, meta, plan.cdf_pk, plan.version
    )
    n_pre = len({e[0] for p in parts for e in p.pre})
    if not n_pre or not any(p.post for p in parts):
        return []
    logical = T.StructType.fromJson(json.loads(schema_json))
    changes = run_changes(spark, parts, logical).drop("_commit_version")
    if mapped_fields is not None:
        # cdc files of a mapped table store data under PHYSICAL names;
        # _change_type keeps its literal name (spec passthrough)
        changes = _to_physical(changes, mapped_fields)
    return _publish_cdc_files(out_path, plan.version, changes, min(32, n_pre))


def _export_protocol_action(
    log: "_LogState", plan: _ExportPlan, has_dv: bool
) -> dict | None:
    """The commit's ``protocol`` action: the full protocol on table
    creation; on the first DV / ICT / V2-checkpoint / CDF commit of a
    table not yet declaring the feature, the spec's in-place upgrade —
    the UNION of everything the table already declares and what this
    export now needs (never a rebuild, which would drop live
    features); otherwise none."""
    need = _export_protocol(
        plan.is_mapped, has_dv, plan.ict_on, plan.v2c_on, plan.cdf_on
    )
    if log.last < 0:
        return {"protocol": need}
    proto = log.proto or {}
    wf = proto.get("writerFeatures")
    # writers must honor delta.enableChangeDataFeed when the protocol
    # says so: features form -> the changeDataFeed writer feature;
    # legacy form -> minWriterVersion >= 4
    implies_cdf = log.proto is not None and (
        "changeDataFeed" in wf
        if wf is not None
        else int(proto.get("minWriterVersion", 2)) >= 4
    )
    if (
        (
            has_dv
            and (
                log.proto is None
                or not log.has_reader_feature("deletionVectors")
            )
        )
        or (plan.ict_on and "inCommitTimestamp" not in (wf or []))
        or (
            plan.v2c_on
            and "v2Checkpoint" not in (proto.get("readerFeatures") or [])
        )
        or (plan.cdf_on and not implies_cdf)
    ):
        return {"protocol": _merge_protocol(log.proto, need)}
    return None


def delta_export(
    spark: SparkSession,
    store_path: str,
    out_path: str,
    name: str | None = None,
    txn_app: str | None = None,
    txn_version: int | None = None,
    checkpoint_interval: int | None = CHECKPOINT_INTERVAL,
    active_view_fn=None,
    manifest_store=None,
    deletion_vectors: bool = False,
    dv_max_fraction: float = 0.2,
    column_mapping: str | None = None,
    in_commit_timestamps: bool = False,
    v2_checkpoints: bool = False,
    change_data_feed: bool = False,
    cdf_pk_cols: list[str] | None = None,
) -> int | None:
    """Publish the bucket store's ACTIVE view as a Delta table,
    incrementally: diff the store manifest against the export log's add
    tags (and empty-bucket memo), rewrite only buckets whose store
    version moved, ``remove`` the files of buckets that disappeared
    (GC'd to empty), and commit one log version. Returns the committed
    Delta version, or None when the export is already current (nothing
    is written at all).

    ``txn_app``/``txn_version`` make the export idempotent under
    at-least-once callers (foreachBatch): an already-recorded
    (appId, version) pair returns None before any IO, and each commit
    records its pair as a spec ``txn`` action.

    Driver traffic is metadata-sized throughout: bucket ids, file names,
    and footer row counts — never rows. The changed buckets are read and
    rewritten by ONE distributed job.

    ``manifest_store`` overrides the module-default manifest resolution
    (cross-machine exporters of an HTTP-committed store).

    Remote table roots: ``out_path`` may be a URI (file://, s3://, ...).
    Every driver-side byte — staging renames, footer stats, cleanup —
    moves through the pyarrow.fs seam; Spark's distributed write/read
    of the data files uses the cluster's Hadoop filesystem for the same
    scheme. Commit publication rides :data:`_LOG_COMMIT_STORE` (POSIX
    link for local/file://, conditional PUT for anything else).

    ``column_mapping`` (table CREATION only) publishes a NAME-mode
    column-mapped table — ``"name"`` mints fresh physical names/ids
    delta-spark style; a PATH to a Delta table (the imported source a
    user round-trips through the store) INHERITS its physical names
    and field ids, so import -> store -> re-export is lossless instead
    of narrowing to base protocol (VERDICT r10 item 5). A mapped
    export table auto-continues its mapping on every later export
    (widened columns mint fresh ids past maxColumnId); re-exports
    never need the flag again.

    ``in_commit_timestamps=True`` enables the spec's
    ``inCommitTimestamp`` writer feature: each commit's authoritative
    time rides IN the commitInfo (strictly monotonic — max(clock,
    prev+1)) instead of the commit file's mtime, making time travel
    and CDF windows robust on object stores whose listing mtimes are
    unreliable (exactly the fallback :func:`commit_timestamps`
    otherwise monotonizes around). Sticky: once enabled (config
    ``delta.enableInCommitTimestamps``), every later export keeps
    writing them without the flag; enabling AFTER creation records
    the spec's enablement version/timestamp provenance keys. The
    protocol upgrades to writer version 7 listing the feature, and
    commitInfo becomes the commit's FIRST action per spec.

    ``v2_checkpoints=True`` switches the table to the spec's V2
    checkpoint layout: the protocol gains the ``v2Checkpoint`` reader
    feature (in-place feature-union upgrade — note this raises
    minReaderVersion to 3, so only feature-aware readers can open the
    table afterwards, exactly delta-spark's behavior), configuration
    records ``delta.checkpointPolicy=v2`` (sticky — the periodic
    checkpoint cadence and any standalone
    :func:`write_checkpoint`/maintenance call auto-detect it), and
    every checkpoint from then on is a UUID-named self-contained
    top-level file with parquet sidecars under
    ``_delta_log/_sidecars/``.

    ``change_data_feed=True`` makes the export a spec Change Data Feed
    WRITER (``delta.enableChangeDataFeed`` + the ``changeDataFeed``
    writer capability): every MIXED commit (bucket rewrites — adds and
    removes together) also writes its row-level change rows as
    CHANGE-DATA files under ``_change_data/`` with ``cdc`` actions, so
    delta-spark's ``table_changes`` (and this module's
    :func:`delta_changes_cdf` / the stream's ``readChangeFeed`` mode)
    serve the export's feed with no primary key and no file diffing.
    Pure-insert and pure-remove commits deliberately write NO cdc
    files — the spec has readers synthesize those, exactly what
    delta-spark does. The change rows are the pk-diff of the committed
    files against this commit's published ones, planned and classified
    by the same planner and classifier :func:`delta_changes` runs
    (``cdf_pk_cols`` — the row identity; persisted in the table
    configuration so later exports keep writing the feed without
    re-passing either flag). Composes with ``deletion_vectors``: a DV
    re-add is a mixed commit, and its pre image (the published file
    minus its OLD deletion vector) against the same file under its NEW
    one classifies to exactly the newly masked rows' deletes — the
    same generic classification, no DV-specific path."""
    manifest = _export_manifest(
        store_path, out_path, manifest_store, active_view_fn
    )
    log = _replay(out_path)
    if (
        txn_app is not None
        and txn_version is not None
        and log.txns.get(txn_app, -1) >= txn_version
    ):
        return None  # replayed batch: already published
    # plan: every per-bucket strategy is decided here, before data IO
    plan = _export_plan(
        store_path,
        out_path,
        manifest,
        log,
        active_view_fn is None,
        column_mapping,
        deletion_vectors,
        in_commit_timestamps,
        v2_checkpoints,
        change_data_feed,
        cdf_pk_cols,
    )
    version, cfg = plan.version, plan.cfg
    actions: list[dict] = []
    dv_buckets: dict = {}
    schema_json = None
    empty_now = dict(plan.empty_kept)
    if plan.changed:
        live, new_schema = _export_view(
            spark, store_path, manifest, plan, active_view_fn
        )
        schema_json, mapped_fields = _export_schema(
            log, plan, new_schema, column_mapping
        )
        staging, rewrite, dv_buckets = _stage_buckets(
            spark, out_path, plan, log, live, mapped_fields, dv_max_fraction
        )
        # publish: linked buckets first (no Spark job touches them),
        # then the staged ones, through the same loop
        _io_mkdirs(os.path.join(out_path, DATA_DIR))
        now = _now_ms()
        try:
            for sources, publish in (
                (plan.linkable, _io_link_or_copy),
                ({b: _staged_file(staging, b) for b in rewrite}, _io_move),
            ):
                actions += _publish_buckets(
                    out_path, plan, sources, publish, now, empty_now
                )
        finally:
            if staging is not None:
                _io_rmtree(staging)
        actions += _repoint_actions(plan, dv_buckets, now)
    now = _now_ms()
    for b in plan.dropped:
        if plan.published[b][0] is not None:
            actions.append(_remove_action(plan.published[b][0], now))
    if plan.cdf_on and plan.changed:
        actions += _export_cdf_actions(
            spark, out_path, plan, log, actions, schema_json, mapped_fields
        )
    # commit
    now = _now_ms()
    schema_changed = schema_json is not None and (
        log.meta is None or log.meta["schemaString"] != schema_json
    )
    ict = _next_ict(log, out_path, now) if plan.ict_on else None
    if plan.ict_on and cfg.get("delta.enableInCommitTimestamps") != "true":
        cfg["delta.enableInCommitTimestamps"] = "true"
        if log.meta is not None:
            # enabled AFTER creation: the spec's provenance keys tell
            # readers which versions carry ICTs at all
            cfg["delta.inCommitTimestampEnablementVersion"] = str(version)
            cfg["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
    cfg_changed = cfg != dict((log.meta or {}).get("configuration") or {})
    if not actions and not schema_changed and empty_now == log.empty_buckets:
        # a config-only change (mid-life ICT enablement) commits on an
        # EXISTING table; with no metaData yet there is no schema to
        # write a first metaData from — nothing exportable, stay a
        # clean no-op exactly as before the flag existed
        if log.meta is None or not cfg_changed:
            return None  # export already current
    header: list[dict] = []
    protocol = _export_protocol_action(log, plan, bool(dv_buckets))
    if protocol is not None:
        header.append(protocol)
    if log.meta is None or schema_changed or cfg_changed:
        meta = log.meta or {}
        header.append(
            {
                "metaData": {
                    "id": meta.get("id", str(uuid.uuid4())),
                    "name": name if name is not None else meta.get("name"),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_json or meta["schemaString"],
                    "partitionColumns": [],
                    "configuration": cfg,
                    "createdTime": meta.get("createdTime", now),
                }
            }
        )
    if txn_app is not None and txn_version is not None:
        header.append(
            {
                "txn": {
                    "appId": txn_app,
                    "version": txn_version,
                    "lastUpdated": now,
                }
            }
        )
    info = {
        "timestamp": now,
        "operation": "CDC MERGE EXPORT",
        "operationParameters": {
            "storeVersion": str(manifest["version"]),
            "changedBuckets": str(len(plan.changed)),
            "droppedBuckets": str(len(plan.dropped)),
        },
        "emptyBuckets": {str(b): v for b, v in empty_now.items()},
    }
    _commit(out_path, version, header, info, actions, ict)
    # delta-spark cadence: a parquet checkpoint every N commits, so a
    # long-lived export stays replayable in O(N) JSON reads and old JSON
    # can be cleaned. After the commit, so a checkpoint failure never
    # loses the committed version (the next export just re-checkpoints).
    if (
        checkpoint_interval is not None
        and version > 0
        and version % checkpoint_interval == 0
    ):
        write_checkpoint(out_path, version, v2=plan.v2c_on)
    return version


def delta_restore(
    spark: SparkSession,
    out_path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    max_attempts: int = 5,
) -> int:
    """Delta's ``RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF`` — make
    an earlier snapshot the CURRENT state with ONE commit, exactly
    delta-spark's shape: re-``add`` the target snapshot's files the
    current state dropped, ``remove`` the current files the target
    lacks (diff keyed on (path, deletion-vector id), so DV'd states
    restore too), restore the target's metaData when it differs, and
    never touch the protocol (no feature downgrade — history is
    append-only, so time travel over the restore keeps working).
    Target data files must still exist: a target VACUUM already
    reclaimed refuses, listing the missing files (delta-spark's
    behavior). Returns the committed version; a no-op restore (target
    state == current) commits nothing and returns the current version.

    CDF composition: on a ``delta.enableChangeDataFeed`` table a
    mixed restore commit carries change-data files exactly as
    delta-spark writes them for RESTORE — FILE-level, no pk: every
    re-added file's row an ``insert``, every removed file's row a
    ``delete``. The restored configuration keeps the CURRENT CDF
    enablement keys (dropping the flag in the very commit that writes
    cdc files would be self-inconsistent). The current ICT setting is
    honored (monotonic in-commit timestamp, commitInfo first).

    Driver cost: two metadata replays + the file diff; the only
    distributed work is the CDF job, and only when CDF is on: the
    diff files read through ``change_feed_source``'s file-level change
    reader (the one batch CDF and the readChangeFeed stream run; Arrow
    ``_io_*`` reads in ``mapInArrow`` workers, at most one task per
    core) and their rows staged as change-data files."""
    if (version is None) == (timestamp_ms is None):
        raise ValueError("delta_restore: pass version OR timestamp_ms")
    if timestamp_ms is not None:
        version = version_at_timestamp(out_path, timestamp_ms)
    tgt = _replay(out_path, version)
    if tgt.meta is None:
        raise ValueError(f"{out_path}: no snapshot at version {version}")
    for _ in range(max_attempts):
        cur = _replay(out_path)
        if cur.meta is None:
            raise FileNotFoundError(f"no Delta log at {out_path}")
        k_cur, k_tgt = _file_identity(cur.files), _file_identity(tgt.files)
        add_back = [
            k_tgt[k] for k in sorted(k_tgt.keys() - k_cur.keys(), key=repr)
        ]
        drop = [
            k_cur[k] for k in sorted(k_cur.keys() - k_tgt.keys(), key=repr)
        ]
        missing = [
            p
            for p, _a in add_back
            if not _io_exists(os.path.join(out_path, p))
        ]
        if missing:
            raise FileNotFoundError(
                f"{out_path}: RESTORE to version {version} needs "
                f"{len(missing)} data file(s) VACUUM already removed "
                f"(e.g. {missing[:3]}); that snapshot is no longer "
                "restorable"
            )
        cfg = dict(cur.meta.get("configuration") or {})
        cdf_on = cfg.get("delta.enableChangeDataFeed") == "true"
        restored_meta = None
        if tgt.meta != cur.meta:
            restored_meta = dict(tgt.meta)
            if cdf_on:
                # keep the CURRENT feed enablement keys: dropping the
                # flag in the very commit that writes cdc files would
                # be self-inconsistent, and a live consumer's feed
                # must not silently stop recording
                rcfg = dict(restored_meta.get("configuration") or {})
                rcfg["delta.enableChangeDataFeed"] = "true"
                if cfg.get(_CDF_PK_KEY):
                    rcfg[_CDF_PK_KEY] = cfg[_CDF_PK_KEY]
                restored_meta["configuration"] = rcfg
        if not add_back and not drop and restored_meta is None:
            return cur.last  # target state IS the current state
        now = _now_ms()
        actions = [
            {"add": {**a, "dataChange": True, "modificationTime": now}}
            for _p, a in add_back
        ] + [_remove_action(p, now, a.get("deletionVector")) for p, a in drop]
        commit_v = cur.last + 1
        if cdf_on and add_back and drop:
            # mixed commit on a CDF table: delta-spark's RESTORE change
            # rows are FILE-level — re-added rows insert, removed rows
            # delete (no pk, no join; a row present in both states
            # through different files legitimately emits a
            # delete+insert pair, as delta-spark does)
            meta_for_scan = restored_meta or cur.meta
            if _column_mapping_mode(meta_for_scan) == "id":
                raise NotImplementedError(
                    f"{out_path}: RESTORE with CDF on an id-mode "
                    "column-mapped table is not supported (this engine "
                    "writes name-mode cdc files only)"
                )
            from cdc_apache_cassandra_spark.sources.change_feed_source import (
                plan_cdf,
                run_changes,
            )

            parts = plan_cdf(
                out_path,
                [(commit_v, "insert", add_back), (commit_v, "delete", drop)],
                meta_for_scan,
                {commit_v: now},
            )
            logical = T.StructType.fromJson(
                json.loads(meta_for_scan["schemaString"])
            )
            changes = run_changes(spark, parts, logical).drop(
                "_commit_version", "_commit_timestamp"
            )
            if _column_mapping_mode(meta_for_scan) == "name":
                changes = _to_physical(
                    changes,
                    json.loads(meta_for_scan["schemaString"])["fields"],
                )
            actions = (
                _publish_cdc_files(
                    out_path,
                    commit_v,
                    changes,
                    min(32, max(1, len(add_back) + len(drop))),
                )
                + actions
            )
        header = [] if restored_meta is None else [{"metaData": restored_meta}]
        info = {
            "timestamp": now,
            "operation": "RESTORE",
            "operationParameters": {"version": str(version)},
            # restore the exporter's empty-bucket memo to the TARGET's
            # so a later delta_export diffs against the restored state,
            # not the pre-restore one — emitted even when EMPTY (replay
            # treats an explicit {} as a reset; an absent key would
            # leave the pre-restore memo in force)
            "emptyBuckets": {str(b): v for b, v in tgt.empty_buckets.items()},
        }
        ict = (
            _next_ict(cur, out_path, now)
            if cfg.get("delta.enableInCommitTimestamps") == "true"
            else None
        )
        try:
            _commit(out_path, commit_v, header, info, actions, ict)
            return commit_v
        except CommitConflict:
            continue  # another writer took the version — re-diff
    raise CommitConflict(
        f"could not commit RESTORE after {max_attempts} attempts"
    )


def delta_clone(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """Delta's SHALLOW CLONE — create ``dst_path`` as a new table
    whose version-0 commit REFERENCES the source snapshot's data
    files by absolute path: zero data copied, metadata-sized driver
    work at any table size (delta-spark's ``CREATE TABLE ... SHALLOW
    CLONE src [VERSION/TIMESTAMP AS OF]``). The clone is a real,
    independent table: it time-travels from ITS version 0, exports
    can continue onto it (add tags and the exporter's empty-bucket
    memo carry over, so an incremental ``delta_export`` diffs against
    the cloned state), and VACUUM on the clone never touches the
    source's files (its liveness scan covers only the clone's own
    ``data/`` directory). As in delta-spark, deleting or vacuuming
    the SOURCE's files breaks the clone's reads — shallow means
    shared bytes.

    ``'u'``-form deletion-vector descriptors convert to ``'p'``
    (verbatim absolute): relative DV payloads resolve against the
    TABLE root, which has changed. Stats, partition values and tags
    pass through untouched; the metaData keeps schema, partition
    columns and configuration but mints a fresh table id
    (delta-spark's behavior); the protocol is copied verbatim (the
    replay that produced the snapshot already verified this engine
    reads those features). Refuses when ``dst_path`` already has a
    Delta log. Returns the clone's committed version (0)."""
    if version is not None and timestamp_ms is not None:
        raise ValueError("delta_clone: pass version OR timestamp_ms")
    if timestamp_ms is not None:
        version = version_at_timestamp(src_path, timestamp_ms)
    src = _replay(src_path, version)
    if src.meta is None:
        raise FileNotFoundError(f"no Delta log at {src_path}")
    dst_log = os.path.join(dst_path, LOG_DIR)
    if _io_exists(dst_log) and any(
        n.endswith(".json") for n in _log_listdir(dst_log)
    ):
        raise ValueError(
            f"delta_clone: {dst_path} already has a Delta log; clone "
            "targets must be new tables"
        )
    from cdc_apache_cassandra_spark.streaming.deletion_vectors import (
        dv_absolute_path,
    )

    def absolute(rel: str) -> str:
        if "://" in rel or os.path.isabs(rel):
            return rel
        if "://" in src_path:
            return f"{src_path.rstrip('/')}/{rel}"
        return os.path.abspath(os.path.join(src_path, rel))

    now = _now_ms()
    meta = dict(src.meta)
    meta["id"] = str(uuid.uuid4())
    meta["createdTime"] = now
    actions: list[dict] = [
        {"protocol": src.proto or dict(PROTOCOL)},
        {"metaData": meta},
    ]
    info: dict = {
        "timestamp": now,
        "operation": "CLONE",
        "operationParameters": {
            "source": src_path,
            "sourceVersion": str(src.last),
        },
        # carry the exporter's memo so an export onto the clone diffs
        # against the cloned state (explicit even when empty)
        "emptyBuckets": {str(b): v for b, v in src.empty_buckets.items()},
    }
    actions.append({"commitInfo": info})
    for rel in sorted(src.files):
        add = dict(src.files[rel])
        add["path"] = absolute(rel)
        add["dataChange"] = True
        dv = add.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            add["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": dv_absolute_path(src_path, dv),
            }
        actions.append({"add": add})
    _write_commit(dst_path, 0, actions)
    return 0


def version_at_timestamp(out_path: str, ts_ms: int) -> int:
    """``TIMESTAMP AS OF`` resolution, exactly Delta's rule: the LAST
    version whose ADJUSTED commit timestamp is <= the requested time.
    Rides :func:`commit_timestamps` — the one monotonized,
    mtime-fallback resolution helper — so snapshot time travel, batch
    CDF windows, and the stream's startingTimestamp all place a given
    time on the SAME side of every commit, on foreign (clock-skewed or
    commitInfo-free) logs too. Raises if the requested time predates
    the earliest surviving commit — matching Delta's 'before the
    earliest available version' error."""
    stamped = commit_timestamps(out_path)  # FileNotFoundError when no log
    eligible = [v for v, t in stamped if t <= ts_ms]
    if not eligible:
        raise FileNotFoundError(
            f"{out_path}: no commit at or before timestamp {ts_ms} "
            f"(earliest surviving commit: version {stamped[0][0]} "
            f"at {stamped[0][1]})"
        )
    return max(eligible)


def prune_files_by_stats(
    files: dict[str, dict], col: str, lo, hi
) -> list[str]:
    """Data skipping off the log alone: keep files whose
    ``add.stats.minValues/maxValues[col]`` interval overlaps [lo, hi]
    (either bound may be None for a half-open range). Files without
    stats for the column are kept — stats are advisory, skipping must
    never drop data. Returns the kept relative paths, sorted."""
    kept = []
    for path, add in files.items():
        st = add.get("stats")
        st = json.loads(st) if isinstance(st, str) else (st or {})
        mins = (st.get("minValues") or {}).get(col)
        maxs = (st.get("maxValues") or {}).get(col)
        if mins is None or maxs is None:
            kept.append(path)
            continue
        try:
            skip = (hi is not None and mins > hi) or (
                lo is not None and maxs < lo
            )
        except TypeError:
            # mixed-type comparison (e.g. a writer stored this column's
            # stats as strings while the caller pruned with numbers) —
            # stats are advisory; an un-comparable file is KEPT, never
            # a crashed plan
            skip = False
        if skip:
            continue
        kept.append(path)
    return sorted(kept)


# --- reader features: column mapping (name mode) + deletion vectors ---------
# (VERDICT r8 items 1+2: a modern delta-spark table — the most likely
# foreign input — commonly carries both; refusal stays for id-mode
# mapping, V2 checkpoints and all writer paths.)


def _column_mapping_mode(meta: dict | None) -> str:
    mode = ((meta or {}).get("configuration") or {}).get(
        "delta.columnMapping.mode"
    )
    return mode or "none"


def _phys_type_json(tp):
    if isinstance(tp, dict):
        t = tp.get("type")
        if t == "struct":
            return {**tp, "fields": [_phys_field_json(f) for f in tp["fields"]]}
        if t == "array":
            return {**tp, "elementType": _phys_type_json(tp["elementType"])}
        if t == "map":
            return {
                **tp,
                "keyType": _phys_type_json(tp["keyType"]),
                "valueType": _phys_type_json(tp["valueType"]),
            }
    return tp


def _phys_field_json(f: dict) -> dict:
    phys = (f.get("metadata") or {}).get("delta.columnMapping.physicalName")
    if not phys:
        raise NotImplementedError(
            f"column-mapping mode=name but field {f.get('name')!r} carries "
            "no delta.columnMapping.physicalName; read this table with a "
            "full Delta client."
        )
    return {
        "name": phys,
        "type": _phys_type_json(f["type"]),
        "nullable": f.get("nullable", True),
        "metadata": {},
    }


# --- column-mapping WRITER half (VERDICT r10 item 5) -------------------------
# delta_export can publish (and keep publishing) NAME-mode mapped
# tables: schemaString fields carry delta.columnMapping.physicalName +
# .id at every nesting level, data files are staged under the physical
# names, and configuration records mode=name + maxColumnId — the shape
# delta-spark writes, so an import -> store -> re-export round trip of
# a mapped source is lossless instead of silently narrowing to base
# protocol.


def _graft_mapping(
    fields: list[dict], inherit: list[dict] | None, next_id: int
) -> tuple[list[dict], int]:
    """Ensure every schemaString field (recursively) carries name-mode
    mapping metadata. Fields matching ``inherit`` by LOGICAL name (the
    imported source's fields, or the export log's own on later
    commits) keep their physical name + id — the lossless-round-trip
    contract; anything else is minted delta-spark style
    (``col-<uuid>``, next sequential id). Returns the grafted fields
    and the running max column id."""
    inh_by_name = {f["name"]: f for f in (inherit or [])}
    out = []
    for f in fields:
        f = dict(f)
        md = dict(f.get("metadata") or {})
        inh = inh_by_name.get(f["name"])
        if "delta.columnMapping.physicalName" not in md:
            imd = (inh or {}).get("metadata") or {}
            if "delta.columnMapping.physicalName" in imd:
                md["delta.columnMapping.physicalName"] = imd[
                    "delta.columnMapping.physicalName"
                ]
                if "delta.columnMapping.id" in imd:
                    md["delta.columnMapping.id"] = imd[
                        "delta.columnMapping.id"
                    ]
            else:
                md["delta.columnMapping.physicalName"] = f"col-{uuid.uuid4()}"
        if "delta.columnMapping.id" not in md:
            md["delta.columnMapping.id"] = next_id + 1
        next_id = max(next_id, int(md["delta.columnMapping.id"]))
        f["metadata"] = md
        f["type"], next_id = _graft_mapping_type(
            f["type"],
            (inh or {}).get("type") if inh else None,
            next_id,
        )
        out.append(f)
    return out, next_id


def _graft_mapping_type(tp, inh_tp, next_id: int):
    if isinstance(tp, dict):
        t = tp.get("type")
        inh = inh_tp if isinstance(inh_tp, dict) else {}
        if t == "struct":
            fields, next_id = _graft_mapping(
                tp["fields"], inh.get("fields"), next_id
            )
            return {**tp, "fields": fields}, next_id
        if t == "array":
            et, next_id = _graft_mapping_type(
                tp["elementType"], inh.get("elementType"), next_id
            )
            return {**tp, "elementType": et}, next_id
        if t == "map":
            # KEY types graft too: a struct-typed map key's fields need
            # physical names — the name-mode reader (_phys_type_json)
            # recurses into keyType and refuses fields without them
            kt, next_id = _graft_mapping_type(
                tp["keyType"], inh.get("keyType"), next_id
            )
            vt, next_id = _graft_mapping_type(
                tp["valueType"], inh.get("valueType"), next_id
            )
            return {**tp, "keyType": kt, "valueType": vt}, next_id
    return tp, next_id


def _physical_type_for(live_dt, fjson_type):
    """``live_dt`` with every struct field renamed to its physical name
    from the mapped schemaString json — the live DataFrame's OWN shape
    (possibly narrower than the log schema after widening), so one
    positional cast is a pure rename (arity matches by construction)."""
    if (
        isinstance(live_dt, T.StructType)
        and isinstance(fjson_type, dict)
        and fjson_type.get("type") == "struct"
    ):
        jf = {f["name"]: f for f in fjson_type["fields"]}
        return T.StructType(
            [
                T.StructField(
                    jf[c.name]["metadata"]["delta.columnMapping.physicalName"],
                    _physical_type_for(c.dataType, jf[c.name]["type"]),
                    c.nullable,
                )
                for c in live_dt.fields
            ]
        )
    if (
        isinstance(live_dt, T.ArrayType)
        and isinstance(fjson_type, dict)
        and fjson_type.get("type") == "array"
    ):
        return T.ArrayType(
            _physical_type_for(live_dt.elementType, fjson_type["elementType"]),
            live_dt.containsNull,
        )
    if (
        isinstance(live_dt, T.MapType)
        and isinstance(fjson_type, dict)
        and fjson_type.get("type") == "map"
    ):
        return T.MapType(
            _physical_type_for(live_dt.keyType, fjson_type["keyType"]),
            _physical_type_for(live_dt.valueType, fjson_type["valueType"]),
            live_dt.valueContainsNull,
        )
    return live_dt


def _to_physical(df: DataFrame, mapped_fields: list[dict]) -> DataFrame:
    """Rename ``df``'s columns (at every nesting level) to their
    physical names for the staged parquet write — one positional
    struct cast per top-level column, plan-time only. ``__bucket``
    passes through (it is the partitionBy column, never a data
    column)."""
    jf = {f["name"]: f for f in mapped_fields}
    exprs = []
    for fld in df.schema.fields:
        if fld.name == "__bucket":
            continue
        j = jf.get(fld.name)
        if j is None:
            # not a table column (the CDF writer's _change_type):
            # spec passthrough — stored under its literal name even
            # in mapped tables
            exprs.append(F.col(fld.name))
            continue
        exprs.append(
            F.col(fld.name)
            .cast(_physical_type_for(fld.dataType, j["type"]))
            .alias(j["metadata"]["delta.columnMapping.physicalName"])
        )
    if "__bucket" in df.columns:
        exprs.append(F.col("__bucket"))
    return df.select(*exprs)


def _export_protocol(
    mapped: bool,
    dv: bool,
    ict: bool = False,
    v2c: bool = False,
    cdf: bool = False,
) -> dict:
    """The protocol action delta_export commits (or upgrades to) for
    the feature combination it is writing — matching delta-spark's
    output for the same table state: base (1,2); a CDF-writing table
    (1,4) — the legacy version whose writers must honor
    ``delta.enableChangeDataFeed``; legacy name-mode mapping (2,5);
    deletion vectors / in-commit timestamps / v2 checkpoints force the
    table-features form (writer version 7) listing EVERY legacy
    feature the pre-upgrade version implied — v2 appendOnly+
    invariants, v4 (cdf or higher) also v3 checkConstraints + v4
    changeDataFeed/generatedColumns, and a mapped (v5) table also v5
    columnMapping."""
    if not (dv or ict or v2c):
        if mapped:
            return {"minReaderVersion": 2, "minWriterVersion": 5}
        if cdf:
            return {"minReaderVersion": 1, "minWriterVersion": 4}
        return PROTOCOL
    wf = _legacy_writer_features(5 if mapped else 4 if cdf else 2)
    if dv:
        wf.add("deletionVectors")
    if ict:
        wf.add("inCommitTimestamp")
    if v2c:
        wf.add("v2Checkpoint")
    rf = set()
    if dv:
        rf.add("deletionVectors")
    if v2c:
        rf.add("v2Checkpoint")
    if rf and mapped:
        # the reader-features form must list EVERY reader requirement,
        # including the previously version-implied column mapping
        rf.add("columnMapping")
    proto: dict = {"minWriterVersion": 7, "writerFeatures": sorted(wf)}
    if rf:
        proto["minReaderVersion"] = 3
        proto["readerFeatures"] = sorted(rf)
    else:
        # writer-only features: readerFeatures stays ABSENT and the
        # reader version keeps its legacy meaning (2 = column mapping)
        proto["minReaderVersion"] = 2 if mapped else 1
    return proto


def _publish_cdc_files(
    out_path: str, version: int, changes: DataFrame, n_files: int
) -> list[dict]:
    """Stage a commit's change rows DISTRIBUTED, publish the non-empty
    parquet files under ``_change_data/`` and return their ``cdc``
    actions — shared by the export's CDF writer and RESTORE. Names
    carry a writer-unique token (racing writers must never clobber
    each other's cdc files; the commit-race loser's files become
    unreferenced orphans delta_vacuum reclaims). An empty
    classification still publishes ONE empty cdc file: cdc actions
    are authoritative, so their absence would make readers refuse a
    mixed commit instead of serving it as changeless."""
    actions: list[dict] = []
    token = uuid.uuid4().hex[:8]
    cdc_staging = os.path.join(out_path, f"_cdc_staging_{version}_{token}")
    try:
        changes.repartition(n_files).write.mode("overwrite").parquet(
            cdc_staging
        )
        _io_mkdirs(os.path.join(out_path, CDC_DIR))
        staged = sorted(
            n for n in _io_listdir(cdc_staging) if n.endswith(".parquet")
        )
        keep = [
            n
            for n in staged
            if _io_parquet_file(
                os.path.join(cdc_staging, n)
            ).metadata.num_rows
        ] or staged[:1]
        for i, n in enumerate(keep):
            rel = f"{CDC_DIR}/cdc-{version:020d}-{token}-{i:05d}.parquet"
            dst = os.path.join(out_path, rel)
            _io_move(os.path.join(cdc_staging, n), dst)
            actions.append(
                {
                    "cdc": {
                        "path": rel,
                        "partitionValues": {},
                        "size": _io_size(dst),
                        "dataChange": False,
                    }
                }
            )
        if not keep:
            # Spark writes no file at all for an empty result —
            # materialize the authoritative-empty cdc file directly
            import pyarrow as _pa
            import pyarrow.parquet as _pq
            from pyspark.sql.pandas.types import to_arrow_schema

            sink = _pa.BufferOutputStream()
            _pq.write_table(
                to_arrow_schema(changes.schema).empty_table(), sink
            )
            rel = f"{CDC_DIR}/cdc-{version:020d}-{token}-00000.parquet"
            _io_write_bytes(
                os.path.join(out_path, rel), sink.getvalue().to_bytes()
            )
            actions.append(
                {
                    "cdc": {
                        "path": rel,
                        "partitionValues": {},
                        "size": _io_size(os.path.join(out_path, rel)),
                        "dataChange": False,
                    }
                }
            )
    finally:
        _io_rmtree(cdc_staging)
    return actions


def _legacy_writer_features(min_writer: int) -> set[str]:
    """The writer features a LEGACY minWriterVersion implies (the
    spec's version→feature table) — what delta-spark lists when it
    upgrades that version to the table-features form."""
    feats: set[str] = set()
    if min_writer >= 2:
        feats |= {"appendOnly", "invariants"}
    if min_writer >= 3:
        feats.add("checkConstraints")
    if min_writer >= 4:
        feats |= {"changeDataFeed", "generatedColumns"}
    if min_writer >= 5:
        feats.add("columnMapping")
    if min_writer >= 6:
        feats.add("identityColumns")
    return feats


def _merge_protocol(existing: dict | None, target: dict) -> dict:
    """In-place protocol UPGRADE semantics: the committed protocol is
    the union of what the table already declares and what this export
    now needs — rebuilding from the export's own flags alone would
    silently DROP features the log still uses (v2Checkpoint,
    timestampNtz, a foreign writer's rowTracking) and could downgrade
    minReaderVersion, leaving spec readers a table whose features are
    in use but undeclared (code-review r11 finding). When exactly one
    side is LEGACY-form (no writerFeatures list), its version-implied
    features expand into the union — a features-form protocol must
    list EVERY capability in use, so merging a legacy (1,4) CDF
    target into a features-form (3,7) DV table must surface
    changeDataFeed explicitly, not drop it (code-review r11 session-2
    finding; same expansion for the legacy reader version's implied
    columnMapping)."""
    if not existing:
        return target
    out = dict(target)
    out["minReaderVersion"] = max(
        int(existing.get("minReaderVersion", 1)),
        int(target["minReaderVersion"]),
    )
    out["minWriterVersion"] = max(
        int(existing.get("minWriterVersion", 2)),
        int(target["minWriterVersion"]),
    )
    rf = set(existing.get("readerFeatures") or []) | set(
        target.get("readerFeatures") or []
    )
    wf = set(existing.get("writerFeatures") or []) | set(
        target.get("writerFeatures") or []
    )
    ex_wf = existing.get("writerFeatures")
    tg_wf = target.get("writerFeatures")
    if (ex_wf is None) != (tg_wf is None):
        legacy = existing if ex_wf is None else target
        wf |= _legacy_writer_features(
            int(legacy.get("minWriterVersion", 2))
        )
        if int(legacy.get("minReaderVersion", 1)) >= 2:
            # legacy reader v2 = column mapping; surfaced in
            # readerFeatures only when the merged form carries one
            if rf:
                rf.add("columnMapping")
    if rf:
        out["readerFeatures"] = sorted(rf)
        # the table-features reader form requires version 3
        out["minReaderVersion"] = max(out["minReaderVersion"], 3)
    if wf:
        out["writerFeatures"] = sorted(wf)
    return out


def _id_field_json(f: dict) -> dict:
    """The same field with ``parquet.field.id`` metadata grafted from
    ``delta.columnMapping.id`` at EVERY struct level — the read schema
    Spark's native field-id matching
    (``spark.sql.parquet.fieldId.read.enabled``) resolves against the
    parquet files' field ids, names notwithstanding."""
    cid = (f.get("metadata") or {}).get("delta.columnMapping.id")
    if cid is None:
        raise NotImplementedError(
            f"column-mapping mode=id but field {f.get('name')!r} carries "
            "no delta.columnMapping.id; read this table with a full "
            "Delta client."
        )

    def walk(tp):
        if isinstance(tp, dict):
            t = tp.get("type")
            if t == "struct":
                return {
                    **tp,
                    "fields": [_id_field_json(sf) for sf in tp["fields"]],
                }
            if t == "array":
                return {**tp, "elementType": walk(tp["elementType"])}
            if t == "map":
                return {
                    **tp,
                    "keyType": walk(tp["keyType"]),
                    "valueType": walk(tp["valueType"]),
                }
        return tp

    return {
        "name": f["name"],
        "type": walk(f["type"]),
        "nullable": f.get("nullable", True),
        "metadata": {"parquet.field.id": int(cid)},
    }


class MappingPlan(NamedTuple):
    """How parquet files resolve to the table's LOGICAL schema under
    its column-mapping mode. ``read_schema``: what the scan reads with
    (physical names in name mode; logical names + ``parquet.field.id``
    metadata in id mode). ``restore``: ``df -> df`` projection back to
    clean logical names (None when the scan already yields them).
    ``phys_of``: logical→physical TOP-LEVEL name map — what add.stats
    key on under mapping (id-mode writers record physicalName too).
    ``field_id_read``: the scan must enable Spark's
    ``spark.sql.parquet.fieldId.read.enabled``. ``id_of``: logical
    top-level name → ``{"id": delta.columnMapping.id, "children":
    {nested logical name: node, ...}}`` (id mode only; children present
    for struct levels, descending through array elements and map
    values) — what the pyarrow stream path resolves per-file against
    parquet field ids at EVERY nesting level, matching the JVM path's
    recursive fieldId matching."""

    read_schema: T.StructType
    restore: object
    phys_of: dict
    field_id_read: bool = False
    id_of: dict | None = None


def _mapping_plan(meta: dict) -> MappingPlan:
    """Mapping plan for the table's column-mapping mode — none, name
    (physical-name read schema + rename-back projection), or id
    (logical-name read schema resolved by parquet FIELD IDS — Spark's
    native fieldId matching on the JVM path, per-file
    ``PARQUET:field_id`` resolution on the pyarrow path). Unknown modes
    refuse loudly."""
    logical = T.StructType.fromJson(json.loads(meta["schemaString"]))
    mode = _column_mapping_mode(meta)
    if mode in ("none",):
        return MappingPlan(
            logical, None, {f.name: f.name for f in logical.fields}
        )
    fields_json = json.loads(meta["schemaString"])["fields"]
    if mode == "id":
        read_schema = T.StructType.fromJson(
            {
                "type": "struct",
                "fields": [_id_field_json(f) for f in fields_json],
            }
        )

        def restore(df: DataFrame) -> DataFrame:
            # names/types are already logical; the projection strips the
            # parquet.field.id field metadata from the result schema
            return df.select(
                *[
                    F.col(lf.name).cast(lf.dataType).alias(lf.name)
                    for lf in logical.fields
                ]
            )

        # id-mode writers record physicalName too (the metaData
        # requirement when mapping is enabled) — stats key on it; a
        # field without one falls back to its logical name
        phys_of = {
            f["name"]: (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )
            for f in fields_json
        }
        def id_tree(fields: list[dict]) -> dict:
            tree = {}
            for f in fields:
                node = {"id": int(f["metadata"]["delta.columnMapping.id"])}
                t = f["type"]
                # descend to the struct (if any) through array/map levels
                while isinstance(t, dict):
                    if t.get("type") == "array":
                        t = t["elementType"]
                    elif t.get("type") == "map":
                        t = t["valueType"]
                    else:
                        break
                if isinstance(t, dict) and t.get("type") == "struct":
                    node["children"] = id_tree(t["fields"])
                tree[f["name"]] = node
            return tree

        return MappingPlan(
            read_schema, restore, phys_of, True, id_tree(fields_json)
        )
    if mode != "name":
        raise NotImplementedError(
            f"column-mapping mode {mode!r} is not supported (name and id "
            "modes only); read this table with a full Delta client."
        )
    read_schema = T.StructType.fromJson(
        {"type": "struct", "fields": [_phys_field_json(f) for f in fields_json]}
    )

    def restore(df: DataFrame) -> DataFrame:
        return df.select(
            *[
                F.col(pf.name).cast(lf.dataType).alias(lf.name)
                for pf, lf in zip(read_schema.fields, logical.fields)
            ]
        )

    phys_of = {
        lf.name: pf.name for lf, pf in zip(logical.fields, read_schema.fields)
    }
    return MappingPlan(read_schema, restore, phys_of)


@functools.lru_cache(maxsize=128)
def _dv_decode_cached(data: bytes):
    from cdc_apache_cassandra_spark.streaming.deletion_vectors import (
        deserialize_dv,
    )

    return deserialize_dv(data)


def _dv_deleted_udf(bc):
    """Vectorized membership test against broadcast DV bitmaps: the
    scan stays one map-side filter — no shuffle, no driver-side rows;
    the broadcast carries only the compressed bitmaps (metadata-sized:
    roaring over deleted row indexes), decoded once per worker via the
    lru cache. ``_metadata.file_path`` is matched to the add's relative
    path by '/'-anchored suffix, so same-named files in different
    table subdirectories cannot collide."""

    @F.pandas_udf("boolean")
    def deleted(fp: pd.Series, ri: pd.Series) -> pd.Series:
        import numpy as np

        from cdc_apache_cassandra_spark.streaming.delta_log import (
            _dv_decode_cached,
        )

        dv_map = bc.value
        out = np.zeros(len(fp), dtype=bool)
        if not len(fp):
            return pd.Series(out)
        riv = ri.to_numpy()
        fpv = fp.to_numpy()
        for u in pd.unique(fp):
            # LONGEST '/'-anchored suffix wins: with DV'd files
            # 'part-0.parquet' and 'sub/part-0.parquet' both live, the
            # nested file's absolute path suffix-matches both keys —
            # only the longest is the true relative path. A DV'd file
            # that matches NOTHING is a correctness failure (silently
            # skipping the filter would resurrect deleted rows).
            # ABSOLUTE add paths (SHALLOW CLONE references) arrive
            # from the scan as 'file:<abs>' URIs — match those on a
            # ':'-anchored suffix
            matches = [
                k
                for k in dv_map
                if u == k
                or u.endswith("/" + k)
                or (k.startswith("/") and u.endswith(":" + k))
            ]
            if not matches:
                raise ValueError(
                    f"deletion-vector scan: file path {u!r} matches no "
                    "DV'd add path; refusing to read it unfiltered"
                )
            rel = max(matches, key=len)
            idx = _dv_decode_cached(dv_map[rel])
            if not len(idx):
                continue
            m = fpv == u
            vals = riv[m]
            pos = np.minimum(np.searchsorted(idx, vals), len(idx) - 1)
            out[m] = idx[pos] == vals
        return pd.Series(out)

    return deleted


def _partition_value_of(add: dict, phys_name: str, logical_name: str):
    """One partition column's STRING value for an add — partitionValues
    keys on the physical name under column mapping (delta-spark's
    writer), the logical name otherwise; tolerate either."""
    pv = add.get("partitionValues") or {}
    if phys_name in pv:
        return pv[phys_name]
    return pv.get(logical_name)


def _scan_adds(
    spark: SparkSession,
    out_path: str,
    entries: list[tuple[str, dict]],
    meta: dict,
) -> DataFrame:
    """Read the given ``(relative_path, add_action)`` entries into the
    table's LOGICAL schema — the JVM snapshot scan behind
    :func:`read_delta`: schema comes from the log (pre-DDL files read
    with typed nulls), column-mapped tables read under their physical
    schema and rename back, rows masked by a deletion vector are
    filtered by ``_metadata.row_index`` against the broadcast bitmap
    (map-side — a DV never causes a shuffle or a driver-side row), and
    PARTITION columns of a foreign partitioned table are reconstructed
    from ``add.partitionValues`` (the spec stores them in the LOG, not
    the parquet — reading them as typed nulls would be silent wrong
    data).
    Reconstruction is a broadcast map over the scan's per-row file
    path: metadata-sized (one entry per file), no shuffle, no plan
    blow-up with the partition count."""
    plan = _mapping_plan(meta)
    read_schema, restore = plan.read_schema, plan.restore
    if plan.field_id_read:
        # id-mode tables resolve columns by parquet FIELD ID — Spark's
        # native matching, keyed on the read schema's parquet.field.id
        # metadata (a no-op for schemas without it, so enabling it is
        # safe session-wide)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    part_cols = list(meta.get("partitionColumns") or [])
    pv_bc = None
    if part_cols and entries:
        # two name spaces: the stored partitionValues key on PHYSICAL
        # names (ppart, delta-spark's writer), but the names partition
        # columns carry IN read_schema depend on the mapping mode — id
        # mode keeps LOGICAL names (field-id resolution), name mode
        # uses physical. Exclusion from the parquet scan and the
        # attach below must key on the READ-SCHEMA names or an id-mode
        # partitioned table (the UniForm/Iceberg-origin shape) fails
        # to exclude and KeyErrors on attach.
        ppart = [plan.phys_of.get(c, c) for c in part_cols]
        scan_part = list(part_cols) if plan.field_id_read else ppart
        pq_schema = T.StructType(
            [f for f in read_schema.fields if f.name not in set(scan_part)]
        )
        # relative-path -> tuple of string values, broadcast to the
        # Arrow-batched filler UDF below (one entry per file; matched
        # by '/'-anchored suffix, the _dv_deleted_udf convention —
        # works for local paths and URI roots alike)
        pv_map = {
            rel: tuple(
                _partition_value_of(add, p, c)
                for p, c in zip(ppart, part_cols)
            )
            for rel, add in entries
        }
        pv_bc = spark.sparkContext.broadcast(pv_map)
    else:
        scan_part = []
        pq_schema = read_schema

    def attach_partitions(df: DataFrame) -> DataFrame:
        """Graft the partition columns back (typed, under their
        READ-SCHEMA names, in read_schema's order) from the broadcast
        per-file map keyed on ``_metadata.file_path`` — ONE UDF
        invocation resolves every partition column's string value
        (array-valued), so the per-path suffix match runs once per
        batch, not once per column."""
        if pv_bc is None:
            return df

        @F.pandas_udf("array<string>")
        def pv_of(fp: pd.Series) -> pd.Series:
            m = pv_bc.value
            # file_path arrives as a URI (file:/...); match by
            # '/'-anchored suffix against the adds' relative paths,
            # longest wins — the same rule the DV filter uses
            out = []
            cache: dict = {}
            for u in fp:
                if u not in cache:
                    ms = [
                        k
                        for k in m
                        if u == k
                        or u.endswith("/" + k)
                        or (k.startswith("/") and u.endswith(":" + k))
                    ]
                    if not ms:
                        raise ValueError(
                            f"partition-value scan: file path {u!r} "
                            "matches no add path"
                        )
                    cache[u] = list(m[max(ms, key=len)])
                out.append(cache[u])
            return pd.Series(out, dtype=object)

        df = df.withColumn("__pv", pv_of(F.col("_metadata.file_path")))
        by_name = {f.name: f for f in read_schema.fields}
        for i, p in enumerate(scan_part):
            df = df.withColumn(
                p,
                F.element_at(F.col("__pv"), i + 1).cast(by_name[p].dataType),
            )
        return df.drop("__pv").select(*[f.name for f in read_schema.fields])

    plain = [
        os.path.join(out_path, rel)
        for rel, add in entries
        if not add.get("deletionVector")
    ]
    dved = [
        (rel, add["deletionVector"])
        for rel, add in entries
        if add.get("deletionVector")
    ]
    parts: list[DataFrame] = []
    if plain:
        parts.append(
            attach_partitions(spark.read.schema(pq_schema).parquet(*plain))
        )
    if dved:
        from cdc_apache_cassandra_spark.streaming.deletion_vectors import (
            load_dv_bytes,
        )

        dv_bytes = {
            rel: load_dv_bytes(out_path, dv, _io_read_bytes)
            for rel, dv in dved
        }
        bc = spark.sparkContext.broadcast(dv_bytes)
        deleted = _dv_deleted_udf(bc)
        df = (
            spark.read.schema(pq_schema)
            .parquet(*[os.path.join(out_path, rel) for rel, _ in dved])
            .select(
                "*",
                F.col("_metadata.file_path").alias("__dv_fp"),
                F.col("_metadata.row_index").alias("__dv_ri"),
            )
        )
        df = df.filter(~deleted(F.col("__dv_fp"), F.col("__dv_ri"))).drop(
            "__dv_fp", "__dv_ri"
        )
        parts.append(attach_partitions(df))
    if not parts:
        out = spark.createDataFrame([], schema=read_schema)
    else:
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
    return restore(out) if restore is not None else out


def read_delta(
    spark: SparkSession,
    out_path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    prune: tuple | None = None,
) -> DataFrame:
    """Snapshot read of a Delta table directly from its log — the
    import half of the seam: reads tables THIS exporter wrote and
    foreign tables, including CHECKPOINTED ones (state restored from
    the newest checkpoint named by ``_last_checkpoint`` — classic
    single-/multi-part parquet OR a V2 checkpoint with sidecar files —
    then the JSON tail replays on top; delta-spark checkpoints every
    10 commits by default, so this is most real tables). Supported
    reader features: column mapping (name AND id modes), deletion
    vectors, timestampNtz, v2Checkpoint, vacuumProtocolCheck (a
    vacuum-writer-only obligation, read-safe); writer features such as
    rowTracking/domainMetadata are tolerated by replay. Anything else
    is refused loudly rather than misread (``_check_protocol``).
    ``version`` time travels to an earlier snapshot, exactly the
    log-replay semantics of ``VERSION AS OF`` (pre-checkpoint versions
    work while their JSON commits survive cleanup). An empty file set
    still yields the correct schema (from ``metaData.schemaString``).
    ``timestamp_ms`` is ``TIMESTAMP AS OF`` (mutually exclusive with
    ``version``): resolved to the last commit at or before that time via
    :func:`version_at_timestamp`."""
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp_ms, not both")
        version = version_at_timestamp(out_path, timestamp_ms)
    s = _replay(out_path, version)
    if s.meta is None:
        raise FileNotFoundError(f"no Delta log at {out_path}")
    paths = sorted(s.files)
    if prune is not None:
        # ``prune=(col, lo, hi)``: Delta-style data skipping — candidate
        # files chosen from log stats ONLY (no footer IO); the caller
        # still applies its row filter, this just bounds which files the
        # scan lists at all. The gate for correctness is in
        # prune_files_by_stats: stat-less files are never skipped. Under
        # column mapping, add.stats key on PHYSICAL names — translate.
        col, lo, hi = prune
        phys_of = _mapping_plan(s.meta).phys_of
        paths = prune_files_by_stats(s.files, phys_of.get(col, col), lo, hi)
    # schema comes from the LOG, not file footers — the Delta reader
    # contract; files predating a schema widening read with typed
    # nulls; DV-masked and column-mapped files handled in _scan_adds
    return _scan_adds(spark, out_path, [(p, s.files[p]) for p in paths], s.meta)


def delta_changes(
    spark: SparkSession,
    out_path: str,
    from_version: int,
    to_version: int,
    pk_cols: list[str],
) -> DataFrame:
    """Row-level change feed between two snapshots — the Delta CDF
    surface (``table_changes``) derived from a plain add/remove log, no
    persisted _change_data files needed: the exporter rewrites whole
    buckets, so the NET file diff between the versions contains every
    changed row (plus unchanged neighbors, which cancel).

    Reads ONLY the diff: files removed across the range (pre image) and
    files added (post image), keyed by (path, deletion vector) — IO ∝
    changed buckets, never the table. Both versions replay on the
    driver; the diff is planned and classified by the stream source's
    planner and classifier (``change_feed_source.plan_pk_diff`` /
    ``run_changes``): one batch job, at most one task per core for a
    bucket-tagged table, each merging its buckets' pre and post rows on
    the primary key —

      post only                          -> ``insert``
      pre only                           -> ``delete`` (pre row emitted)
      both, rows null-safe identical     -> no change (bucket-rewrite
                                            neighbors cancel here)
      both, differing                    -> ``update_preimage`` +
                                            ``update_postimage``

    Output columns: the table's (latest-schema; pre-DDL rows read with
    typed nulls) plus ``_change_type`` and ``_commit_version`` =
    ``to_version`` — the net change attribution, exactly what a
    downstream training-data pipeline tails to stay incremental.

    Retention contract (same as Delta CDF without _change_data files):
    the PRE image reads files the range REMOVED, so
    :func:`delta_vacuum`'s retention must exceed the consumer's maximum
    lag — vacuuming a file a feed still needs surfaces as a read error
    on that consumer, never silent data loss."""
    if to_version <= from_version:
        raise ValueError("to_version must be > from_version")
    s_from = _replay(out_path, from_version)
    s_to = _replay(out_path, to_version)
    if s_to.meta is None:
        raise FileNotFoundError(f"no Delta log at {out_path}")
    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        plan_pk_diff,
        run_changes,
    )

    parts = plan_pk_diff(
        out_path, s_from.files, s_to.files, s_to.meta, pk_cols, to_version
    )
    schema = T.StructType.fromJson(json.loads(s_to.meta["schemaString"]))
    return run_changes(spark, parts, schema)


def commit_timestamps(
    out_path: str, resume: tuple[int, int] | None = None
) -> list[tuple[int, int]]:
    """``(version, adjusted_timestamp_ms)`` for every surviving JSON
    commit, oldest first — delta-spark's DeltaHistoryManager rules:
    the ``commitInfo`` timestamp when a commit carries one, the commit
    FILE's modification time otherwise (foreign writers may omit
    commitInfo entirely — the spec makes it optional), and the whole
    sequence MONOTONIZED (each commit adjusted to at least the previous
    + 1 ms) so a clock-skewed writer cannot make table time run
    backwards. Every timestamp→version resolution in this module and in
    the streaming source goes through this one helper so batch and
    stream agree on foreign logs too.

    ``resume=(after_version, floor_ms)`` is the INCREMENTAL form for
    long-lived consumers (the readChangeFeed stream): only commits
    with version > after_version are parsed, monotonized continuing
    from floor_ms — exact because the adjustment is prefix-stable
    (each commit's adjusted time depends only on its raw time and the
    previous adjusted value). Returns [] when nothing is newer. The
    caller owns cache invalidation: a resume is only sound while the
    EARLIEST surviving commit is unchanged (log cleanup moves the
    leading-unknown baseline).

    Raises ``FileNotFoundError`` when no commits survive (no log), and
    ``ValueError`` — a DISTINCT error, not a misleading "no Delta log"
    — when commits exist but no timestamp source is usable at all
    (commitInfo-free commits behind a routed log store that exposes no
    file mtimes)."""
    log_dir = os.path.join(out_path, LOG_DIR)
    versions = sorted(
        int(n[: -len(".json")])
        for n in _log_listdir(log_dir)
        if n.endswith(".json") and n[: -len(".json")].isdigit()
    )
    if not versions:
        raise FileNotFoundError(f"no Delta log at {out_path}")
    if resume is not None:
        versions = [v for v in versions if v > resume[0]]
        if not versions:
            return []
    # mtime fallback: only for commits with no commitInfo timestamp, and
    # only when the log is NOT routed through a commit store (the store
    # seam lists names, not stat metadata — authoritative reads must not
    # bypass it through the filesystem)
    mtimes: dict[str, float] = {}
    if not _log_reads_via_store():
        mtimes = {n: mt for n, _sz, mt in _io_file_infos(log_dir)}
    raw: list[int | None] = []
    for v in versions:
        name = f"{v:020d}.json"
        t: int | None = None
        for line in (
            _log_read_bytes(os.path.join(log_dir, name)).decode().splitlines()
        ):
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            ci = action.get("commitInfo")
            if ci is not None:
                # inCommitTimestamp (the spec's writer feature) is the
                # AUTHORITATIVE commit time when present — delta-spark's
                # time travel prefers it over the wall-clock timestamp
                if ci.get("inCommitTimestamp") is not None:
                    t = int(ci["inCommitTimestamp"])
                elif ci.get("timestamp") is not None:
                    t = int(ci["timestamp"])
                break
        if t is None and name in mtimes:
            t = int(mtimes[name] * 1000)
        raw.append(t)
    if resume is None and all(t is None for t in raw):
        raise ValueError(
            f"delta log at {out_path} has {len(versions)} commit(s) but no "
            "usable timestamps (no commitInfo timestamps and no file "
            "modification times through the routed log store); cannot "
            "resolve a timestamp to a version"
        )
    # leading unknowns inherit the first known timestamp (a start time at
    # or before it resolves to the earliest commit either way); interior
    # unknowns and clock skew both monotonize to previous + 1 ms. In
    # resume mode the floor is already known, so every unknown is
    # interior by construction.
    first_known = (
        next(t for t in raw if t is not None) if resume is None else None
    )
    adjusted: list[int] = []
    prev: int | None = None if resume is None else resume[1]
    for t in raw:
        if t is None:
            t = first_known if prev is None else prev + 1
        if prev is not None and t <= prev:
            t = prev + 1
        adjusted.append(t)
        prev = t
    return list(zip(versions, adjusted))


def _cdf_window_plan(
    out_path: str, starting_version: int, ending_version: int
) -> list[tuple[int, str, list[tuple[str, dict]]]]:
    """Classify every commit of the INCLUSIVE ``[starting_version,
    ending_version]`` window for Change-Data-Feed reading. Returns
    ``(version, kind, [(relative_path, action)])`` tuples, in emission
    order, where ``kind`` is ``'cdc'`` (the commit wrote change-data
    files — read them; rows carry their stored ``_change_type``),
    ``'delete'`` (a pure-delete commit; the entries are the removed
    files' PRE-commit ``add`` actions, read as delete rows) or
    ``'insert'`` (a pure-insert commit; the entries are its dataChange
    adds). ``change_feed_source.plan_cdf`` turns this list into
    partitions for :func:`delta_changes_cdf` and the streaming
    source's ``readChangeFeed`` mode alike.

    Driver cost: one JSON parse per window commit (metadata-sized);
    the pre-window snapshot replays LAZILY — only when a delete
    actually reaches below the window — so a window over
    checkpoint-cleaned history still serves unless synthesis genuinely
    needs the cleaned state (that raises a widen-the-window error).
    Refusal parity with delta-spark: a commit mixing dataChange adds
    AND removes without change-data files raises (an update a CDF
    writer must have recorded)."""
    log_dir = os.path.join(out_path, LOG_DIR)
    # ONE parse per window commit; the pre-window snapshot is computed
    # lazily on the first delete that needs it
    window_adds: dict[str, dict] = {}
    pre_live: dict[str, dict] | None = None

    def _pre_add(rel: str, v: int) -> dict:
        nonlocal pre_live
        if rel in window_adds:
            return window_adds[rel]
        if pre_live is None:
            try:
                pre_live = (
                    dict(_replay(out_path, starting_version - 1).files)
                    if starting_version > 0
                    else {}
                )
            except FileNotFoundError as e:
                raise FileNotFoundError(
                    f"{out_path}: version {v} deletes {rel!r} added "
                    "BEFORE the window, and the pre-window history was "
                    "checkpoint-cleaned — widen starting_version to a "
                    "surviving commit"
                ) from e
        add = pre_live.get(rel)
        if add is None:
            raise ValueError(
                f"{out_path}: version {v} removes {rel!r} which is not "
                "in the pre-commit snapshot; cannot synthesize its "
                "delete rows"
            )
        return add

    plans: list[tuple[int, str, list[tuple[str, dict]]]] = []
    for v in range(starting_version, ending_version + 1):
        path = os.path.join(log_dir, f"{v:020d}.json")
        cdc_actions: list[dict] = []
        adds: list[dict] = []
        removes: list[dict] = []
        for line in _log_read_bytes(path).decode().splitlines():
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "cdc" in action:
                cdc_actions.append(action["cdc"])
            elif "add" in action:
                adds.append(action["add"])
            elif "remove" in action:
                removes.append(action["remove"])
        if cdc_actions:
            plans.append(
                (v, "cdc", [(a["path"], a) for a in cdc_actions])
            )
        else:
            ins = [
                (a["path"], a) for a in adds if a.get("dataChange", True)
            ]
            del_paths = [
                r["path"] for r in removes if r.get("dataChange", True)
            ]
            if ins and del_paths:
                raise ValueError(
                    f"{out_path}: version {v} mixes dataChange adds and "
                    "removes but wrote no change-data files — change "
                    "data was not recorded for this commit (an update "
                    "a CDF writer must record; only pure-insert / "
                    "pure-delete commits are synthesizable)"
                )
            if del_paths:
                plans.append(
                    (v, "delete", [(p, _pre_add(p, v)) for p in del_paths])
                )
            if ins:
                plans.append((v, "insert", ins))
        for r in removes:
            window_adds.pop(r["path"], None)
            if pre_live is not None:
                pre_live.pop(r["path"], None)
        for a in adds:
            window_adds[a["path"]] = a
    return plans


def delta_changes_cdf(
    spark: SparkSession,
    out_path: str,
    starting_version: int,
    ending_version: int,
) -> DataFrame:
    """Spec-exact Change Data Feed from the log's own ``cdc`` actions —
    delta-spark's ``table_changes`` surface (INCLUSIVE version window,
    no primary key needed, unlike the file-diff :func:`delta_changes`):

    * a commit that wrote CHANGE-DATA files (``cdc`` actions, the
      shape delta-spark produces under
      ``delta.enableChangeDataFeed=true``) yields exactly those files'
      rows with their stored ``_change_type``
      (update_preimage/update_postimage/delete/insert); its
      add/remove actions are IGNORED for CDF per spec (cdc files are
      authoritative and never part of the table's data);
    * a commit without them synthesizes ``insert`` rows from its
      ``dataChange`` adds and ``delete`` rows from its ``dataChange``
      removes — the removed file's content read through its
      PRE-commit add entry (still on disk until VACUUM), exactly
      delta-spark's fallback for add/remove-only commits.

    Output = the table's logical columns + ``_change_type``,
    ``_commit_version``, ``_commit_timestamp`` (delta-spark's column
    set; timestamps are the monotonized :func:`commit_timestamps`
    resolution, so this window and time travel agree on every
    boundary). Composes with column mapping (``_change_type`` is
    stored under its literal name even in mapped tables), deletion
    vectors and partition-value reconstruction.

    The window plans with ``change_feed_source.plan_cdf`` and reads
    through its one file-level change reader — the functions the
    ``readChangeFeed`` stream runs — as one ``mapInArrow`` job: files
    of every commit pack into at most one task per core, each row
    stamped with its own commit's version and timestamp. IO ∝ changed
    files in the window; the driver holds one action list per commit
    (metadata-sized), and nothing is scanned until the caller acts. A
    negative or inverted version window refuses before any IO. The
    PRE-window snapshot replays only when a delete actually needs it
    (a window whose history below it was checkpoint-cleaned still
    serves as long as no delete synthesis reaches back past the
    window). delta-spark parity on refusals too: a table without
    ``delta.enableChangeDataFeed`` refuses (change data was never
    recorded — synthesizing file-level rows for its update commits
    would fabricate deletes+inserts for every unchanged neighbor
    row), as does a CDF-enabled commit mixing dataChange adds AND
    removes without change-data files (an update a spec writer must
    have recorded; only pure-insert and pure-delete commits are
    synthesizable)."""
    if starting_version < 0:
        raise ValueError(
            f"starting_version {starting_version} must be >= 0 "
            "(delta-spark's table_changes refuses a negative version "
            "the same way)"
        )
    if ending_version < starting_version:
        raise ValueError(
            f"ending_version {ending_version} < starting_version "
            f"{starting_version}"
        )
    end_state = _replay(out_path, ending_version)
    if end_state.meta is None:
        raise FileNotFoundError(f"no Delta log at {out_path}")
    meta = end_state.meta
    if (meta.get("configuration") or {}).get(
        "delta.enableChangeDataFeed"
    ) != "true":
        raise ValueError(
            f"{out_path}: delta.enableChangeDataFeed is not set — change "
            "data was not recorded for this table (delta-spark's "
            "table_changes refuses the same way); use the pk-diff "
            "delta_changes for file-rewrite logs"
        )
    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        plan_cdf,
        run_changes,
    )

    parts = plan_cdf(
        out_path,
        _cdf_window_plan(out_path, starting_version, ending_version),
        meta,
        dict(commit_timestamps(out_path)),
    )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    return run_changes(spark, parts, schema)


def delta_changes_cdf_by_time(
    spark: SparkSession,
    out_path: str,
    start_ms: int,
    end_ms: int,
) -> DataFrame:
    """Spec-exact CDF by TIMESTAMPS — delta-spark's
    ``table_changes(tbl, startingTimestamp, endingTimestamp)`` over
    stored change-data files, both bounds INCLUSIVE: every commit in
    [start_ms, end_ms] contributes its own change rows (cdc files
    authoritative; insert/delete synthesis for add-only/remove-only
    commits). Raises when the window covers no commit. Resolution
    rides :func:`commit_timestamps` — the SAME monotonized helper the
    pk-diff :func:`delta_changes_by_time` and the stream's
    startingTimestamp use, so every by-time surface places a given
    time on the same side of every commit."""
    first_v, last_v = _resolve_time_window(
        out_path, start_ms, end_ms, "delta_changes_cdf_by_time"
    )
    # unlike the diff twin (exclusive from-version), the CDF window is
    # inclusive on both version ends — pass the resolved versions as-is
    return delta_changes_cdf(spark, out_path, first_v, last_v)


def _resolve_time_window(
    out_path: str, start_ms: int, end_ms: int, label: str
) -> tuple[int, int]:
    """Resolve an INCLUSIVE [start_ms, end_ms] window to the covered
    commit versions (earliest at-or-after start, last at-or-before
    end) — ONE resolver for both by-time CDF surfaces, so the pk-diff
    and cdc-file twins can never diverge at a boundary. Raises when
    the window covers no commit (delta's 'no commits in range')."""
    stamped = commit_timestamps(out_path)
    first = [v for v, t in stamped if t >= start_ms]
    last = [v for v, t in stamped if t <= end_ms]
    if not first or not last or min(first) > max(last):
        raise ValueError(
            f"{label}: no commits in [{start_ms}, {end_ms}] "
            f"at {out_path!r}"
        )
    return min(first), max(last)


def delta_changes_by_time(
    spark: SparkSession,
    out_path: str,
    start_ms: int,
    end_ms: int,
    pk_cols: list[str],
) -> DataFrame:
    """Batch CDF by TIMESTAMPS — delta-spark's
    ``table_changes(tbl, startingTimestamp, endingTimestamp)`` surface,
    both bounds INCLUSIVE: every change committed in [start_ms, end_ms]
    (the earliest commit at or after start through the last commit at
    or before end). Raises when the window covers no commit (delta's
    'no commits in range' posture). Resolution rides
    :func:`commit_timestamps` — monotonized, mtime-fallback — the SAME
    helper the stream source's startingTimestamp uses, so batch and
    stream agree at the boundaries on foreign (commitInfo-free or
    clock-skewed) logs too."""
    first_v, last_v = _resolve_time_window(
        out_path, start_ms, end_ms, "delta_changes_by_time"
    )
    # from = the version BEFORE the first in-window commit (the diff's
    # from_version is exclusive). A window covering v0 passes from=-1 —
    # the empty pre-table state, so v0's rows classify as inserts (the
    # same resolution the stream source's startingTimestamp uses).
    return delta_changes(spark, out_path, first_v - 1, last_v, pk_cols)


def delta_changes_since(
    spark: SparkSession,
    out_path: str,
    last_version: int,
    pk_cols: list[str],
) -> tuple[DataFrame | None, int]:
    """Incremental tail of the change feed — the consumer loop shape:
    ``(changes, new_version) = delta_changes_since(..., last_version)``;
    persist ``new_version`` with the consumed output (a checkpoint, a
    txn row) and pass it back next poll. Returns ``(None,
    last_version)`` when the log hasn't moved — no files are read at
    all (replay is metadata-only). Net-effect semantics across multiple
    commits, same as :func:`delta_changes`."""
    s = _replay(out_path)
    if s.last <= last_version:
        return None, last_version
    if last_version >= 0 and _file_identity(
        _replay(out_path, last_version).files
    ).keys() == _file_identity(s.files).keys():
        # the log advanced but only with data-free commits (consumer
        # txn watermarks, metadata): no change rows exist — advance the
        # cursor without running any Spark job
        return None, s.last
    return (
        delta_changes(spark, out_path, last_version, s.last, pk_cols),
        s.last,
    )


#: txn appId namespace for change-feed consumers: distinguishes LOG-VERSION
#: cursors (what cleanup retention must respect) from exporter batch-id
#: watermarks (``materialize::<path>`` — app-defined integers)
_CONSUMER_NS = "consumer::"


def consumer_offset(out_path: str, app_id: str) -> int:
    """The last change-feed version ``app_id`` recorded as consumed, or
    -1 — read from the log's own ``txn`` watermarks (surviving
    checkpoints: txns are carried into every checkpoint)."""
    return _replay(out_path).txns.get(_CONSUMER_NS + app_id, -1)


def record_consumer_offset(
    out_path: str, app_id: str, version: int, max_attempts: int = 5
) -> int:
    """Durably record a consumer's consumed-through version IN the log
    itself — the protocol's own device (a txn-only commit, exactly what
    delta-spark writes for idempotent streaming sinks): no files
    change, the table version advances by one, and any reader of the
    log can see every consumer's watermark. Create-only publication,
    retried through version races with concurrent exporters. Returns
    the committed log version. Pairs with :func:`delta_changes_since`:

        last = consumer_offset(path, "my-job")
        changes, new = delta_changes_since(spark, path, last, pk_cols)
        ... process ...
        record_consumer_offset(path, "my-job", new)
    """
    for _ in range(max_attempts):
        s = _replay(out_path)
        if s.last < 0:
            raise FileNotFoundError(f"no Delta log at {out_path}")
        now = _now_ms()
        info = {
            "timestamp": now,
            "operation": "SET TRANSACTION",
            "operationParameters": {"appId": app_id},
        }
        # carry the exporter's empty-bucket memo forward ONLY when it
        # holds something: a replay degraded by a torn checkpoint
        # pointer sees {} — persisting that would durably wipe the memo
        # (an absent key leaves the previous memo in force on replay)
        if s.empty_buckets:
            info["emptyBuckets"] = {
                str(b): v for b, v in s.empty_buckets.items()
            }
        actions = [
            {
                "txn": {
                    "appId": _CONSUMER_NS + app_id,
                    "version": version,
                    "lastUpdated": now,
                }
            },
            {"commitInfo": info},
        ]
        try:
            _write_commit(out_path, s.last + 1, actions)
            return s.last + 1
        except CommitConflict:
            continue  # another writer took the version — re-replay
    raise CommitConflict(
        f"could not record consumer offset after {max_attempts} attempts"
    )


def delta_history(out_path: str) -> list[dict]:
    """The table's commitInfo rows, oldest first — ``DESCRIBE HISTORY``.
    On a cleaned log only the surviving JSON commits (>= the last
    checkpoint) appear, as in Delta's own metadata retention."""
    out = []
    log_dir = os.path.join(out_path, LOG_DIR)
    versions = sorted(
        int(n[: -len(".json")])
        for n in _log_listdir(log_dir)
        if n.endswith(".json") and n[: -len(".json")].isdigit()
    )
    if not versions:
        return out
    first = versions[0]
    for version, path in _list_commits(out_path, after=first - 1):
        for line in _log_read_bytes(path).decode().splitlines():
            line = line.strip()
            if line:
                action = json.loads(line)
                if "commitInfo" in action:
                    out.append({"version": version, **action["commitInfo"]})
    return out


def delta_vacuum(out_path: str, retain_ms: int = VACUUM_RETAIN_MS) -> list[str]:
    """Delete data files the current snapshot no longer references —
    Delta's VACUUM. ``retain_ms`` keeps recently-modified files even if
    unreferenced: an in-flight export stages files into ``data/`` BEFORE
    committing the log version that references them, so a zero-retention
    vacuum racing an exporter would delete files the next commit points
    at (the same reason real Delta defaults to a 7-day retention).
    Time travel to versions whose files were vacuumed stops working, as
    in Delta. Returns the deleted paths."""
    s = _replay(out_path)
    live = {os.path.normpath(p) for p in s.files}
    deleted = []
    data_dir = os.path.join(out_path, DATA_DIR)
    horizon = _now_ms() - retain_ms
    for fname, _size, mtime in _io_file_infos(data_dir):
        rel = os.path.normpath(f"{DATA_DIR}/{fname}")
        if not fname.endswith(".parquet") or rel in live:
            continue
        if int(mtime * 1000) > horizon:
            continue  # inside the retention window — possibly in-flight
        _io_delete(os.path.join(data_dir, fname))
        deleted.append(rel)
    # deletion-vector files: a foreign DELETE/UPDATE re-points a file at
    # a NEW DV, stranding the old one — delta-spark's VACUUM removes
    # those too. Live = every DV the current snapshot's adds reference;
    # only root-level `deletion_vector_*.bin` are scanned (a prefixed
    # DV simply isn't listed here — left alone, conservatively safe),
    # and the same retention window covers in-flight DV publication.
    from cdc_apache_cassandra_spark.streaming.deletion_vectors import (
        dv_absolute_path,
    )

    # liveness by BASENAME: descriptors resolve through table-root
    # joins ('u') or verbatim absolute payloads ('p'), so a path-form
    # comparison against the caller's out_path spelling (relative,
    # file:// URI) would miss a live file and DELETE it. Basenames are
    # uuid-unique for 'u' files; a same-named live file elsewhere only
    # makes the scan keep one extra root file — conservative.
    live_dv = {
        os.path.basename(dv_absolute_path(out_path, add["deletionVector"]))
        for add in s.files.values()
        if add.get("deletionVector")
        and add["deletionVector"].get("storageType") in ("u", "p")
    }
    for fname, _size, mtime in _io_file_infos(out_path):
        if not (
            fname.startswith("deletion_vector_") and fname.endswith(".bin")
        ):
            continue
        if fname in live_dv or int(mtime * 1000) > horizon:
            continue
        _io_delete(os.path.join(out_path, fname))
        deleted.append(fname)
    # change-data files (CDF writer): referenced per COMMIT (cdc
    # actions), never by the snapshot — live = every cdc path a
    # SURVIVING commit JSON still references. delta_log_cleanup
    # orphans the cleaned commits' cdc files; delta-spark's VACUUM
    # removes those too. Same retention window covers an in-flight
    # export's staged-then-moved cdc files.
    cdc_dir = os.path.join(out_path, CDC_DIR)
    if _io_exists(cdc_dir):
        live_cdc = set()
        log_dir = os.path.join(out_path, LOG_DIR)
        first = [
            int(n[: -len(".json")])
            for n in _log_listdir(log_dir)
            if n.endswith(".json") and n[: -len(".json")].isdigit()
        ]
        for _v, cpath in (
            _list_commits(out_path, after=min(first) - 1) if first else []
        ):
            for line in _log_read_bytes(cpath).decode().splitlines():
                line = line.strip()
                if line:
                    action = json.loads(line)
                    if "cdc" in action:
                        live_cdc.add(
                            os.path.basename(action["cdc"]["path"])
                        )
        for fname, _size, mtime in _io_file_infos(cdc_dir):
            if not fname.endswith(".parquet"):
                continue
            if fname in live_cdc or int(mtime * 1000) > horizon:
                continue
            _io_delete(os.path.join(cdc_dir, fname))
            deleted.append(f"{CDC_DIR}/{fname}")
    return sorted(deleted)
