"""Foreign-table reader features: deletion vectors + column mapping
(VERDICT r8 items 1+2).

Fixtures are hand-built spec-layout tables (streaming/foreign_delta.py)
because no delta-spark jar exists in this environment; the DV blobs are
written by streaming/deletion_vectors.write_dv_file, whose byte layout
is pinned against the spec in test_deletion_vector_codec.py.
"""

import json
import os

import pyarrow as pa
import pytest

from cdc_apache_cassandra_spark.streaming import foreign_delta as fx
from cdc_apache_cassandra_spark.streaming.deletion_vectors import (
    inline_dv_descriptor,
    write_dv_file,
)
from cdc_apache_cassandra_spark.streaming.delta_log import (
    delta_changes,
    delta_changes_since,
    read_delta,
)

def _dv_table(tmp_path, dv_rows, inline=False, n=10):
    """A 1-file foreign table: v0 = n rows (pk 0..n-1, v = 10*pk),
    v1 = same file re-added with a DV masking ``dv_rows`` (row index i
    holds pk i). Returns (root, add0)."""
    root = str(tmp_path / "ftable")
    os.makedirs(root)
    data = pa.table({"pk": list(range(n)), "v": [10 * i for i in range(n)]})
    add0 = fx.write_data_file(root, "part-000.parquet", data, stats_cols=["pk"])
    fx.write_commit(
        root,
        0,
        [
            fx.protocol_action(3, 7, reader_features=["deletionVectors"]),
            fx.metadata_action(
                [fx.field("pk", "long"), fx.field("v", "long")]
            ),
            add0,
        ],
    )
    if inline:
        dv = inline_dv_descriptor(dv_rows)
    else:
        dv = write_dv_file(None, [dv_rows], table_root=root)[0]
    fx.write_commit(root, 1, [fx.remove_action(add0), fx.with_dv(add0, dv)])
    return root, add0


@pytest.mark.parametrize("inline", [False, True], ids=["dv-file", "inline"])
def test_dv_masked_snapshot_read(spark, tmp_path, inline):
    root, _ = _dv_table(tmp_path, [2, 5, 7], inline=inline)
    assert read_delta(spark, root, version=0).count() == 10
    got = sorted(r.pk for r in read_delta(spark, root).collect())
    assert got == [0, 1, 3, 4, 6, 8, 9]


def test_dv_only_commit_feeds_deletes(spark, tmp_path):
    """delta-spark DELETE: remove(p)+add(p, dv) in one commit — the
    path set is unchanged, so a path-only diff would emit nothing. The
    feed must emit exactly the masked rows as deletes."""
    root, _ = _dv_table(tmp_path, [0, 9])
    feed = delta_changes(spark, root, 0, 1, ["pk"]).collect()
    assert sorted((r.pk, r._change_type) for r in feed) == [
        (0, "delete"),
        (9, "delete"),
    ]
    # and the incremental tail must not classify the commit as data-free
    changes, new_v = delta_changes_since(spark, root, 0, ["pk"])
    assert new_v == 1 and changes is not None
    assert sorted(r.pk for r in changes.collect()) == [0, 9]


def test_dv_grows_feeds_incremental_deletes(spark, tmp_path):
    """A second DV on the same file (more rows deleted) must feed only
    the NEWLY masked rows."""
    root, add0 = _dv_table(tmp_path, [2])
    dv2 = write_dv_file(None, [[2, 4, 6]], table_root=root)[0]
    fx.write_commit(root, 2, [fx.remove_action(add0), fx.with_dv(add0, dv2)])
    feed = delta_changes(spark, root, 1, 2, ["pk"]).collect()
    assert sorted((r.pk, r._change_type) for r in feed) == [
        (4, "delete"),
        (6, "delete"),
    ]


def test_dv_crc_corruption_raises(spark, tmp_path):
    root, _ = _dv_table(tmp_path, [1])
    dv_file = next(
        f for f in os.listdir(root) if f.startswith("deletion_vector_")
    )
    p = os.path.join(root, dv_file)
    blob = bytearray(open(p, "rb").read())
    blob[-1] ^= 0xFF  # flip a checksum byte
    open(p, "wb").write(bytes(blob))
    with pytest.raises(Exception, match="checksum|corrupt"):
        read_delta(spark, root).count()


def _mapped_table(tmp_path):
    """Column-mapped (name mode) table: logical (pk, payload, meta)
    stored under physical names (col-xyz…), including a nested struct
    whose inner field is also renamed."""
    root = str(tmp_path / "mtable")
    os.makedirs(root)
    data = pa.table(
        {
            "col-a1": [1, 2, 3],
            "col-b2": ["x", "y", "z"],
            "col-c3": pa.array(
                [{"col-d4": 10}, {"col-d4": 20}, {"col-d4": 30}],
                type=pa.struct([pa.field("col-d4", pa.int64())]),
            ),
        }
    )
    add = fx.write_data_file(root, "part-000.parquet", data, stats_cols=["col-a1"])
    meta = fx.metadata_action(
        [
            fx.field("pk", "long", physical="col-a1"),
            fx.field("payload", "string", physical="col-b2"),
            {
                "name": "meta",
                "type": {
                    "type": "struct",
                    "fields": [fx.field("depth", "long", physical="col-d4")],
                },
                "nullable": True,
                "metadata": {"delta.columnMapping.physicalName": "col-c3"},
            },
        ],
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": "4",
        },
    )
    fx.write_commit(
        root,
        0,
        [fx.protocol_action(2, 5), meta, add],
    )
    return root, add


def test_column_mapping_name_mode_read(spark, tmp_path):
    root, _ = _mapped_table(tmp_path)
    df = read_delta(spark, root)
    assert df.columns == ["pk", "payload", "meta"]
    assert df.schema["meta"].dataType.fieldNames() == ["depth"]
    rows = sorted(df.collect(), key=lambda r: r.pk)
    assert [(r.pk, r.payload, r.meta.depth) for r in rows] == [
        (1, "x", 10),
        (2, "y", 20),
        (3, "z", 30),
    ]


def test_column_mapping_stats_prune_translates_names(spark, tmp_path):
    """add.stats key on PHYSICAL names under mapping — pruning on the
    logical name must still skip files."""
    root, _ = _mapped_table(tmp_path)
    # second file, pk 100..102, to give pruning something to skip
    data = pa.table(
        {
            "col-a1": [100, 101, 102],
            "col-b2": ["q", "r", "s"],
            "col-c3": pa.array(
                [{"col-d4": 0}] * 3,
                type=pa.struct([pa.field("col-d4", pa.int64())]),
            ),
        }
    )
    add2 = fx.write_data_file(root, "part-001.parquet", data, stats_cols=["col-a1"])
    fx.write_commit(root, 1, [add2])
    df = read_delta(spark, root, prune=("pk", None, 50))
    # pruned scan lists one file: all three low-pk rows, none of the high
    assert sorted(r.pk for r in df.collect()) == [1, 2, 3]
    scan_files = [
        f for f in df.inputFiles() if f.endswith(".parquet")
    ]
    assert len(scan_files) == 1 and scan_files[0].endswith("part-000.parquet")


def test_column_mapping_change_feed(spark, tmp_path):
    root, add = _mapped_table(tmp_path)
    # v1 rewrites the file: pk 2's payload changes, pk 3 deleted
    data = pa.table(
        {
            "col-a1": [1, 2],
            "col-b2": ["x", "Y2"],
            "col-c3": pa.array(
                [{"col-d4": 10}, {"col-d4": 20}],
                type=pa.struct([pa.field("col-d4", pa.int64())]),
            ),
        }
    )
    add2 = fx.write_data_file(root, "part-001.parquet", data, stats_cols=["col-a1"])
    fx.write_commit(root, 1, [fx.remove_action(add), add2])
    feed = delta_changes(spark, root, 0, 1, ["pk"]).collect()
    got = sorted((r.pk, r._change_type, r.payload) for r in feed)
    assert got == [
        (2, "update_postimage", "Y2"),
        (2, "update_preimage", "y"),
        (3, "delete", "z"),
    ]


def test_column_mapping_unknown_mode_refused(spark, tmp_path):
    """id mode reads since r10 (see the ID-mode block below); an
    UNKNOWN mapping mode must still refuse loudly."""
    root, _ = _mapped_table(tmp_path)
    log = os.path.join(root, fx.LOG_DIR, f"{0:020d}.json")
    actions = [json.loads(l) for l in open(log)]
    for a in actions:
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.columnMapping.mode"] = (
                "someFutureMode"
            )
    with open(log, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(NotImplementedError, match="someFutureMode"):
        read_delta(spark, root)


def test_dv_plus_mapping_compose(spark, tmp_path):
    """Both features on one table: physical names AND a DV mask."""
    root, add = _mapped_table(tmp_path)
    dv = write_dv_file(None, [[1]], table_root=root)[0]  # masks pk=2
    fx.write_commit(root, 1, [fx.remove_action(add), fx.with_dv(add, dv)])
    got = sorted(r.pk for r in read_delta(spark, root).collect())
    assert got == [1, 3]
    feed = delta_changes(spark, root, 0, 1, ["pk"]).collect()
    assert sorted((r.pk, r._change_type) for r in feed) == [(2, "delete")]


# --- the STREAMING change feed over reader-feature tables --------------------

def _stream_feed(spark, root, pk="pk", start=0):
    """Drain cdc_delta_changes over ``root`` and return the rows (the
    stream must match the batch CDF over DV'd / column-mapped tables)."""
    import uuid

    from cdc_apache_cassandra_spark.sources.change_feed_source import (
        register as register_feed,
    )

    register_feed(spark)
    name = "ff_" + uuid.uuid4().hex[:10]
    q = (
        spark.readStream.format("cdc_delta_changes")
        .option("path", root)
        .option("pkCols", pk)
        .option("startingVersion", start)
        .option("maxVersionsPerBatch", 1)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).collect()


def test_stream_feed_dv_only_commit_emits_deletes(spark, tmp_path):
    """The delta-spark DELETE (remove(p) + add(p, dv), path set
    UNCHANGED) through the STREAMING source: a path-only diff would
    classify the commit as data-free and silently drop the deletes —
    the diff must key on (path, dv_unique_id), batch-CDF parity."""
    root, _ = _dv_table(tmp_path, [0, 9])
    got = _stream_feed(spark, root)
    assert sorted((r.pk, r._change_type, r._commit_version) for r in got) \
        == [(0, "delete", 1), (9, "delete", 1)]


def test_stream_feed_dv_grows_incremental_deletes(spark, tmp_path):
    root, add0 = _dv_table(tmp_path, [2])
    dv2 = write_dv_file(None, [[2, 4, 6]], table_root=root)[0]
    fx.write_commit(root, 2, [fx.remove_action(add0), fx.with_dv(add0, dv2)])
    got = _stream_feed(spark, root)
    assert sorted((r.pk, r._change_type, r._commit_version) for r in got) \
        == [(2, "delete", 1), (4, "delete", 2), (6, "delete", 2)]


def test_stream_feed_column_mapping(spark, tmp_path):
    """Column-mapped (name mode) table through the STREAMING source:
    physical parquet names (incl. the nested struct rename) graft back
    to logical names; emitted rows match the batch CDF exactly."""
    root, add = _mapped_table(tmp_path)
    data = pa.table(
        {
            "col-a1": [1, 2],
            "col-b2": ["x", "Y2"],
            "col-c3": pa.array(
                [{"col-d4": 10}, {"col-d4": 20}],
                type=pa.struct([pa.field("col-d4", pa.int64())]),
            ),
        }
    )
    add2 = fx.write_data_file(root, "part-001.parquet", data, stats_cols=["col-a1"])
    fx.write_commit(root, 1, [fx.remove_action(add), add2])
    got = _stream_feed(spark, root)
    rows = sorted(
        (r.pk, r._change_type, r.payload, r.meta["depth"] if r.meta else None)
        for r in got
    )
    assert rows == [
        (2, "update_postimage", "Y2", 20),
        (2, "update_preimage", "y", 20),
        (3, "delete", "z", 30),
    ]


def test_stream_feed_dv_plus_mapping_compose(spark, tmp_path):
    root, add = _mapped_table(tmp_path)
    dv = write_dv_file(None, [[1]], table_root=root)[0]  # masks pk=2
    fx.write_commit(root, 1, [fx.remove_action(add), fx.with_dv(add, dv)])
    got = _stream_feed(spark, root)
    assert sorted((r.pk, r._change_type) for r in got) == [(2, "delete")]


def test_dv_nested_same_basename_files_use_their_own_bitmaps(spark, tmp_path):
    """Two DV'd files whose relative paths end in the SAME basename
    ('part-0.parquet' and 'sub/part-0.parquet'): the scan must bind
    each file to ITS bitmap — a first-suffix-match would filter the
    nested file with the root file's DV (wrong rows deleted, deleted
    rows resurrected)."""
    root = str(tmp_path / "nested")
    os.makedirs(root)
    a = pa.table({"pk": list(range(0, 5)), "v": [1] * 5})
    b = pa.table({"pk": list(range(10, 15)), "v": [2] * 5})
    add_a = fx.write_data_file(root, "part-0.parquet", a, stats_cols=["pk"])
    add_b = fx.write_data_file(root, "sub/part-0.parquet", b, stats_cols=["pk"])
    fx.write_commit(root, 0, [
        fx.protocol_action(3, 7, reader_features=["deletionVectors"]),
        fx.metadata_action([fx.field("pk", "long"), fx.field("v", "long")]),
        add_a, add_b,
    ])
    dv_a, dv_b = write_dv_file(None, [[0], [4]], table_root=root)
    fx.write_commit(root, 1, [
        fx.remove_action(add_a), fx.with_dv(add_a, dv_a),   # masks pk=0
        fx.remove_action(add_b), fx.with_dv(add_b, dv_b),   # masks pk=14
    ])
    got = sorted(r.pk for r in read_delta(spark, root).collect())
    assert got == [1, 2, 3, 4, 10, 11, 12, 13]


def test_stream_feed_list_value_column(spark, tmp_path):
    """A LIST value column through the stream classifier: Arrow has no
    'equal' kernel for lists and astype(object) yields ndarrays whose
    == raises — the fallback must deep-compare (to_pylist) so a changed
    list emits an update pair and unchanged lists cancel."""
    root = str(tmp_path / "lists")
    os.makedirs(root)

    def tbl(tags1):
        return pa.table(
            {
                "pk": pa.array([1, 2], pa.int64()),
                "tags": pa.array([tags1, ["keep"]], pa.list_(pa.string())),
            }
        )

    add0 = fx.write_data_file(root, "f0.parquet", tbl(["a", "b"]),
                              stats_cols=["pk"])
    fx.write_commit(root, 0, [
        fx.protocol_action(1, 2),
        fx.metadata_action([
            fx.field("pk", "long"),
            {"name": "tags",
             "type": {"type": "array", "elementType": "string",
                      "containsNull": True},
             "nullable": True, "metadata": {}},
        ]),
        add0,
    ])
    add1 = fx.write_data_file(root, "f1.parquet", tbl(["a", "CHANGED"]),
                              stats_cols=["pk"])
    fx.write_commit(root, 1, [fx.remove_action(add0), add1])
    got = _stream_feed(spark, root)
    rows = sorted((r.pk, r._change_type, tuple(r.tags)) for r in got)
    assert rows == [
        (1, "update_postimage", ("a", "CHANGED")),
        (1, "update_preimage", ("a", "b")),
    ]


def test_vacuum_removes_stranded_dv_files_keeps_live(spark, tmp_path):
    """A growing DV strands its predecessor file — VACUUM must delete
    the unreferenced DV (delta-spark parity) and keep the live one; the
    snapshot still reads correctly afterwards."""
    from cdc_apache_cassandra_spark.streaming.delta_log import delta_vacuum
    from cdc_apache_cassandra_spark.streaming.deletion_vectors import (
        dv_absolute_path,
    )

    root, add0 = _dv_table(tmp_path, [2])
    old_dv_path = None
    for line in open(os.path.join(root, fx.LOG_DIR, f"{1:020d}.json")):
        a = json.loads(line)
        if "add" in a and a["add"].get("deletionVector"):
            old_dv_path = dv_absolute_path(root, a["add"]["deletionVector"])
    assert old_dv_path and os.path.exists(old_dv_path)
    dv2 = write_dv_file(None, [[2, 4, 6]], table_root=root)[0]
    fx.write_commit(root, 2, [fx.remove_action(add0), fx.with_dv(add0, dv2)])
    live_dv_path = dv_absolute_path(root, dv2)

    deleted = delta_vacuum(root, retain_ms=0)
    assert os.path.basename(old_dv_path) in deleted
    assert not os.path.exists(old_dv_path)
    assert os.path.exists(live_dv_path)
    got = sorted(r.pk for r in read_delta(spark, root).collect())
    assert got == [0, 1, 3, 5, 7, 8, 9]

    # a LIVE absolute-path ('p') descriptor at the root must survive a
    # second vacuum even though its payload spelling differs from the
    # scan's out_path joins (liveness is by basename)
    dv_p = write_dv_file(
        os.path.join(root, "deletion_vector_pform.bin"), [[0, 8]]
    )[0]
    assert dv_p["storageType"] == "p"
    fx.write_commit(root, 3, [fx.remove_action(add0), fx.with_dv(add0, dv_p)])
    deleted2 = delta_vacuum(root, retain_ms=0)
    assert os.path.exists(os.path.join(root, "deletion_vector_pform.bin"))
    assert os.path.basename(live_dv_path) in deleted2  # now stranded
    got2 = sorted(r.pk for r in read_delta(spark, root).collect())
    assert got2 == [1, 2, 3, 4, 5, 6, 7, 9]


def test_stream_feed_nan_rows_cancel_like_batch(spark, tmp_path):
    """ADVICE r9: NaN must match Spark eqNullSafe (NaN equals NaN) in
    the stream's pandas classification — at TOP level and NESTED inside
    list/struct values. A bucket rewrite whose NaN-bearing rows are
    byte-identical must emit NO update pair for them (the batch path,
    delta_log.delta_changes, already cancels via eqNullSafe); only the
    genuinely changed row surfaces."""
    nan = float("nan")
    root = str(tmp_path / "nantable")
    os.makedirs(root)

    def table(ys):
        return pa.table(
            {
                "pk": [1, 2, 3],
                "x": [nan, 2.5, 3.5],
                "ys": pa.array(
                    [[nan, 1.0], [2.0], ys], type=pa.list_(pa.float64())
                ),
            }
        )

    add0 = fx.write_data_file(root, "part-000.parquet", table([3.0]))
    meta = fx.metadata_action(
        [
            fx.field("pk", "long"),
            fx.field("x", "double"),
            {
                "name": "ys",
                "type": {
                    "type": "array",
                    "elementType": "double",
                    "containsNull": True,
                },
                "nullable": True,
                "metadata": {},
            },
        ]
    )
    fx.write_commit(root, 0, [fx.protocol_action(1, 2), meta, add0])
    # v1: full rewrite — pk 1 (top-level NaN + nested NaN) and pk 2 are
    # unchanged; pk 3's nested list changes
    add1 = fx.write_data_file(root, "part-001.parquet", table([30.0]))
    fx.write_commit(root, 1, [fx.remove_action(add0), add1])
    got = _stream_feed(spark, root, start=0)
    assert sorted((r.pk, r._change_type) for r in got) == [
        (3, "update_postimage"),
        (3, "update_preimage"),
    ]


# --- V2 checkpoints (VERDICT r9 item 4) --------------------------------------


def _v2_table(tmp_path, fmt="parquet", sidecars=True, compat=False,
              clean_json=True):
    """Foreign table whose current state survives ONLY through a V2
    checkpoint: v0 = pks 1..4, v1 = rewrite (pk2 updated, pk4 deleted),
    V2 checkpoint at v1, then (optionally) the checkpointed JSON
    commits cleaned — the metadata-retention shape a migrating user's
    UniForm table arrives in. Returns (root, add1)."""
    root = str(tmp_path / "v2table")
    os.makedirs(root)
    t0 = pa.table({"pk": [1, 2, 3, 4], "v": ["a", "b", "c", "d"]})
    add0 = fx.write_data_file(root, "part-000.parquet", t0, stats_cols=["pk"])
    proto = fx.protocol_action(
        3, 7, reader_features=["v2Checkpoint"],
        writer_features=["v2Checkpoint"],
    )
    meta = fx.metadata_action([fx.field("pk", "long"), fx.field("v", "string")])
    fx.write_commit(root, 0, [proto, meta, add0])
    t1 = pa.table({"pk": [1, 2, 3], "v": ["a", "B2", "c"]})
    add1 = fx.write_data_file(root, "part-001.parquet", t1, stats_cols=["pk"])
    fx.write_commit(root, 1, [fx.remove_action(add0), add1])
    fx.write_v2_checkpoint(
        root, 1, [proto, meta],
        sidecar_groups=[[add1]] if sidecars else None,
        fmt=fmt, compat_name=compat,
        # inline file actions when no sidecars requested
        **({} if sidecars else {}),
    ) if sidecars else fx.write_v2_checkpoint(
        root, 1, [proto, meta, add1], fmt=fmt, compat_name=compat
    )
    if clean_json:
        log = os.path.join(root, fx.LOG_DIR)
        for v in (0, 1):
            os.remove(os.path.join(log, f"{v:020d}.json"))
    return root, add1


@pytest.mark.parametrize(
    "fmt,sidecars,compat",
    [
        ("parquet", True, False),   # UUID-named parquet + sidecars
        ("parquet", False, False),  # UUID-named parquet, inline adds
        ("json", True, False),      # JSON top-level + parquet sidecars
        ("parquet", True, True),    # compat-named parquet + sidecars
    ],
    ids=["uuid-sidecars", "uuid-inline", "json-sidecars", "compat-sidecars"],
)
def test_v2_checkpoint_snapshot_read(spark, tmp_path, fmt, sidecars, compat):
    """read_delta reconstructs the snapshot purely from a V2 checkpoint
    (checkpointed JSON commits cleaned) in every spec layout: UUID- or
    compat-named, parquet or JSON top-level, sidecar or inline file
    actions."""
    root, _ = _v2_table(tmp_path, fmt=fmt, sidecars=sidecars, compat=compat)
    got = sorted((r.pk, r.v) for r in read_delta(spark, root).collect())
    assert got == [(1, "a"), (2, "B2"), (3, "c")]


def test_v2_checkpoint_cdf_batch_and_stream(spark, tmp_path):
    """CDF across a V2 checkpoint boundary: the from-state of a range
    that starts AT the checkpoint version loads through the V2 path
    (sidecar adds included), and batch and stream classify the tail
    commit identically."""
    root, add1 = _v2_table(tmp_path, clean_json=False)
    # v2: rewrite — pk3 deleted, pk1 updated
    t2 = pa.table({"pk": [1, 2], "v": ["A3", "B2"]})
    add2 = fx.write_data_file(root, "part-002.parquet", t2, stats_cols=["pk"])
    fx.write_commit(root, 2, [fx.remove_action(add1), add2])
    want = [
        (1, "update_postimage", "A3"),
        (1, "update_preimage", "a"),
        (3, "delete", "c"),
    ]
    feed = delta_changes(spark, root, 1, 2, ["pk"]).collect()
    assert sorted((r.pk, r._change_type, r.v) for r in feed) == want
    got = _stream_feed(spark, root, start=1)
    assert sorted((r.pk, r._change_type, r.v) for r in got) == want


def test_v2_checkpoint_absolute_sidecar_path(spark, tmp_path):
    """The spec allows ``sidecar.path`` to be an ABSOLUTE path/URI, not
    only a bare name under ``_delta_log/_sidecars/`` — joining an
    absolute reference under the sidecar dir mangles it into a
    nonexistent path (ADVICE r10)."""
    import shutil

    root = str(tmp_path / "v2abs")
    os.makedirs(root)
    t0 = pa.table({"pk": [1, 2], "v": ["a", "b"]})
    add0 = fx.write_data_file(root, "part-000.parquet", t0, stats_cols=["pk"])
    proto = fx.protocol_action(
        3, 7, reader_features=["v2Checkpoint"],
        writer_features=["v2Checkpoint"],
    )
    meta = fx.metadata_action([fx.field("pk", "long"), fx.field("v", "string")])
    fx.write_commit(root, 0, [proto, meta, add0])
    side = fx.write_sidecar(root, [add0])
    # relocate the sidecar OUTSIDE the log dir and reference it by
    # absolute path
    ext = str(tmp_path / "elsewhere")
    os.makedirs(ext)
    src = os.path.join(root, fx.LOG_DIR, "_sidecars", side["sidecar"]["path"])
    dst = os.path.join(ext, "relocated.parquet")
    shutil.move(src, dst)
    side["sidecar"]["path"] = dst
    fx.write_v2_checkpoint(root, 0, [proto, meta, side])
    os.remove(os.path.join(root, fx.LOG_DIR, f"{0:020d}.json"))
    got = sorted((r.pk, r.v) for r in read_delta(spark, root).collect())
    assert got == [(1, "a"), (2, "b")]


def test_v2_checkpoint_torn_pointer_fallback(spark, tmp_path):
    """A torn _last_checkpoint over a UUID-named V2 checkpoint: the
    dir-scan fallback must find the V2 file (it is the ONLY surviving
    record of the cleaned history)."""
    root, _ = _v2_table(tmp_path)
    with open(os.path.join(root, fx.LOG_DIR, "_last_checkpoint"), "w") as f:
        f.write('{"version": 1, "si')  # torn mid-write
    got = sorted((r.pk, r.v) for r in read_delta(spark, root).collect())
    assert got == [(1, "a"), (2, "B2"), (3, "c")]


def test_v2_checkpoint_version_mismatch_refused(spark, tmp_path):
    """checkpointMetadata.version disagreeing with the pointer is an
    incomplete/mismatched copy — loud refusal, not a misread."""
    root, _ = _v2_table(tmp_path)
    log = os.path.join(root, fx.LOG_DIR)
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "size": 3}, f)
    # rewrite the checkpoint's metadata to claim a different version
    import glob

    cp = glob.glob(os.path.join(log, "*.checkpoint.*.parquet"))[0]
    import pyarrow.parquet as pq

    tbl = pq.read_table(cp)
    rows = tbl.to_pylist()
    for r in rows:
        if r.get("checkpointMetadata"):
            r["checkpointMetadata"] = {"version": 7, "tags": None}
    pq.write_table(pa.Table.from_pylist(rows, schema=tbl.schema), cp)
    with pytest.raises(FileNotFoundError, match="declares version 7"):
        read_delta(spark, root)


# --- column-mapping ID mode (VERDICT r9 item 5) -------------------------------


def _ids_table(columns: dict, ids: dict) -> pa.Table:
    """pa.Table whose schema fields carry PARQUET:field_id metadata —
    what a real id-mode writer stamps into every data file."""
    fields, arrays = [], []
    for name, arr in columns.items():
        arr = pa.array(arr) if not isinstance(arr, pa.Array) else arr
        fields.append(
            pa.field(
                name, arr.type,
                metadata={b"PARQUET:field_id": str(ids[name]).encode()},
            )
        )
        arrays.append(arr)
    return pa.table(dict(zip([f.name for f in fields], arrays)),
                    schema=pa.schema(fields))


def _id_mapped_table(tmp_path):
    """ID-mode table: logical (pk, payload) resolved by FIELD ID — the
    two data files use DIFFERENT physical column names for the same
    ids (the resolution rule file names cannot express)."""
    root = str(tmp_path / "idtable")
    os.makedirs(root)
    f0 = _ids_table(
        {"c_aa": [1, 2, 3], "c_bb": ["x", "y", "z"]},
        {"c_aa": 1, "c_bb": 2},
    )
    add0 = fx.write_data_file(root, "part-000.parquet", f0,
                              stats_cols=["c_aa"])
    # same ids, different physical names in the second file
    f1 = _ids_table(
        {"z_1": [100, 101], "z_2": ["q", "r"]},
        {"z_1": 1, "z_2": 2},
    )
    add1 = fx.write_data_file(root, "part-001.parquet", f1,
                              stats_cols=["z_1"])
    meta = fx.metadata_action(
        [
            fx.field("pk", "long", physical="c_aa", fid=1),
            fx.field("payload", "string", physical="c_bb", fid=2),
        ],
        configuration={
            "delta.columnMapping.mode": "id",
            "delta.columnMapping.maxColumnId": "2",
        },
    )
    fx.write_commit(root, 0, [fx.protocol_action(2, 5), meta, add0])
    fx.write_commit(root, 1, [add1])
    return root, add0, add1


def test_column_mapping_id_mode_read(spark, tmp_path):
    """Snapshot read resolves columns by parquet field id across files
    with DIFFERENT physical names (the case name-resolution cannot
    handle)."""
    root, _, _ = _id_mapped_table(tmp_path)
    df = read_delta(spark, root)
    assert df.columns == ["pk", "payload"]
    got = sorted((r.pk, r.payload) for r in df.collect())
    assert got == [(1, "x"), (2, "y"), (3, "z"), (100, "q"), (101, "r")]


def test_column_mapping_id_mode_change_feed_batch_and_stream(spark, tmp_path):
    """CDF over an id-mode table: v2 rewrites the second file (pk 100
    updated, pk 101 deleted) under a THIRD set of physical names —
    batch and stream must both classify by field-id-resolved logical
    columns."""
    root, _, add1 = _id_mapped_table(tmp_path)
    f2 = _ids_table(
        {"w_x": [100], "w_y": ["Q2"]},
        {"w_x": 1, "w_y": 2},
    )
    add2 = fx.write_data_file(root, "part-002.parquet", f2,
                              stats_cols=["w_x"])
    fx.write_commit(root, 2, [fx.remove_action(add1), add2])
    want = [
        (100, "update_postimage", "Q2"),
        (100, "update_preimage", "q"),
        (101, "delete", "r"),
    ]
    feed = delta_changes(spark, root, 1, 2, ["pk"]).collect()
    assert sorted((r.pk, r._change_type, r.payload) for r in feed) == want
    got = _stream_feed(spark, root, start=1)
    assert sorted((r.pk, r._change_type, r.payload) for r in got) == want


def test_column_mapping_id_mode_composes_with_dv(spark, tmp_path):
    """ID mode + deletion vector on one table: field-id resolution and
    the DV row mask compose (the delta-spark DELETE shape)."""
    root, add0, _ = _id_mapped_table(tmp_path)
    # upgrade protocol in a new commit: DV needs reader feature 3
    dv = write_dv_file(None, [[1]], table_root=root)[0]  # masks pk=2
    fx.write_commit(root, 2, [
        fx.protocol_action(
            3, 7, reader_features=["deletionVectors", "columnMapping"],
            writer_features=["deletionVectors", "columnMapping"],
        ),
        fx.remove_action(add0),
        fx.with_dv(add0, dv),
    ])
    got = sorted(r.pk for r in read_delta(spark, root).collect())
    assert got == [1, 3, 100, 101]
    feed = delta_changes(spark, root, 1, 2, ["pk"]).collect()
    assert sorted((r.pk, r._change_type) for r in feed) == [(2, "delete")]


def test_column_mapping_id_mode_nested_reorder(spark, tmp_path):
    """Nested struct children resolved by FIELD ID at every level: the
    second file stores the struct's children in REVERSED physical order
    (a reorder/mid-struct-ADD shape) — positional grafting would
    silently swap the values; batch and stream must both realign."""
    def fid(n, i):
        return pa.field(n[0], n[1], metadata={b"PARQUET:field_id": str(i).encode()})

    root = str(tmp_path / "idnested")
    os.makedirs(root)
    # file0: logical child order (a, b)
    st0 = pa.struct([fid(("x_a", pa.int64()), 3), fid(("x_b", pa.string()), 4)])
    t0 = pa.table(
        {"c1": [1, 2], "c2": pa.array([{"x_a": 10, "x_b": "p"},
                                        {"x_a": 20, "x_b": "q"}], type=st0)},
        schema=pa.schema([fid(("c1", pa.int64()), 1), fid(("c2", st0), 2)]),
    )
    add0 = fx.write_data_file(root, "part-000.parquet", t0, stats_cols=["c1"])
    # file1: children REVERSED (b, a) and different physical names
    st1 = pa.struct([fid(("y_b", pa.string()), 4), fid(("y_a", pa.int64()), 3)])
    t1 = pa.table(
        {"z1": [3], "z2": pa.array([{"y_b": "r", "y_a": 30}], type=st1)},
        schema=pa.schema([fid(("z1", pa.int64()), 1), fid(("z2", st1), 2)]),
    )
    add1 = fx.write_data_file(root, "part-001.parquet", t1, stats_cols=["z1"])
    meta = fx.metadata_action(
        [
            fx.field("pk", "long", physical="c1", fid=1),
            {
                "name": "meta",
                "type": {
                    "type": "struct",
                    "fields": [
                        fx.field("a", "long", physical="x_a", fid=3),
                        fx.field("b", "string", physical="x_b", fid=4),
                    ],
                },
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.physicalName": "c2",
                    "delta.columnMapping.id": 2,
                },
            },
        ],
        configuration={
            "delta.columnMapping.mode": "id",
            "delta.columnMapping.maxColumnId": "4",
        },
    )
    fx.write_commit(root, 0, [fx.protocol_action(2, 5), meta, add0])
    fx.write_commit(root, 1, [add1])
    want_rows = [(1, 10, "p"), (2, 20, "q"), (3, 30, "r")]
    df = read_delta(spark, root)
    got = sorted((r.pk, r.meta.a, r.meta.b) for r in df.collect())
    assert got == want_rows
    # stream: initial snapshot replay (startingVersion=-1) must carry
    # the SAME realigned values through the pyarrow path
    got_s = _stream_feed(spark, root, start=-1)
    assert sorted(
        (r.pk, r.meta["a"], r.meta["b"]) for r in got_s
    ) == want_rows


# --- foreign PARTITIONED tables (r10): values live in add.partitionValues ----


def _partitioned_table(tmp_path, mapped=False):
    """Two-partition foreign table: partition columns (ds date, region
    string) are NOT in the parquet files — the spec stores them in the
    log. mapped=True stores the data column under a physical name."""
    root = str(tmp_path / "ptable")
    os.makedirs(root)
    # name mode assigns a physicalName to EVERY field (delta-spark), and
    # partitionValues key on the PHYSICAL names under mapping
    pn = (
        {"pk": "col-pk", "v": "col-v1", "ds": "col-ds", "region": "col-rg"}
        if mapped
        else {"pk": "pk", "v": "v", "ds": "ds", "region": "region"}
    )
    adds = []
    for i, (ds, region, vals) in enumerate([
        ("2024-01-01", "eu", [1, 2]),
        ("2024-01-02", "us", [3]),
    ]):
        t = pa.table({pn["pk"]: [10 * i + j for j in range(len(vals))],
                      pn["v"]: vals})
        add = fx.write_data_file(root, f"part-{i:03d}.parquet", t,
                                 stats_cols=[pn["pk"]])
        add["add"]["partitionValues"] = {pn["ds"]: ds, pn["region"]: region}
        adds.append(add)
    fields = [
        fx.field("pk", "long", physical=pn["pk"] if mapped else None),
        fx.field("v", "long", physical=pn["v"] if mapped else None),
        fx.field("ds", "date", physical=pn["ds"] if mapped else None),
        fx.field("region", "string", physical=pn["region"] if mapped else None),
    ]
    meta = fx.metadata_action(
        fields,
        configuration=(
            {"delta.columnMapping.mode": "name",
             "delta.columnMapping.maxColumnId": "4"} if mapped else None
        ),
        partition_columns=["ds", "region"],
    )
    proto = fx.protocol_action(2 if mapped else 1, 5 if mapped else 2)
    fx.write_commit(root, 0, [proto, meta] + adds)
    return root, adds


@pytest.mark.parametrize("mapped", [False, True], ids=["plain", "mapped"])
def test_partitioned_foreign_snapshot_read(spark, tmp_path, mapped):
    """Partition columns reconstruct from add.partitionValues with their
    declared types — reading them as typed nulls would be silent wrong
    data on the most common foreign-table shape."""
    import datetime

    root, _ = _partitioned_table(tmp_path, mapped=mapped)
    rows = sorted(
        (r.pk, r.v, r.ds, r.region)
        for r in read_delta(spark, root).collect()
    )
    d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    assert rows == [
        (0, 1, d1, "eu"),
        (1, 2, d1, "eu"),
        (10, 3, d2, "us"),
    ]


def test_partitioned_id_mode_snapshot_and_stream(spark, tmp_path):
    """Partitioned + ID-mode mapping together (the UniForm/
    Iceberg-origin shape): the id-mode read schema keeps LOGICAL field
    names, so partition-column exclusion and reattachment must key on
    those — keying on physical names fails to exclude and KeyErrors on
    attach (ADVICE r10 medium). partitionValues still key on PHYSICAL
    names (delta-spark's writer). Snapshot (JVM path) and the stream's
    initial snapshot replay (pyarrow path) must agree."""
    import datetime

    root = str(tmp_path / "idpart")
    os.makedirs(root)
    adds = []
    for i, (ds, vals) in enumerate(
        [("2024-01-01", [1, 2]), ("2024-01-02", [3])]
    ):
        # data files: physical names + field ids, partition col absent
        t = _ids_table(
            {f"c_k{i}": [10 * i + j for j in range(len(vals))],
             f"c_v{i}": vals},
            {f"c_k{i}": 1, f"c_v{i}": 2},
        )
        add = fx.write_data_file(root, f"part-{i:03d}.parquet", t,
                                 stats_cols=[f"c_k{i}"])
        add["add"]["partitionValues"] = {"c_ds": ds}  # PHYSICAL key
        adds.append(add)
    meta = fx.metadata_action(
        [
            fx.field("pk", "long", physical="c_k0", fid=1),
            fx.field("v", "long", physical="c_v0", fid=2),
            fx.field("ds", "date", physical="c_ds", fid=3),
        ],
        configuration={
            "delta.columnMapping.mode": "id",
            "delta.columnMapping.maxColumnId": "3",
        },
        partition_columns=["ds"],
    )
    fx.write_commit(root, 0, [fx.protocol_action(2, 5), meta] + adds)
    d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    want = [(0, 1, d1), (1, 2, d1), (10, 3, d2)]
    df = read_delta(spark, root)
    assert df.columns == ["pk", "v", "ds"]
    assert sorted((r.pk, r.v, r.ds) for r in df.collect()) == want
    got_s = _stream_feed(spark, root, start=-1)
    assert sorted((r.pk, r.v, r.ds) for r in got_s) == want


def test_partitioned_foreign_change_feed_batch_and_stream(spark, tmp_path):
    """CDF over a partitioned table: v1 rewrites partition 1 (pk 10's
    value changes) — pre and post images BOTH carry the reconstructed
    partition values, batch and stream alike."""
    import datetime

    root, adds = _partitioned_table(tmp_path)
    t = pa.table({"pk": [10], "v": [30]})
    add2 = fx.write_data_file(root, "part-002.parquet", t, stats_cols=["pk"])
    add2["add"]["partitionValues"] = {"ds": "2024-01-02", "region": "us"}
    fx.write_commit(root, 1, [fx.remove_action(adds[1]), add2])
    d2 = datetime.date(2024, 1, 2)
    want = [
        (10, "update_postimage", 30, d2, "us"),
        (10, "update_preimage", 3, d2, "us"),
    ]
    feed = delta_changes(spark, root, 0, 1, ["pk"]).collect()
    assert sorted((r.pk, r._change_type, r.v, r.ds, r.region) for r in feed) == want
    got = _stream_feed(spark, root, start=0)
    assert sorted((r.pk, r._change_type, r.v, r.ds, r.region) for r in got) == want


def test_partitioned_foreign_composes_with_dv(spark, tmp_path):
    """Partition reconstruction + a deletion vector on the same file."""
    root, adds = _partitioned_table(tmp_path)
    dv = write_dv_file(None, [[0]], table_root=root)[0]  # masks pk=0
    fx.write_commit(root, 1, [
        fx.protocol_action(3, 7, reader_features=["deletionVectors"],
                           writer_features=["deletionVectors"]),
        fx.remove_action(adds[0]),
        fx.with_dv(adds[0], dv),
    ])
    rows = sorted((r.pk, str(r.ds)) for r in read_delta(spark, root).collect())
    assert rows == [(1, "2024-01-01"), (10, "2024-01-02")]
    feed = delta_changes(spark, root, 0, 1, ["pk"]).collect()
    assert sorted((r.pk, r._change_type, str(r.ds)) for r in feed) == [
        (0, "delete", "2024-01-01"),
    ]


def test_partitioned_foreign_timestamp_values_batch_and_stream(spark, tmp_path):
    """A foreign table partitioned by a ``timestamp`` column, holding
    both serializations delta writers use for its partition values: a
    zone-less ``YYYY-MM-DD HH:MM:SS[.ffffff]`` (session-local time, and
    the engine's session zone is UTC) and a ``Z``-suffixed ISO-8601.
    The snapshot read, the batch feed and the stream agree on the
    listed rows; Arrow refuses a zone-less string cast straight to a
    zoned timestamp, so the loader must parse it naive first."""
    import datetime

    from pyspark.sql import functions as F

    root = str(tmp_path / "tspart")
    os.makedirs(root)
    values = ["2024-01-02 12:30:00.5", "2024-01-03T08:00:00.25Z"]
    adds = []
    for i, (ts, vals) in enumerate(zip(values, [[1, 2], [3]])):
        t = pa.table({"pk": [10 * i + j for j in range(len(vals))], "v": vals})
        add = fx.write_data_file(root, f"part-{i:03d}.parquet", t,
                                 stats_cols=["pk"])
        add["add"]["partitionValues"] = {"ts": ts}
        adds.append(add)
    meta = fx.metadata_action(
        [fx.field("pk", "long"), fx.field("v", "long"),
         fx.field("ts", "timestamp")],
        partition_columns=["ts"],
    )
    fx.write_commit(root, 0, [fx.protocol_action(1, 2), meta] + adds)
    # v1 rewrites both partitions: pk 0 and pk 10 change value
    new_adds = []
    for i, (ts, t) in enumerate(zip(values, [
        pa.table({"pk": [0, 1], "v": [100, 2]}),
        pa.table({"pk": [10], "v": [300]}),
    ])):
        add = fx.write_data_file(root, f"part-{i + 2:03d}.parquet", t,
                                 stats_cols=["pk"])
        add["add"]["partitionValues"] = {"ts": ts}
        new_adds.append(add)
    fx.write_commit(root, 1, [fx.remove_action(a) for a in adds] + new_adds)

    def micros(*args):
        utc = datetime.timezone.utc
        dt = datetime.datetime(*args, tzinfo=utc)
        epoch = datetime.datetime(1970, 1, 1, tzinfo=utc)
        return (dt - epoch) // datetime.timedelta(microseconds=1)

    t1 = micros(2024, 1, 2, 12, 30, 0, 500000)
    t2 = micros(2024, 1, 3, 8, 0, 0, 250000)
    snap = read_delta(spark, root).select(
        "pk", "v", F.unix_micros("ts").alias("ts")
    )
    assert sorted(map(tuple, snap.collect())) == [
        (0, 100, t1), (1, 2, t1), (10, 300, t2),
    ]
    want = [
        (0, "update_postimage", 100, t1),
        (0, "update_preimage", 1, t1),
        (10, "update_postimage", 300, t2),
        (10, "update_preimage", 3, t2),
    ]

    def changes(df):
        return sorted(
            map(tuple, df.select(
                "pk", "_change_type", "v", F.unix_micros("ts")
            ).collect())
        )

    assert changes(delta_changes(spark, root, 0, 1, ["pk"])) == want
    # collected timestamps are naive local datetimes: .timestamp()
    # inverts the conversion
    got = sorted(
        (r.pk, r._change_type, r.v, round(r.ts.timestamp() * 1_000_000))
        for r in _stream_feed(spark, root, start=0)
    )
    assert got == want


def _row_tracking_table(tmp_path):
    """The shape recent delta-spark writes with delta.enableRowTracking:
    writer-v7 protocol listing rowTracking+domainMetadata (writer-only
    features — readerFeatures stays absent at minReaderVersion 1), a
    delta.rowTracking domainMetadata action carrying the row-id high
    water mark, and adds stamped with baseRowId /
    defaultRowCommitVersion."""
    root = str(tmp_path / "rowtrack")
    os.makedirs(root)
    t0 = pa.table({"pk": [1, 2, 3], "v": ["a", "b", "c"]})
    add0 = fx.write_data_file(root, "part-000.parquet", t0, stats_cols=["pk"])
    add0["add"]["baseRowId"] = 0
    add0["add"]["defaultRowCommitVersion"] = 0
    proto = fx.protocol_action(
        1, 7,
        writer_features=["rowTracking", "domainMetadata", "appendOnly",
                         "invariants"],
    )
    meta = fx.metadata_action(
        [fx.field("pk", "long"), fx.field("v", "string")],
        configuration={
            "delta.enableRowTracking": "true",
            "delta.rowTracking.materializedRowIdColumnName":
                "_row-id-col-0",
            "delta.rowTracking.materializedRowCommitVersionColumnName":
                "_row-commit-version-col-0",
        },
    )
    dm = {
        "domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps({"rowIdHighWaterMark": 2}),
            "removed": False,
        }
    }
    fx.write_commit(root, 0, [proto, meta, dm, add0])
    # v1: rewrite (pk 2 updated, pk 3 deleted) — fresh row ids
    t1 = pa.table({"pk": [1, 2], "v": ["a", "B2"]})
    add1 = fx.write_data_file(root, "part-001.parquet", t1, stats_cols=["pk"])
    add1["add"]["baseRowId"] = 3
    add1["add"]["defaultRowCommitVersion"] = 1
    dm1 = {
        "domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps({"rowIdHighWaterMark": 4}),
            "removed": False,
        }
    }
    fx.write_commit(root, 1, [dm1, fx.remove_action(add0), add1])
    return root


def test_row_tracking_table_reads(spark, tmp_path):
    """rowTracking is a WRITER feature — spec-safe to ignore on read
    (VERDICT r10 item 4): snapshot, CDF batch, and CDF stream over a
    delta-spark-shaped rowTracking table must all read green, with the
    domainMetadata actions and add-level row-id fields tolerated."""
    root = _row_tracking_table(tmp_path)
    got = sorted((r.pk, r.v) for r in read_delta(spark, root).collect())
    assert got == [(1, "a"), (2, "B2")]
    want = [
        (2, "update_postimage", "B2"),
        (2, "update_preimage", "b"),
        (3, "delete", "c"),
    ]
    feed = delta_changes(spark, root, 0, 1, ["pk"]).collect()
    assert sorted((r.pk, r._change_type, r.v) for r in feed) == want
    got_s = _stream_feed(spark, root, start=0)
    assert sorted((r.pk, r._change_type, r.v) for r in got_s) == want


def test_vacuum_protocol_check_is_read_tolerated(spark, tmp_path):
    """vacuumProtocolCheck IS stamped into readerFeatures by modern
    delta-spark, but only obligates VACUUM writers — snapshot reads are
    unaffected and must not refuse. A genuinely semantic reader feature
    (typeWidening) keeps refusing loudly."""
    root = str(tmp_path / "vpc")
    os.makedirs(root)
    t0 = pa.table({"pk": [1, 2], "v": ["a", "b"]})
    add0 = fx.write_data_file(root, "part-000.parquet", t0, stats_cols=["pk"])
    meta = fx.metadata_action([fx.field("pk", "long"), fx.field("v", "string")])
    fx.write_commit(root, 0, [
        fx.protocol_action(
            3, 7,
            reader_features=["vacuumProtocolCheck"],
            writer_features=["vacuumProtocolCheck"],
        ),
        meta, add0,
    ])
    got = sorted((r.pk, r.v) for r in read_delta(spark, root).collect())
    assert got == [(1, "a"), (2, "b")]
    # refusal stays for semantic features
    root2 = str(tmp_path / "vt")
    os.makedirs(root2)
    add = fx.write_data_file(root2, "part-000.parquet", t0, stats_cols=["pk"])
    fx.write_commit(root2, 0, [
        fx.protocol_action(3, 7, reader_features=["variantType"],
                           writer_features=["variantType"]),
        meta, add,
    ])
    with pytest.raises(NotImplementedError, match="variantType"):
        read_delta(spark, root2)


def _widened_table(tmp_path):
    """A delta-spark-shaped typeWidening table: v0 writes NARROW
    physical types (int32 pk, float32 m); v1 is the widening ALTER
    (schema now long/double, per-field delta.typeWidening history) and
    appends a file already written wide; v2 removes the narrow file
    (so CDF delete synthesis must read it under the WIDE schema)."""
    root = str(tmp_path / "twtable")
    os.makedirs(root)
    t0 = pa.table({
        "pk": pa.array([1, 2, 3], pa.int32()),
        "m": pa.array([1.5, 2.5, 3.5], pa.float32()),
    })
    add0 = fx.write_data_file(root, "part-000.parquet", t0, stats_cols=["pk"])
    meta0 = fx.metadata_action(
        [fx.field("pk", "integer"), fx.field("m", "float")])
    fx.write_commit(root, 0, [
        fx.protocol_action(3, 7, reader_features=["typeWidening"],
                           writer_features=["typeWidening"]),
        meta0, add0,
    ])
    meta1 = fx.metadata_action([
        {"name": "pk", "type": "long", "nullable": True,
         "metadata": {"delta.typeWidening": [
             {"fromType": "integer", "toType": "long",
              "tableVersion": 1}]}},
        {"name": "m", "type": "double", "nullable": True,
         "metadata": {"delta.typeWidening": [
             {"fromType": "float", "toType": "double",
              "tableVersion": 1}]}},
    ])
    t1 = pa.table({
        "pk": pa.array([4], pa.int64()),
        "m": pa.array([4.5], pa.float64()),
    })
    add1 = fx.write_data_file(root, "part-001.parquet", t1, stats_cols=["pk"])
    fx.write_commit(root, 1, [meta1, add1])
    fx.write_commit(root, 2, [fx.remove_action(add0)])
    return root


def test_type_widened_table_reads(spark, tmp_path):
    """typeWidening is read-IMPLEMENTABLE, not refusable (r11): a
    widened table's old files carry the pre-widening physical types
    and the reader's whole obligation is an upcast to the current
    schema. Snapshot (JVM parquet scan — Spark 4.x promotes natively),
    batch CDF delete synthesis (reads the narrow file through its
    pre-commit add) and the stream's pyarrow loader (logical-schema
    cast) must all serve the WIDE types with exact values."""
    root = _widened_table(tmp_path)
    df = read_delta(spark, root)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "double"]
    # 1.5/2.5/3.5 are exactly representable in float32 → the upcast
    # to double is exact, so plain equality is a sound check
    assert sorted((r.pk, r.m) for r in df.collect()) == [(4, 4.5)]
    # time travel to v1: both the narrow and the wide file serve,
    # narrow upcast by the scan
    got1 = sorted(
        (r.pk, r.m) for r in read_delta(spark, root, version=1).collect())
    assert got1 == [(1, 1.5), (2, 2.5), (3, 3.5), (4, 4.5)]
    # CDF over the drop commit synthesizes deletes FROM the narrow file
    feed = delta_changes(spark, root, 1, 2, ["pk"]).collect()
    assert sorted((r.pk, r._change_type, r.m) for r in feed) == [
        (1, "delete", 1.5), (2, "delete", 2.5), (3, "delete", 3.5)]
    # stream (pyarrow loader): same window, same rows
    got_s = _stream_feed(spark, root, start=1)
    assert sorted((r.pk, r._change_type, r.m) for r in got_s) == [
        (1, "delete", 1.5), (2, "delete", 2.5), (3, "delete", 3.5)]


def test_foreign_action_types_are_tolerated(spark, tmp_path):
    """Commits from modern writers interleave action types this engine
    does not consume — ``cdc`` (change-data files), ``domainMetadata``
    (writer feature) — with the adds/removes it does. Replay must skip
    them cleanly: snapshot and CDF both unaffected (the spec makes
    unknown-to-the-reader non-file actions ignorable; cdc files are
    NEVER part of the table's data)."""
    root = str(tmp_path / "ttable")
    os.makedirs(root)
    t0 = pa.table({"pk": [1, 2], "v": ["a", "b"]})
    add0 = fx.write_data_file(root, "part-000.parquet", t0, stats_cols=["pk"])
    meta = fx.metadata_action([fx.field("pk", "long"), fx.field("v", "string")])
    fx.write_commit(root, 0, [fx.protocol_action(1, 2), meta, add0])
    t1 = pa.table({"pk": [1], "v": ["A2"]})
    add1 = fx.write_data_file(root, "part-001.parquet", t1, stats_cols=["pk"])
    fx.write_commit(root, 1, [
        {"domainMetadata": {"domain": "delta.liquid", "configuration": "{}",
                            "removed": False}},
        {"cdc": {"path": "_change_data/cdc-000.parquet",
                 "partitionValues": {}, "size": 100, "dataChange": False}},
        fx.remove_action(add0),
        add1,
    ])
    got = sorted((r.pk, r.v) for r in read_delta(spark, root).collect())
    assert got == [(1, "A2")]
    feed = delta_changes(spark, root, 0, 1, ["pk"]).collect()
    assert sorted((r.pk, r._change_type) for r in feed) == [
        (1, "update_postimage"),
        (1, "update_preimage"),
        (2, "delete"),
    ]


# --- mapped EXPORT (writer parity, VERDICT r10 item 5) ------------------------


def _mapped_source(tmp_path):
    """Name-mode mapped foreign source: logical (pk, v) stored under
    physical (col-pk77, col-v88) with ids 1/2."""
    root = str(tmp_path / "mapped_src")
    os.makedirs(root)
    t = pa.table({"col-pk77": [1, 2, 3], "col-v88": ["a", "b", "c"]})
    add = fx.write_data_file(root, "part-000.parquet", t,
                             stats_cols=["col-pk77"])
    meta = fx.metadata_action(
        [
            fx.field("pk", "long", physical="col-pk77", fid=1),
            fx.field("v", "string", physical="col-v88", fid=2),
        ],
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": "2",
            # the CDF tests reuse this fixture; harmless to the
            # mapped-export tests (the exporter inherits mapping
            # fields, never source configuration)
            "delta.enableChangeDataFeed": "true",
        },
    )
    fx.write_commit(root, 0, [fx.protocol_action(2, 5), meta, add])
    return root


def _mutations_from(spark, src_df):
    """Turn the imported rows into store mutations (op/writetime/
    segment/position added — the columns a CDC store carries on top of
    the source's)."""
    from pyspark.sql import functions as F

    return src_df.select(
        F.lit("INSERT").alias("op"),
        "pk",
        F.lit(10).cast("long").alias("writetime"),
        "v",
        F.lit(0).cast("long").alias("segment"),
        F.col("pk").cast("long").alias("position"),
    )


def test_mapped_export_roundtrip_inherits_physical_names(spark, tmp_path):
    """import -> store -> re-export with column_mapping=<source>: the
    exported table is NAME-mode mapped, logical columns shared with the
    source keep its physical names AND field ids (lossless round trip),
    store-only columns mint fresh ids past the source's maxColumnId,
    the staged parquet carries physical column names, and the export
    reads back equal through the engine's own mapped reader."""
    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _replay,
        delta_export,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    src = _mapped_source(tmp_path)
    store = str(tmp_path / "store")
    table = str(tmp_path / "export")
    os.makedirs(store)
    merge_into(spark, store, _mutations_from(spark, read_delta(spark, src)),
               ["pk"], n_buckets=2)
    assert delta_export(spark, store, table, column_mapping=src) == 0
    s = _replay(table)
    cfg = s.meta["configuration"]
    assert cfg["delta.columnMapping.mode"] == "name"
    fields = {f["name"]: f for f in json.loads(s.meta["schemaString"])["fields"]}
    assert fields["pk"]["metadata"]["delta.columnMapping.physicalName"] == "col-pk77"
    assert fields["pk"]["metadata"]["delta.columnMapping.id"] == 1
    assert fields["v"]["metadata"]["delta.columnMapping.physicalName"] == "col-v88"
    assert fields["v"]["metadata"]["delta.columnMapping.id"] == 2
    minted = [fields[c]["metadata"]["delta.columnMapping.id"]
              for c in ("op", "writetime", "segment", "position")]
    assert min(minted) > 2 and len(set(minted)) == 4
    assert int(cfg["delta.columnMapping.maxColumnId"]) == max(minted)
    assert s.proto == {"minReaderVersion": 2, "minWriterVersion": 5}
    # on-disk files carry PHYSICAL names
    rel = sorted(s.files)[0]
    names = set(pq.read_schema(os.path.join(table, rel)).names)
    assert "col-pk77" in names and "pk" not in names
    # stats key physical names too
    st = json.loads(s.files[rel]["stats"])
    assert "col-pk77" in (st.get("minValues") or {})
    # round trip through the engine's own mapped reader
    got = sorted((r.pk, r.v) for r in read_delta(spark, table)
                 .select("pk", "v").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_mapped_export_continues_and_evolves(spark, tmp_path):
    """Later exports of a mapped table keep the mapping WITHOUT the
    flag: an unchanged-schema bucket change commits no metaData action
    (byte-stable schemaString round trip); a widened schema mints a
    fresh id past maxColumnId and keeps every existing physical name.
    CDF over the mapped export classifies by logical columns."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _replay,
        delta_export,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    store = str(tmp_path / "store")
    table = str(tmp_path / "export")
    os.makedirs(store)
    schema = ("op string, pk long, writetime long, v string, "
              "segment long, position long")
    merge_into(
        spark, store,
        spark.createDataFrame(
            [("INSERT", k, 10, f"v{k}", 0, k) for k in range(6)], schema),
        ["pk"], n_buckets=2)
    assert delta_export(spark, store, table, column_mapping="name") == 0
    s0 = _replay(table)
    phys0 = {f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
             for f in json.loads(s0.meta["schemaString"])["fields"]}
    max0 = int(s0.meta["configuration"]["delta.columnMapping.maxColumnId"])
    # bucket-only change: no metaData action in the commit
    merge_into(
        spark, store,
        spark.createDataFrame([("UPSERT", 0, 20, "v0b", 1, 0)], schema),
        ["pk"], n_buckets=2)
    assert delta_export(spark, store, table) == 1
    commit1 = [
        json.loads(l)
        for l in open(os.path.join(table, "_delta_log",
                                   f"{1:020d}.json"))
    ]
    assert not any("metaData" in a for a in commit1)
    # widened schema: new column minted past maxColumnId, old physical
    # names stable
    schema2 = schema + ", extra string"
    merge_into(
        spark, store,
        spark.createDataFrame([("UPSERT", 1, 30, "v1c", 2, 1, "x")], schema2),
        ["pk"], n_buckets=2)
    assert delta_export(spark, store, table) == 2
    s2 = _replay(table)
    f2 = {f["name"]: f for f in json.loads(s2.meta["schemaString"])["fields"]}
    for name, pn in phys0.items():
        assert f2[name]["metadata"]["delta.columnMapping.physicalName"] == pn
    assert f2["extra"]["metadata"]["delta.columnMapping.id"] == max0 + 1
    got = {r.pk: (r.v, r.extra) for r in read_delta(spark, table).collect()}
    assert got[1] == ("v1c", "x") and got[0] == ("v0b", None)
    want = [(0, "update_postimage", "v0b"), (0, "update_preimage", "v0")]
    feed = delta_changes(spark, table, 0, 1, ["pk"]).collect()
    assert sorted((r.pk, r._change_type, r.v) for r in feed) == want


def test_mapped_export_composes_with_deletion_vectors(spark, tmp_path):
    """Mapped table + deletion_vectors=True: a sparse delete re-points
    the PHYSICAL-named file at a DV; the protocol upgrade lists BOTH
    features (dropping columnMapping on upgrade would corrupt the
    table for spec readers)."""
    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _replay,
        delta_export,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    store = str(tmp_path / "store")
    table = str(tmp_path / "export")
    os.makedirs(store)
    schema = ("op string, pk long, writetime long, v string, "
              "segment long, position long")
    merge_into(
        spark, store,
        spark.createDataFrame(
            [("INSERT", k, 10, f"v{k}", 0, k) for k in range(40)], schema),
        ["pk"], n_buckets=2)
    delta_export(spark, store, table, column_mapping="name")
    files_v0 = set(_replay(table).files)
    merge_into(
        spark, store,
        spark.createDataFrame([("DELETE", 4, 20, None, 1, 4)], schema),
        ["pk"], n_buckets=2)
    assert delta_export(spark, store, table, deletion_vectors=True) == 1
    s = _replay(table)
    assert set(s.files) == files_v0  # re-pointed, not rewritten
    assert sorted(s.proto["readerFeatures"]) == [
        "columnMapping", "deletionVectors"]
    assert "columnMapping" in s.proto["writerFeatures"]
    got = sorted(r.pk for r in read_delta(spark, table).collect())
    assert got == [k for k in range(40) if k != 4]


def test_mapped_export_flag_refused_on_existing_table(spark, tmp_path):
    """column_mapping is a CREATION-time switch: passing it for an
    existing table (mapped or not) refuses loudly instead of silently
    rewriting identities."""
    from cdc_apache_cassandra_spark.streaming.delta_log import delta_export
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    store = str(tmp_path / "store")
    table = str(tmp_path / "export")
    os.makedirs(store)
    schema = ("op string, pk long, writetime long, v string, "
              "segment long, position long")
    merge_into(
        spark, store,
        spark.createDataFrame([("INSERT", 1, 10, "a", 0, 0)], schema),
        ["pk"], n_buckets=2)
    delta_export(spark, store, table)
    merge_into(
        spark, store,
        spark.createDataFrame([("UPSERT", 1, 20, "b", 1, 0)], schema),
        ["pk"], n_buckets=2)
    with pytest.raises(ValueError, match="CREATION"):
        delta_export(spark, store, table, column_mapping="name")


def test_mapped_export_struct_widening_keeps_identity(spark, tmp_path):
    """Widening a STRUCT column on a mapped table (the UDT ALTER ADD
    shape): reconcile_schemas rebuilds the widened StructField WITHOUT
    its metadata, so the export must re-inherit the log's own mapping
    by name — re-minting the physical name would silently null the
    column in every previously published file (code-review r11
    finding, silent-data-loss class)."""
    from pyspark.sql import Row

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        _replay,
        delta_export,
    )
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    store = str(tmp_path / "store")
    table = str(tmp_path / "export")
    os.makedirs(store)
    s1 = ("op string, pk long, writetime long, u struct<a:long>, "
          "segment long, position long")
    merge_into(
        spark, store,
        spark.createDataFrame(
            [("INSERT", k, 10, Row(a=100 + k), 0, k) for k in range(4)], s1),
        ["pk"], n_buckets=2)
    delta_export(spark, store, table, column_mapping="name")
    f0 = {f["name"]: f for f in json.loads(
        _replay(table).meta["schemaString"])["fields"]}
    u_phys0 = f0["u"]["metadata"]["delta.columnMapping.physicalName"]
    u_id0 = f0["u"]["metadata"]["delta.columnMapping.id"]
    a_phys0 = f0["u"]["type"]["fields"][0]["metadata"][
        "delta.columnMapping.physicalName"]
    # widen the struct: u gains nested field b — only pk 0's bucket
    # changes; pk 1..3 keep their ORIGINAL files
    s2 = ("op string, pk long, writetime long, "
          "u struct<a:long,b:string>, segment long, position long")
    merge_into(
        spark, store,
        spark.createDataFrame(
            [("UPSERT", 0, 20, Row(a=200, b="x"), 1, 0)], s2),
        ["pk"], n_buckets=2)
    delta_export(spark, store, table)
    f1 = {f["name"]: f for f in json.loads(
        _replay(table).meta["schemaString"])["fields"]}
    md1 = f1["u"]["metadata"]
    assert md1["delta.columnMapping.physicalName"] == u_phys0
    assert md1["delta.columnMapping.id"] == u_id0
    kids = {k["name"]: k for k in f1["u"]["type"]["fields"]}
    assert kids["a"]["metadata"][
        "delta.columnMapping.physicalName"] == a_phys0
    assert "delta.columnMapping.physicalName" in kids["b"]["metadata"]
    # the decisive check: rows from UNCHANGED old files still carry u
    got = {r.pk: (r.u.a, r.u.b) for r in read_delta(spark, table).collect()}
    assert got[0] == (200, "x")
    for k in (1, 2, 3):
        assert got[k] == (100 + k, None), f"pk {k} lost its struct value"


def test_mapped_export_map_struct_key_roundtrip(spark, tmp_path):
    """A map column whose KEY is a struct: the name-mode reader
    recurses into keyType, so the writer must graft physical names
    there too or its own reader refuses the table (code-review r11
    finding)."""
    from cdc_apache_cassandra_spark.streaming.delta_log import delta_export
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    store = str(tmp_path / "store")
    table = str(tmp_path / "export")
    os.makedirs(store)
    schema = ("op string, pk long, writetime long, "
              "m map<struct<k1:long>,long>, segment long, position long")
    merge_into(
        spark, store,
        spark.createDataFrame(
            [("INSERT", 1, 10, {(7,): 70}, 0, 0),
             ("INSERT", 2, 10, {(8,): 80}, 0, 1)],
            schema),
        ["pk"], n_buckets=2)
    delta_export(spark, store, table, column_mapping="name")
    rows = {r.pk: r.m for r in read_delta(spark, table).collect()}
    assert {k.k1: v for k, v in rows[1].items()} == {7: 70}
    assert {k.k1: v for k, v in rows[2].items()} == {8: 80}


def test_mapped_export_mode_name_guard(spark, tmp_path):
    """column_mapping='id' is a mode name, not a source path: the
    refusal must say name-mode-only, not FileNotFoundError('id')."""
    from cdc_apache_cassandra_spark.streaming.delta_log import delta_export
    from cdc_apache_cassandra_spark.streaming.materialize import merge_into

    store = str(tmp_path / "store")
    os.makedirs(store)
    merge_into(
        spark, store,
        spark.createDataFrame(
            [("INSERT", 1, 10, "a", 0, 0)],
            "op string, pk long, writetime long, v string, "
            "segment long, position long"),
        ["pk"], n_buckets=2)
    with pytest.raises(NotImplementedError, match="name mode only"):
        delta_export(spark, store, str(tmp_path / "t"), column_mapping="id")


# --- spec-exact CDF from cdc actions (r11) ------------------------------------


def test_cdf_from_cdc_actions_and_synthesis(spark, tmp_path):
    """delta_changes_cdf — delta-spark's table_changes surface: a
    commit with CHANGE-DATA files yields exactly those rows (its
    add/remove ignored); insert-only commits synthesize inserts;
    remove-only commits synthesize deletes from the pre-commit file."""
    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_changes_cdf,
    )

    root = str(tmp_path / "cdf")
    os.makedirs(root)
    t0 = pa.table({"pk": [1, 2], "v": ["a", "b"]})
    add0 = fx.write_data_file(root, "part-000.parquet", t0, stats_cols=["pk"])
    meta = fx.metadata_action(
        [fx.field("pk", "long"), fx.field("v", "string")],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    fx.write_commit(root, 0, [fx.protocol_action(1, 4), meta, add0])
    # v1: UPDATE pk1 -> remove+add plus the authoritative cdc file
    t1 = pa.table({"pk": [1, 2], "v": ["A2", "b"]})
    add1 = fx.write_data_file(root, "part-001.parquet", t1, stats_cols=["pk"])
    os.makedirs(os.path.join(root, "_change_data"))
    cdc_t = pa.table({
        "pk": [1, 1],
        "v": ["a", "A2"],
        "_change_type": ["update_preimage", "update_postimage"],
    })
    cdc_path = os.path.join(root, "_change_data", "cdc-000.parquet")
    pq.write_table(cdc_t, cdc_path)
    fx.write_commit(root, 1, [
        fx.remove_action(add0),
        add1,
        {"cdc": {"path": "_change_data/cdc-000.parquet",
                 "partitionValues": {},
                 "size": os.path.getsize(cdc_path), "dataChange": False}},
    ])
    # v2: DELETE-without-cdc shape (remove only)
    fx.write_commit(root, 2, [fx.remove_action(add1)])
    feed = delta_changes_cdf(spark, root, 0, 2)
    assert set(feed.columns) == {
        "pk", "v", "_change_type", "_commit_version", "_commit_timestamp"}
    got = sorted(
        (r._commit_version, r.pk, r._change_type, r.v)
        for r in feed.collect()
    )
    assert got == [
        (0, 1, "insert", "a"),
        (0, 2, "insert", "b"),
        (1, 1, "update_postimage", "A2"),   # cdc rows, NOT the rewrite
        (1, 1, "update_preimage", "a"),
        (2, 1, "delete", "A2"),             # synthesized from pre-state
        (2, 2, "delete", "b"),
    ]
    assert feed.filter("_commit_timestamp IS NULL").count() == 0
    # sub-window is inclusive on both ends
    sub = delta_changes_cdf(spark, root, 1, 1).collect()
    assert sorted(r._change_type for r in sub) == [
        "update_postimage", "update_preimage"]


def test_cdf_from_cdc_actions_mapped(spark, tmp_path):
    """cdc files of a MAPPED table store data under PHYSICAL names but
    _change_type under its literal name — the restore projection must
    rename the data columns and pass _change_type through."""
    import pyarrow.parquet as pq

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_changes_cdf,
    )

    root = _mapped_source(tmp_path)  # v0: (pk,v) under col-pk77/col-v88
    os.makedirs(os.path.join(root, "_change_data"))
    cdc_t = pa.table({
        "col-pk77": [2, 2],
        "col-v88": ["b", "B2"],
        "_change_type": ["update_preimage", "update_postimage"],
    })
    cdc_path = os.path.join(root, "_change_data", "cdc-000.parquet")
    pq.write_table(cdc_t, cdc_path)
    t1 = pa.table({"col-pk77": [1, 2, 3], "col-v88": ["a", "B2", "c"]})
    add1 = fx.write_data_file(root, "part-001.parquet", t1,
                              stats_cols=["col-pk77"])
    import glob as _g
    old_rel = os.path.basename(_g.glob(os.path.join(root, "part-000*"))[0])
    fx.write_commit(root, 1, [
        {"remove": {"path": old_rel, "deletionTimestamp": 1,
                    "dataChange": True}},
        add1,
        {"cdc": {"path": "_change_data/cdc-000.parquet",
                 "partitionValues": {},
                 "size": os.path.getsize(cdc_path), "dataChange": False}},
    ])
    feed = delta_changes_cdf(spark, root, 1, 1)
    got = sorted((r.pk, r._change_type, r.v) for r in feed.collect())
    assert got == [(2, "update_postimage", "B2"), (2, "update_preimage", "b")]


def test_cdf_refusals_match_delta_spark(spark, tmp_path):
    """delta_changes_cdf refuses (a) tables without
    delta.enableChangeDataFeed — change data was never recorded, and
    synthesizing file-level rows for update commits would fabricate
    deletes+inserts for unchanged neighbors; (b) a CDF-enabled commit
    mixing dataChange adds AND removes with no change-data files —
    an update a spec writer must have recorded; (c) a negative
    starting version, before any IO (delta-spark's table_changes)."""
    import pytest as _pytest

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_changes_cdf,
    )

    # (a) no CDF config
    root = str(tmp_path / "nocdf")
    os.makedirs(root)
    t0 = pa.table({"pk": [1], "v": ["a"]})
    add0 = fx.write_data_file(root, "part-000.parquet", t0, stats_cols=["pk"])
    meta = fx.metadata_action([fx.field("pk", "long"), fx.field("v", "string")])
    fx.write_commit(root, 0, [fx.protocol_action(1, 2), meta, add0])
    with _pytest.raises(ValueError, match="enableChangeDataFeed"):
        delta_changes_cdf(spark, root, 0, 0)
    # (b) CDF enabled, mixed update commit without cdc files
    root2 = str(tmp_path / "mixed")
    os.makedirs(root2)
    add0 = fx.write_data_file(root2, "part-000.parquet", t0, stats_cols=["pk"])
    meta2 = fx.metadata_action(
        [fx.field("pk", "long"), fx.field("v", "string")],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    fx.write_commit(root2, 0, [fx.protocol_action(1, 4), meta2, add0])
    t1 = pa.table({"pk": [1], "v": ["A2"]})
    add1 = fx.write_data_file(root2, "part-001.parquet", t1, stats_cols=["pk"])
    fx.write_commit(root2, 1, [fx.remove_action(add0), add1])
    with _pytest.raises(ValueError, match="change-data files"):
        delta_changes_cdf(spark, root2, 1, 1).collect()
    # insert-only windows still serve
    assert delta_changes_cdf(spark, root2, 0, 0).count() == 1
    # (c) negative starting version: refused before the log is read
    # (the path does not exist)
    with _pytest.raises(ValueError, match="starting_version -1"):
        delta_changes_cdf(spark, str(tmp_path / "absent"), -1, 2)


def test_cdf_window_at_checkpoint_boundary(spark, tmp_path):
    """A window starting AT the checkpoint version must serve after
    log cleanup when none of its deletes reach past the window — the
    pre-window snapshot replays LAZILY (code-review r11 pass 3). A
    delete that DOES reach past the cleaned history refuses with a
    widen-the-window message, not a bare contiguity error."""
    import pytest as _pytest

    from cdc_apache_cassandra_spark.streaming.delta_log import (
        delta_changes_cdf,
        delta_log_cleanup,
        write_checkpoint,
    )

    root = str(tmp_path / "cpwin")
    os.makedirs(root)
    meta = fx.metadata_action(
        [fx.field("pk", "long"), fx.field("v", "string")],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    adds = []
    for v in range(3):
        t = pa.table({"pk": [10 * v], "v": [f"v{v}"]})
        add = fx.write_data_file(root, f"part-{v:03d}.parquet", t,
                                 stats_cols=["pk"])
        adds.append(add)
        head = [fx.protocol_action(1, 4), meta] if v == 0 else []
        fx.write_commit(root, v, head + [add])
    # v3: drop the file v2 added (window-local pre-image)
    fx.write_commit(root, 3, [fx.remove_action(adds[2])])
    write_checkpoint(root, 2)
    delta_log_cleanup(root)
    assert not os.path.exists(
        os.path.join(root, fx.LOG_DIR, f"{0:020d}.json"))
    feed = delta_changes_cdf(spark, root, 2, 3)
    got = sorted((r._commit_version, r.pk, r._change_type)
                 for r in feed.collect())
    assert got == [(2, 20, "insert"), (3, 20, "delete")]
    # a delete reaching past the window whose pre-state the CHECKPOINT
    # still covers serves too (replay restores from it): v4 removes
    # v0's file
    fx.write_commit(root, 4, [fx.remove_action(adds[0])])
    got4 = [(r.pk, r._change_type)
            for r in delta_changes_cdf(spark, root, 4, 4).collect()]
    assert got4 == [(0, "delete")]
    # the genuinely unservable shape: a window starting AT the
    # checkpoint version whose delete reaches back past the cleaned
    # pre-checkpoint history — pre-state would need JSON replay below
    # the checkpoint. Clear widen-the-window error, not a bare
    # contiguity crash.
    root2 = str(tmp_path / "cpwin2")
    os.makedirs(root2)
    adds2 = []
    for v in range(3):
        t = pa.table({"pk": [10 * v], "v": [f"v{v}"]})
        add = fx.write_data_file(root2, f"part-{v:03d}.parquet", t,
                                 stats_cols=["pk"])
        adds2.append(add)
        head = [fx.protocol_action(1, 4), meta] if v == 0 else []
        fx.write_commit(root2, v, head + [add])
    fx.write_commit(root2, 3, [fx.remove_action(adds2[0])])
    write_checkpoint(root2, 2)
    delta_log_cleanup(root2)
    with _pytest.raises(FileNotFoundError, match="widen starting_version"):
        delta_changes_cdf(spark, root2, 2, 3).collect()


def test_clustered_table_reads(spark, tmp_path):
    """Liquid clustering is WRITER-side (clusteredTable +
    domainMetadata writer features; clustering state lives in
    domainMetadata actions) — snapshot and CDF reads over a
    delta-spark-shaped clustered table must serve green, with the
    clustering domain tolerated by replay."""
    root = str(tmp_path / "lqtable")
    os.makedirs(root)
    t0 = pa.table({"pk": [1, 2, 3], "v": ["a", "b", "c"]})
    add0 = fx.write_data_file(root, "part-000.parquet", t0, stats_cols=["pk"])
    meta = fx.metadata_action(
        [fx.field("pk", "long"), fx.field("v", "string")])
    fx.write_commit(root, 0, [
        {"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["clusteredTable", "domainMetadata"]}},
        meta,
        {"domainMetadata": {
            "domain": "delta.clustering",
            "configuration": json.dumps(
                {"clusteringColumns": [["pk"]]}),
            "removed": False}},
        add0,
    ])
    got = sorted((r.pk, r.v) for r in read_delta(spark, root).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # pk-diff CDF over a follow-up commit serves too
    t1 = pa.table({"pk": [1, 2, 3, 4], "v": ["a", "b", "c", "d"]})
    add1 = fx.write_data_file(root, "part-001.parquet", t1,
                              stats_cols=["pk"])
    fx.write_commit(root, 1, [fx.remove_action(add0), add1])
    feed = delta_changes(spark, root, 0, 1, ["pk"]).collect()
    assert sorted((r.pk, r._change_type) for r in feed) == [(4, "insert")]
