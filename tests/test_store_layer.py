"""The view-store layer: ``streaming/compaction.py`` owns every listing,
commit record and delete of the epoch-directory stores, and
``streaming/ops.py`` only builds DataFrames and writes epoch
directories.  These tests pin that protocol at helper level (no stream)
where they can, and with short 2-epoch streams where the writers are
the subject."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from local_stream_stack_spark.streaming import compaction, ops

OPS_SRC = os.path.join(os.path.dirname(ops.__file__), "ops.py")


def test_ops_has_no_direct_store_io():
    """All store metadata I/O goes through compaction.py: ops.py may not
    reach the Hadoop FileSystem itself, nor glob ``__epoch=*`` (a raw
    glob also sees torn, uncommitted epochs)."""
    src = open(OPS_SRC).read()
    for banned in ("org.apache.hadoop.fs", "getFileSystem", "__epoch=*"):
        assert banned not in src, f"ops.py references {banned!r}"


def _plant(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)


@pytest.mark.parametrize("log_dir", ["_manifests", "_generations"])
def test_commit_reader_returns_only_committed_records(
    spark, tmp_path, log_dir
):
    """Helper-level twin of the soak test
    ``test_leftover_temp_manifest_is_not_a_commit``: crash leftovers in
    a commit log — a current-protocol ``.tmp-N`` temp, a well-formed
    phantom ``.tmp-N.json`` and a torn ``.tmp-N.json`` — are never
    commits, in either commit log."""
    store = str(tmp_path / "store")
    d = f"{store}/{log_dir}"
    key = "epoch" if log_dir == "_manifests" else "gen"
    for n in (0, 1):
        payload = (
            {"epoch": n, "buckets": [n, 3]}
            if log_dir == "_manifests"
            else {"gen": n, "families": {}, "defer_vacuum": []}
        )
        compaction._atomic_write_json(spark, d, str(n), payload)
    _plant(f"{d}/.tmp-2", json.dumps({key: 2, "buckets": [0]}))
    _plant(f"{d}/.tmp-3.json", json.dumps({key: 3, "buckets": [0]}))
    _plant(f"{d}/.tmp-4.json", '{"epo')
    _plant(f"{d}/notes.json", "{}")

    got = sorted(m[key] for m in compaction._read_commits(spark, d))
    assert got == [0, 1]
    if log_dir == "_manifests":
        assert ops._read_manifests(spark, store) == {0: [0, 3], 1: [1, 3]}
        # on-disk payload format of a keyed-MERGE commit
        assert open(f"{d}/1.json").read() == '{"epoch": 1, "buckets": [1, 3]}'
    else:
        assert sorted(compaction._read_generations(spark, store)) == [0, 1]
    assert compaction._read_commits(spark, f"{store}/missing") == []


def _write(spark, path, schema, rows, torn=False):
    """One epoch directory; ``torn`` drops its job-commit marker, as if
    the writer were still in flight (valid parquet, no ``_SUCCESS``)."""
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    if torn:
        os.remove(f"{path}/_SUCCESS")


def test_readers_ignore_uncommitted_epochs(spark, tmp_path):
    """A torn, in-flight epoch is invisible to the skyline, TWS near-dup
    and SCD-2 readers, and to the latest-earlier-epoch lookup the
    skyline and SCD-2 writers use."""
    sky = str(tmp_path / "sky")
    gvn = "g int, v bigint, n bigint"
    _write(spark, f"{sky}/__epoch=0", gvn, [(1, 500, 1), (2, 400, 1)])
    _write(spark, f"{sky}/__epoch=1", gvn, [(1, 480, 1), (2, 350, 2), (3, 900, 1)])
    _write(spark, f"{sky}/__epoch=999", gvn, [(9, 1, 99)], torn=True)
    got = {
        (r.g, r.v, r.n)
        for r in ops.read_skyline_store(spark, sky, "g", "v").collect()
    }
    assert got == {(1, 480, 1), (2, 350, 2)}
    assert compaction.latest_epoch_dir(spark, sky) == f"{sky}/__epoch=1"
    assert compaction.latest_epoch_dir(spark, sky, before=1) == (
        f"{sky}/__epoch=0"
    )

    rows = str(tmp_path / "tws" / "rows")
    _write(spark, f"{rows}/__epoch=0", "doc_id long", [(1,), (2,)])
    _write(spark, f"{rows}/__epoch=1", "doc_id long", [(5,)])
    _write(spark, f"{rows}/__epoch=999", "doc_id long", [(-7,)], torn=True)
    tws = ops.read_neardup_tws_store(spark, str(tmp_path / "tws"))
    assert {r.doc_id for r in tws.collect()} == {1, 2, 5}

    scd = str(tmp_path / "scd")
    open_s = "k long, a string, valid_from long"
    closed_s = open_s + ", valid_to long"
    _write(spark, f"{scd}/closed/__epoch=0", closed_s, [(1, "x", 10, 20)])
    _write(spark, f"{scd}/open/__epoch=0", open_s, [(1, "y", 20)])
    _write(spark, f"{scd}/closed/__epoch=999", closed_s, [(1, "z", 5, 6)], torn=True)
    _write(spark, f"{scd}/open/__epoch=999", open_s, [(1, "z", 99)], torn=True)
    got = {
        (r.k, r.a, r.valid_from, r.valid_to)
        for r in ops.read_scd2_dimension(spark, scd).collect()
    }
    assert got == {(1, "x", 10, 20), (1, "y", 20, None)}


_ROWS_1 = [(1, 5, 0, 1, "a"), (1, 3, 1, 0, "b"), (2, 7, 2, 1, "c")]
_ROWS_2 = [(1, 9, 3, 1, "a"), (2, 1, 4, 1, "d"), (3, 4, 5, 0, "e")]
_SCHEMA = "g long, v long, p int, f int, s string"


def _minmax(stream, target, cp):
    return ops.minmax_view_stream_parquet(stream, ["g"], "v", target, cp)


def _bitmap(stream, target, cp):
    return ops.bitmap_view_stream_parquet(stream, "g", "p", ["f"], target, cp)


def _kmv(stream, target, cp):
    return ops.kmv_view_stream_parquet(stream, "s", target, cp, k=4)


def _batch_kmv(df):
    from local_stream_stack_spark.operators.sketches import (
        kmv_estimate_cols,
        portable_hash32,
    )

    return (
        df.select(portable_hash32(F.col("s")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(4)
        .agg(*kmv_estimate_cols(4))
    )


_VIEWS = {
    "minmax": (
        _minmax,
        ops.read_minmax_view,
        ops.compact_minmax_view,
        lambda df: df.groupBy("g").agg(
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.count("*").alias("n_rows"),
        ),
    ),
    "bitmap": (
        _bitmap,
        ops.read_bitmap_view,
        ops.compact_bitmap_view,
        lambda df: df.groupBy("g").agg(
            F.expr(
                "bit_or(CASE WHEN f = 1 THEN shiftleft(CAST(1 AS BIGINT), p)"
                " ELSE 0 END)"
            ).alias("m_f")
        ),
    ),
    "kmv": (
        _kmv,
        lambda spark, path: ops.read_kmv_view(spark, path, k=4),
        lambda spark, path: ops.compact_kmv_view(spark, path, k=4),
        _batch_kmv,
    ),
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("view", sorted(_VIEWS))
def test_delta_view_two_epochs_match_batch_fold(spark, tmp_path, view):
    """Each epoch-delta view writer, fed two single-file epochs, reads
    back exactly the batch fold of all rows — from live epochs, and
    again after folding them into a generation."""
    start, read, compact, batch = _VIEWS[view]
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(_ROWS_1, _SCHEMA).coalesce(1).write.parquet(in_dir)
    time.sleep(1.1)
    spark.createDataFrame(_ROWS_2, _SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    target = str(tmp_path / "view")
    q = start(
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        target,
        str(tmp_path / "cp"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert compaction._committed_epoch_ids(spark, target) == [0, 1]
    want = _rows(batch(spark.createDataFrame(_ROWS_1 + _ROWS_2, _SCHEMA)))
    assert _rows(read(spark, target)) == want
    compact(spark, target)
    assert _rows(read(spark, target)) == want


def _with_rocksdb(spark):
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    def restore():
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    return restore


def test_tws_shard_count_is_recorded_on_first_start(spark, tmp_path):
    store = str(tmp_path / "store")
    n = max(8, spark.sparkContext.defaultParallelism)
    assert ops._tws_shard_count(spark, store) == n
    assert compaction._read_json(spark, f"{store}/_tws_shards.json") == {
        "n_shards": n
    }
    assert ops._tws_shard_count(spark, store) == n


def test_tws_stream_shards_by_recorded_count(spark, tmp_path):
    """A restart must not re-shard the claims: the TWS near-dup stream
    shards by the count recorded with the store, not by the live
    ``defaultParallelism``."""
    if not ops.transform_with_state_supported():
        pytest.fail("transformWithState runtime unavailable")
    recorded = 3
    assert recorded != max(8, spark.sparkContext.defaultParallelism)
    store = str(tmp_path / "store")
    cp = str(tmp_path / "cp")
    compaction._atomic_write_json(
        spark, store, "_tws_shards", {"n_shards": recorded}
    )
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(i, f"doc {i} word{i} w{i * 7} t{i * 13} end") for i in range(20)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(in_dir)
    restore = _with_rocksdb(spark)
    try:
        q = ops.ingest_neardup_stream_tws(
            spark.readStream.schema("doc_id long, text string").parquet(in_dir),
            id_col="doc_id",
            text_col="text",
            order_col="doc_id",
            store_path=store,
            checkpoint_location=cp,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        restore()
    shards = {
        r.key["__shard"]
        for r in spark.read.format("statestore")
        .option("stateVarName", "claimed")
        .load(cp)
        .select("key")
        .collect()
    }
    assert shards == set(range(recorded))
    assert compaction._read_json(spark, f"{store}/_tws_shards.json") == {
        "n_shards": recorded
    }
