"""Crash-injection matrix for the one write-then-swap every persisted
directory commits through (``operators.util.replace_dir``).

Each injected row crashes a compaction between the swap's two renames
(the live path is renamed away, the rewrite not yet in), runs the
artifact's next writer, and checks that the writer settled the swap
first: its result equals a clean run's (the same steps without the
crash, on a copy of the same artifact), and a second compaction
succeeds. The ``flat_dir`` and ``migrate_flat_store`` rows stage the
crashed swap by hand and check the rewrite that settles it."""

import contextlib
import glob
import os
import shutil

import pyspark.sql.functions as F
import pytest


class _Crash(Exception):
    pass


@contextlib.contextmanager
def _crash_on_second_rename():
    """Raise from the second ``os.rename`` in the block (the swap's
    tmp -> live step) and expect the block to fail with it."""
    real, calls = os.rename, []

    def rename(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise _Crash(f"injected crash before renaming {src}")
        real(src, dst)

    os.rename = rename
    try:
        with pytest.raises(_Crash):
            yield
    finally:
        os.rename = real


def _rows(df, cols):
    return sorted(tuple(tuple(v) if isinstance(v, list) else v
                        for v in (r[c] for c in cols))
                  for r in df.select(*cols).collect())


def _swap_leftovers(root):
    return glob.glob(os.path.join(root, "**", "*.swap.*"), recursive=True)


def _crash_then_write(spark, tmp_path, setup, compact, write, contents):
    live, clean = str(tmp_path / "live"), str(tmp_path / "clean")
    os.makedirs(live)
    setup(spark, live)
    shutil.copytree(live, clean)
    compact(spark, clean)
    write(spark, clean)
    expected = contents(spark, clean)

    with _crash_on_second_rename():
        compact(spark, live)
    assert _swap_leftovers(live)    # the crash left the swap half done
    write(spark, live)
    assert contents(spark, live) == expected
    compact(spark, live)            # the second compaction succeeds
    assert contents(spark, live) == expected
    assert not _swap_leftovers(live)


def _store_batch(spark, ids):
    return (spark.createDataFrame(
        [(i, f"fact {i}", [float(i % 3), 1.0]) for i in ids],
        "vec_id long, text string, embedding array<float>")
        .withColumn("metadata", F.expr("map()").cast("map<string,string>")))


def _store_row(spark, tmp_path):
    from flink_rag_spark.operators.maintenance import compact_store
    from flink_rag_spark.streaming.ingest import load_store, upsert_batch

    def store(root):
        return os.path.join(root, "store")

    _crash_then_write(
        spark, tmp_path,
        lambda s, r: upsert_batch(_store_batch(s, range(30)), store(r)),
        lambda s, r: compact_store(s, store(r)),
        lambda s, r: upsert_batch(_store_batch(s, range(30, 40)), store(r)),
        lambda s, r: _rows(load_store(s, store(r)), ["vec_id", "text"]))


def _ivf_row(spark, tmp_path):
    from flink_rag_spark.operators.index import (
        build_ivf_index,
        compact_ivf_index,
        flush_pending,
        stage_pending,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), float(i % 7), 1.0])
         for i in range(45)], "vec_id long, embedding array<float>")

    def setup(s, r):
        build_ivf_index(s, emb.filter("vec_id < 40"), r, n_centroids=4)
        stage_pending(s, emb.filter("vec_id >= 40 AND vec_id < 45"), r)

    _crash_then_write(
        spark, tmp_path, setup,
        lambda s, r: compact_ivf_index(s, r),
        lambda s, r: flush_pending(s, r),
        lambda s, r: _rows(s.read.parquet(os.path.join(r, "cells")),
                           ["cell", "vec_id"]))


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma note {i} topic {i % 4} delta {i % 7}")
         for i in ids], "doc_id long, text string")


def _text_row(spark, tmp_path):
    import json

    from flink_rag_spark.operators.ranking import (
        build_text_index,
        compact_text_index,
        maintain_text_index,
    )

    def contents(s, r):
        with open(os.path.join(r, "stats.json")) as f:
            st = json.load(f)
        return (_rows(s.read.parquet(os.path.join(r, "postings")),
                      ["doc_id", "term", "tf", "tp"]),
                _rows(s.read.parquet(os.path.join(r, "doclens")),
                      ["doc_id", "dl"]),
                st["n_docs"], st["total_len"])

    _crash_then_write(
        spark, tmp_path,
        lambda s, r: build_text_index(s, _docs(s, range(20)), r, n_parts=4),
        lambda s, r: compact_text_index(s, r),
        lambda s, r: maintain_text_index(s, _docs(s, range(20, 25)), r,
                                         batch_id=0, stream_id="s"),
        contents)


def _dedup_row(spark, tmp_path):
    from flink_rag_spark.operators.incremental import (
        append_to_dedup_index,
        build_dedup_index,
        compact_dedup_index,
    )

    def contents(s, r):
        sizes = (s.read.parquet(os.path.join(r, "sizes"))
                 .groupBy("band", "band_key", "bkp")
                 .agg(F.sum("n").alias("n"), F.min("rep").alias("rep")))
        return (_rows(s.read.parquet(os.path.join(r, "bands")),
                      ["doc_id", "band", "band_key", "bkp"]),
                _rows(sizes, ["band", "band_key", "bkp", "n", "rep"]),
                _rows(s.read.parquet(os.path.join(r, "shingles")),
                      ["doc_id", "sh", "sbp"]))

    _crash_then_write(
        spark, tmp_path,
        lambda s, r: build_dedup_index(s, _docs(s, range(20)), "text",
                                       "doc_id", r, n_parts=8),
        lambda s, r: compact_dedup_index(s, r),
        lambda s, r: append_to_dedup_index(s, _docs(s, range(20, 25)),
                                           "text", "doc_id", r, n_parts=8),
        contents)


def _flat_dir_row(spark, tmp_path):
    """A leftover .swap.old with the live dir missing (crash between
    the renames) is restored and the delete re-runs; completed-swap
    leftovers are dropped."""
    from flink_rag_spark.operators.maintenance import _rewrite_flat_dir

    path = str(tmp_path / "pending")
    spark.createDataFrame([(i,) for i in range(6)],
                          "vec_id bigint").write.parquet(path)
    # simulate the crash: live dir renamed away, tmp half-written
    os.rename(path, path + ".swap.old")
    os.makedirs(path + ".swap.tmp")
    removed = _rewrite_flat_dir(spark, path, [2], "vec_id")
    assert removed == 1
    ids = {r["vec_id"] for r in spark.read.parquet(path).collect()}
    assert ids == {0, 1, 3, 4, 5}
    assert not os.path.exists(path + ".swap.old")
    assert not os.path.exists(path + ".swap.tmp")


def _migrate_row(spark, tmp_path):
    """A migration retry after a crash mid-swap must self-heal: restore the
    store from .swap.old when the store path is missing, clear stale
    .swap.tmp, and complete."""
    from flink_rag_spark.streaming.ingest import (
        load_store,
        migrate_flat_store,
    )
    store = str(tmp_path / "crashy")
    flat = spark.createDataFrame(
        [(i, f"doc {i}", [0.5, 0.5]) for i in range(12)],
        "vec_id long, text string, embedding array<float>")
    flat.write.parquet(store)
    # simulate the worst crash window: store renamed away, tmp half-written
    os.rename(store, store + ".swap.old")
    os.makedirs(store + ".swap.tmp")
    with open(store + ".swap.tmp/garbage", "w") as f:
        f.write("partial write")
    migrate_flat_store(spark, store)
    got = load_store(spark, store)
    assert got.count() == 12
    assert "bucket" in spark.read.parquet(store).columns
    assert not os.path.exists(store + ".swap.old")
    assert not os.path.exists(store + ".swap.tmp")


ROWS = {
    "store": _store_row,
    "ivf_cells": _ivf_row,
    "text_postings": _text_row,
    "dedup_bands": _dedup_row,
    "flat_dir": _flat_dir_row,
    "migrate_flat_store": _migrate_row,
}


@pytest.mark.parametrize("artifact", list(ROWS))
def test_crashed_swap_is_settled_by_next_writer(spark, tmp_path, artifact):
    ROWS[artifact](spark, tmp_path)
