"""Crash-injection matrices for the two commit protocols of persisted
artifacts in ``operators/util.py``.

Write-then-swap (``replace_dir``): each injected row crashes a
compaction between the swap's two renames (the live path is renamed
away, the rewrite not yet in), runs the artifact's next writer, and
checks that the writer settled the swap first: its result equals a
clean run's (the same steps without the crash, on a copy of the same
artifact), and a second compaction succeeds. The ``flat_dir`` and
``migrate_flat_store`` rows stage the crashed swap by hand and check the
rewrite that settles it.

Staged commit (``commit_staged``): each row crashes one text-index batch
(or an IVF promotion) at one step of stage -> intent -> moves ->
``stats.json`` -> intent removal, reopens, replays the same batch id and
compares with a clean run."""

import contextlib
import glob
import os
import shutil

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrameWriter


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


# ------------------------------------------------------ staged commits

#: the call a crash replaces: owner, attribute, its n-th matching call,
#: and a path substring the call must carry (None: any call)
STEPS = {
    # the batch's postings written, its doc lengths not
    "mid_staging": (DataFrameWriter, "parquet", 2, None),
    "after_staging": (os, "replace", 1, "intent.json"),  # no intent
    "after_intent": (os, "rename", 1, None),             # no move yet
    "after_move": (os, "rename", 3, None),               # two moves done
    "after_stats": (os, "remove", 1, "intent.json"),     # stats written
}
TERMS = ["the", "data", "model", "training"]


@contextlib.contextmanager
def _crash_at(step):
    """Raise from the call that ``step`` names, and expect the block to
    fail with it."""
    owner, op, nth, match = STEPS[step]
    real, calls = getattr(owner, op), []

    def crash(*args, **kwargs):
        if match is None or any(match in str(a) for a in args):
            calls.append(args)
            if len(calls) == nth:
                raise _Crash(f"injected crash {step}")
        return real(*args, **kwargs)

    setattr(owner, op, crash)
    try:
        with pytest.raises(_Crash):
            yield
    finally:
        setattr(owner, op, real)


def _stats(root):
    import json

    with open(os.path.join(root, "stats.json")) as f:
        return json.load(f)


def _bm25(spark, root):
    from flink_rag_spark.operators.ranking import bm25_topk_indexed

    return [tuple(r) for r in
            bm25_topk_indexed(spark, root, TERMS, k=15).collect()]


def _no_duplicate_rows(spark, root):
    postings = spark.read.parquet(os.path.join(root, "postings"))
    doclens = spark.read.parquet(os.path.join(root, "doclens"))
    return (postings.groupBy("doc_id", "term").count()
            .filter("count > 1").count() == 0
            and doclens.groupBy("doc_id").count()
            .filter("count > 1").count() == 0)


def _text_contents(spark, root):
    st = _stats(root)
    return (_rows(spark.read.parquet(os.path.join(root, "postings")),
                  ["doc_id", "term", "tf", "tp"]),
            _rows(spark.read.parquet(os.path.join(root, "doclens")),
                  ["doc_id", "dl"]),
            {k: st[k] for k in ("n_docs", "total_len", "avgdl",
                                "last_batch_id", "stream_id")},
            _bm25(spark, root))


@pytest.fixture(scope="module")
def text_runs(spark, sf_oracle, tmp_path_factory):
    """The sf_oracle documents in four batches (doc_id mod 4), the index
    after stream s1's batch 0 (where every append row starts), and the
    clean runs' contents: batch 0 alone, and batches 0 then 1."""
    from flink_rag_spark.operators.ranking import maintain_text_index
    from flink_rag_spark.sources.tables import load_table

    d = load_table(spark, sf_oracle, "documents").select("doc_id", "text")
    batches = [d.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    root = tmp_path_factory.mktemp("text_runs")
    base, clean = str(root / "base"), str(root / "clean")
    assert maintain_text_index(spark, batches[0], base, batch_id=0,
                               stream_id="s1", n_parts=8)
    shutil.copytree(base, clean)
    assert maintain_text_index(spark, batches[1], clean, batch_id=1,
                               stream_id="s1")
    return {"batches": batches, "base": base,
            "clean": {0: _text_contents(spark, base),
                      1: _text_contents(spark, clean)}}


def _new_stream_then_compact(spark, live, runs):
    """A full redelivery skips on the guard; a NEW stream (fresh
    checkpoint: batch ids restart at 0) is not swallowed by the old
    stream's guard; compaction leaves one file per partition and the
    same results."""
    import glob

    from flink_rag_spark.operators.ranking import (
        build_text_index,
        compact_text_index,
        maintain_text_index,
    )
    b = runs["batches"]
    assert not maintain_text_index(spark, b[1], live, batch_id=1,
                                   stream_id="s1")
    assert maintain_text_index(spark, b[3], live, batch_id=0,
                               stream_id="s2")
    want_docs = b[0].unionByName(b[1]).unionByName(b[3])
    full = live + ".full"
    build_text_index(spark, want_docs, full, n_parts=8)
    want = _bm25(spark, full)
    assert _bm25(spark, live) == want
    compact_text_index(spark, live)
    st = _stats(live)
    assert (st["stream_id"], st["last_batch_id"]) == ("s2", 0)
    assert st["n_docs"] == want_docs.count()
    for p in glob.glob(f"{live}/postings/tp=*"):
        assert len(glob.glob(f"{p}/*.parquet")) == 1
    assert _no_duplicate_rows(spark, live)
    assert _bm25(spark, live) == want


def _forget(spark, live, runs):
    """Right-to-be-forgotten after the crashed batch: the stats
    decrement exactly, so indexed BM25 equals an index rebuilt without
    the forgotten docs."""
    from flink_rag_spark.operators.maintenance import forget_in_text_index
    from flink_rag_spark.operators.ranking import build_text_index

    b = runs["batches"]
    docs = b[0].unionByName(b[1])
    ids = [r["doc_id"] for r in
           docs.filter(F.col("doc_id") % 7 == 0).select("doc_id").collect()]
    assert forget_in_text_index(spark, live, ids) > 0
    keep = docs.filter(~F.col("doc_id").isin(ids))
    full = live + ".full"
    build_text_index(spark, keep, full, n_parts=8)
    assert _stats(live)["n_docs"] == keep.count()
    assert _bm25(spark, live) == _bm25(spark, full)


FOLLOW_UPS = {("append", "after_move"): _new_stream_then_compact,
              ("replay", "after_move"): _forget}


def _text_crash_row(spark, runs, tmp_path, scenario, step):
    """``cold``: stream s1's batch 0 on an empty path. ``append``: its
    batch 1 on the batch-0 index. ``replay``: batch 1 again, whose first
    replay crashes at the same step once more."""
    from flink_rag_spark.operators.ranking import maintain_text_index

    live = str(tmp_path / "live")
    bid = 0 if scenario == "cold" else 1
    if bid:
        shutil.copytree(runs["base"], live)

    def deliver():
        return maintain_text_index(spark, runs["batches"][bid], live,
                                   batch_id=bid, stream_id="s1", n_parts=8)

    with _crash_at(step):
        deliver()
    if scenario == "replay":
        with _crash_at(step):
            deliver()
    # before the intent nothing committed and the replay applies the
    # batch; after it the replay's settle commits and the guard skips
    assert deliver() == (step in ("mid_staging", "after_staging"))
    assert _text_contents(spark, live) == runs["clean"][bid]
    assert _no_duplicate_rows(spark, live)
    assert not os.path.exists(os.path.join(live, "staged"))
    follow_up = FOLLOW_UPS.get((scenario, step))
    if follow_up is not None:
        follow_up(spark, live, runs)


def _ivf_promotion_row(spark, tmp_path, step):
    """A promotion that crashed after its intent is finished by the next
    reader; running it again is a no-op that equals a clean promotion."""
    import json

    from flink_rag_spark.operators.index import (
        NEXT_CODEBOOK,
        PROMOTE_INTENT,
        build_ivf_index,
        load_ivf_index,
        maintain_codebook,
        promote_next_codebook,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), float(i % 7), 1.0])
         for i in range(45)], "vec_id long, embedding array<float>")
    live, clean = str(tmp_path / "live"), str(tmp_path / "clean")
    build_ivf_index(spark, emb.filter("vec_id < 40"), live, n_centroids=4)
    maintain_codebook(spark, emb.filter("vec_id >= 20"), live, batch_id=0,
                      stream_id="s")
    shutil.copytree(live, clean)
    want = promote_next_codebook(spark, emb, clean)

    def contents(root):
        with open(os.path.join(root, "centroids.json")) as f:
            cents = json.load(f)
        return cents, _rows(spark.read.parquet(os.path.join(root, "cells")),
                            ["cell", "vec_id"])

    with _crash_at(step):
        promote_next_codebook(spark, emb, live)
    assert os.path.exists(os.path.join(live, PROMOTE_INTENT))
    cents, _ = load_ivf_index(spark, live)   # the reader rolls forward
    assert cents == want
    assert promote_next_codebook(spark, emb, live) == want
    assert contents(live) == contents(clean)
    for leftover in (PROMOTE_INTENT, NEXT_CODEBOOK, "cells.rebuilding"):
        assert not os.path.exists(os.path.join(live, leftover))
    assert not _swap_leftovers(live)


STAGED_ROWS = ([pytest.param(sc, st, id=f"{sc}-{st}")
                for sc in ("cold", "append", "replay") for st in STEPS]
               + [pytest.param("ivf_promotion", "after_intent",
                               id="ivf_promotion-after_intent")])


@pytest.mark.parametrize("scenario,step", STAGED_ROWS)
def test_staged_commit_crash_then_replay(spark, request, tmp_path,
                                         scenario, step):
    if scenario == "ivf_promotion":
        _ivf_promotion_row(spark, tmp_path, step)
    else:
        _text_crash_row(spark, request.getfixturevalue("text_runs"),
                        tmp_path, scenario, step)
