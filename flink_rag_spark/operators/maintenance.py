"""Table-maintenance operators for the incrementally-maintained vector store
(streaming/ingest.py): each micro-batch appends small parquet files; at scale
the store degrades into a small-files problem without periodic compaction —
the OPTIMIZE-style rewrite the reference's OpenSearch index got for free from
Lucene segment merging (SURVEY.md §2.4 'index maintenance').
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession

from flink_rag_spark.operators.util import (
    overwrite_partitions,
    replace_dir,
    settle_dir,
    write_json,
)
from flink_rag_spark.session import ensure_runtime_confs


def store_file_count(store_path: str) -> int:
    # flat stores write at the root; the bucketed ingest store writes under
    # bucket=N/ partition directories — count both layouts
    return len(glob.glob(os.path.join(store_path, "*.parquet"))
               + glob.glob(os.path.join(store_path, "*", "*.parquet")))


def compact_store(spark: SparkSession, store_path: str,
                  target_partitions: int | None = None) -> int:
    """Rewrite the store into `target_partitions` files (default: sized by
    AQE via coalesce). Write-then-swap (``util.replace_dir``) keeps readers
    consistent: the rewrite lands in a sibling directory and replaces the
    store at the directory level (a real deployment would do this under a
    table format's transaction log — the rewrite itself is identical).

    Returns the new file count."""
    ensure_runtime_confs(spark)

    def write(tmp: str) -> None:
        df = spark.read.parquet(store_path)
        if target_partitions:
            df = df.coalesce(target_partitions)
        writer = df.write.mode("overwrite")
        if "bucket" in df.columns:  # keep the ingest store's pruning layout
            writer = writer.partitionBy("bucket")
        writer.parquet(tmp)

    replace_dir(store_path, write)
    return store_file_count(store_path)


def upsert_into_store(spark: SparkSession, store_path: str, updates,
                      id_col: str = "vec_id") -> dict[str, int]:
    """Keyed MERGE (upsert): rows whose id matches an update row are
    replaced, unmatched update rows are inserted — the mutable-store
    primitive a re-ingest pipeline needs (an updated source document must
    overwrite its old version, not duplicate it). The reference got this
    from OpenSearch's per-doc index-add semantics
    (StreamingStoreKnowledge.java:69-71); on a parquet store it has to be
    a partition-level rewrite.

    O(touched buckets) against the bucketed ingest store: every update
    key's bucket is derivable (same pmod layout streaming/ingest.py
    writes), so the merge reads ONLY those bucket partitions, anti-joins
    the stale versions out, unions the updates in, and dynamic partition
    overwrite rewrites just those directories — untouched buckets stay
    byte-identical (asserted in tests/test_ops.py). Flat stores fall back
    to a full write-then-swap. Updates must carry the store's data columns
    (minus the derived ``bucket``). Single-writer boundary per README.

    Update ids must be unique within the batch: two update rows with the
    same id both land (the stale store row is removed, both new rows
    append) — pre-aggregate to one row per key (e.g. latest-by-timestamp
    via a window) before calling, as any MERGE requires.

    Returns {"updated": n, "inserted": n}."""
    import pyspark.sql.functions as F

    from flink_rag_spark.streaming.ingest import STORE_BUCKETS

    ensure_runtime_confs(spark)
    settle_dir(store_path)
    df = spark.read.parquet(store_path)
    if "bucket" in df.columns:
        up = updates.withColumn(
            "bucket", F.pmod(F.col(id_col), F.lit(STORE_BUCKETS)))
        # touched buckets: bounded by STORE_BUCKETS, never by update size
        buckets = sorted(r["bucket"] for r in
                         up.select("bucket").distinct().collect())
        existing = df.filter(F.col("bucket").isin(buckets))
        n_before = existing.count()
        survivors = existing.join(
            up.select(F.col(id_col)), on=id_col, how="left_anti")
        merged = (survivors.unionByName(up.select(*existing.columns))
                  .repartition("bucket")
                  .localCheckpoint(eager=True))  # cut self-read lineage
        n_after = merged.count()
        n_new = n_after - n_before  # inserts grow the touched buckets
        (merged.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(store_path))
        n_updates = up.count()
        return {"updated": int(n_updates - n_new), "inserted": int(n_new)}
    # flat store: full anti-join + union, write-then-swap
    n_before = df.count()
    merged = (df.join(updates.select(F.col(id_col)), on=id_col,
                      how="left_anti")
              .unionByName(updates.select(*df.columns)))
    replace_dir(store_path,
                lambda tmp: merged.write.mode("overwrite").parquet(tmp))
    n_after = spark.read.parquet(store_path).count()
    n_updates = updates.count()
    return {"updated": int(n_updates - (n_after - n_before)),
            "inserted": int(n_after - n_before)}


def delete_from_store(spark: SparkSession, store_path: str,
                      ids: list[int], id_col: str = "vec_id") -> int:
    """Targeted deletion (the right-to-be-forgotten pass): remove the
    given ids from the bucketed ingest store by rewriting ONLY the bucket
    partitions that can contain them.

    O(touched buckets), not O(store): the ids' buckets are computed
    driver-side (same pmod layout streaming/ingest.py writes), the pruned
    scan reads just those partitions, and dynamic partition overwrite
    (operators/rollup.py's maintenance idiom) rewrites just those
    directories — a 3-id deletion against a petabyte store touches ≤ 3
    buckets. Flat (unbucketed) stores fall back to a full write-then-swap
    rewrite. The id list is driver-side by contract (deletion requests
    are human/audit-scale); wire a frame-valued variant through a join if
    deletions ever arrive as data. Single-writer boundary as per README.

    Returns the number of rows deleted."""
    import pyspark.sql.functions as F

    from flink_rag_spark.streaming.ingest import STORE_BUCKETS

    ensure_runtime_confs(spark)
    if not ids:
        return 0
    settle_dir(store_path)
    df = spark.read.parquet(store_path)
    if "bucket" in df.columns:
        buckets = sorted({i % STORE_BUCKETS for i in ids})
        touched = df.filter(F.col("bucket").isin(buckets))
        n_before = touched.count()
        kept = (touched.filter(~F.col(id_col).isin(ids))
                .repartition("bucket")
                .localCheckpoint(eager=True))  # cut the self-read lineage
        n_deleted = n_before - kept.count()
        overwrite_partitions(kept, store_path, "bucket", buckets)
        return int(n_deleted)
    # flat store: full rewrite, write-then-swap
    n_before = df.count()
    kept = df.filter(~F.col(id_col).isin(ids))
    replace_dir(store_path,
                lambda tmp: kept.write.mode("overwrite").parquet(tmp))
    return int(n_before - spark.read.parquet(store_path).count())


def forget_in_text_index(spark: SparkSession, path: str,
                         ids: list[int]) -> int:
    """Remove documents from a persisted inverted text index
    (``ranking.build_text_index`` layout) so indexed BM25 afterwards is
    BIT-IDENTICAL to an index rebuilt without them: postings rows go,
    doc lengths go, and the mergeable stats decrement EXACTLY (doc
    lengths are integers, so the double sums subtract without error —
    same avgdl the rebuild computes). Term df needs no bookkeeping: the
    query derives it from the surviving postings.

    Cost: one postings scan to FIND the docs' rows (an inverted index is
    partitioned by term, so a doc's rows are scattered — by design: the
    read path's pruning matters, deletion is an audit-scale batch job),
    then a rewrite of only the touched term partitions. A leftover
    batch commit is settled first (``ranking.settle_text_index``), so
    the forget sees the index's committed rows exactly once. Returns
    postings rows removed."""
    import json

    import pyspark.sql.functions as F

    from flink_rag_spark.operators.ranking import settle_text_index

    ensure_runtime_confs(spark)
    if not ids:
        return 0
    settle_text_index(path)
    p_path = os.path.join(path, "postings")
    d_path = os.path.join(path, "doclens")
    postings = spark.read.parquet(p_path)
    tps = [r["tp"] for r in
           (postings.filter(F.col("doc_id").isin(ids))
            .select("tp").distinct().collect())]
    if tps:
        touched = postings.filter(F.col("tp").isin(tps))
        n_before = touched.count()
        kept = (touched.filter(~F.col("doc_id").isin(ids))
                .repartition("tp").localCheckpoint(eager=True))
        removed = n_before - kept.count()
        overwrite_partitions(kept, p_path, "tp", tps)
    else:
        removed = 0
    dl = spark.read.parquet(d_path)
    gone = (dl.filter(F.col("doc_id").isin(ids))
            .agg(F.count(F.lit(1)).cast("double").alias("n"),
                 F.sum("dl").alias("tl")).first())
    if gone["n"]:
        kept_dl = (dl.filter(~F.col("doc_id").isin(ids))
                   .repartition(1).localCheckpoint(eager=True))
        # write-then-swap: an in-place overwrite clears the live doc
        # lengths before it writes, so a crash inside it lost them all
        replace_dir(d_path, lambda tmp: kept_dl.write.parquet(tmp))
        with open(os.path.join(path, "stats.json")) as f:
            st = json.load(f)
        st["n_docs"] -= gone["n"]
        st["total_len"] -= gone["tl"] or 0.0
        st["avgdl"] = (st["total_len"] / st["n_docs"]) if st["n_docs"] \
            else 0.0
        # atomic replace: stats.json carries the streaming replay guard
        # — a torn write here would wedge every reader and the
        # maintainer's next replay
        write_json(os.path.join(path, "stats.json"), st)
    return int(removed)


def forget_in_dedup_index(spark: SparkSession, path: str, ids: list[int],
                          n_parts: int | None = None) -> int:
    """Remove documents from a persisted dedup index
    (``incremental.build_dedup_index`` layout) so later probes behave as
    if the docs were never indexed: band rows go (touched ``bkp``
    partitions rewritten), shingle sets go (``sbp`` partitions PRUNED
    from the ids — sbp = id mod n_parts), and the touched buckets'
    ``sizes/`` partitions are REBUILT exactly from the surviving bands
    (a sum/min log can absorb additive deltas but not retractions of the
    min — rebuilding the touched partitions is the exact correction, and
    it is bounded by the docs' bucket set). Returns band rows removed."""
    import pyspark.sql.functions as F

    from flink_rag_spark.operators.incremental import (
        DEFAULT_PARTS,
        _bucket_size_deltas,
        _settle_tables,
        _sizes_tasks,
    )

    ensure_runtime_confs(spark)
    if not ids:
        return 0
    if n_parts is None:
        n_parts = DEFAULT_PARTS
    _settle_tables(path)
    b_path = os.path.join(path, "bands")
    bands = spark.read.parquet(b_path)
    id_col = [c for c in bands.columns
              if c not in ("band", "band_key", "bkp")][0]
    bkps = [r["bkp"] for r in
            (bands.filter(F.col(id_col).isin(ids))
             .select("bkp").distinct().collect())]
    removed = 0
    if bkps:
        touched = bands.filter(F.col("bkp").isin(bkps))
        n_before = touched.count()
        kept = (touched.filter(~F.col(id_col).isin(ids))
                .repartition("bkp").localCheckpoint(eager=True))
        removed = n_before - kept.count()
        overwrite_partitions(kept, b_path, "bkp", bkps)
        s_path = os.path.join(path, "sizes")
        if os.path.exists(s_path):
            corrected = (_bucket_size_deltas(kept, id_col)
                         .repartition(_sizes_tasks(n_parts), "bkp")
                         .localCheckpoint(eager=True))
            overwrite_partitions(
                corrected, s_path, "bkp",
                [b for b in bkps
                 if os.path.exists(os.path.join(s_path, f"bkp={b}"))])
    sh_path = os.path.join(path, "shingles")
    if os.path.exists(sh_path):
        sbps = sorted({i % n_parts for i in ids})
        sh = spark.read.parquet(sh_path)
        touched_sh = sh.filter(F.col("sbp").isin(sbps))
        kept_sh = (touched_sh.filter(~F.col(id_col).isin(ids))
                   .repartition("sbp").localCheckpoint(eager=True))
        overwrite_partitions(kept_sh, sh_path, "sbp", sbps)
    return int(removed)


def _forget_cells(spark: SparkSession, cells_path: str, ids: list[int],
                  id_col: str, probe_cells: list[int] | None) -> int:
    """Shared cell-partition deletion for the IVF and IVF-PQ layouts:
    rewrite only the ``cell=`` directories that can contain the ids.
    ``probe_cells`` (derived from the ids' vectors against the stored
    centroids) prunes the FIND scan too; without it the find falls back
    to one full scan of the cells table — the same contract as the text
    index's postings scan. Returns rows removed."""
    import pyspark.sql.functions as F

    if not os.path.exists(cells_path):
        return 0
    cells = spark.read.parquet(cells_path)
    if probe_cells is not None:
        cells = cells.filter(F.col("cell").isin(probe_cells))
    touched = [r["cell"] for r in
               (cells.filter(F.col(id_col).isin(ids))
                .select("cell").distinct().collect())]
    if not touched:
        return 0
    hit = spark.read.parquet(cells_path).filter(F.col("cell").isin(touched))
    n_before = hit.count()
    kept = (hit.filter(~F.col(id_col).isin(ids))
            .repartition("cell").localCheckpoint(eager=True))
    removed = n_before - kept.count()
    overwrite_partitions(kept, cells_path, "cell", touched)
    return int(removed)


def _rewrite_flat_dir(spark: SparkSession, path: str, ids: list[int],
                      id_col: str) -> int:
    """Filter the ids out of a small flat parquet dir (the IVF pending
    tail — ≤ one ingest cadence by construction), write-then-swap
    (``util.replace_dir``). Crash-reentrant: a swap the previous run
    left half done is settled first (the delete simply re-runs).
    Returns rows removed."""
    import pyspark.sql.functions as F

    settle_dir(path)
    if not os.path.exists(path):
        return 0
    df = spark.read.parquet(path)
    n_before = df.count()
    kept = (df.filter(~F.col(id_col).isin(ids))
            .coalesce(1).localCheckpoint(eager=True))
    removed = n_before - kept.count()
    if removed:
        replace_dir(path, lambda tmp: kept.write.mode("overwrite")
                    .parquet(tmp))
    return int(removed)


def _probe_cells_for(path: str, vectors, vec_col: str, ids: list[int],
                     id_col: str) -> list[int] | None:
    """The ids' candidate cells under the index's STORED centroids —
    driver-bounded (deletions are audit-scale by the delete_from_store
    contract). None (→ the caller pays the find scan) when no vectors
    were supplied OR when they don't cover EVERY id: a partial cover —
    e.g. a retried forget whose store delete already removed the rows —
    would silently prune the uncovered ids' cells out of the pass and
    under-delete."""
    import json

    import pyspark.sql.functions as F

    from flink_rag_spark.operators.similarity import with_ivf_cells

    if vectors is None:
        return None
    cents_path = os.path.join(path, "centroids.json")
    if not os.path.exists(cents_path):
        return None
    covered = vectors.filter(F.col(id_col).isin(ids)) \
        .select(id_col).distinct().count()
    if covered < len(set(ids)):
        return None
    with open(cents_path) as f:
        cents = json.load(f)
    return [r["cell"] for r in (with_ivf_cells(vectors, cents, vec_col)
                                .select("cell").distinct().collect())]


def forget_in_ivf_index(spark: SparkSession, path: str, ids: list[int],
                        vectors=None, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> int:
    """Remove documents from a persisted IVF or IVF-PQ index
    (``index.build_ivf_index`` / ``pq.build_ivfpq_index`` layout) so
    later probes behave as if the docs were never indexed: their rows
    (vectors or codes) leave the touched ``cell=`` partitions AND the
    un-indexed pending/flushing tail (a forgotten doc must not keep
    serving from either side of the union a probe reads, nor be
    re-encoded into the cells by the next flush). The trained geometry
    stays — centroids and PQ codebook are corpus-level aggregates, not
    per-document data, exactly like the text index's decremented stats;
    geometry refresh happens on the normal rebuild cadence. A crashed
    promotion is settled FIRST: its staged cells predate this forget,
    and swapping them in afterwards would bring the ids back.

    ``vectors`` (a (id, embedding) frame of the docs being forgotten,
    e.g. fetched bucket-pruned from the store BEFORE its own delete)
    makes the pass fully pruned: the ids' cells are recomputed from the
    stored coarse centroids (codes assign by the same argmin), so only
    those directories are read or written. Without it, one full
    find-scan locates the cells first (the text index's contract).
    Returns rows removed (cells + tail)."""
    from flink_rag_spark.operators.index import _recover_promote

    ensure_runtime_confs(spark)
    if not ids:
        return 0
    _recover_promote(path)          # settle any in-flight promote first
    probe = _probe_cells_for(path, vectors, vec_col, ids, id_col)
    removed = _forget_cells(spark, os.path.join(path, "cells"), ids,
                            id_col, probe)
    for tail_dir in ("pending", "pending.flushing"):
        removed += _rewrite_flat_dir(
            spark, os.path.join(path, tail_dir), ids, id_col)
    return int(removed)


def forget_in_nsw_index(spark: SparkSession, path: str,
                        ids: list[int]) -> int:
    """Remove documents from a persisted NSW graph index
    (``nsw.build_nsw_index`` layout) so later probes can NEVER serve
    them:

    * their rows leave ``vectors/`` — the scoring surface; a candidate
      with no vector row gets no score and cannot enter the beam or
      the final top-k. ``id_bucket = pmod(id, n_buckets)`` makes the
      touched partitions computable from the id list alone — no find
      scan, the IVF-pass pruning discipline;
    * their OUTGOING adjacency rows (and any dst-side rows co-located
      in the same ``src_bucket=`` partitions) leave ``edges/`` — same
      computable buckets;
    * forgotten ENTRY points leave ``meta.json``; if the deletion
      empties the entry list, the smallest surviving ids are promoted
      (deterministic, bounded) so the graph stays probeable.

    Dst-side edges in OTHER buckets stay DANGLING until the normal
    rebuild cadence (`nsw.py` module docstring): a dangling neighbor
    costs one wasted candidate lookup per hop — graceful recall/IO
    degradation, never a served forgotten id. Reentrant: every pass is
    a no-op on ids already gone. Returns rows removed
    (vectors + edges)."""
    import json

    import pyspark.sql.functions as F

    ensure_runtime_confs(spark)
    if not ids:
        return 0
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    n_buckets = int(meta["n_buckets"])
    id_list = sorted({int(i) for i in ids})
    bks = sorted({i % n_buckets for i in id_list})
    removed = 0
    vec_path = os.path.join(path, "vectors")
    live_v = [b for b in bks
              if os.path.exists(os.path.join(vec_path, f"id_bucket={b}"))]
    if live_v:
        hit = (spark.read.parquet(vec_path)
               .filter(F.col("id_bucket").isin(live_v)))
        n_before = hit.count()
        kept = (hit.filter(~F.col("id").isin(id_list))
                .repartition("id_bucket").localCheckpoint(eager=True))
        n_kept = kept.count()
        if n_kept < n_before:
            removed += n_before - n_kept
            overwrite_partitions(kept, vec_path, "id_bucket", live_v)
    edge_path = os.path.join(path, "edges")
    live_e = [b for b in bks
              if os.path.exists(os.path.join(edge_path, f"src_bucket={b}"))]
    if live_e:
        ehit = (spark.read.parquet(edge_path)
                .filter(F.col("src_bucket").isin(live_e)))
        n_before = ehit.count()
        kept_e = (ehit.filter(~F.col("src_id").isin(id_list)
                              & ~F.col("dst_id").isin(id_list))
                  .repartition("src_bucket").localCheckpoint(eager=True))
        n_kept = kept_e.count()
        if n_kept < n_before:
            removed += n_before - n_kept
            overwrite_partitions(kept_e, edge_path, "src_bucket", live_e)
    gone = set(id_list)
    entries = [int(e) for e in meta["entry_ids"] if int(e) not in gone]
    if not entries and os.path.exists(vec_path):
        entries = [int(r["id"]) for r in
                   (spark.read.parquet(vec_path).select("id")
                    .orderBy("id")
                    .limit(max(1, len(meta["entry_ids"]))).collect())]
    if entries != [int(e) for e in meta["entry_ids"]]:
        meta["entry_ids"] = entries
        write_json(meta_path, meta)
    return int(removed)


def forget_documents(spark: SparkSession, ids: list[int],
                     store_path: str | None = None,
                     text_index_path: str | None = None,
                     dedup_index_path: str | None = None,
                     ivf_index_path: str | None = None,
                     ivfpq_index_path: str | None = None,
                     nsw_index_path: str | None = None,
                     store_id_col: str = "vec_id",
                     n_parts: int | None = None) -> dict[str, int]:
    """Right-to-be-forgotten across EVERY artifact holding a document:
    the bucketed vector store, the inverted text index, the dedup
    index, and the IVF / IVF-PQ / NSW vector indexes — one call, each pass
    touching only the partitions that can contain the ids (see the
    per-artifact functions for the exact pruning). When the store is
    part of the call, the ids' vectors are fetched from it (bucket-
    pruned) BEFORE its delete and handed to the vector-index passes, so
    those prune their cell directories instead of find-scanning. The
    reference delegates this to OpenSearch's delete API; an engine
    owning its storage has to own deletion too."""
    import pyspark.sql.functions as F

    out: dict[str, int] = {}
    vectors = None
    if store_path is not None and (ivf_index_path is not None
                                   or ivfpq_index_path is not None):
        store = spark.read.parquet(store_path)
        if "embedding" in store.columns:
            from flink_rag_spark.streaming.ingest import STORE_BUCKETS
            if "bucket" in store.columns:   # pruned fetch, like the delete
                store = store.filter(F.col("bucket").isin(
                    sorted({i % STORE_BUCKETS for i in ids})))
            vectors = (store.filter(F.col(store_id_col).isin(ids))
                       .select(F.col(store_id_col).alias("vec_id"),
                               "embedding")
                       .localCheckpoint(eager=True))  # survives the delete
    if store_path is not None:
        out["store_rows"] = delete_from_store(spark, store_path, ids,
                                              store_id_col)
    if text_index_path is not None:
        out["posting_rows"] = forget_in_text_index(spark, text_index_path,
                                                   ids)
    if dedup_index_path is not None:
        out["band_rows"] = forget_in_dedup_index(spark, dedup_index_path,
                                                 ids, n_parts)
    if ivf_index_path is not None:
        out["ivf_rows"] = forget_in_ivf_index(spark, ivf_index_path, ids,
                                              vectors)
    if ivfpq_index_path is not None:
        out["ivfpq_rows"] = forget_in_ivf_index(spark, ivfpq_index_path,
                                                ids, vectors)
    if nsw_index_path is not None:
        out["nsw_rows"] = forget_in_nsw_index(spark, nsw_index_path, ids)
    return out
