"""Graph-based ANN — a bounded-hop NSW-style tier over a persisted
neighbor table.

The reference's OpenSearch k-NN backend serves HNSW by default
(``RAG.java:51-59`` delegates retrieval to the opensearch-knn plugin,
whose default engine is an HNSW graph); this module is the Spark-native
answer to the same capability class. True HNSW insert-time beam search
is a sequential, pointer-chasing algorithm that fits a single node's
RAM, not a 1000-executor DataFrame engine — so the design re-expresses
the two halves Spark-first:

* **Build** (`build_nsw_index`): a blocked exact M-NN graph. Every
  vector is multi-assigned to its ``n_probe`` nearest IVF cells (border
  vectors co-occur with both sides of the boundary — the recall trick),
  exact pairwise cosine runs WITHIN cells only (block size ≈
  N·n_probe/n_centroids; with n_centroids ≈ √N the blocks are ~√N·n_probe,
  the LSH-dedup blocked-verify discipline — never all-pairs), each node
  keeps its M best, and the graph is symmetrized with a 2M degree cap so
  incoming links survive (NSW navigability needs the reverse edges —
  Malkov et al. 2014's insertion creates them implicitly; here the union
  is explicit). Edges persist partitioned by ``src_bucket``, vectors by
  ``id_bucket`` (both ``pmod(id, n_buckets)`` so the DRIVER can compute
  the bucket of any id it holds), entry points (the vector nearest each
  centroid) in a tiny JSON.

* **Query** (`nsw_topk`): greedy beam search, ``ef`` wide, at most
  ``max_hops`` hops. Beam state is bounded driver metadata (≤ |entries|
  + max_hops·ef·2M (id, score) pairs — the IVF-codebook discipline:
  bounded regardless of corpus size); each hop is ONE partition-pruned
  scan of the edge table (src_bucket ∈ frontier buckets pushed to
  PartitionFilters) plus ONE partition-pruned scan of the vector table
  to score the new candidates. I/O per hop is |frontier| buckets out of
  n_buckets — the same pruning arithmetic as the IVF tiers, but driven
  by graph adjacency instead of cell geometry.

Where this tier wins: recall at a FIXED small I/O budget once the
corpus outgrows what n_probe cells can cover — the graph walks toward
the query across cell boundaries that IVF would have to widen its probe
budget to cross. Where it loses: build cost (the M-NN graph is a
self-join; IVF assignment is a linear pass) and update locality
(appends need neighbor recomputation; IVF appends are one cell each).
Rebuild cadence therefore follows the compaction cadence
(operators/maintenance.py), exactly like the IVF index. Deletion does
NOT wait for a rebuild: ``maintenance.forget_in_nsw_index`` removes the
ids' vector rows (the scoring surface — an id with no vector row can
never enter the beam or the top-k), their outgoing adjacency, and
their entry-point slots, all bucket-pruned; dst-side edges in other
buckets stay dangling until the rebuild — one wasted candidate lookup
per hop, graceful degradation, never a served forgotten id.

Determinism: centroid training is seeded (`ivf_centroids`), assignment
argmins break ties by cell id, per-src ranking breaks ties by
(sim DESC, dst id), the beam orders by (score DESC, id) on ROUND_DP-
rounded scores — two builds of the same corpus probe identically.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from flink_rag_spark.functions.vector import ROUND_DP, cosine_expr
from flink_rag_spark.operators.similarity import (
    _cosines,
    _fold_sq,
    _spark_round,
    cosine_topk,
    ivf_centroids,
)
from flink_rag_spark.operators.util import write_json


def _by_score(item: tuple) -> tuple:
    """Beam order of an (id, score) pair: score desc with a null or NaN
    score last, then id asc — the exact tier's ranking order."""
    i, s = item
    null = s is None or s != s
    return (null, 0.0 if null else -s, i)


def _multi_assign(embeddings: DataFrame, centroids: list[list[float]],
                  n_probe: int, vec_col: str) -> DataFrame:
    """(row, pos, cell, d2) for each vector's n_probe nearest cells —
    pos 0 is the primary cell, d2 the true squared distance (used only
    to pick entry points). One Arrow-batched matmul per batch, centroid
    matrix broadcast once per executor (the with_ivf_cells discipline)."""
    import numpy as _np
    cent = _np.asarray(centroids, dtype=_np.float64)
    bc = embeddings.sparkSession.sparkContext.broadcast(cent)
    eff = min(n_probe, len(centroids))

    @F.pandas_udf("array<struct<cell:int,d2:double>>")
    def _probes(vs: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd_
        if len(vs) == 0:
            return pd_.Series([], dtype="object")
        c = bc.value
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        d = ((x * x).sum(axis=1)[:, None] + (c * c).sum(axis=1)[None, :]
             - 2.0 * (x @ c.T))
        order = np.argsort(d, axis=1, kind="stable")[:, :eff]
        return pd_.Series([
            [{"cell": int(order[i, j]), "d2": float(d[i, order[i, j]])}
             for j in range(order.shape[1])]
            for i in range(len(x))])

    return (embeddings
            .withColumn("_p", _probes(F.col(vec_col)))
            .select("*", F.posexplode("_p").alias("pos", "pc"))
            .withColumn("cell", F.col("pc.cell"))
            .withColumn("d2", F.col("pc.d2"))
            .drop("_p", "pc"))


def build_nsw_index(spark: SparkSession, embeddings: DataFrame, path: str,
                    m_neighbors: int = 8, n_centroids: int | None = None,
                    n_probe: int = 2, n_buckets: int = 32,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    cfg: EngineConfig = DEFAULT_CONFIG) -> dict:
    """Build the neighbor-graph index at ``path``. Returns the meta dict.

    Layout: ``edges/`` (src_id, dst_id, sim) partitioned by src_bucket;
    ``vectors/`` (id, embedding) partitioned by id_bucket; ``meta.json``
    with entry ids + parameters. Buckets are ``pmod(id, n_buckets)`` —
    NOT a hash — so `nsw_topk` can turn a driver-held id list into a
    partition filter without shipping a hash function.

    ``n_buckets`` is the probe's I/O granularity and must SCALE WITH
    THE CORPUS: a hop reads the frontier's buckets in full, so size
    buckets to one scan unit (corpus_bytes / n_buckets ≈ 128-512 MB —
    e.g. 100 TB of edges → ~500k buckets), exactly the IVF cell-count
    rule. The default 32 fits the test corpus only.

    The within-cell pair join computes each pair's cosine once per
    shared cell (≤ n_probe co-occurrences) and collapses duplicates with
    a (src, dst) max — recomputing a score is map-side-cheap next to
    shuffling both vectors through a pre-dedup exchange."""
    if m_neighbors < 1:
        raise ValueError(f"m_neighbors must be >= 1, got {m_neighbors}")
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    import math

    from flink_rag_spark.operators.util import estimated_scan_rows
    n = estimated_scan_rows(embeddings)
    if n is None:
        n = embeddings.count()
    if n_centroids is None:
        n_centroids = min(1024, max(4, int(math.sqrt(max(n, 1)))))
    cents = ivf_centroids(embeddings, n_centroids=n_centroids, cfg=cfg,
                          n_rows=n)
    asn = _multi_assign(
        embeddings.select(F.col(id_col).alias("id"),
                          F.col(vec_col).alias("vec")),
        cents, n_probe, "vec").persist()
    try:
        # entry points: the vector nearest each centroid (primary
        # assignment only — pos 0), ≤ n_centroids driver-side ids. The
        # same pass checks the build's precondition before anything is
        # written: _dedup_topn drops a repeated (src, dst) as the same
        # vector pair met twice, which holds only while each id is ONE
        # vector, so an id with two primary assignments is rejected
        w_cell = Window.partitionBy("cell").orderBy("d2", "id")
        prim = (asn.filter(F.col("pos") == 0)
                .withColumn("_n", F.count(F.lit(1))
                            .over(Window.partitionBy("id")))
                .withColumn("_r", F.row_number().over(w_cell))
                .filter((F.col("_r") == 1) | (F.col("_n") > 1))
                .select("id", "_r", "_n").collect())
        dups = sorted({r["id"] for r in prim if r["_n"] > 1})
        if dups:
            raise ValueError(f"build_nsw_index needs unique {id_col}s; "
                             f"duplicated: {dups[:20]}")
        entries = sorted(r["id"] for r in prim if r["_r"] == 1)

        a = asn.select(F.col("id").alias("src_id"),
                       F.col("vec").alias("_av"), "cell")
        b = asn.select(F.col("id").alias("dst_id"),
                       F.col("vec").alias("_bv"), "cell")
        sim = F.round(F.expr(cosine_expr("_av", "_bv")), ROUND_DP)
        pairs = (a.join(b, on="cell")
                 .filter(F.col("src_id") != F.col("dst_id"))
                 .select("src_id", "dst_id", sim.alias("sim"))
                 .filter(F.col("sim").isNotNull() & ~F.isnan("sim")))

        # fused dedup + top-N (r15 verdict item 6, guide §2.3/§2.4):
        # each former groupBy(src,dst).max(sim) → row_number stage paid
        # TWO exchanges (hash on (src,dst), then hash on src for the
        # window). A duplicate (src,dst) row can only come from the
        # same vector pair meeting in another shared cell (or from the
        # symmetrize union re-adding an edge knn already kept), so its
        # rounded sim is IDENTICAL by construction — max() was pure
        # dedup, never an aggregation. Under the window's
        # (sim DESC, dst ASC) order duplicates are therefore ADJACENT,
        # and one window pass does both jobs in a single exchange:
        # lag() flags duplicates, a running count of non-duplicates is
        # exactly row_number() over the deduped frame (tie-stable: the
        # order is total over distinct dst within a src partition, so
        # the surviving row set — and the persisted index hash — is
        # unchanged).
        def _dedup_topn(df, cap: int):
            w = Window.partitionBy("src_id").orderBy(
                F.desc("sim"), F.col("dst_id"))
            dup = F.coalesce(
                F.lag("dst_id").over(w) == F.col("dst_id"),
                F.lit(False))
            rnk = F.sum(F.when(dup, 0).otherwise(1)).over(
                w.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow))
            return (df.withColumn("_dup", dup)
                    .withColumn("_r", rnk)
                    .filter((~F.col("_dup")) & (F.col("_r") <= cap))
                    .drop("_dup", "_r"))

        knn = _dedup_topn(pairs, m_neighbors)
        # symmetrize + 2M degree cap: incoming links survive (navigability),
        # no node's adjacency list grows unboundedly (a hub that is many
        # nodes' nearest neighbor keeps only its 2M best back-edges)
        sym = (_dedup_topn(knn.unionByName(knn.select(
                   F.col("dst_id").alias("src_id"),
                   F.col("src_id").alias("dst_id"), "sim")),
                   2 * m_neighbors)
               .withColumn("src_bucket",
                           F.pmod(F.col("src_id"), F.lit(n_buckets))))
        (sym.repartition(min(n_buckets, 32), "src_bucket")
         .write.mode("overwrite").partitionBy("src_bucket")
         .parquet(os.path.join(path, "edges")))
        vecs = (embeddings
                .select(F.col(id_col).alias("id"),
                        F.col(vec_col).alias("vec"))
                .withColumn("id_bucket",
                            F.pmod(F.col("id"), F.lit(n_buckets))))
        (vecs.repartition(min(n_buckets, 32), "id_bucket")
         .write.mode("overwrite").partitionBy("id_bucket")
         .parquet(os.path.join(path, "vectors")))
    finally:
        asn.unpersist()
    meta = {"m_neighbors": m_neighbors, "n_buckets": n_buckets,
            "n_centroids": n_centroids, "n_probe": n_probe,
            "entry_ids": [int(e) for e in entries]}
    write_json(os.path.join(path, "meta.json"), meta)
    return meta


def _score_ids(vectors: DataFrame, ids: list[int], query_vec: list[float],
               n_buckets: int) -> list[tuple[int, float]]:
    """Exact rounded cosine for a bounded id list — one partition-pruned
    scan (id_bucket ∈ the ids' buckets reaches PartitionFilters, the id
    IN-list reaches PushedFilters)."""
    bks = sorted({int(i) % n_buckets for i in ids})
    sub = vectors.filter(F.col("id_bucket").isin(bks)
                         & F.col("id").isin([int(i) for i in ids]))
    out = cosine_topk(sub, query_vec, k=len(ids), vec_col="vec",
                      id_col="id")
    return [(int(r["id"]), r["score"]) for r in out.collect()]


def nsw_topk(spark: SparkSession, path: str, query_vec: list[float],
             k: int = 10, ef: int | None = None, max_hops: int = 6,
             id_col: str = "vec_id") -> DataFrame:
    """Greedy beam search over the persisted neighbor graph — approximate
    top-k, (id, score, rank) with the exact tier's arithmetic and
    tie-break so results are comparable row-for-row.

    ``ef`` (default 3k) is the beam width — the recall knob, exactly
    HNSW's ef_search. ``max_hops`` bounds the walk (the graph family's
    bounded-rounds contract); the walk also stops early when the top-ef
    beam contains no unexpanded candidate (greedy convergence — the
    standard termination, reached well before max_hops on navigable
    graphs). Each hop reads only the frontier's edge buckets and the
    new candidates' vector buckets: bounded I/O per hop no matter the
    corpus size.

    No ``where=`` metadata filtering on this tier (graph navigation
    must walk UNFILTERED nodes to stay connected, and collecting only
    filtered results re-opens the under-fill problem the other tiers
    solved) — filtered k-NN is served by the exact / IVF / IVF-PQ
    tiers' filter-then-score paths."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    n_buckets = int(meta["n_buckets"])
    ef = max(ef if ef is not None else 3 * k, k)
    edges = spark.read.parquet(os.path.join(path, "edges"))
    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    visited: dict[int, float] = dict(
        _score_ids(vectors, meta["entry_ids"], query_vec, n_buckets))
    expanded: set[int] = set()
    hops = 0
    while hops < max_hops:
        beam = sorted(visited.items(), key=_by_score)[:ef]
        frontier = [i for i, _ in beam if i not in expanded]
        if not frontier:
            break  # greedy convergence: the whole beam is expanded
        hops += 1
        bks = sorted({i % n_buckets for i in frontier})
        nbrs = (edges.filter(F.col("src_bucket").isin(bks)
                             & F.col("src_id").isin(frontier))
                .select("dst_id").distinct().collect())
        expanded.update(frontier)
        new_ids = [int(r["dst_id"]) for r in nbrs
                   if int(r["dst_id"]) not in visited]
        if new_ids:
            visited.update(_score_ids(vectors, new_ids, query_vec,
                                      n_buckets))
    top_ids = [i for i, _ in
               sorted(visited.items(), key=_by_score)[:k]]
    # final result as ONE more pruned scan through the exact scorer —
    # identical rounding, ordering and rank semantics to cosine_topk
    bks = sorted({i % n_buckets for i in top_ids})
    sub = vectors.filter(F.col("id_bucket").isin(bks)
                         & F.col("id").isin(top_ids))
    return (cosine_topk(sub, query_vec, k=k, vec_col="vec", id_col="id")
            .withColumnRenamed("id", id_col))


def _score_ids_batch(vectors: DataFrame, ids: list[int],
                     Q: "object", n_buckets: int) -> dict:
    """{id: [score_per_query]} for a bounded id list — ONE
    partition-pruned scan, each Arrow batch scored against the broadcast
    query matrix by similarity's numpy kernel, so beam scores equal the
    exact tier's bit for bit (NaN where it scores null)."""
    import numpy as np

    spark = vectors.sparkSession
    Q = np.asarray(Q, dtype=np.float64)
    bc = spark.sparkContext.broadcast((Q, np.sqrt(_fold_sq(Q))))
    ansi = spark.conf.get("spark.sql.ansi.enabled", "false").lower() == "true"

    @F.pandas_udf("array<double>")
    def _scores(vs: pd.Series) -> pd.Series:
        import pandas as pd_
        s = _spark_round(_cosines(vs.to_numpy(), *bc.value, ansi))
        return pd_.Series([row.tolist() for row in s], dtype="object")

    bks = sorted({int(i) % n_buckets for i in ids})
    sub = (vectors.filter(F.col("id_bucket").isin(bks)
                          & F.col("id").isin([int(i) for i in ids]))
           .select("id", _scores(F.col("vec")).alias("_s")))
    return {int(r["id"]): list(r["_s"]) for r in sub.collect()}


def nsw_knn_join(spark: SparkSession, path: str, queries,
                 k: int = 10, ef: int | None = None, max_hops: int = 6,
                 query_id: str = "query_id",
                 id_col: str = "vec_id") -> DataFrame:
    """Batch beam search — :func:`nsw_topk` for a SET of queries
    (assumed small, the knn_join broadcast contract): every hop shares
    ONE partition-pruned edge scan over the union of all live beams'
    frontiers and ONE pruned vector scan scoring the union of new
    candidates against the whole query matrix (``_score_ids_batch`` —
    per-query scans would pay the job overhead |Q| times).

    ``queries`` is ``(ids, matrix)`` — a list of query ids and the
    row-aligned vector matrix (the ivfpq_knn_join convention).

    Returns (query_id, vec_id, score, rank): the final candidates are
    re-served through the exact scorer (cosine HOF on the pruned
    vector scan + per-query rank window), so scores, tie-breaks and
    schema match the exact tier row-for-row. Beam state stays bounded
    driver metadata per query — |Q| × (entries + max_hops·ef·2M)."""
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qids, qmat = queries
    Q = np.asarray(qmat, dtype=np.float64)
    if len(qids) != Q.shape[0]:
        raise ValueError(f"{len(qids)} query ids for {Q.shape[0]} rows")
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    n_buckets = int(meta["n_buckets"])
    ef = max(ef if ef is not None else 3 * k, k)
    edges = spark.read.parquet(os.path.join(path, "edges"))
    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    ent = _score_ids_batch(vectors, meta["entry_ids"], Q, n_buckets)
    visited = [dict() for _ in qids]           # per query: id -> score
    for vid, scores in ent.items():
        for qi in range(len(qids)):
            visited[qi][vid] = scores[qi]
    expanded = [set() for _ in qids]
    hops = 0
    while hops < max_hops:
        frontiers = []
        for qi in range(len(qids)):
            beam = sorted(visited[qi].items(),
                          key=_by_score)[:ef]
            frontiers.append([i for i, _ in beam
                              if i not in expanded[qi]])
        union = sorted({i for f in frontiers for i in f})
        if not union:
            break
        hops += 1
        bks = sorted({i % n_buckets for i in union})
        adj = (edges.filter(F.col("src_bucket").isin(bks)
                            & F.col("src_id").isin(union))
               .select("src_id", "dst_id").collect())
        nbrs: dict[int, list[int]] = {}
        for r in adj:
            nbrs.setdefault(int(r["src_id"]), []).append(int(r["dst_id"]))
        new_per_q: list[set] = []
        union_new: set[int] = set()
        for qi in range(len(qids)):
            cand = {d for s in frontiers[qi] for d in nbrs.get(s, ())
                    if d not in visited[qi]}
            expanded[qi].update(frontiers[qi])
            new_per_q.append(cand)
            union_new.update(cand)
        if not union_new:
            continue
        scored = _score_ids_batch(vectors, sorted(union_new), Q,
                                  n_buckets)
        for qi in range(len(qids)):
            for vid in new_per_q[qi]:
                if vid in scored:
                    visited[qi][vid] = scored[vid][qi]
    pairs = []
    for qi, qid in enumerate(qids):
        top = sorted(visited[qi].items(), key=_by_score)[:k]
        pairs += [(int(qid), int(vid)) for vid, _ in top]
    if not pairs:
        return spark.createDataFrame(
            [], f"{query_id} long, {id_col} long, score double, rank int")
    allowed = spark.createDataFrame(pairs, f"{query_id} long, _vid long")
    qdf = spark.createDataFrame(
        [(int(qid), [float(x) for x in Q[i]])
         for i, qid in enumerate(qids)],
        f"{query_id} long, _qv array<double>")
    union_ids = sorted({p[1] for p in pairs})
    bks = sorted({i % n_buckets for i in union_ids})
    sub = vectors.filter(F.col("id_bucket").isin(bks)
                         & F.col("id").isin(union_ids))
    score = F.round(F.expr(cosine_expr("vec", "_qv")), ROUND_DP)
    return (sub.join(F.broadcast(allowed), sub["id"] == F.col("_vid"))
            .join(F.broadcast(qdf), query_id)
            .select(query_id, F.col("id").alias(id_col),
                    score.alias("score"))
            .withColumn("rank", F.row_number().over(
                Window.partitionBy(query_id)
                .orderBy(F.desc("score"), F.col(id_col)))))
