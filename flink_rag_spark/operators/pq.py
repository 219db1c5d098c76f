"""Product quantization (PQ) — the ANN-compression workhorse (Jégou et
al. 2011, "Product Quantization for Nearest Neighbor Search", IEEE
TPAMI; the IVF-PQ layout every large vector store ships). Vectors split
into m subspaces; each subspace learns a k-centroid codebook; a vector
stores m one-byte-ish codes (64-dim float32 → 8 codes = 32× smaller),
and query scoring is table lookups instead of float dot products.

Spark-first shape:

- training is the one driver-side step, like ivf_centroids: one job
  collects a bounded sample (PQ_MAX_SAMPLE vectors) and the Lloyd
  iterations run in numpy — per-iteration Spark jobs cost far more
  than the arithmetic on a sample that size;
- encoding is one assignment pass — each vector's (vec, subspace)
  slices join a BROADCAST m·k-row codebook, argmin as a struct-min
  (ties break on cell id, deterministic) — re-aggregated into an
  m-length code array per vector;
- query-time ADC: the two lookup tables (q·centroid and ‖centroid‖²
  per (s, c)) are computed driver-side from the query — 2·m·k numbers
  — then approximate cosine is a code-explode → broadcast-LUT join →
  per-vector sum: cos(q, x̂) = Σdot / (‖q‖·√Σn2). Top rerank_factor·k
  by approximate score re-rank EXACTLY (the standard ADC + rerank
  recipe), so recall@k is high while the full corpus is only ever
  touched through its codes.

At 100 TB: training runs on a bounded sample (like IVF's centroid
training), codes are 32× smaller than the vectors so the scoring scan
reads a fraction of the bytes, and only rerank_factor·k full vectors
are fetched per query. Graded through the ann_methods_vec7 recall
contract (meets_floor must hash TRUE against the oracle's expectation).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from flink_rag_spark.operators.index import (
    PQ_CODEBOOK,
    _append_cells,
    _begin_rebuild,
    _commit_rebuild,
    _is_pq,
    _live_geometry,
    _recover_promote,
)

PQ_M = 8          # subspaces
PQ_K = 16         # centroids per subspace
PQ_ITERS = 6
PQ_MAX_SAMPLE = 4096  # training rows (ivf_centroids' max_sample)
PQ_RERANK_FACTOR = 8


def _subvec_frame(embeddings: DataFrame, vec_col: str, id_col: str,
                  m: int, dsub: int) -> DataFrame:
    """(id, s, sub) — each vector sliced into its m subvectors."""
    slices = (f"transform(sequence(0, {m - 1}), "
              f"s -> slice({vec_col}, s * {dsub} + 1, {dsub}))")
    return embeddings.select(
        F.col(id_col),
        F.posexplode(F.expr(slices)).alias("s", "sub"))


def _codebook_df(spark, codebook: list) -> DataFrame:
    rows = [(s, c, [float(x) for x in cent])
            for s, cents in enumerate(codebook)
            for c, cent in enumerate(cents)]
    return spark.createDataFrame(rows, "s int, c int, cent array<double>")


_DIST = ("aggregate(zip_with(sub, cent, (a, b) -> (a - b) * (a - b)), "
         "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")


def _assign(subvecs: DataFrame, cb: DataFrame) -> DataFrame:
    """(id, s, c) nearest-centroid assignment per subspace — broadcast
    codebook join, struct-min argmin (ties → lowest cell id)."""
    id_col = subvecs.columns[0]
    return (subvecs.join(F.broadcast(cb), on="s")
            .withColumn("_d", F.expr(_DIST))
            .groupBy(id_col, "s")
            .agg(F.min(F.struct("_d", "c")).alias("_m"))
            .select(id_col, "s", F.col("_m.c").alias("c")))


def train_pq(embeddings: DataFrame, vec_col: str = "embedding",
             id_col: str = "vec_id", m: int = PQ_M, k: int = PQ_K,
             iters: int = PQ_ITERS) -> list:
    """Learn the PQ codebook: codebook[s][c] = centroid (length d/m).

    Like ivf_centroids, training runs on a bounded driver-side sample:
    ONE job takes the ``PQ_MAX_SAMPLE`` vectors with the smallest id hash
    (uniform over the corpus, reproducible; the whole corpus when it is
    smaller), then every Lloyd iteration is numpy with no Spark job —
    the codebook only needs the distribution. Deterministic: init =
    subvectors of the k smallest sampled ids; distances sum dim by dim
    in the order ``_DIST`` sums them, and argmin ties break on the
    lowest centroid id, as in ``_assign``; empty centroids keep their
    previous value."""
    rows = (embeddings.select(id_col, vec_col)
            .orderBy(F.xxhash64(id_col), id_col)
            .limit(PQ_MAX_SAMPLE).collect())
    if len(rows) < k:
        raise ValueError(
            f"PQ training needs at least k={k} vectors, got "
            f"{len(rows)} — lower k or supply more data")
    rows.sort(key=lambda r: r[0])
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    codebook = []
    for s in range(m):
        sub = x[:, s * dsub:(s + 1) * dsub]
        cent = sub[:k].copy()
        for _ in range(iters):
            dist = np.zeros((len(sub), k))
            for j in range(dsub):
                diff = sub[:, j, None] - cent[None, :, j]
                dist += diff * diff
            assign = dist.argmin(axis=1)
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        codebook.append(cent.tolist())
    return codebook


def pq_encode(embeddings: DataFrame, codebook: list,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """(id, codes) — each vector's m-length code array, the 32×-smaller
    stored representation."""
    m, dsub = len(codebook), len(codebook[0][0])
    spark = embeddings.sparkSession
    subvecs = _subvec_frame(embeddings, vec_col, id_col, m, dsub)
    assigned = _assign(subvecs, _codebook_df(spark, codebook))
    return (assigned.groupBy(id_col)
            .agg(F.expr("transform(array_sort(collect_list("
                        "named_struct('s', s, 'c', c))), x -> x.c)")
                 .alias("codes")))


def ann_pq_topk(embeddings: DataFrame, query_vec: list[float],
                k: int = 10, m: int = PQ_M, kc: int = PQ_K,
                iters: int = PQ_ITERS,
                rerank_factor: int = PQ_RERANK_FACTOR,
                codebook: list | None = None,
                codes: DataFrame | None = None,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """PQ-ADC approximate top-k with exact re-rank: score every vector
    from its codes via the query's broadcast lookup tables, keep the
    rerank_factor·k best, re-rank those exactly. Returns (id, score,
    rank) with the exact-path rounding/tie-break, so the survivors rank
    identically to cosine_topk over the same candidate set."""
    from flink_rag_spark.operators.similarity import cosine_topk
    if codebook is None:
        codebook = train_pq(embeddings, vec_col, id_col, m, kc, iters)
    if codes is None:
        codes = pq_encode(embeddings, codebook, vec_col, id_col)
    m, dsub = len(codebook), len(codebook[0][0])
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q)) or 1.0
    lut = []
    for s in range(m):
        qs = q[s * dsub:(s + 1) * dsub]
        for c, cent in enumerate(codebook[s]):
            cv = np.asarray(cent, dtype=np.float64)
            lut.append((s, c, float(qs @ cv), float(cv @ cv)))
    spark = embeddings.sparkSession
    lut_df = spark.createDataFrame(
        lut, "s int, c int, dot double, n2 double")
    approx = (codes.select(id_col, F.posexplode("codes").alias("s", "c"))
              .join(F.broadcast(lut_df), on=["s", "c"])
              .groupBy(id_col)
              .agg(F.sum("dot").alias("_sd"), F.sum("n2").alias("_sn"))
              .select(id_col,
                      (F.col("_sd")
                       / (F.lit(qn) * F.sqrt(F.greatest(
                           F.col("_sn"), F.lit(1e-12)))))
                      .alias("approx_score")))
    return _rerank_exact(approx, embeddings, query_vec, k,
                         rerank_factor, vec_col, id_col)


def _rerank_exact(approx: DataFrame, rerank_with: DataFrame,
                  query_vec: list[float], k: int, rerank_factor: int,
                  vec_col: str, id_col: str) -> DataFrame:
    """The ONE rerank tail shared by every ADC path (ann_pq_topk,
    ivfpq_topk): keep the rerank_factor·k best by (approx_score DESC,
    id), broadcast those ids into the full-precision side, finish with
    cosine_topk's exact rounding/tie-break — change the budget or the
    tie-break here and every PQ serving path moves together."""
    from flink_rag_spark.operators.similarity import cosine_topk
    cand_ids = (approx.orderBy(F.desc("approx_score"), F.asc(id_col))
                .limit(rerank_factor * k))
    cand = rerank_with.join(F.broadcast(cand_ids.select(id_col)),
                            on=id_col)
    return cosine_topk(cand, query_vec, k=k, vec_col=vec_col,
                       id_col=id_col)


# ------------------------------------------------ IVF-PQ persisted index

def build_ivfpq_index(spark, embeddings: DataFrame, path: str,
                      n_centroids: int | None = None, m: int = PQ_M,
                      kc: int = PQ_K, iters: int = PQ_ITERS,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      coarse_centroids: list[list[float]] | None = None,
                      codebook: list | None = None) -> None:
    """The production vector-store layout (Jégou et al. 2011 §IV): IVF
    cells bound WHICH vectors a probe touches, PQ codes bound the BYTES
    per touched vector. Vectors assign to IVF cells; the PQ codebook is
    trained on RESIDUALS (x − centroid) — residual energy is far below
    vector energy, so the same code budget quantizes much finer; codes
    write partitioned by cell (the same pruned layout as
    index.build_ivf_index). A probe reads n_probe/n_centroids of the
    directories × 1/32 of the bytes.

    The build commits like ``index.build_ivf_index``: codes land in
    ``cells.rebuilding`` and one intent file commits them together with
    ``centroids.json`` and ``pq_codebook.json``, so a crash leaves the
    old index or the new one, never a mix, and a crashed promotion left
    on the path is settled first instead of resurrecting later. From
    then on the index is maintained by index.py's lifecycle
    (``flush_pending``, ``maintain_codebook``/``promote_next_codebook``,
    ``compact_ivf_index``, ``maintenance.forget_in_ivf_index``).

    ``coarse_centroids`` / ``codebook`` pin the trained geometry and
    skip the corresponding training phase — the reproducible-rebuild
    path (same use as build_ivf_index's ``centroids=``)."""
    from flink_rag_spark.operators.similarity import ivf_centroids

    rebuilding = _begin_rebuild(path)
    if coarse_centroids is not None:
        cents = [[float(x) for x in c] for c in coarse_centroids]
    else:
        cents = ivf_centroids(embeddings, vec_col=vec_col) \
            if n_centroids is None else \
            ivf_centroids(embeddings, n_centroids=n_centroids,
                          vec_col=vec_col)
    codebook = _encode_cells(spark, embeddings, cents, codebook,
                             rebuilding, m, kc, iters, vec_col, id_col)
    _commit_rebuild(path, {"centroids": cents, "codebook": codebook})


def _encode_cells(spark, embeddings: DataFrame, cents: list,
                  codebook: list | None, cells_path: str, m: int,
                  kc: int, iters: int, vec_col: str,
                  id_col: str) -> list:
    """Assign → residual → (train if needed) → encode → write the cell
    partitions to ``cells_path``; returns the codebook. The ONE encode
    body build_ivfpq_index and index.promote_next_codebook share — so
    a promotion is bit-identical to a fresh build under the same
    geometry by construction."""
    from flink_rag_spark.operators.similarity import with_ivf_cells

    res = (_residuals(with_ivf_cells(embeddings, cents, vec_col),
                      _cent_df(spark, cents), vec_col, id_col)
           .persist())  # feeds PQ training AND encoding
    try:
        if codebook is None:
            codebook = train_pq(res, vec_col="res", id_col=id_col,
                                m=m, k=kc, iters=iters)
        codes = (pq_encode(res, codebook, vec_col="res", id_col=id_col)
                 .join(res.select(id_col, "cell"), on=id_col))
        (codes.repartition(len(cents), F.col("cell"))
         .write.mode("overwrite").partitionBy("cell")
         .parquet(cells_path))
    finally:
        res.unpersist()
    return codebook


def _load_geometry(path: str) -> tuple[list, list]:
    # every reader funnels through here, so a crashed commit (intent
    # marker present) is finished BEFORE any geometry read — probes can
    # never observe cells and geometry from different generations
    _recover_promote(path)
    if not _is_pq(path):
        raise ValueError(f"{path} holds no IVF-PQ index "
                         f"(no {PQ_CODEBOOK}; build_ivfpq_index writes it)")
    return _live_geometry(path)


def _cent_df(spark, cents: list) -> DataFrame:
    return spark.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in enumerate(cents)],
        "cell int, _cent array<double>")


def _residuals(assigned: DataFrame, cent_df: DataFrame, vec_col: str,
               id_col: str) -> DataFrame:
    """(id, cell, res) — vectors minus their assigned cell centroid."""
    return (assigned.join(F.broadcast(cent_df), on="cell")
            .select(id_col, "cell",
                    F.expr(f"zip_with({vec_col}, _cent, "
                           "(a, b) -> CAST(a AS DOUBLE) - b)")
                    .alias("res")))


def append_to_ivfpq_index(spark, new_vectors: DataFrame, path: str,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> int:
    """Incremental IVF-PQ maintenance: encode ``new_vectors`` with the
    FROZEN geometry (stored coarse centroids + PQ codebook — no
    retraining, so appended codes are BIT-IDENTICAL to what a rebuild
    under the same geometry would produce) and append into their cell
    partitions through index.py's anti-joined append, so a replayed
    batch appends nothing twice. Geometry DRIFT is handled on the
    rebuild cadence (``index.maintain_codebook`` /
    ``promote_next_codebook``), not per append. Returns vectors
    appended."""
    from flink_rag_spark.operators.similarity import with_ivf_cells

    cents, codebook = _load_geometry(path)
    cent_df = _cent_df(spark, cents)

    def encode(fresh: DataFrame) -> DataFrame:
        res = _residuals(fresh, cent_df, vec_col, id_col)
        return (pq_encode(res, codebook, vec_col="res", id_col=id_col)
                .join(res.select(id_col, "cell"), on=id_col))

    assigned = with_ivf_cells(
        new_vectors.select(id_col, vec_col).dropDuplicates([id_col]),
        cents, vec_col)
    return _append_cells(spark, assigned, path, len(cents), id_col, encode)


def ivfpq_topk(spark, path: str, query_vec: list[float],
               rerank_with: DataFrame, k: int = 10, n_probe: int = 4,
               rerank_factor: int = PQ_RERANK_FACTOR,
               vec_col: str = "embedding",
               id_col: str = "vec_id",
               tail: DataFrame | None = None, where=None,
               filter_overfetch: int = 4) -> DataFrame:
    """Probe the IVF-PQ index: ADC-score the codes of the ``n_probe``
    nearest cells (partition-pruned scan), keep rerank_factor·k, re-rank
    those exactly against ``rerank_with`` (the full-precision store —
    only the finalists' vectors are ever fetched). Residual ADC cosine:
    dot(q, x̂) = dot(q, cent) + Σ dot(q_s, r̂_s) and ‖x̂‖² = ‖cent‖²
    + 2Σ dot(cent_s, r̂_s) + Σ‖r̂_s‖², all from a broadcast
    (cell, s, code)-keyed lookup table of n_probe·m·k rows computed
    driver-side from the query.

    ``tail``: freshly-ingested vectors not yet flushed into the code
    partitions (``index.load_ivf_tail`` over this index's pending dirs)
    — scored EXACTLY and merged into the rerank candidate pool, the
    same freshness contract as ``ivf_knn_join``'s tail. Tail ids must
    resolve in ``rerank_with`` (they do: it is the live store).

    ``where``: metadata filter over ``rerank_with``'s columns (the
    store carries the metadata; the code partitions carry only ids).
    Served FILTER-THEN-SCORE: the allowed-id set semi-joins the probed
    code scan BEFORE the ADC cut, so the rerank pool is all-filtered
    and the classic post-filter under-fill (top rerank_factor·k cut
    first, filter second, < k survivors) cannot happen. The probe
    budget widens ×``filter_overfetch`` to chase filtered neighbors
    into farther cells; at selectivity s ≲ k·n_cells/(N·n_probe·
    overfetch) prefer exact ``cosine_topk(store, ..., where=...)`` —
    the filtered scan is then about one cell's worth of vectors."""
    import os

    cents, codebook = _load_geometry(path)
    m, dsub = len(codebook), len(codebook[0][0])
    C = np.asarray(cents, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q)) or 1.0
    if where is not None:
        n_probe = n_probe * max(filter_overfetch, 1)
    n_probe = min(n_probe, len(C))
    probe = ((C - q) ** 2).sum(axis=1).argsort(kind="stable")[:n_probe]
    lut, consts = [], []
    for c in probe.tolist():
        cv = C[c]
        consts.append((int(c), float(q @ cv), float(cv @ cv)))
        for s in range(m):
            qs = q[s * dsub:(s + 1) * dsub]
            cs = cv[s * dsub:(s + 1) * dsub]
            for j, pc in enumerate(codebook[s]):
                pv = np.asarray(pc, dtype=np.float64)
                lut.append((int(c), s, j, float(qs @ pv),
                            float(cs @ pv), float(pv @ pv)))
    lut_df = spark.createDataFrame(
        lut, "cell int, s int, c int, ad double, bd double, n2 double")
    const_df = spark.createDataFrame(consts, "cell int, qc double, cn double")
    codes = (spark.read.parquet(os.path.join(path, "cells"))
             .filter(F.col("cell").isin([int(x) for x in probe])))
    if where is not None:
        allowed = rerank_with.filter(where).select(id_col)
        codes = codes.join(allowed, on=id_col, how="leftsemi")
        if tail is not None:
            tail = tail.join(allowed, on=id_col, how="leftsemi")
    approx = (codes
              .select(id_col, "cell",
                      F.posexplode("codes").alias("s", "c"))
              .join(F.broadcast(lut_df), on=["cell", "s", "c"])
              .groupBy(id_col, "cell")
              .agg(F.sum("ad").alias("_a"), F.sum("bd").alias("_b"),
                   F.sum("n2").alias("_n"))
              .join(F.broadcast(const_df), on="cell")
              .select(id_col, (
                  (F.col("qc") + F.col("_a"))
                  / (F.lit(qn) * F.sqrt(F.greatest(
                      F.col("cn") + 2 * F.col("_b") + F.col("_n"),
                      F.lit(1e-12))))).alias("approx_score")))
    if tail is not None:
        from flink_rag_spark.operators.similarity import cosine_topk
        # exact scores for the un-indexed tail (small by the flush
        # cadence's construction); max() collapses any id racing an
        # in-flight flush that already coded it
        tail_scored = (cosine_topk(tail, query_vec,
                                   k=rerank_factor * k,
                                   vec_col=vec_col, id_col=id_col)
                       .select(id_col, F.col("score")
                               .alias("approx_score")))
        approx = (approx.unionByName(tail_scored)
                  .groupBy(id_col)
                  .agg(F.max("approx_score").alias("approx_score")))
    return _rerank_exact(approx, rerank_with, query_vec, k,
                         rerank_factor, vec_col, id_col)


def ivfpq_knn_join(spark, path: str, driver_queries, rerank_with: DataFrame,
                   k: int = 10, n_probe: int = 4,
                   rerank_factor: int = PQ_RERANK_FACTOR,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   qid_col: str = "query_id",
                   tail: DataFrame | None = None, where=None,
                   filter_overfetch: int = 4) -> DataFrame:
    """Batch IVF-PQ retrieval — the serving tier: one plan answers a
    whole query batch against the persisted index. ``driver_queries``
    is ``(qids, Q)`` with Q an (|Q|, d) float array on the driver (the
    RAG contract shared with ``ivf_knn_join(driver_queries=...)``:
    query batches are broadcast-sized, and probing needs the vectors
    driver-side anyway).

    The per-query ADC tables factor so the broadcast stays small:

    - ``ad``  (qid, s, c → q_s·r̂)      — |Q|·m·k rows, query-dependent
      but CELL-independent;
    - ``bdn2`` (cell, s, c → cent_s·r̂, ‖r̂‖²) — |cells|·m·k rows,
      query-independent;
    - ``consts`` (qid, cell → q·cent, ‖cent‖²) and the (qid, cell)
      probe pairs — |Q|·n_probe rows.

    All four are numpy-built in one shot and broadcast; the code scan
    is pruned to the UNION of probed cells, fans out per probing query
    through the tiny probe-pair join, and one partial+final aggregate
    folds each (qid, id) ADC score. The top ``rerank_factor·k`` per
    query re-rank EXACTLY against ``rerank_with`` with knn_join's
    rounding and (score DESC, id) tie-break, so results align with the
    exact tier wherever recall holds. ``tail`` (un-flushed vectors)
    joins the rerank pool exactly like the single-query path. Returns
    (qid, id, score, rank).

    ``where``: metadata filter over ``rerank_with``, served
    filter-then-score with a ×``filter_overfetch`` probe widening —
    the ``ivfpq_topk`` contract batched (allowed ids semi-join the
    pruned code scan before the per-query ADC cut; the tail is
    filtered the same way; no post-filter under-fill)."""
    from pyspark.sql import Window

    from flink_rag_spark.functions.vector import ROUND_DP, cosine_expr

    qids, Q = driver_queries
    Q = np.asarray(Q, dtype=np.float64)
    cents, codebook = _load_geometry(path)
    m, dsub = len(codebook), len(codebook[0][0])
    kc = len(codebook[0])
    C = np.asarray(cents, dtype=np.float64)           # (cells, d)
    P = np.asarray(codebook, dtype=np.float64)        # (m, kc, dsub)
    nq, d = Q.shape
    # probes: n_probe nearest cells per query (stable argsort); an
    # index with fewer cells than n_probe yields fewer probe columns,
    # so clamp — the repeat counts below assume exactly n_probe and
    # would otherwise raise on the length mismatch (the single-query
    # ivfpq_topk degrades gracefully on the same input)
    if where is not None:
        n_probe = n_probe * max(filter_overfetch, 1)
    n_probe = min(n_probe, len(C))
    d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    probes = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
    import pandas as pd_
    pair_rows = pd_.DataFrame({
        qid_col: np.repeat(qids, n_probe),
        "cell": probes.reshape(-1).astype("int32")})
    qc = np.einsum("qd,cd->qc", Q, C)
    cn = (C * C).sum(axis=1)
    const_rows = pd_.DataFrame({
        qid_col: np.repeat(qids, n_probe),
        "cell": probes.reshape(-1).astype("int32"),
        "qc": np.take_along_axis(qc, probes, axis=1).reshape(-1),
        "cn": cn[probes.reshape(-1)]})
    Qs = Q.reshape(nq, m, dsub)
    ad = np.einsum("qmd,mkd->qmk", Qs, P)             # (nq, m, kc)
    ad_rows = pd_.DataFrame({
        qid_col: np.repeat(qids, m * kc),
        "s": np.tile(np.repeat(np.arange(m), kc), nq).astype("int32"),
        "c": np.tile(np.arange(kc), nq * m).astype("int32"),
        "ad": ad.reshape(-1)})
    probed = sorted({int(x) for x in probes.reshape(-1)})
    Cs = C[probed].reshape(len(probed), m, dsub)
    bd = np.einsum("cmd,mkd->cmk", Cs, P)             # (|probed|, m, kc)
    n2 = (P * P).sum(axis=2)                          # (m, kc)
    bdn2_rows = pd_.DataFrame({
        "cell": np.repeat(np.asarray(probed, dtype="int32"), m * kc),
        "s": np.tile(np.repeat(np.arange(m), kc),
                     len(probed)).astype("int32"),
        "c": np.tile(np.arange(kc), len(probed) * m).astype("int32"),
        "bd": bd.reshape(-1),
        "n2": np.tile(n2.reshape(-1), len(probed))})
    qn = np.sqrt((Q * Q).sum(axis=1))
    qn[qn == 0.0] = 1.0
    qn_rows = pd_.DataFrame({qid_col: qids, "qn": qn})
    qvec_rows = pd_.DataFrame({qid_col: qids,
                               "query_vec": [list(map(float, v))
                                             for v in Q]})

    import os
    codes = (spark.read.parquet(os.path.join(path, "cells"))
             .filter(F.col("cell").isin(probed)))
    if where is not None:
        allowed = rerank_with.filter(where).select(id_col)
        codes = codes.join(allowed, on=id_col, how="leftsemi")
        if tail is not None:
            tail = tail.join(allowed, on=id_col, how="leftsemi")
    approx = (codes
              .join(F.broadcast(spark.createDataFrame(pair_rows)),
                    on="cell")
              .select(qid_col, id_col, "cell",
                      F.posexplode("codes").alias("s", "c"))
              .join(F.broadcast(spark.createDataFrame(ad_rows)),
                    on=[qid_col, "s", "c"])
              .join(F.broadcast(spark.createDataFrame(bdn2_rows)),
                    on=["cell", "s", "c"])
              .groupBy(qid_col, id_col, "cell")
              .agg(F.sum("ad").alias("_a"), F.sum("bd").alias("_b"),
                   F.sum("n2").alias("_n"))
              .join(F.broadcast(spark.createDataFrame(const_rows)),
                    on=[qid_col, "cell"])
              .join(F.broadcast(spark.createDataFrame(qn_rows)),
                    on=qid_col)
              .select(qid_col, id_col, (
                  (F.col("qc") + F.col("_a"))
                  / (F.col("qn") * F.sqrt(F.greatest(
                      F.col("cn") + 2 * F.col("_b") + F.col("_n"),
                      F.lit(1e-12))))).alias("approx_score")))
    qvecs = F.broadcast(spark.createDataFrame(qvec_rows))
    if tail is not None:
        tail_scored = (tail.crossJoin(qvecs)
                       .select(qid_col, id_col,
                               F.expr(cosine_expr(vec_col, "query_vec"))
                               .alias("approx_score")))
        approx = (approx.unionByName(tail_scored)
                  .groupBy(qid_col, id_col)
                  .agg(F.max("approx_score").alias("approx_score")))
    w_cand = Window.partitionBy(qid_col).orderBy(
        F.desc("approx_score"), F.asc(id_col))
    cand = (approx.withColumn("_r", F.row_number().over(w_cand))
            .filter(F.col("_r") <= rerank_factor * k)
            .select(qid_col, id_col))
    exact = (F.broadcast(cand)
             .join(rerank_with.select(id_col, vec_col), on=id_col)
             .join(qvecs, on=qid_col)
             .select(qid_col, id_col,
                     F.round(F.expr(cosine_expr(vec_col, "query_vec")),
                             ROUND_DP).alias("score")))
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"),
                                            F.col(id_col))
    return (exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
