"""Similarity search operators — the Spark-native replacement for the
reference's OpenSearch k-NN retrieval (``RAG.java:51-63``: k=10, minScore=0).

Exact tier (the correctness path the DuckDB oracle checks):

1. ``cosine_topk`` — exact top-k for ONE query vector: narrow projection +
   ``TakeOrderedAndProject`` (no full sort; each partition keeps k rows).
2. ``knn_join`` — exact top-k for a SET of queries: broadcast the small query
   side, cross-join against embeddings (the big side is never shuffled),
   per-query ranking window.

Approximate tier (bench/scale paths; recall measured in tests):

3. ``ann_lsh_topk`` / ``ann_knn_join`` — multi-table random-hyperplane LSH:
   candidates = union of the query's bucket across T tables (equi-join for
   batches), exact re-rank inside. Best when neighbor cosines are high.
4. ``ann_ivf_topk`` / ``ivf_knn_join`` — IVF: bounded-sample k-means coarse
   quantizer, probe the n_probe nearest cells, exact re-rank. The better
   trade on this corpus's weak-similarity query vectors; at scale the cell
   assignment is persisted partitioned-by-cell so probes prune at the scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.functions import broadcast
from pyspark.sql.types import LongType, StringType

from flink_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from flink_rag_spark.functions.vector import ROUND_DP, cosine_expr
from flink_rag_spark.operators.util import estimated_scan_rows
from flink_rag_spark.operators.util import widen_if_narrow as _widen_if_narrow

# above this dimensionality the single-query literal-expression path would
# inline thousands of CAST literals into one expression tree (codegen
# blowup at the reference's 1536 dims, EmbeddingConfig.java:5) — switch to
# an Arrow-batched numpy dot against a broadcast query vector instead
HIGH_DIM_LITERAL_MAX = 512


def cosine_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                min_score: float = 0.0, vec_col: str = "embedding",
                id_col: str = "vec_id", where=None) -> DataFrame:
    """Exact cosine top-k of one query vector. Deterministic tie-break on id
    (FIXTURES.md §C). Returns (id, score, rank).

    ``where`` (Column or SQL string) is a metadata filter applied BEFORE
    scoring — the exact tier's filtered k-NN is trivially pre-filter
    (Catalyst pushes the predicate to the scan), so the result is the
    true top-k of the filtered set at any selectivity. This is also the
    fallback the approximate tiers' docstrings point to when a
    predicate is too selective for probe-overfetch to hold recall.

    Low dims (≤ HIGH_DIM_LITERAL_MAX): the query is a literal array and the
    cosine runs as a Catalyst HOF expression — no Python in the plan, and
    the exact arithmetic the DuckDB oracle mirrors. High dims: the query
    ships once per executor via sparkContext.broadcast and each Arrow batch
    is one numpy matvec — same rounded scores, no giant literal tree."""
    if where is not None:
        embeddings = embeddings.filter(where)
    if len(query_vec) > HIGH_DIM_LITERAL_MAX:
        q = np.asarray(query_vec, dtype=np.float64)
        qn = np.linalg.norm(q)
        bc = embeddings.sparkSession.sparkContext.broadcast(
            q / (qn if qn > 0 else 1.0))

        @F.pandas_udf("double")
        def _cos(vs: pd.Series) -> pd.Series:
            import numpy as np_
            import pandas as pd_
            if len(vs) == 0:
                return pd_.Series([], dtype="float64")
            x = np_.asarray([np_.asarray(v, dtype=np_.float64) for v in vs])
            n = np_.linalg.norm(x, axis=1)
            n[n == 0] = 1.0
            return pd_.Series((x @ bc.value) / n)

        score = F.round(_cos(F.col(vec_col)), ROUND_DP)
    else:
        qlit = "array(" + ", ".join(
            f"CAST({float(x)} AS DOUBLE)" for x in query_vec) + ")"
        score = F.round(F.expr(cosine_expr(vec_col, qlit)), ROUND_DP)
    scored = embeddings.select(F.col(id_col), score.alias("score"))
    if min_score > 0.0:  # reference uses 0.0 → keep-all (RAG.java:54)
        scored = scored.filter(F.col("score") >= min_score)
    topk = scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)
    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score"), F.col(id_col))),
    )


def _partition_topk(scored: DataFrame, query_id: str, id_col: str,
                    k: int) -> DataFrame:
    """Per-partition partial top-k — the map-side combine the ranking window
    lacks. Each scan partition's contribution shrinks to ≤ k rows per query
    BEFORE the window's shuffle, so shuffle volume is |Q| × k × partitions
    instead of |Q| × |E|. Runs as one narrow mapInPandas pass (no shuffle of
    its own); memory per task is bounded at |Q| × k + one Arrow batch. The
    ordering (score desc, id asc) matches the global window's exactly, so
    the global top-k is a subset of the union of partition top-ks — the
    result is bit-identical to ranking the full score set."""
    schema = scored.schema

    def topk_iter(batches):
        import pandas as pd_
        best = None
        for b in batches:
            cur = b if best is None else pd_.concat([best, b],
                                                    ignore_index=True)
            cur = cur.sort_values([query_id, "score", id_col],
                                  ascending=[True, False, True],
                                  kind="mergesort")
            best = cur.groupby(query_id, sort=False).head(k)
        if best is not None and len(best):
            yield best

    return scored.mapInPandas(topk_iter, schema=schema)


def knn_join(queries: DataFrame, embeddings: DataFrame, k: int = 10,
             query_id: str = "query_id", query_vec: str = "query_vec",
             vec_col: str = "embedding", id_col: str = "vec_id",
             min_score: float = 0.0, partial_topk: bool | None = None,
             cfg: EngineConfig = DEFAULT_CONFIG, where=None) -> DataFrame:
    """Exact k-NN for every row of `queries` (assumed small → broadcast).

    ``where`` pre-filters the embeddings side before scoring (exact
    filtered k-NN — see ``cosine_topk``); the pushed-down predicate
    SHRINKS the scan, so a selective filter makes this path faster,
    not slower.

    The cross join is broadcast-nested-loop with the QUERY side broadcast:
    the embeddings table is scanned once, never shuffled. On large corpora a
    per-partition partial top-k (``_partition_topk``) then cuts each
    partition to ≤ k rows per query, so the per-query ranking window
    shuffles |Q| × k × partitions rows — NOT |Q| × |E| — making the exact
    path itself scale-safe. The combine is SIZE-GATED (parquet-footer row
    estimate vs ``cfg.partial_topk_min_rows``): on a corpus small enough
    that the window's input is already tiny, shipping every scored row
    through an Arrow pass costs more than the shuffle it saves; unknown
    sizes assume large. ``partial_topk=True/False`` overrides the estimate.
    Either way the result is bit-identical. For query sets too large to
    broadcast use ann_knn_join instead.
    """
    if where is not None:
        embeddings = embeddings.filter(where)
    scored = _widen_if_narrow(embeddings).crossJoin(broadcast(queries)).select(
        F.col(query_id),
        F.col(id_col),
        F.round(F.expr(cosine_expr(vec_col, query_vec)), ROUND_DP).alias("score"),
    )
    if min_score > 0.0:
        scored = scored.filter(F.col("score") >= min_score)
    if partial_topk is None:
        est = estimated_scan_rows(embeddings)
        partial_topk = est is None or est >= cfg.partial_topk_min_rows
    if partial_topk:
        scored = _partition_topk(scored, query_id, id_col, k)
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def hyperplanes(dims: int, num_planes: int, seed: int) -> list[list[float]]:
    """Deterministic random hyperplanes for cosine LSH signatures."""
    rng = np.random.default_rng(seed)
    h = rng.standard_normal((num_planes, dims))
    return [[float(x) for x in row] for row in h]


def _plane_matrix(dims: int, cfg: EngineConfig) -> "np.ndarray":
    """All tables' hyperplanes stacked as one (tables·planes, dims) float64
    matrix — the broadcast payload for signature computation."""
    return np.vstack([
        np.asarray(hyperplanes(dims, cfg.ann_num_planes, cfg.seed + t),
                   dtype=np.float64)
        for t in range(cfg.ann_num_tables)])


def attach_lsh_buckets(df: DataFrame, vec_col: str, dims: int,
                       cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Attach bucket_0..bucket_{T-1} sign-bit signature columns via ONE
    Arrow-batched matmul against a Spark-broadcast numpy plane matrix.

    At the reference's dimensionality (1536 dims × 8 planes × 4 tables,
    EmbeddingConfig.java:5) an inline-SQL-literal formulation would put ~50k
    numeric literals into one expression tree (codegen blowup) and evaluate
    interpreted HOF dot products per plane; here the geometry ships once per
    executor via sparkContext.broadcast and every Arrow batch is a single
    (batch × dims) @ (dims × T·P) product."""
    T, P = cfg.ann_num_tables, cfg.ann_num_planes
    bc = df.sparkSession.sparkContext.broadcast(_plane_matrix(dims, cfg))

    @F.pandas_udf("array<int>")
    def _sigs(vs: pd.Series) -> pd.Series:
        import numpy as _np
        import pandas as _pd
        if len(vs) == 0:
            return _pd.Series([], dtype=object)
        m = bc.value
        x = _np.asarray([_np.asarray(v, dtype=_np.float64) for v in vs])
        bits = (x @ m.T >= 0).astype(_np.int64).reshape(len(vs), T, P)
        sigs = (bits << _np.arange(P)).sum(axis=2)
        return _pd.Series([row.tolist() for row in sigs])

    out = df.withColumn("_lsh_sigs", _sigs(F.col(vec_col)))
    for t in range(T):
        out = out.withColumn(f"bucket_{t}",
                             F.col("_lsh_sigs").getItem(t).cast("int"))
    return out.drop("_lsh_sigs")


def with_ann_buckets(embeddings: DataFrame, vec_col: str = "embedding",
                     cfg: EngineConfig = DEFAULT_CONFIG,
                     dims: int | None = None) -> DataFrame:
    """Attach one LSH bucket column PER HASH TABLE (bucket_0..bucket_{T-1}).

    Multi-table LSH is the recall lever: a true neighbor is missed only if
    it disagrees with the query in EVERY table. At scale, persist this once
    (or store the exploded (table, bucket, id) index partitioned by bucket)
    so queries prune at the scan instead of re-hashing per query."""
    if dims is None:
        dims = len(embeddings.select(vec_col).first()[0])
    return attach_lsh_buckets(embeddings, vec_col, dims, cfg)


def _query_sigs(query_vec: list[float], cfg: EngineConfig) -> list[int]:
    """Driver-side signatures for one query vector — same plane matrix and
    sign convention as attach_lsh_buckets, so buckets line up exactly."""
    T, P = cfg.ann_num_tables, cfg.ann_num_planes
    m = _plane_matrix(len(query_vec), cfg)
    bits = (m @ np.asarray(query_vec, dtype=np.float64) >= 0) \
        .astype(np.int64).reshape(T, P)
    return [int(x) for x in (bits << np.arange(P)).sum(axis=1)]


def ivf_centroids(embeddings: DataFrame, n_centroids: int = 16,
                  max_sample: int = 4096, iters: int = 8,
                  vec_col: str = "embedding",
                  cfg: EngineConfig = DEFAULT_CONFIG,
                  n_rows: int | None = None) -> list[list[float]]:
    """Train IVF coarse centroids: k-means on a bounded driver-side sample.

    The SAMPLE is bounded (max_sample rows) regardless of table size — the
    only driver-side step in the IVF path, analogous to any ANN index's
    training phase. Deterministic: seeded Bernoulli sample + seeded init.
    (A limit() would take the first file's rows — a biased sample at scale;
    sample() draws uniformly across every partition, and the cap to
    max_sample is applied driver-side after a seeded shuffle, so no
    partition-order bias sneaks back in.) Pass ``n_rows`` if the caller
    already counted the table; otherwise the parquet-footer estimate
    (operators/util.estimated_scan_rows — no Spark job) sizes the sample
    fraction, and only non-scan inputs pay a count(). A footer estimate
    over a FILTERED scan overestimates n, which only shrinks the sample —
    the empty-sample fallback below still guards the degenerate case."""
    if n_rows is None:
        from flink_rag_spark.operators.util import estimated_scan_rows
        n_rows = estimated_scan_rows(embeddings)
    n = embeddings.count() if n_rows is None else n_rows
    frac = min(1.0, (max_sample * 1.2) / max(n, 1))  # 20% headroom, capped below
    rows = (embeddings.select(vec_col)
            .sample(fraction=frac, seed=cfg.seed).collect())
    if not rows:  # degenerate tiny/empty input — fall back to whatever exists
        rows = embeddings.select(vec_col).limit(max_sample).collect()
    import numpy as _np
    rng = _np.random.default_rng(cfg.seed)
    if len(rows) > max_sample:
        rows = [rows[i] for i in rng.permutation(len(rows))[:max_sample]]
    x = _np.asarray([r[0] for r in rows], dtype=_np.float64)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cent)):
            m = x[assign == c]
            if len(m):
                cent[c] = m.mean(axis=0)
    return [[float(v) for v in c] for c in cent]


def with_ivf_cells(embeddings: DataFrame, centroids: list[list[float]],
                   vec_col: str = "embedding") -> DataFrame:
    """Assign every vector to its nearest centroid (cell id).

    One Arrow-batched numpy matmul per batch — a linear pass, no shuffle —
    with the centroid matrix shipped via sparkContext.broadcast (not closure
    capture): at 1536 dims × 1024 cells that is a 12 MB payload sent once
    per executor instead of once per task. At scale, persist the result
    partitioned by `cell` so ANN queries prune partitions at the scan."""
    import numpy as _np
    cent = _np.asarray(centroids, dtype=_np.float64)
    bc = embeddings.sparkSession.sparkContext.broadcast(cent)

    @F.pandas_udf("int")
    def _cell(vs: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd_
        if len(vs) == 0:
            return pd_.Series([], dtype="int32")
        c = bc.value
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        # argmin over ||x-c||² ≡ argmin over (||c||² - 2 x·c): one matmul
        d = (c * c).sum(axis=1)[None, :] - 2.0 * (x @ c.T)
        return pd_.Series(d.argmin(axis=1).astype("int32"))

    return embeddings.withColumn("cell", _cell(F.col(vec_col)))


#: extra cells probed per configured probe when a metadata filter is on
#: — the pre-/post-filter recall mitigation (see ann_ivf_topk)
FILTER_OVERFETCH = 4


def ann_ivf_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                 n_probe: int = 4, centroids: list[list[float]] | None = None,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 cfg: EngineConfig = DEFAULT_CONFIG, where=None,
                 filter_overfetch: int = FILTER_OVERFETCH) -> DataFrame:
    """IVF approximate top-k: probe the n_probe nearest cells, exact re-rank
    inside. Candidates shrink ~n_centroids/n_probe-fold; recall rises with
    n_probe. Bench path — the oracle checks the exact operators.

    ``where`` is a metadata filter served FILTER-THEN-SCORE: the
    predicate applies to the probed cells' scan (pushed down with the
    cell filter) BEFORE the exact re-rank, so every returned row
    satisfies it and the top-k never mixes post-filter drop-outs — the
    classic post-filter under-fill is structurally impossible. What a
    filter CAN still lose is recall: the filtered true neighbors may
    live in un-probed cells, so the probe budget widens to
    ``n_probe × filter_overfetch`` (capped at all cells) whenever a
    filter is on. Rule of thumb at selectivity s: probed filtered
    candidates ≈ s·N·(n_probe·overfetch/n_cells); when that falls
    near k (s ≲ k·n_cells / (N·n_probe·overfetch)) prefer the exact
    ``cosine_topk(..., where=...)`` — at that selectivity its filtered
    scan is about the size of one probed cell anyway."""
    import numpy as _np
    if centroids is None:
        centroids = ivf_centroids(embeddings, vec_col=vec_col, cfg=cfg)
    cent = _np.asarray(centroids, dtype=_np.float64)
    q = _np.asarray(query_vec, dtype=_np.float64)
    eff = n_probe if where is None else n_probe * max(filter_overfetch, 1)
    eff = min(eff, len(centroids))
    probe = ((cent - q) ** 2).sum(axis=1).argsort()[:eff].tolist()
    cells = with_ivf_cells(embeddings, centroids, vec_col)
    cand = cells.filter(F.col("cell").isin([int(c) for c in probe]))
    if where is not None:
        cand = cand.filter(where)
    return cosine_topk(cand, query_vec, k, vec_col=vec_col, id_col=id_col)


def _nearest_cells(Q: "np.ndarray", cent: "np.ndarray",
                   n_probe: int) -> "np.ndarray":
    """(|Q|, n_probe) nearest-centroid ids per query, deterministic
    (ties broken by cell id via stable sort)."""
    d = (cent * cent).sum(axis=1)[None, :] - 2.0 * (Q @ cent.T)
    return np.argsort(d, axis=1, kind="stable")[:, :n_probe]


def _fused_probe_topk(cand: DataFrame, qids: list, Qn: "np.ndarray",
                      cell2q: dict, k: int, query_id: str, id_col: str,
                      vec_col: str, qid_type, id_type) -> DataFrame:
    """Score + per-partition top-k for a driver-known query set in ONE
    narrow Arrow pass over the probed cells: each batch is a single numpy
    matmul per (cell × its probing queries), candidates never materialize
    as rows, and each task emits ≤ k rows per query. The tiny result then
    takes the usual ranking window."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType([StructField(query_id, qid_type),
                             StructField(id_col, id_type),
                             StructField("score", DoubleType())])
    bc = cand.sparkSession.sparkContext.broadcast((qids, Qn, cell2q))

    def score_iter(batches):
        import numpy as np_
        import pandas as pd_
        qids_, Qn_, c2q = bc.value
        acc_s: dict[int, list] = {}
        acc_i: dict[int, list] = {}
        for b in batches:
            if not len(b):
                continue
            cells_arr = b["cell"].to_numpy()
            ids = b[id_col].to_numpy()
            x = np_.asarray([np_.asarray(v, dtype=np_.float64)
                             for v in b[vec_col]])
            n = np_.linalg.norm(x, axis=1)
            n[n == 0] = 1.0
            xn = x / n[:, None]
            for c in np_.unique(cells_arr):
                qidx = c2q.get(int(c))
                if qidx is None:
                    continue
                mask = cells_arr == c
                s = np_.round(xn[mask] @ Qn_[qidx].T, ROUND_DP)
                ids_c = ids[mask]
                # per-query top-k by (score desc, id asc): stable sort by
                # id first, then stable sort by -score — works for any
                # orderable id dtype (ints, strings)
                by_id = np_.argsort(ids_c, kind="stable")
                for j, qi in enumerate(qidx):
                    sj = s[by_id, j]
                    sel = by_id[np_.argsort(-sj, kind="stable")[:k]]
                    acc_s.setdefault(int(qi), []).append(s[sel, j])
                    acc_i.setdefault(int(qi), []).append(ids_c[sel])
        if not acc_s:
            return
        out_q, out_i, out_s = [], [], []
        for qi, chunks in acc_s.items():
            s_all = np_.concatenate(chunks)
            i_all = np_.concatenate(acc_i[qi])
            by_id = np_.argsort(i_all, kind="stable")
            sel = by_id[np_.argsort(-s_all[by_id], kind="stable")[:k]]
            out_q.extend([qids_[qi]] * len(sel))
            out_i.extend(i_all[sel].tolist())
            out_s.extend(s_all[sel].tolist())
        yield pd_.DataFrame({query_id: out_q, id_col: out_i, "score": out_s})

    return cand.mapInPandas(score_iter, schema=out_schema)


def collect_query_batch(queries: DataFrame, query_id: str, query_vec: str,
                        cfg: EngineConfig, dim: int
                        ) -> tuple[list, "np.ndarray"] | None:
    """The bounded driver-side collect of a query batch: ``(qids, Q)``
    with Q (|Q|, ``dim``) float64, or None above cfg.max_driver_queries."""
    head = queries.select(query_id, query_vec) \
                  .limit(cfg.max_driver_queries + 1).collect()
    if len(head) > cfg.max_driver_queries:
        return None
    Q = np.asarray([np.asarray(r[1], dtype=np.float64) for r in head]) \
        if head else np.zeros((0, dim))
    return [r[0] for r in head], Q


def ivf_knn_join(queries: DataFrame, embeddings: DataFrame, k: int = 10,
                 query_id: str = "query_id", query_vec: str = "query_vec",
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 cfg: EngineConfig = DEFAULT_CONFIG,
                 centroids: list[list[float]] | None = None,
                 cells: DataFrame | None = None,
                 n_probe: int | None = None,
                 driver_queries: tuple[list, "np.ndarray"] | None = None,
                 tail: DataFrame | None = None, where=None,
                 filter_overfetch: int = FILTER_OVERFETCH) -> DataFrame:
    """Approximate k-NN for a query batch via IVF: probe the n_probe nearest
    cells per query, exact re-rank inside.

    The probe budget is the RECALL knob: ``n_probe`` defaults to
    ``max(cfg.ivf_n_probe, cfg.ivf_probe_frac × n_cells)`` — a fraction of
    the cell count rather than a hardcoded constant, so inline and
    prebuilt-index calls see the same recall and callers tune
    recall↔throughput with one config value (measured ≥7/10 recall at the
    default 0.25 on the weak-similarity test corpus; raise toward 1.0 to
    approach exact recall). The exact operators remain the correctness
    path.

    Two executions by query-batch size (cfg.max_driver_queries — a bounded
    collect, the same contract as a broadcast build side):

    - SMALL batches (the RAG shape: queries are broadcast-sized by this
      operator's contract): query vectors are collected once, probes are a
      single driver-side numpy matmul, and scoring + per-partition top-k
      run FUSED in one Arrow pass over only the probed cells
      (``_fused_probe_topk``) — no per-candidate-row join, no interpreted
      HOF cosine, no separate combine pass. On a persisted index the
      ``cell IN (probes)`` filter prunes partition directories at the scan.
    - LARGE batches: probes are computed distributed (broadcast centroid
      matrix + pandas UDF), the (query, cell) pairs equi-join the
      cell-assigned corpus, and the per-candidate scoring feeds the
      map-side partial top-k — shuffle volume is candidates, never
      |Q|×|E|.

    Pass persisted `cells` (+ matching `centroids`) to skip re-assignment —
    the at-scale shape where the cell index is a partitioned table.
    ``tail``: vectors NOT in ``cells`` (ingested since the last index
    build) — scored EXACTLY for every query (it is one rebuild cadence of
    ingest, small by contract), so freshness never waits on a rebuild and
    fresh vectors never pay the ANN recall loss
    (operators/index.py:11-14).

    ``driver_queries=(qids, Q)``: callers that already hold the query
    vectors on the driver (e.g. the RAG plan, which embeds a driver-side
    question list with the same provider the UDF path uses) can pass them
    directly — a collect whose only purpose is to round-trip ~1000 array
    rows through the JVM costs ~1 s of pure serialization. ``queries``
    may then be None; qid dtype is inferred from the ids (int→long,
    else string).

    ``where``: metadata filter served FILTER-THEN-SCORE (the
    ``ann_ivf_topk`` discipline — predicate applied to the probed-cell
    scan and to the tail before scoring, never post-filtered from a
    top-k), with the probe budget widened ×``filter_overfetch``. The
    predicate's columns must exist on the ``cells`` frame — an inline
    ``with_ivf_cells`` keeps every embeddings column; a persisted index
    that stored only (id, vec, cell) needs the metadata joined in (or
    use the exact path). See ``ann_ivf_topk`` for the selectivity
    threshold below which exact filtered search wins."""
    import math as _math

    if centroids is None:
        # adaptive geometry: ~sqrt(N) cells (balances cell size vs probe
        # count); tighten ivf_probe_frac for throughput once the embedding
        # space is cosine-concentrated
        n = embeddings.count()
        n_cent = min(1024, max(cfg.ivf_n_centroids, int(_math.sqrt(n))))
        centroids = ivf_centroids(embeddings, n_centroids=n_cent,
                                  vec_col=vec_col, cfg=cfg)
    cent = np.asarray(centroids, dtype=np.float64)
    if n_probe is None:
        n_probe = max(cfg.ivf_n_probe,
                      int(round(len(centroids) * cfg.ivf_probe_frac)))
    if where is not None:
        n_probe = n_probe * max(filter_overfetch, 1)
    n_probe = min(n_probe, len(cent))
    if cells is None:
        cells = with_ivf_cells(embeddings, centroids, vec_col)
    cells = _widen_if_narrow(cells)
    if where is not None:
        # filter-then-score: the predicate rides the probed-cell scan
        # (and the tail) so no post-filter under-fill is possible
        cells = cells.filter(where)
        if tail is not None:
            tail = tail.filter(where)
    if tail is not None:
        # the UN-INDEXED TAIL (operators/index.py: vectors ingested since
        # the last index build) enters under sentinel cell -1, which EVERY
        # query probes: the tail is small by contract (one rebuild cadence
        # of ingest), so it is scored exactly — fresh vectors never pay
        # the ANN recall loss, and freshness is deterministic rather than
        # probe-dependent. Ids present in BOTH index and tail must carry
        # identical vectors (the ingest store is content-addressed,
        # streaming/ingest.py) — the duplicate-id guard before the final
        # ranking keeps one copy.
        tail_cells = (tail.select(id_col, vec_col)
                      .withColumn("cell", F.lit(-1)))
        cells = (cells.select(id_col, vec_col, "cell")
                 .unionByName(tail_cells))

    # bounded probe of the query side: all rows iff |Q| ≤ max_driver_queries
    if driver_queries is not None:
        qids = list(driver_queries[0])
        Q = np.asarray(driver_queries[1], dtype=np.float64)
        qid_type = (LongType() if not qids
                    or isinstance(qids[0], (int, np.integer))
                    else StringType())
        small = True
    else:
        batch = collect_query_batch(queries, query_id, query_vec, cfg,
                                    cent.shape[1])
        small = batch is not None
        if small:
            qids, Q = batch
            qid_type = queries.schema[query_id].dataType
    if small:
        qn = np.linalg.norm(Q, axis=1) if len(Q) else np.zeros(0)
        qn[qn == 0] = 1.0
        Qn = Q / qn[:, None] if len(Q) else Q
        probes = _nearest_cells(Q, cent, n_probe) if len(Q) else []
        cell2q: dict[int, "np.ndarray"] = {}
        for qi, row in enumerate(probes):
            for c in row:
                cell2q.setdefault(int(c), []).append(qi)
        if tail is not None and qids:
            cell2q[-1] = list(range(len(qids)))   # every query scans the tail
        cell2q = {c: np.asarray(v) for c, v in cell2q.items()}
        cand = (cells.filter(F.col("cell").isin(sorted(cell2q)))
                .select(F.col(id_col), F.col(vec_col), F.col("cell")))
        id_type = cells.schema[id_col].dataType
        scored = _fused_probe_topk(cand, qids, Qn, cell2q, k, query_id,
                                   id_col, vec_col, qid_type, id_type)
    else:
        bc_cent = queries.sparkSession.sparkContext.broadcast(cent)

        @F.pandas_udf("array<int>")
        def _probe_cells(vs: pd.Series) -> pd.Series:
            import numpy as np_
            import pandas as pd_
            if len(vs) == 0:
                return pd_.Series([], dtype=object)
            c = bc_cent.value
            x = np_.asarray([np_.asarray(v, dtype=np_.float64) for v in vs])
            # argmin over ||x-c||² ≡ argmin over (||c||² - 2 x·c): one matmul
            d = (c * c).sum(axis=1)[None, :] - 2.0 * (x @ c.T)
            if n_probe >= d.shape[1]:
                idx = np_.argsort(d, axis=1)
            else:
                idx = np_.argpartition(d, n_probe - 1, axis=1)[:, :n_probe]
            return pd_.Series(
                [row[:n_probe].tolist() for row in idx.astype("int32")])

        probes = (queries.select(query_id, query_vec)
                  .withColumn("cell", F.explode(_probe_cells(F.col(query_vec)))))
        if tail is not None:
            probes = probes.unionByName(
                queries.select(query_id, query_vec)
                .withColumn("cell", F.lit(-1)))
        cand = probes.join(cells, on="cell").select(
            query_id, query_vec, id_col, vec_col)
        scored = cand.select(
            F.col(query_id), F.col(id_col),
            F.round(F.expr(cosine_expr(vec_col, query_vec)),
                    ROUND_DP).alias("score"))
        scored = _partition_topk(scored, query_id, id_col, k)
    if tail is not None:
        # index+tail may both carry an id (identical vectors by contract):
        # dedupe on the tiny pre-ranking frame (≤ k × partitions per
        # query). The persisted index itself is duplicate-free —
        # index.flush_pending anti-joins appends against the stored ids —
        # so the probe pays no dedupe shuffle in the no-tail fast path.
        scored = scored.dropDuplicates([query_id, id_col])
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ann_knn_join(queries: DataFrame, embeddings: DataFrame, k: int = 10,
                 query_id: str = "query_id", query_vec: str = "query_vec",
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 cfg: EngineConfig = DEFAULT_CONFIG,
                 bucketed: DataFrame | None = None) -> DataFrame:
    """Approximate k-NN for a LARGE query batch: multi-table LSH bucket
    EQUI-join replaces the exact path's cross join.

    Shape: both sides explode to (table, bucket) rows; the join is keyed by
    (table, bucket) — shuffle volume is candidates, not |Q|×|E|. Distinct
    (query, candidate) pairs are re-ranked with exact cosine. vs knn_join's
    |Q|×|E| cosine evaluations this does |Q|×E[bucket size]×tables — the
    retrieval plan that survives 1000 queries × 10^9 vectors."""
    q_dims = len(embeddings.select(vec_col).first()[0])
    if bucketed is None:
        bucketed = with_ann_buckets(embeddings, vec_col, cfg, q_dims)

    def explode_buckets(df, idc, vc):
        return (df.select(
            F.col(idc), F.col(vc),
            F.explode(F.array(*[
                F.struct(F.lit(t).alias("tbl"), F.col(f"bucket_{t}").alias("bkt"))
                for t in range(cfg.ann_num_tables)])).alias("tb"))
            .select(idc, vc, F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt")))

    q_bucketed = attach_lsh_buckets(queries, query_vec, q_dims, cfg)
    qx = explode_buckets(q_bucketed, query_id, query_vec)
    ex = explode_buckets(bucketed, id_col, vec_col)
    cand = (qx.join(ex, on=["tbl", "bkt"])
            .select(query_id, query_vec, id_col, vec_col)
            .dropDuplicates([query_id, id_col]))
    scored = cand.select(
        F.col(query_id), F.col(id_col),
        F.round(F.expr(cosine_expr(vec_col, query_vec)), ROUND_DP).alias("score"))
    # same map-side combine as knn_join: the ranking window's shuffle sees
    # ≤ k rows per query per partition, not every scored candidate
    scored = _partition_topk(scored, query_id, id_col, k)
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ann_lsh_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 cfg: EngineConfig = DEFAULT_CONFIG,
                 multiprobe: int = 1,
                 bucketed: DataFrame | None = None,
                 where=None) -> DataFrame:
    """Approximate top-k: candidates = union over hash tables of the query's
    bucket (multiprobe adds the 1-bit-flip neighbor buckets per table),
    exact cosine re-rank inside. Pass a persisted `bucketed` table to skip
    re-hashing (the at-scale shape). Bench path — the oracle checks the
    exact operators.

    ``where``: metadata filter on the candidate scan (filter-then-
    score, the ann_ivf_topk discipline); LSH's recall mitigation under
    a filter is raising ``multiprobe`` — more flipped buckets play the
    role IVF's probe overfetch plays."""
    if bucketed is None:
        bucketed = with_ann_buckets(embeddings, vec_col, cfg, len(query_vec))
    conds = None
    for t, qsig in enumerate(_query_sigs(query_vec, cfg)):
        probe = {qsig}
        if multiprobe >= 1:
            probe |= {qsig ^ (1 << i) for i in range(cfg.ann_num_planes)}
        c = F.col(f"bucket_{t}").isin([int(x) for x in probe])
        conds = c if conds is None else (conds | c)
    cand = bucketed.filter(conds)
    if where is not None:
        cand = cand.filter(where)
    return cosine_topk(cand, query_vec, k, vec_col=vec_col, id_col=id_col)
