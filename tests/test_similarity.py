"""Similarity-operator tests: exact/approximate agreement, ANN recall,
determinism of the provider embedder."""

import pyspark.sql.functions as F

from flink_rag_spark.functions.providers import LocalDeterministicProvider
from flink_rag_spark.operators.similarity import (
    _partition_topk,
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_topk,
    ivf_centroids,
    knn_join,
)
from flink_rag_spark.sources.tables import load_table


def _query_vec(spark, sf_dir, vid=0):
    emb = load_table(spark, sf_dir, "embeddings")
    return list(emb.filter(F.col("vec_id") == vid).first()["embedding"])


def test_knn_join_matches_single_topk(spark, sf_oracle):
    emb = load_table(spark, sf_oracle, "embeddings")
    qv = _query_vec(spark, sf_oracle)
    single = {r["vec_id"] for r in cosine_topk(emb, qv, 10).collect()}
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    joined = {r["vec_id"] for r in knn_join(q, emb, k=10).collect()}
    assert single == joined


def test_partition_topk_bounds_window_input(spark, sf_oracle):
    """The partial top-k must cut the ranking window's input to
    ≤ |Q| × k × partitions rows (the VERDICT's |Q|×|E| shuffle fix), while
    leaving the final top-k bit-identical to ranking the full score set."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    from flink_rag_spark.functions.vector import ROUND_DP, cosine_expr

    emb = load_table(spark, sf_oracle, "embeddings").repartition(8)
    n_emb = emb.count()
    queries = (load_table(spark, sf_oracle, "embeddings")
               .filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    k = 10
    scored = emb.crossJoin(broadcast(queries)).select(
        F.col("query_id"), F.col("vec_id"),
        F.round(F.expr(cosine_expr("embedding", "query_vec")),
                ROUND_DP).alias("score"))
    reduced = _partition_topk(scored, "query_id", "vec_id", k)
    n_reduced = reduced.count()
    assert n_reduced <= 5 * k * 8, n_reduced
    assert n_reduced < 5 * n_emb  # strictly smaller than the unreduced set

    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.col("vec_id"))
    full = (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
    via_partial = (reduced.withColumn("rank", F.row_number().over(w))
                   .filter(F.col("rank") <= k))
    a = sorted(map(tuple, full.collect()))
    b = sorted(map(tuple, via_partial.collect()))
    assert a == b


def test_ann_recall(spark, sf_oracle):
    emb = load_table(spark, sf_oracle, "embeddings")
    qv = _query_vec(spark, sf_oracle, vid=7)
    exact = [r["vec_id"] for r in cosine_topk(emb, qv, 10).collect()]
    lsh = {r["vec_id"] for r in ann_lsh_topk(emb, qv, 10, multiprobe=1).collect()}
    cents = ivf_centroids(emb)
    ivf = {r["vec_id"] for r in
           ann_ivf_topk(emb, qv, 10, n_probe=4, centroids=cents).collect()}
    # approximate paths must find a solid majority of the true neighbors
    assert len(lsh & set(exact)) >= 5, (exact, lsh)
    assert len(ivf & set(exact)) >= 5, (exact, ivf)


def test_ivf_centroids_deterministic(spark, sf_oracle):
    emb = load_table(spark, sf_oracle, "embeddings")
    assert ivf_centroids(emb, n_centroids=8) == ivf_centroids(emb, n_centroids=8)


def test_ivf_centroids_footer_estimate_skips_count(spark, sf_oracle,
                                                   monkeypatch):
    """With a parquet-backed input and no n_rows, training must size its
    sample from the footer estimate — never a count() job — and produce
    the same centroids as an explicit row count (the footer total IS the
    row count for an unfiltered scan)."""
    from pyspark.sql import DataFrame

    emb = load_table(spark, sf_oracle, "embeddings")
    want = ivf_centroids(emb, n_centroids=8, n_rows=emb.count())

    def _no_count(self):
        raise AssertionError("ivf_centroids ran a count() job on the "
                             "footer path")
    monkeypatch.setattr(DataFrame, "count", _no_count)
    got = ivf_centroids(emb, n_centroids=8)
    assert got == want


def test_persisted_ivf_index(spark, sf_oracle, tmp_path):
    """Build the IVF index once, query it through ivf_knn_join with
    partition pruning, and match the inline (index-free) results."""
    import io
    import contextlib

    import pyspark.sql.functions as F2

    from flink_rag_spark.operators.index import build_ivf_index, load_ivf_index
    from flink_rag_spark.operators.similarity import ivf_knn_join

    emb = load_table(spark, sf_oracle, "embeddings")
    path = str(tmp_path / "ivf")
    cents = build_ivf_index(spark, emb, path)
    cents2, cells = load_ivf_index(spark, path)
    assert cents == cents2

    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    via_index = ivf_knn_join(q, emb, k=5, centroids=cents2, cells=cells)
    inline = ivf_knn_join(q, emb, k=5, centroids=cents,
                          cells=None)
    a = {(r["query_id"], r["vec_id"]) for r in via_index.collect()}
    b = {(r["query_id"], r["vec_id"]) for r in inline.collect()}
    assert a == b and len(a) == 15

    # partition pruning: a cell filter must reach PartitionFilters
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cells.filter(F2.col("cell").isin([0, 1])).explain(True)
    assert "PartitionFilters" in buf.getvalue()

    # one file per cell (files_per_cell=1): no tasks×cells small-file blowup
    import glob
    n_cells = cells.select("cell").distinct().count()
    files = glob.glob(str(tmp_path / "ivf" / "cells" / "cell=*" / "*.parquet"))
    assert len(files) == n_cells


def test_ann_high_dim_1536(spark):
    """The reference's dimensionality (EmbeddingConfig.java:5): both ANN
    tiers must run at 1536 dims without expression-tree blowup (geometry is
    a broadcast numpy matrix, not SQL literals) and keep recall on a
    clustered synthetic corpus."""
    import numpy as np

    rng = np.random.default_rng(7)
    dims, n_clusters, per = 1536, 6, 40
    centers = rng.standard_normal((n_clusters, dims))
    rows = []
    for i in range(n_clusters * per):
        c = centers[i % n_clusters]
        v = c + 0.15 * rng.standard_normal(dims)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = [float(x) for x in centers[0] + 0.05 * rng.standard_normal(dims)]

    exact = [r["vec_id"] for r in cosine_topk(emb, qv, 10).collect()]
    lsh = {r["vec_id"] for r in ann_lsh_topk(emb, qv, 10, multiprobe=1).collect()}
    cents = ivf_centroids(emb, n_centroids=n_clusters)
    ivf = {r["vec_id"] for r in
           ann_ivf_topk(emb, qv, 10, n_probe=2, centroids=cents).collect()}
    assert len(lsh & set(exact)) >= 5, (exact, lsh)
    assert len(ivf & set(exact)) >= 8, (exact, ivf)


def test_ivf_knn_join_string_query_ids(spark, sf_oracle):
    """Probe construction must inherit the caller's query-id type — string
    question ids are the RAG path's natural key."""
    from flink_rag_spark.operators.similarity import ivf_knn_join
    emb = load_table(spark, sf_oracle, "embeddings")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.concat(F.lit("q"), F.col("vec_id").cast("string"))
                 .alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    out = ivf_knn_join(q, emb, k=5)
    rows = out.collect()
    assert len(rows) == 15
    assert {r["query_id"] for r in rows} == {"q0", "q1", "q2"}


def test_ivf_append_and_compact(spark, sf_oracle, tmp_path):
    """Incremental index maintenance (VERDICT r3 item 8): append assigns
    new vectors to their nearest EXISTING cell (no retrain), probes see
    them immediately, and compaction restores files_per_cell files while
    preserving centroids and rows."""
    from flink_rag_spark.operators.index import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        load_ivf_index,
    )
    from flink_rag_spark.operators.similarity import ivf_knn_join

    emb = load_table(spark, sf_oracle, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    fresh = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf")
    build_ivf_index(spark, base, path)
    append_to_ivf_index(spark, fresh.select("vec_id", "embedding"), path)

    cents, cells = load_ivf_index(spark, path)
    assert cells.count() == emb.count()
    # an appended vector queried by its own embedding must be its own top
    # hit — probes reach appended rows through the same partition pruning
    probe_id = fresh.agg(F.min("vec_id")).collect()[0][0]
    q = (emb.filter(F.col("vec_id") == probe_id)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    top = ivf_knn_join(q, emb, k=3, centroids=cents, cells=cells) \
        .orderBy("rank").first()
    assert top["vec_id"] == probe_id and top["score"] == 1.0

    files_after = compact_ivf_index(spark, path)
    cents2, cells2 = load_ivf_index(spark, path)
    assert cents2 == cents                      # compaction never retrains
    assert cells2.count() == emb.count()
    n_cells = cells2.select("cell").distinct().count()
    assert files_after <= n_cells               # one file per non-empty cell


def test_cosine_topk_high_dim_paths_agree(spark):
    """Above HIGH_DIM_LITERAL_MAX the single-query exact path swaps the
    literal-array HOF expression for a broadcast numpy dot. Both paths must
    produce identical rounded scores, and the high-dim plan must be free of
    the giant CAST-literal tree (the VERDICT item: 1536 literals at the
    reference's dimensionality)."""
    import numpy as np

    from flink_rag_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    dims, n = 600, 50
    rows = [(i, [float(x) for x in rng.standard_normal(dims)])
            for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = [float(x) for x in rng.standard_normal(dims)]

    high = cosine_topk(emb, qv, 10)
    plan = high._jdf.queryExecution().executedPlan().toString()
    assert plan.count("CAST") < dims // 2, "literal tree leaked into plan"
    # force the literal path for the same data by raising the threshold
    old = sim.HIGH_DIM_LITERAL_MAX
    sim.HIGH_DIM_LITERAL_MAX = 10_000
    try:
        low = cosine_topk(emb, qv, 10)
        assert ([(r["vec_id"], r["score"]) for r in high.collect()]
                == [(r["vec_id"], r["score"]) for r in low.collect()])
    finally:
        sim.HIGH_DIM_LITERAL_MAX = old


def test_ivf_knn_join_driver_queries_parity(spark, sf_oracle):
    """Passing (qids, Q) driver-side must give exactly the DataFrame-query
    result — same probes, same scores — it only skips the collect."""
    import numpy as np

    from flink_rag_spark.operators.similarity import ivf_knn_join

    emb = load_table(spark, sf_oracle, "embeddings")
    q = (emb.filter(F.col("vec_id") < 4)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    cents = ivf_centroids(emb, n_centroids=16)
    via_df = ivf_knn_join(q, emb, k=5, centroids=cents)
    qrows = q.collect()
    Q = np.asarray([r["query_vec"] for r in qrows], dtype=np.float64)
    via_driver = ivf_knn_join(None, emb, k=5, centroids=cents,
                              driver_queries=([r["query_id"] for r in qrows], Q))
    a = sorted(map(tuple, via_df.collect()))
    b = sorted(map(tuple, via_driver.collect()))
    assert a == b and len(a) == 20


def test_estimated_scan_rows(spark, sf_oracle):
    """Parquet-footer row estimate: exact for file scans, None (assume
    large) for in-memory frames — the partial-top-k gate's contract."""
    from flink_rag_spark.operators.util import estimated_scan_rows

    emb = load_table(spark, sf_oracle, "embeddings")
    assert estimated_scan_rows(emb) == emb.count()
    local = spark.createDataFrame([(1,)], "x long")
    assert estimated_scan_rows(local) is None


def test_embedder_similarity_sanity(spark):
    """The deterministic embedder puts token-overlapping texts closer than
    disjoint ones — the property the freshness scenario depends on."""
    p = LocalDeterministicProvider(dims=64, seed=42)
    import numpy as np

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    q = p.embed_one("what is the capital of france")
    hit = p.embed_one("the capital of france is paris")
    miss = p.embed_one("streaming dataflow engine benchmark results")
    assert cos(q, hit) > cos(q, miss) + 0.2


def test_int8_quantization_roundtrip_and_contract(spark, sf_oracle):
    """Quantization semantics: max|v| maps to ±127 exactly, per-element
    reconstruction error ≤ scale/2, zero vectors round-trip exactly, and
    on the real embeddings every vec-7 cosine stays within the 1e-2
    contract."""
    import pyspark.sql.functions as F

    from flink_rag_spark.operators.compression import (
        dequantize_expr,
        with_quantized,
    )
    from flink_rag_spark.plans.llm import quantized_similarity_vec7

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           with_quantized(df).withColumn(
               "deq", F.expr(dequantize_expr())).collect()}
    assert out[1]["qvec"] == [64, -127, 32]  # max|v|=1.0 → code -127
    scale = out[1]["qscale"]
    for orig, rec in zip([0.5, -1.0, 0.25], out[1]["deq"]):
        assert abs(orig - rec) <= scale / 2 + 1e-12
    assert out[2]["qvec"] == [0, 0, 0] and out[2]["deq"] == [0.0, 0.0, 0.0]

    rows = quantized_similarity_vec7(spark, sf_oracle).collect()
    assert rows and all(r["within_tol"] for r in rows)


# --------------------------------------------- fused scorer vs knn_join

def _fold_cosine_1x(b):
    """cosine_expr of [1, b] against [1, 0], folded as Spark folds it."""
    import math
    return 1.0 / (math.sqrt(0.0 + 1.0 * 1.0 + b * b) * math.sqrt(
        0.0 + 1.0 * 1.0 + 0.0 * 0.0))


def _vec_scoring(target):
    """A 2-d vector [1, b] whose Spark cosine with [1, 0] is exactly the
    double ``target`` (b walks ulp by ulp onto it)."""
    import math

    import numpy as np
    b = math.sqrt(1.0 / target ** 2 - 1.0)
    for _ in range(100_000):
        raw = _fold_cosine_1x(b)
        if raw == target:
            return [1.0, b]
        b = float(np.nextafter(b, np.inf if raw > target else -np.inf))
    raise AssertionError(f"no vector scores {target!r}")


def _knn_vs_fused(spark, corpus, queries, k, min_score=0.0, where=None):
    """(knn_join, fused_knn) top-k as per-query [(id, score, rank)]."""
    import numpy as np

    from flink_rag_spark.operators.similarity import fused_knn

    qdf = spark.createDataFrame(list(enumerate(queries)),
                                "query_id long, query_vec array<double>")
    plan = {}
    for r in knn_join(qdf, corpus, k=k, min_score=min_score, where=where,
                      partial_topk=False).collect():
        plan.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["score"], r["rank"]))
    fused = {}
    for qi, vid, score, rank in fused_knn(
            corpus, np.asarray(queries, dtype=np.float64), k=k,
            min_score=min_score, where=where):
        fused.setdefault(qi, []).append((vid, score, rank))
    return ({q: sorted(v, key=lambda t: t[2]) for q, v in plan.items()},
            {q: sorted(v, key=lambda t: t[2]) for q, v in fused.items()})


def _crafted_corpus(spark):
    """Raw cosines with [1, 0] on both sides of the 6-dp HALF_UP
    boundaries, equal rounded scores tied on id, labels for a filter,
    spread over three partitions."""
    import numpy as np
    raws = {0: 0.5123465, 1: 0.5123455,
            2: float(np.nextafter(0.5123455, 0.0)), 3: 0.5123459,
            4: 0.5123451, 6: 0.5123455}
    rows = [(i, _vec_scoring(raw), i % 4) for i, raw in raws.items()]
    rows += [(5, [1.0, 3.0], 1), (7, [1.0, 1.0], 3)]   # 0.316..., 0.707...
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).repartition(3)


def test_fused_knn_matches_knn_join_at_rounding_boundaries(spark):
    """Ranking follows the HALF_UP-rounded score, ties broken by vec_id:
    raw 0.5123455 rounds up beside 0.5123459, one ulp below it rounds
    down beside 0.5123451; the k-th raw score straddles the boundary."""
    corpus = _crafted_corpus(spark)
    q = [[1.0, 0.0], [0.5, 0.0]]
    for k in (1, 3, 4, 6):
        plan, fused = _knn_vs_fused(spark, corpus, q, k)
        assert fused == plan and len(fused[0]) == k
    plan, fused = _knn_vs_fused(spark, corpus, q, 4)
    assert [v for v, _, _ in fused[0]] == [7, 0, 1, 3]
    # k above the corpus size ranks every row
    plan, fused = _knn_vs_fused(spark, corpus, q, 50)
    assert fused == plan and len(fused[1]) == 8


def test_fused_knn_min_score_and_where_match_knn_join(spark):
    """``min_score`` keeps rows whose ROUNDED score reaches it (raw
    0.5123455 passes 0.512346, one ulp below does not); ``where``
    filters the corpus before scoring."""
    corpus = _crafted_corpus(spark)
    q = [[1.0, 0.0]]
    plan, fused = _knn_vs_fused(spark, corpus, q, 10, min_score=0.512346)
    assert fused == plan
    assert [v for v, _, _ in fused[0]] == [7, 0, 1, 3, 6]
    plan, fused = _knn_vs_fused(spark, corpus, q, 10, where="label < 3")
    assert fused == plan and {v for v, _, _ in fused[0]} == {0, 1, 2, 4, 5, 6}
    plan, fused = _knn_vs_fused(spark, corpus, q, 2, min_score=0.6,
                                where="label < 3")
    assert fused == plan == {}


def test_fused_knn_matches_knn_join_on_corpus(spark, sf_oracle):
    """Embedded questions against the graded corpus: same ids, same
    rounded scores, same ranks."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_oracle, "embeddings").select("vec_id",
                                                             "embedding")
    texts = [f"question {i} about topic {i % 7} and data" for i in range(20)]
    vecs = LocalDeterministicProvider().embed_batch(pd.Series(texts))
    q = np.asarray(list(vecs), dtype=np.float32).astype(np.float64)
    plan, fused = _knn_vs_fused(spark, emb, q.tolist(), 10)
    assert fused == plan and len(fused) == 20


def _by_query(rows, qcol="query_id", idcol="vec_id"):
    """Result rows as {query: [(id, score, rank)]} in rank order."""
    out = {}
    for r in rows:
        out.setdefault(r[qcol], []).append((r[idcol], r["score"], r["rank"]))
    return {q: sorted(v, key=lambda t: t[2]) for q, v in out.items()}


def _padded(rows, dims):
    """``rows`` with every vector zero-padded by ``dims - 2`` entries:
    each added 0.0 * 0.0 term leaves the folded sums unchanged."""
    return [(i, None if v is None else v + [0.0] * (dims - 2))
            for i, v in rows]


def _ivf_all_cells(corpus, queries, k, cells=None, centroids=None,
                   where=None):
    """ivf_knn_join through ``driver_queries`` with every cell probed."""
    import numpy as np

    from flink_rag_spark.operators.similarity import ivf_knn_join
    centroids = centroids or [[1.0, 0.5], [1.0, 2.0]]
    return _by_query(ivf_knn_join(
        None, corpus, k=k, centroids=centroids, cells=cells,
        n_probe=len(centroids), where=where,
        driver_queries=(list(range(len(queries))),
                        np.asarray(queries, dtype=np.float64))).collect())


def _high_dim(spark, rows, query, k, where=None):
    """cosine_topk on ``rows`` and ``query`` padded to 600 dims, beside
    knn_join on the same padded vectors."""
    corpus = spark.createDataFrame(_padded(rows, 600),
                                   "vec_id long, embedding array<double>")
    qv = query + [0.0] * 598
    top = cosine_topk(corpus, qv, k, where=where).collect()
    plan, _ = _knn_vs_fused(spark, corpus, [qv], k, where=where)
    return plan, {0: [(r["vec_id"], r["score"], r["rank"]) for r in top]}


_BOUNDARY_RAWS = {0: 0.5123445, 1: 0.5123449, 2: 0.2500005, 3: 0.2500008,
                  4: 0.2500004}


def _boundary_rows():
    """Raw cosines with [1, 0]: ids 0 and 2 exactly on the 6-dp half
    boundaries 0.5123445 and 0.2500005, where HALF_UP on the decimal
    repr rounds up and half-to-even on the binary value rounds down;
    rounded up, each ties the next id. Id 4 sits just below a boundary,
    id 5 is [1, 1] on top."""
    return ([(i, _vec_scoring(raw)) for i, raw in _BOUNDARY_RAWS.items()]
            + [(5, [1.0, 1.0])])


def test_approximate_tiers_match_knn_join_at_half_boundaries(spark):
    """The IVF probe (every cell probed), NSW's beam scorer and
    high-dim cosine_topk score through fused_knn's kernel: the same ids,
    HALF_UP-rounded scores and ranks as knn_join at the half boundaries
    where np.round rounds to even."""
    import pyspark.sql.functions as F

    from flink_rag_spark.operators.nsw import _score_ids_batch

    rows = _boundary_rows()
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(2)
    q = [[1.0, 0.0], [2.0, 0.0]]
    n = len(rows)
    plan, fused = _knn_vs_fused(spark, corpus, q, n)
    assert fused == plan
    assert [(v, s) for v, s, _ in plan[0]] == [
        (5, 0.707107), (0, 0.512345), (1, 0.512345), (2, 0.250001),
        (3, 0.250001), (4, 0.25)]
    for k in (2, 4, n):
        assert _ivf_all_cells(corpus, q, k) == {
            qi: hits[:k] for qi, hits in plan.items()}

    vectors = corpus.select(F.col("vec_id").alias("id"),
                            F.col("embedding").alias("vec"),
                            F.pmod("vec_id", F.lit(4)).alias("id_bucket"))
    beam = _score_ids_batch(vectors, list(range(n)), q, 4)
    for qi, hits in plan.items():
        assert {v: s for v, s, _ in hits} == {v: beam[v][qi] for v in beam}

    for k in (2, n):
        plan600, top = _high_dim(spark, rows, q[0], k)
        assert top == plan600 == {0: plan[0][:k]}


def test_inline_ivf_counts_an_in_memory_corpus_once(spark, monkeypatch):
    """Inline IVF training sizes both its geometry and its sample from
    one count: an in-memory corpus has no footer estimate, and
    ivf_centroids takes the count ivf_knn_join already made."""
    import numpy as np

    from flink_rag_spark.operators.similarity import ivf_knn_join

    corpus = spark.createDataFrame(_boundary_rows(),
                                   "vec_id long, embedding array<double>")
    DataFrame = type(corpus)
    counts = []
    count = DataFrame.count

    def counting(self):
        counts.append(self)
        return count(self)

    monkeypatch.setattr(DataFrame, "count", counting)
    out = ivf_knn_join(None, corpus, k=2,
                       driver_queries=([0], np.asarray([[1.0, 0.0]])))
    assert len(counts) == 1
    assert [r["vec_id"] for r in out.orderBy("rank").collect()] == [5, 0]


def test_fused_knn_zero_norm_matches_knn_join(spark):
    """A zero-norm vector divides by zero: under ANSI every scorer —
    knn_join, fused_knn, the IVF probe and high-dim cosine_topk — raises,
    without ANSI each gives it a null score ranked last, beside a null
    and a mis-sized vector, which score null on either setting."""
    import pytest

    rows = [(1, [0.0, 0.0]), (2, [1.0, 0.5]), (3, [0.2, 1.0]), (4, None),
            (5, [1.0, 0.0, 0.0])]
    corpus = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
    cells = corpus.withColumn("cell", F.lit(0))
    q = [[1.0, 0.0]]

    def ivf(k, where=None):
        return _ivf_all_cells(corpus, q, k, cells=cells,
                              centroids=[[1.0, 0.0]], where=where)

    conf = "spark.sql.ansi.enabled"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            _knn_vs_fused(spark, corpus, q, 3)
        from flink_rag_spark.operators.similarity import fused_knn
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            fused_knn(corpus, [[1.0, 0.0]], k=3)
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            ivf(3)
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            _high_dim(spark, rows, q[0], 3)
        plan, fused = _knn_vs_fused(spark, corpus, q, 5, where="vec_id > 1")
        assert fused == plan and fused[0][-2:] == [(4, None, 3), (5, None, 4)]
        assert ivf(5, where="vec_id > 1") == plan
        plan600, top = _high_dim(spark, rows, q[0], 5, where="vec_id > 1")
        assert top == plan600 == plan
        spark.conf.set(conf, "false")
        plan, fused = _knn_vs_fused(spark, corpus, q, 5)
        assert fused == plan
        assert [(r[0], r[1]) for r in fused[0][2:]] == [(1, None), (4, None),
                                                          (5, None)]
        assert ivf(5) == plan
        plan600, top = _high_dim(spark, rows, q[0], 5)
        assert top == plan600 == plan
        plan, fused = _knn_vs_fused(spark, corpus, q, 5, min_score=0.1)
        assert fused == plan and len(fused[0]) == 2
    finally:
        spark.conf.set(conf, before)


def test_answer_tail_keeps_hit_without_document(spark):
    """A retrieved embedding with no ``documents`` row stays a hit but
    adds no context text; a question none of whose hits has text keeps
    a null context on the serving path and is dropped by the oracle
    chains' inner semantics."""
    import numpy as np

    from flink_rag_spark.config import DEFAULT_CONFIG as cfg
    from flink_rag_spark.operators.similarity import fused_knn
    from flink_rag_spark.plans.rag import _answer

    corpus = _crafted_corpus(spark)
    hits = [(qi, vid, rank) for qi, vid, _, rank in
            fused_knn(corpus, np.asarray([[1.0, 0.0]]), k=3)]
    assert [h[1] for h in hits] == [7, 0, 1]
    docs = spark.createDataFrame([(7, "seven"), (1, "one"), (5, "five")],
                                 "vec_id long, text string")
    questions = [(0, "q zero"), (1, "q one")]
    hits.append((1, 0, 1))                  # q one: its only hit has no text
    out = {r["question_id"]: r for r in _answer(
        spark, questions, hits, docs, cfg, keep_unanswered=True).collect()}
    assert out[0]["information"] == cfg.context_separator.join(["seven",
                                                                "one"])
    assert out[1]["information"] is None
    assert out[1]["prompt"] == cfg.prompt_template.format(
        question="q one", information="")
    kept = _answer(spark, questions, hits, docs, cfg).collect()
    assert [r["question_id"] for r in kept] == [0]
