"""BM25 / RRF hybrid ranking tests (operators/ranking.py): hand-computed
BM25 on a tiny corpus, fusion arithmetic, determinism, and the postings
pushdown plan shape."""

import math

import pyspark.sql.functions as F
import pytest

from flink_rag_spark.operators.ranking import (
    BM25_B,
    BM25_K1,
    bm25_scores,
    bm25_topk,
    hybrid_topk,
    rrf_fuse,
)

DOCS = [
    (0, "spark join spark window"),
    (1, "join join join filter"),
    (2, "window sort merge"),
    (3, "the quick brown fox"),
]


def _py_bm25(docs, terms, k1=BM25_K1, b=BM25_B):
    toks = {i: t.split() for i, t in docs}
    n = float(len(docs))
    avgdl = sum(len(v) for v in toks.values()) / n
    dfreq = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            if not tf or not dfreq[t]:
                continue
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if s:
            out[i] = round(s, 6)
    return out


def test_bm25_matches_hand_model(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r["score"] for r in
           bm25_scores(df, ["spark", "join", "window"]).collect()}
    want = _py_bm25(DOCS, ["spark", "join", "window"])
    assert got == want
    assert 3 not in got  # no matching term → no row


def test_bm25_topk_deterministic_rank(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    rows = sorted(bm25_topk(df, ["spark", "join", "window"], k=3).collect(),
                  key=lambda r: r["rank"])
    want = sorted(_py_bm25(DOCS, ["spark", "join", "window"]).items(),
                  key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(r["doc_id"], r["score"]) for r in rows] == want


def test_bm25_query_terms_case_and_dupes(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    a = {(r["doc_id"], r["score"]) for r in
         bm25_scores(df, ["SPARK", "spark", " Spark "]).collect()}
    b = {(r["doc_id"], r["score"]) for r in
         bm25_scores(df, ["spark"]).collect()}
    assert a == b  # dedup + lowercase + strip


def test_rrf_fusion_arithmetic(spark):
    r1 = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank int")
    r2 = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank int")
    got = {r["doc_id"]: (r["rrf_score"], r["rank"]) for r in
           rrf_fuse([r1, r2], k0=60).collect()}
    s20 = round(1 / 62 + 1 / 61, 6)
    s10, s30 = round(1 / 61, 6), round(1 / 62, 6)
    assert got == {20: (s20, 1), 10: (s10, 2), 30: (s30, 3)}


def test_hybrid_unions_both_arms(spark):
    """A doc findable only lexically and one findable only by vector must
    BOTH surface in the fused top-k."""
    docs = spark.createDataFrame(
        [(0, "spark join window vector"), (1, "quick brown fox"),
         (2, "lorem ipsum dolor")], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1]), (7, [1.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = hybrid_topk(docs, emb, ["spark"], [1.0, 0.0], k=3)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    ids = [r["doc_id"] for r in rows]
    assert 0 in ids   # lexical-only hit
    assert 1 in ids   # vector-only hit (identical direction to the query)


def test_bm25_postings_filter_reaches_scan(spark, sf_oracle, tmp_path):
    """The term IN (...) filter must prune BEFORE the (id, term) aggregate
    — the shuffle carries matching postings, never the full token stream.
    (The filter sits above an explode of a projected column, so it prunes
    at the first narrow stage rather than the parquet row-group level.)"""
    from flink_rag_spark.sources.tables import load_table

    d = load_table(spark, sf_oracle, "documents")
    out = bm25_scores(d, ["spark", "join"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    gen_idx = final.find("Generate explode")
    fil_idx = final.find("Filter term#")
    assert gen_idx != -1 and fil_idx != -1
    # tree printing is top-down: the filter printing ABOVE the Generate
    # means it executes between the explode and the aggregate — i.e. the
    # postings are filtered before any shuffle
    assert fil_idx < gen_idx
    assert " IN (" in final[fil_idx:gen_idx] or "spark" in final[fil_idx:gen_idx]


def test_text_index_matches_inline_and_prunes(spark, sf_oracle, tmp_path):
    """The persisted inverted index must return bit-identical top-k to the
    inline path, and the postings scan must partition-prune on the query
    terms' hash partitions."""
    from flink_rag_spark.operators.ranking import (
        bm25_topk_indexed,
        build_text_index,
    )
    from flink_rag_spark.sources.tables import load_table

    d = load_table(spark, sf_oracle, "documents")
    path = str(tmp_path / "tidx")
    build_text_index(spark, d, path, n_parts=16)

    terms = ["spark", "join", "vector", "window"]
    inline = bm25_topk(d, terms, k=15)
    indexed = bm25_topk_indexed(spark, path, terms, k=15)
    a = [(r["doc_id"], r["score"], r["rank"]) for r in inline.collect()]
    b = [(r["doc_id"], r["score"], r["rank"]) for r in indexed.collect()]
    assert a == b and len(a) == 15

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "tp" in seg


def test_bm25_join_matches_single_query_path(spark):
    """The batch form restricted to one query must equal bm25_topk (unique
    query terms; same formula, rounding, tie-breaks)."""
    from flink_rag_spark.operators.ranking import bm25_join

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    q = spark.createDataFrame([(0, "spark join window")],
                              "query_id long, query_text string")
    batch = {(r["doc_id"], r["score"], r["rank"]) for r in
             bm25_join(q, df, k=3).collect()}
    single = {(r["doc_id"], r["score"], r["rank"]) for r in
              bm25_topk(df, ["spark", "join", "window"], k=3).collect()}
    assert batch == single


def test_bm25_join_query_term_multiplicity_ignored(spark):
    """Classic BM25: repeating a term in the query must not re-weight it."""
    from flink_rag_spark.operators.ranking import bm25_join

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    q1 = spark.createDataFrame([(0, "spark spark spark")],
                               "query_id long, query_text string")
    q2 = spark.createDataFrame([(0, "spark")],
                               "query_id long, query_text string")
    a = {(r["doc_id"], r["score"]) for r in bm25_join(q1, df, k=5).collect()}
    b = {(r["doc_id"], r["score"]) for r in bm25_join(q2, df, k=5).collect()}
    assert a == b


def test_hybrid_knn_join_per_query_fusion(spark):
    """Each query fuses its OWN arms: a lexical-only hit for q0 must not
    leak into q1's result."""
    from flink_rag_spark.operators.ranking import hybrid_knn_join

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta"), (2, "epsilon zeta")],
        "doc_id long, text string")
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.7, 0.7])],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(100, "alpha", [0.0, 1.0]), (200, "epsilon", [1.0, 0.0])],
        "query_id long, query_text string, query_vec array<float>")
    out = hybrid_knn_join(queries, docs, emb, k=2)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], set()).add(r["doc_id"])
    # q100: lexical hit doc0 + vector hit doc1; q200: lexical doc2 + vector doc0
    assert 0 in by_q[100] and 1 in by_q[100]
    assert 2 in by_q[200] and 0 in by_q[200]


def test_bm25_join_index_backed_matches_inline(spark, sf_oracle, tmp_path):
    """bm25_join(index_path=...) must be bit-identical to the inline path
    — including for the hybrid batch fusion downstream."""
    from flink_rag_spark.operators.ranking import (
        bm25_join,
        build_text_index,
    )
    from flink_rag_spark.sources.tables import load_table

    d = load_table(spark, sf_oracle, "documents")
    path = str(tmp_path / "tidx")
    build_text_index(spark, d, path, n_parts=16)
    q = spark.createDataFrame(
        [(0, "spark join vector"), (1, "window merge batch")],
        "query_id long, query_text string")
    inline = {(r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in
              bm25_join(q, d, k=8).collect()}
    indexed = {(r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in
               bm25_join(q, None, k=8, index_path=path).collect()}
    assert inline == indexed and len(inline) == 16


def test_ranking_edge_inputs(spark):
    """Empty query terms yield an empty (not wrong) result; fusing zero
    rankings fails loudly."""
    from flink_rag_spark.operators.ranking import rrf_fuse

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    assert bm25_scores(df, []).count() == 0
    assert bm25_scores(df, ["zzz_not_present"]).count() == 0
    with pytest.raises(ValueError, match="at least one ranking"):
        rrf_fuse([])


def test_hybrid_fully_indexed_arms(spark, sf_oracle, tmp_path):
    """Both arms can run off persisted indexes (text postings + IVF
    cells): results stay k-per-query and overlap the fully-exact hybrid
    heavily (the vector arm is approximate; fusion tolerates arm misses)."""
    from flink_rag_spark.operators.index import build_ivf_index, load_ivf_index
    from flink_rag_spark.operators.ranking import (
        build_text_index,
        hybrid_knn_join,
    )
    from flink_rag_spark.sources.tables import load_table

    d = load_table(spark, sf_oracle, "documents")
    emb = load_table(spark, sf_oracle, "embeddings")
    tpath = str(tmp_path / "tidx")
    build_text_index(spark, d, tpath, n_parts=16)
    vpath = str(tmp_path / "vidx")
    build_ivf_index(spark, emb, vpath)
    cents, cells = load_ivf_index(spark, vpath)

    queries = (d.filter(F.col("doc_id") < 2)
               .select(F.col("doc_id").alias("query_id"),
                       F.col("text").alias("query_text"))
               .join(emb.select(F.col("vec_id").alias("query_id"),
                                F.col("embedding").alias("query_vec")),
                     on="query_id"))
    exact = hybrid_knn_join(queries, d, emb, k=10)
    indexed = hybrid_knn_join(queries, None, emb, k=10,
                              text_index=tpath, ann_index=(cents, cells))
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["doc_id"])
    ix = {}
    for r in indexed.collect():
        ix.setdefault(r["query_id"], set()).add(r["doc_id"])
    for qid in ex:
        assert len(ix[qid]) == 10
        assert len(ex[qid] & ix[qid]) >= 7  # ANN arm recall tolerance


def test_bm25_property_random_corpora(spark):
    """Property-based parity with the pure-Python BM25 model on random
    ASCII word corpora (the hash-properties pattern): if the Spark
    expression drifts from the model, every BM25/hybrid oracle would
    silently flap."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abcdefgh", min_size=1, max_size=3)
    corpus = st.lists(
        st.lists(word, min_size=1, max_size=8).map(" ".join),
        min_size=1, max_size=6)
    terms = st.lists(word, min_size=1, max_size=3)

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(texts=corpus, qterms=terms)
    def check(texts, qterms):
        docs = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r["doc_id"]: r["score"] for r in
               bm25_scores(df, qterms).collect()}
        assert got == _py_bm25(docs, sorted({t for t in qterms}))

    check()


def test_rag_answer_hybrid_indexed_matches_inline(spark, sf_oracle,
                                                  tmp_path):
    """rag_answer(retrieval='hybrid', text_index=...) — the serving shape
    with the persisted inverted index behind the lexical arm — must
    produce bit-identical answers to the inline hybrid plan (the vector
    arm is exact in both)."""
    from flink_rag_spark.operators.ranking import build_text_index
    from flink_rag_spark.plans.rag import rag_answer
    from flink_rag_spark.sources.tables import load_table

    d = load_table(spark, sf_oracle, "documents").select("doc_id", "text")
    path = str(tmp_path / "tix")
    build_text_index(spark, d, path, n_parts=16)
    qs = ["what do i do if it is dark", "sorting big tables quickly"]
    inline = rag_answer(spark, sf_oracle, list(qs),
                        retrieval="hybrid").collect()
    indexed = rag_answer(spark, sf_oracle, list(qs), retrieval="hybrid",
                         text_index=path).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, indexed))
    assert all(r["answer"] for r in indexed)


def test_rag_answer_hybrid_accepts_index_path(spark, sf_oracle, tmp_path):
    """A persisted-IVF-index PATH passed as ann_index in hybrid mode must
    be loaded (mirroring the 'ann' branch), not silently dropped back to
    exact cosine: results must equal the tuple-loaded form exactly."""
    from flink_rag_spark.operators.index import build_ivf_index, load_ivf_index
    from flink_rag_spark.plans.rag import rag_answer
    from flink_rag_spark.sources.tables import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    vpath = str(tmp_path / "vidx")
    build_ivf_index(spark, emb, vpath)
    qs = ["what do i do if it is dark", "sorting big tables quickly"]
    by_tuple = rag_answer(spark, sf_oracle, list(qs), retrieval="hybrid",
                          ann_index=load_ivf_index(spark, vpath)).collect()
    by_path = rag_answer(spark, sf_oracle, list(qs), retrieval="hybrid",
                         ann_index=vpath).collect()
    assert sorted(map(tuple, by_tuple)) == sorted(map(tuple, by_path))
    assert all(r["answer"] for r in by_path)


def test_rag_answer_hybrid_ann_probes_with_callers_cfg(spark, sf_oracle,
                                                      tmp_path):
    """The hybrid vector arm probes a persisted index with the CALLER's
    cfg: a probe budget covering every cell makes the ANN arm exact, so
    the answers equal the exact hybrid path's."""
    from dataclasses import replace

    from flink_rag_spark.config import DEFAULT_CONFIG
    from flink_rag_spark.operators.index import build_ivf_index
    from flink_rag_spark.plans.rag import rag_answer
    from flink_rag_spark.sources.tables import load_table

    vpath = str(tmp_path / "vidx")
    build_ivf_index(spark, load_table(spark, sf_oracle, "embeddings"), vpath,
                    n_centroids=64)
    every_cell = replace(DEFAULT_CONFIG, ivf_probe_frac=1.0)
    qs = ["what do i do if it is dark", "sorting big tables quickly",
          "how are orders priced", "tell me about the weather"]
    exact = rag_answer(spark, sf_oracle, list(qs), retrieval="hybrid",
                       cfg=every_cell).collect()
    probed = rag_answer(spark, sf_oracle, list(qs), retrieval="hybrid",
                        ann_index=vpath, cfg=every_cell).collect()
    assert sorted(map(tuple, probed)) == sorted(map(tuple, exact))


def test_text_index_append_matches_rebuild(spark, sf_oracle, tmp_path):
    """Indexed BM25 after appends must be bit-identical to a full rebuild
    (mergeable stats: integer doc lengths → exact double sums), and
    compaction restores one file per partition without changing results."""
    import glob

    from flink_rag_spark.operators.ranking import (
        append_to_text_index,
        bm25_topk_indexed,
        build_text_index,
        compact_text_index,
    )
    from flink_rag_spark.sources.tables import load_table

    d = load_table(spark, sf_oracle, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 3 != 0)
    b1 = d.filter(F.col("doc_id") % 3 == 0).filter(F.col("doc_id") % 2 == 0)
    b2 = d.filter(F.col("doc_id") % 3 == 0).filter(F.col("doc_id") % 2 == 1)

    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    build_text_index(spark, base, inc, n_parts=8)
    append_to_text_index(spark, b1, inc)
    append_to_text_index(spark, b2, inc)
    build_text_index(spark, d, full, n_parts=8)

    terms = ["the", "data", "model", "training"]
    got = [tuple(r) for r in
           bm25_topk_indexed(spark, inc, terms, k=15).collect()]
    want = [tuple(r) for r in
            bm25_topk_indexed(spark, full, terms, k=15).collect()]
    assert got == want and len(got) == 15

    counts = compact_text_index(spark, inc)
    parts = glob.glob(f"{inc}/postings/tp=*")
    assert counts["postings"] == len(parts)
    for p in parts:
        assert len(glob.glob(f"{p}/*.parquet")) == 1
    assert counts["doclens"] == 1
    after = [tuple(r) for r in
             bm25_topk_indexed(spark, inc, terms, k=15).collect()]
    assert after == want
