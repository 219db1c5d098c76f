"""Round-10 operator tests: hub-basket bound for pair rules, the fused
FK-audit plan's edge cases, IVF-PQ staged-geometry promotion, CEP
negation, and the round's new families."""

import duckdb
import pytest

from tests.oracle_check import canon


# ----------------------------------------- hub-basket guard (r9 verdict)

def test_itemset_pair_rules_hub_basket_bounded(spark):
    from flink_rag_spark.operators.association import (
        itemset_pair_rules, itemset_pair_rules_duck)
    # one adversarial hub basket (200 items) + two small baskets; the
    # cap must bound the hub's pair contribution at C(cap,2), never
    # C(200,2)=19900
    rows = [(0, f"i{k:03d}") for k in range(200)]
    rows += [(1, "i001"), (1, "i002"), (2, "i001"), (2, "i002")]
    df = spark.createDataFrame(rows, "b bigint, i string")
    out = itemset_pair_rules(df, "b", "i", min_pair_count=1,
                             max_basket_items=16)
    pairs = out.collect()
    undirected = {tuple(sorted((r["item_a"], r["item_b"])))
                  for r in pairs}
    assert len(undirected) <= 120 + 1  # C(16,2) + the small-basket pair
    assert len(undirected) >= 100      # the hub still contributes
    # deterministic: a second run yields the identical frame
    again = itemset_pair_rules(df, "b", "i", min_pair_count=1,
                               max_basket_items=16)
    assert canon(out.toPandas()) == canon(again.toPandas())
    # the DuckDB mirror replays the SAME hash-ordered cap bit-identically
    con = duckdb.connect()
    con.register("hub_src", df.toPandas())
    duck = con.execute(itemset_pair_rules_duck(
        "SELECT * FROM hub_src", "b", "i", min_pair_count=1,
        max_basket_items=16)).fetchdf()
    assert canon(out.toPandas()) == canon(duck)


def test_itemset_pair_rules_cap_disabled_matches_small_baskets(spark):
    from flink_rag_spark.operators.association import itemset_pair_rules
    # baskets under the cap are untouched: default cap ≡ cap disabled
    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b")]
    df = spark.createDataFrame(rows, "b bigint, i string")
    capped = itemset_pair_rules(df, "b", "i", min_pair_count=1)
    uncapped = itemset_pair_rules(df, "b", "i", min_pair_count=1,
                                  max_basket_items=None)
    assert canon(capped.toPandas()) == canon(uncapped.toPandas())


# --------------------------------- batch ADC n_probe clamp (r9 advice)

def _clustered(spark, n_per=15, dim=16, dtype="double"):
    rows = []
    vid = 0
    for cx, cy in ((0.0, 5.0), (5.0, 0.0)):
        for _ in range(n_per):
            v = [(cx if d % 2 == 0 else cy)
                 + ((vid * 13 + d * 7) % 23) / 50.0 for d in range(dim)]
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(
        rows, f"vec_id bigint, embedding array<{dtype}>")


def test_ivfpq_knn_join_clamps_n_probe_to_cell_count(spark, tmp_path):
    """n_probe larger than the cell count must degrade gracefully
    (probe every cell) exactly like single-query ivfpq_topk — not raise
    a length mismatch building the probe-pair frames."""
    import numpy as np
    import pyspark.sql.functions as F

    from flink_rag_spark.operators.pq import (build_ivfpq_index,
                                              ivfpq_knn_join, ivfpq_topk)
    emb = _clustered(spark)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, emb, idx, n_centroids=2, m=4, kc=4, iters=3)
    qvecs = {r["vec_id"]: list(r["embedding"]) for r in
             emb.filter(F.col("vec_id").isin(4, 21)).collect()}
    qids = sorted(qvecs)
    Q = np.asarray([qvecs[i] for i in qids])
    batch = {(r["query_id"], r["rank"]): (r["vec_id"], r["score"])
             for r in ivfpq_knn_join(spark, idx, (qids, Q), emb, k=5,
                                     n_probe=8).collect()}
    for qid in qids:
        single = {r["rank"]: (r["vec_id"], r["score"]) for r in
                  ivfpq_topk(spark, idx, qvecs[qid], emb, k=5,
                             n_probe=8).collect()}
        for rank, want in single.items():
            assert batch[(qid, rank)] == want, (qid, rank)


def test_append_to_ivfpq_index_missing_cells_dir(spark, tmp_path):
    """Geometry files without a cells directory (partially restored
    index) must be treated as an empty index, not a failed read."""
    import shutil

    from flink_rag_spark.operators.pq import (append_to_ivfpq_index,
                                              build_ivfpq_index)
    emb = _clustered(spark)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, emb.filter("vec_id < 20"), idx,
                      n_centroids=4, m=4, kc=4, iters=3)
    shutil.rmtree(f"{idx}/cells")
    assert append_to_ivfpq_index(
        spark, emb.filter("vec_id >= 20"), idx) == 10
    ids = sorted(r["vec_id"] for r in
                 spark.read.parquet(f"{idx}/cells").collect())
    assert ids == list(range(20, 30))


# ----------------------- IVF-PQ staged-geometry promotion (r9 verdict)

def _geometry(path):
    import json

    from flink_rag_spark.operators.index import PQ_CODEBOOK
    return (json.load(open(f"{path}/centroids.json")),
            json.load(open(f"{path}/{PQ_CODEBOOK}")))


def _codes(spark, path):
    return sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in
        spark.read.parquet(f"{path}/cells").collect())


def test_ivfpq_codebook_drift_and_promotion_equals_fresh_rebuild(
        spark, tmp_path):
    """Drift-triggered promotion under load ≡ a fresh build of the full
    corpus under the staged coarse geometry (codebook retrained on the
    new residuals in BOTH paths — shared encode body)."""
    import pyspark.sql.functions as F

    from flink_rag_spark.operators.index import (codebook_drift,
                                                 maintain_codebook,
                                                 promote_next_codebook)
    from flink_rag_spark.operators.pq import build_ivfpq_index
    emb = _clustered(spark)
    base = emb.filter("vec_id < 20")
    fresh_rows = emb.filter("vec_id >= 20")
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, base, idx, n_centroids=4, m=4, kc=4, iters=3)
    live0 = _geometry(idx)
    assert codebook_drift(idx) is None       # nothing staged yet

    d1 = maintain_codebook(spark, fresh_rows, idx, batch_id=0,
                           stream_id="s")
    assert d1 is not None and d1 > 0.0
    assert codebook_drift(idx) == d1
    # replay of the same batch id: stored drift, no double absorption
    assert maintain_codebook(spark, fresh_rows, idx, batch_id=0,
                             stream_id="s") == d1
    # serving untouched until the swap: live geometry identical
    assert _geometry(idx) == live0

    # promote over the full corpus, then fresh-build under the SAME
    # staged coarse centroids — artifacts must be bit-identical
    import json
    import os

    from flink_rag_spark.operators.index import NEXT_CODEBOOK
    staged = json.load(open(os.path.join(idx, NEXT_CODEBOOK)))["centroids"]
    cents, cb = promote_next_codebook(spark, emb, idx, iters=3)
    assert cents == staged
    assert not os.path.exists(os.path.join(idx, NEXT_CODEBOOK))
    fresh = str(tmp_path / "fresh")
    build_ivfpq_index(spark, emb, fresh, coarse_centroids=staged,
                      m=4, kc=4, iters=3)
    assert _geometry(idx) == _geometry(fresh)
    assert _codes(spark, idx) == _codes(spark, fresh)
    # idempotent: a second promote with nothing staged is a no-op
    assert promote_next_codebook(spark, emb, idx, iters=3) \
        == (cents, cb)


def test_ivfpq_promote_crash_recovers_on_next_read(spark, tmp_path):
    """A crash between the intent commit and the swap must be finished
    by the NEXT reader (probes funnel through _load_geometry), leaving
    cells and both geometry files from the same generation."""
    import json
    import os

    from flink_rag_spark.operators.index import PROMOTE_INTENT
    from flink_rag_spark.operators.pq import (_encode_cells,
                                              build_ivfpq_index,
                                              ivfpq_topk)
    emb = _clustered(spark)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, emb.filter("vec_id < 20"), idx,
                      n_centroids=4, m=4, kc=4, iters=3)
    # manufacture the exact crash state: re-encoded cells staged, the
    # intent marker committed, the swap NOT performed
    want = str(tmp_path / "want")
    build_ivfpq_index(spark, emb, want, n_centroids=4, m=4, kc=4, iters=3)
    cents, cb = _geometry(want)
    _encode_cells(spark, emb, cents, cb, f"{idx}/cells.rebuilding",
                  4, 4, 3, "embedding", "vec_id")
    with open(os.path.join(idx, PROMOTE_INTENT), "w") as f:
        json.dump({"centroids": cents, "codebook": cb}, f)

    qv = [r["embedding"] for r in
          emb.filter("vec_id = 25").collect()][0]
    got = ivfpq_topk(spark, idx, qv, emb, k=3, n_probe=2).collect()
    assert got  # the probe itself finished the promotion
    assert not os.path.exists(os.path.join(idx, PROMOTE_INTENT))
    assert not os.path.exists(os.path.join(idx, "cells.rebuilding"))
    assert _geometry(idx) == (cents, cb)
    assert _codes(spark, idx) == _codes(spark, want)


def test_build_ivfpq_index_settles_crashed_promotion(spark, tmp_path):
    """A rebuild over a path holding a crashed promotion's intent +
    staged cells must SUPERSEDE them (index.build_ivf_index's
    'reproduced' failure mode): without settling first, the next
    reader's recovery hook would swap the stale staged cells in over
    the fresh rebuild and revert the geometry."""
    import json
    import os

    from flink_rag_spark.operators.index import NEXT_CODEBOOK, PROMOTE_INTENT
    from flink_rag_spark.operators.pq import (_encode_cells,
                                              build_ivfpq_index,
                                              ivfpq_topk)
    emb = _clustered(spark)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, emb.filter("vec_id < 20"), idx,
                      n_centroids=4, m=4, kc=4, iters=3)
    # manufacture the crash: a STALE promotion staged over the old
    # corpus, intent committed, swap not performed — plus a stale
    # staged coarse set
    stale_cents, stale_cb = _geometry(idx)
    _encode_cells(spark, emb.filter("vec_id < 10"), stale_cents,
                  stale_cb, f"{idx}/cells.rebuilding", 4, 4, 3,
                  "embedding", "vec_id")
    with open(os.path.join(idx, PROMOTE_INTENT), "w") as f:
        json.dump({"centroids": stale_cents, "codebook": stale_cb}, f)
    with open(os.path.join(idx, NEXT_CODEBOOK), "w") as f:
        json.dump({"centroids": stale_cents, "counts": [1] * 4,
                   "drift": 9.9}, f)

    # the fresh rebuild over the FULL corpus must supersede all of it
    build_ivfpq_index(spark, emb, idx, n_centroids=4, m=4, kc=4, iters=3)
    fresh = _geometry(idx)
    assert not os.path.exists(os.path.join(idx, PROMOTE_INTENT))
    assert not os.path.exists(os.path.join(idx, "cells.rebuilding"))
    assert not os.path.exists(os.path.join(idx, NEXT_CODEBOOK))
    # a probe (whose _load_geometry runs the recovery hook) must see
    # the fresh 30-vector index, not the resurrected 10-vector one
    qv = [r["embedding"] for r in
          emb.filter("vec_id = 25").collect()][0]
    got = ivfpq_topk(spark, idx, qv, emb, k=3, n_probe=2).collect()
    assert got and got[0]["vec_id"] == 25
    assert _geometry(idx) == fresh
    ids = sorted(r["vec_id"] for r in
                 spark.read.parquet(f"{idx}/cells").collect())
    assert ids == list(range(30))


def test_run_ingest_stages_ivfpq_geometry(spark, tmp_path):
    """run_ingest(ivf_index=<IVF-PQ path>, ivf_codebook=True) absorbs
    store-new rows into the staged coarse geometry without touching
    the serving files."""
    import os

    from flink_rag_spark.operators.index import NEXT_CODEBOOK, codebook_drift
    from flink_rag_spark.operators.pq import build_ivfpq_index
    from flink_rag_spark.sources.streams import file_string_source
    from flink_rag_spark.streaming.ingest import run_ingest

    idx, store = str(tmp_path / "ivfpq"), str(tmp_path / "store")
    seed = tmp_path / "seed"
    seed.mkdir()
    (seed / "s.txt").write_text(
        "".join(f"seed fact number {i} about topic {i % 4}\n"
                for i in range(16)))
    q = run_ingest(spark, file_string_source(spark, str(seed)), store,
                   str(tmp_path / "c0"), available_now=True)
    assert q.awaitTermination(120)
    emb0 = spark.read.parquet(store).select("vec_id", "embedding")
    dim = len(emb0.first()["embedding"])
    m = 4 if dim % 4 == 0 else (2 if dim % 2 == 0 else 1)
    build_ivfpq_index(spark, emb0, idx, n_centroids=4, m=m, kc=4,
                      iters=3)
    live0 = _geometry(idx)

    newdir = tmp_path / "new"
    newdir.mkdir()
    (newdir / "n.txt").write_text(
        "fresh streamed fact about entirely new topics\n")
    q = run_ingest(spark, file_string_source(spark, str(newdir)), store,
                   str(tmp_path / "c1"), available_now=True,
                   ivf_index=idx, ivf_codebook=True)
    assert q.awaitTermination(180)
    assert os.path.exists(os.path.join(idx, NEXT_CODEBOOK))
    d = codebook_drift(idx)
    assert d is not None and d > 0.0
    assert _geometry(idx) == live0    # serving untouched until promote


# ----------------------------------------- k-core / l-diversity (r10)

def test_kcore_peels_cascade_and_keeps_clique(spark):
    from flink_rag_spark.operators.graph import kcore_nodes
    # K4 (1,2,3,4) + a pendant chain 4-5-6-7: the chain peels over
    # THREE cascading rounds (7 first, then 6, then 5); K4 survives
    # at core_degree 3
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    out = {r["node"]: r["core_degree"]
           for r in kcore_nodes(df, k=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=2: the chain still peels (tree), K4 intact
    out2 = {r["node"]: r["core_degree"]
            for r in kcore_nodes(df, k=2).collect()}
    assert out2 == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=1 keeps everything (degree >= 1 after dedup)
    assert len(kcore_nodes(df, k=1).collect()) == 7
    with pytest.raises(ValueError, match=">= 1"):
        kcore_nodes(df, k=0)


def test_l_diversity_hand_values(spark):
    from flink_rag_spark.operators.privacy import l_diversity_audit
    rows = [
        ("a", "x", "s1"), ("a", "x", "s2"), ("a", "x", "s3"),
        ("a", "y", "s1"), ("a", "y", "s1"), ("a", "y", "s1"),
        ("b", "x", "s1"), ("b", "x", None), ("b", "x", None),
    ]
    df = spark.createDataFrame(rows, "q1 string, q2 string, s string")
    out = {(r["q1"], r["q2"]): r for r in
           l_diversity_audit(df, ["q1", "q2"], "s", l=2).collect()}
    assert out[("a", "x")]["n_sensitive"] == 3
    assert not out[("a", "x")]["at_risk"]
    # same size, zero diversity: the leak k-anonymity misses
    assert out[("a", "y")]["group_size"] == 3
    assert out[("a", "y")]["n_sensitive"] == 1
    assert out[("a", "y")]["at_risk"]
    # NULL sensitive adds no diversity
    assert out[("b", "x")]["n_sensitive"] == 1
    assert out[("b", "x")]["at_risk"]


# ----------------------------------- span containment doc-in-doc (r10)

def test_span_containment_quote_detection(spark):
    from flink_rag_spark.operators.dedup import span_containment
    quote = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    long_doc = quote + " " + " ".join(f"filler{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, quote), (2, long_doc),
         (3, "totally unrelated words nothing shared here at all")],
        "doc_id bigint, text string")
    out = {(r["id_a"], r["id_b"]): r for r in span_containment(
        docs, "text", "doc_id", span_tokens=8,
        min_containment=0.9).collect()}
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    # the quote is FULLY contained: every one of d1's spans is in d2
    assert r["n_a"] == 1 and r["containment_a"] == 1.0
    # while d2's containment (the Jaccard-ish view) is tiny
    assert r["containment_b"] < 0.1
    # threshold respected: raising it past 1.0 empties the result
    assert span_containment(docs, "text", "doc_id", span_tokens=8,
                            min_containment=1.01).count() == 0


# ------------------------------- Dirichlet query-likelihood LM (r10)

def test_lm_dirichlet_hand_values(spark):
    import math

    from flink_rag_spark.operators.ranking import lm_dirichlet_topk
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "c c c")],
        "doc_id bigint, text string")
    # |C| = 8 tokens; cf(a)=3, cf(b)=1; 'zzz' absent from the corpus is
    # SKIPPED (Lucene's stance); d3 matches no query term → pure
    # background for every term, never a candidate
    out = {r["doc_id"]: r for r in lm_dirichlet_topk(
        docs, ["a", "b", "zzz"], k=10, mu=10.0).collect()}
    assert set(out) == {1, 2}
    s1 = math.log((2 + 10 * 3 / 8) / 13) + math.log((1 + 10 / 8) / 13)
    # d2 has NO 'b': the absent-term BACKGROUND branch must apply
    s2 = math.log((1 + 10 * 3 / 8) / 12) + math.log((0 + 10 / 8) / 12)
    assert out[1]["score"] == round(s1, 6)
    assert out[2]["score"] == round(s2, 6)
    assert out[1]["rank"] == 1 and out[2]["rank"] == 2


# ----------------------------------- personalized PageRank (r10)

def test_personalized_pagerank_matches_python_replica(spark):
    from flink_rag_spark.operators.graph import personalized_pagerank
    # directed: 1->2, 2->1, 2->3; 3 is dangling (its mass restarts at
    # the seeds, NOT uniformly)
    edges = [(1, 2), (2, 1), (2, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    d, iters, seeds = 0.85, 4, [1]
    out_edges = {1: [2], 2: [1, 3], 3: []}
    pr = {1: 1.0, 2: 0.0, 3: 0.0}
    for _ in range(iters):
        dangling = sum(pr[n] for n, o in out_edges.items() if not o)
        nxt = {n: 0.0 for n in pr}
        for n, outs in out_edges.items():
            for m in outs:
                nxt[m] += d * pr[n] / len(outs)
        for s in seeds:
            nxt[s] += (1 - d + d * dangling) / len(seeds)
        pr = nxt
    got = {r["node"]: r["ppr"] for r in personalized_pagerank(
        df, seeds, iters=iters).collect()}
    assert got == {n: round(v, 6) for n, v in pr.items()}
    assert abs(sum(got.values()) - 1.0) < 1e-5   # mass conserved
    # the dangling leaf is clearly farthest; 1 vs 2 oscillate (1's
    # whole mass funnels to 2 each step on this tiny cycle)
    assert got[2] > got[3] and got[1] > got[3]
    with pytest.raises(ValueError, match="no seed_ids"):
        personalized_pagerank(df, [99], iters=2)


# ------------------------------------------- link prediction (r10)

def test_link_prediction_hand_values(spark):
    import math

    from flink_rag_spark.operators.graph import link_prediction
    # 4-cycle 1-2-3-4: the only absent edges are the diagonals (1,3)
    # and (2,4) — two common neighbors each, all degrees 2
    edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    out = {(r["node"], r["candidate"]): r
           for r in link_prediction(df, top_n=3).collect()}
    aa = round(2 * round(1 / math.log(2), 9), 6)
    assert set(out) == {(1, 3), (3, 1), (2, 4), (4, 2)}
    assert all(r["common_neighbors"] == 2 for r in out.values())
    assert all(r["adamic_adar"] == aa for r in out.values())
    assert all(r["rank"] == 1 for r in out.values())
    # path 1-2-3: one wedge at center 2 (degree 2)
    p = spark.createDataFrame([(1, 2), (2, 3)], "u bigint, v bigint")
    got = {(r["node"], r["candidate"]): r
           for r in link_prediction(p, top_n=3).collect()}
    assert set(got) == {(1, 3), (3, 1)}
    assert got[(1, 3)]["common_neighbors"] == 1
    assert got[(1, 3)]["adamic_adar"] == round(round(1 / math.log(2), 9), 6)
    with pytest.raises(ValueError, match=">= 1"):
        link_prediction(p, top_n=0)


# ------------------------- A/B z-test / co-visitation recs (r10)

def test_ab_proportion_test_hand_values(spark):
    import math

    from flink_rag_spark.operators.hypothesis import ab_proportion_test
    rows = ([("A", True)] * 6 + [("A", False)] * 4
            + [("B", True)] * 2 + [("B", False)] * 7 + [("B", None)])
    df = spark.createDataFrame(rows, "grp string, ok boolean")
    r = ab_proportion_test(df, "grp", "ok", "A", "B").collect()[0]
    assert (r["n_a"], r["n_b"]) == (10, 10)
    assert (r["conv_a"], r["conv_b"]) == (6, 2)  # NULL ≠ success
    assert r["rate_a"] == 0.6 and r["rate_b"] == 0.2
    se = math.sqrt(0.4 * 0.6 * 0.2)
    assert r["z"] == round(0.4 / se, 6)
    assert not r["significant"]          # |z| ≈ 1.83 < 1.96
    # a lower critical value flips the verdict
    r2 = ab_proportion_test(df, "grp", "ok", "A", "B",
                            z_crit=1.5).collect()[0]
    assert r2["significant"]
    # degenerate: everybody converts → zero pooled variance → NULL z
    all_c = spark.createDataFrame(
        [("A", True), ("B", True)], "grp string, ok boolean")
    r3 = ab_proportion_test(all_c, "grp", "ok", "A", "B").collect()[0]
    assert r3["z"] is None and not r3["significant"]


def test_covisitation_topn_hand_values(spark):
    import math

    from flink_rag_spark.operators.association import covisitation_topn
    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"),
            (3, "a"), (3, "c"), (4, "b")]
    df = spark.createDataFrame(rows, "b bigint, i string")
    out = {(r["item_a"], r["item_b"]): r for r in covisitation_topn(
        df, "b", "i", top_n=10, min_pair_count=2).collect()}
    # popularity-normalized: a-c (2/sqrt(3*2)) beats a-b (2/sqrt(3*3))
    assert out[("a", "c")]["cosine"] == round(2 / math.sqrt(6), 6)
    assert out[("a", "b")]["cosine"] == round(2 / math.sqrt(9), 6)
    assert out[("a", "c")]["rank"] == 1 and out[("a", "b")]["rank"] == 2
    assert ("b", "c") not in out          # pruned at min_pair_count=2
    # top_n enforced
    only1 = covisitation_topn(df, "b", "i", top_n=1, min_pair_count=2)
    assert {(r["item_a"], r["rank"]) for r in only1.collect()} == \
        {("a", 1), ("b", 1), ("c", 1)}


# ----------------------------------- IVM delete / BFS hops (r10)

def test_delete_facts_prunes_cleans_and_replays(spark, tmp_path):
    import os

    import pyspark.sql.functions as F

    from flink_rag_spark.operators.ivm import (append_facts,
                                               build_join_view,
                                               delete_facts,
                                               read_join_view)
    facts = spark.createDataFrame(
        [(1, 10, "2024-01-05", 5.0), (2, 10, "2024-01-20", 6.0),
         (3, 20, "2024-02-05", 7.0), (4, 20, "2024-03-05", 8.0)],
        "pk bigint, fk bigint, d string, v double"
    ).withColumn("d", F.col("d").cast("date"))
    dims = spark.createDataFrame([(10, "a"), (20, "b")],
                                 "k bigint, attr string")
    path = str(tmp_path / "view")
    build_join_view(spark, facts.filter("pk <= 3"), dims, path,
                    "fk", "k", "d")
    # a marker-carrying append, so the delete must preserve markers
    append_facts(spark, facts.filter("pk = 4"), dims, path, "fk", "k",
                 "d", batch_id=7)
    # delete pk 2 (partial month) and pk 3 (EMPTIES 2024-02)
    doomed = spark.createDataFrame([(2,), (3,), (999,)], "pk bigint")
    touched = delete_facts(spark, doomed, path, "pk")
    assert sorted(touched) == ["2024-01", "2024-02"]
    got = {r["pk"] for r in read_join_view(spark, path).collect()}
    assert got == {1, 4}
    assert not os.path.exists(os.path.join(path, "pmonth=2024-02"))
    # replay: idempotent no-op (nothing left to touch)
    assert delete_facts(spark, doomed, path, "pk") == []
    # the append's marker survived the January rewrite
    raw = spark.read.parquet(path)
    marks = raw.filter(F.col("bids").isNotNull()).collect()
    assert any(7 in r["bids"] for r in marks)
    # a subsequent replayed append still no-ops off its marker
    assert append_facts(spark, facts.filter("pk = 4"), dims, path,
                        "fk", "k", "d", batch_id=7) == []


def test_bfs_hops_hand_values(spark):
    from flink_rag_spark.operators.graph import bfs_hops
    # path graph 1-2-3-4-5 plus an isolated edge 8-9
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)]
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    out = {r["node"]: r["hops"]
           for r in bfs_hops(df, [1], max_hops=3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}       # 5 is beyond the bound
    # multi-source: minimum distance wins
    out2 = {r["node"]: r["hops"]
            for r in bfs_hops(df, [1, 5], max_hops=2).collect()}
    assert out2 == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}
    # hops=0 returns just the (present) sources
    assert {r["node"] for r in bfs_hops(df, [1, 77], 0).collect()} == {1}
    with pytest.raises(ValueError, match=">= 0"):
        bfs_hops(df, [1], -1)
    with pytest.raises(ValueError, match="non-empty"):
        bfs_hops(df, [], 2)


# --------------------------------------- CEP negation (notFollowedBy)

def test_negated_funnel_hand_values(spark):
    from datetime import datetime

    from flink_rag_spark.operators.sequences import negated_funnel_times
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # u1: clean A->B->C, error only BEFORE the funnel: matches
        (0, t(0), 1, "error"), (1, t(1), 1, "view"), (2, t(2), 1, "click"),
        (3, t(3), 1, "purchase"),
        # u2: error strictly between click and purchase: voided at t3
        (4, t(1), 2, "view"), (5, t(2), 2, "click"), (6, t(3), 2, "error"),
        (7, t(4), 2, "purchase"),
        # u3: error AFTER the purchase: matches
        (8, t(1), 3, "view"), (9, t(2), 3, "click"),
        (10, t(3), 3, "purchase"), (11, t(4), 3, "error"),
        # u4: error at the SAME instant as the purchase: strict
        # "between" — not voided (the family's no-simultaneity tie rule)
        (12, t(1), 4, "view"), (13, t(2), 4, "click"),
        (14, t(3), 4, "error"), (15, t(3), 4, "purchase"),
        # u5: funnel never completes (no purchase)
        (16, t(1), 5, "view"), (17, t(2), 5, "click"),
    ]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string")
    out = {r["user_id"]: r for r in negated_funnel_times(
        e, ["view", "click", "purchase"], {2: "error"}).collect()}
    assert out[1]["t3"] == t(3) and out[1]["c2"] is None
    assert out[2]["t3"] is None          # voided by the error at t(3)
    assert out[2]["t2"] == t(2)          # earlier steps stand
    assert out[2]["c2"] == t(3)          # the offending instant reported
    assert out[3]["t3"] == t(3) and out[3]["c2"] == t(4)
    assert out[4]["t3"] == t(3)          # same-instant error: not between
    assert out[5]["t3"] is None and out[5]["c2"] is None


def test_negated_funnel_cascade_and_gap1(spark):
    from datetime import datetime

    from flink_rag_spark.operators.sequences import negated_funnel_times
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # gap-1 violation voids t2 AND t3 (cascade), c1 reported
        (0, t(0), 1, "view"), (1, t(1), 1, "error"), (2, t(2), 1, "click"),
        (3, t(3), 1, "purchase"),
        # clean user: both gaps clean
        (4, t(0), 2, "view"), (5, t(1), 2, "click"),
        (6, t(2), 2, "purchase"),
    ]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string")
    out = {r["user_id"]: r for r in negated_funnel_times(
        e, ["view", "click", "purchase"],
        {1: "error", 2: "error"}).collect()}
    assert out[1]["t1"] == t(0)
    assert out[1]["t2"] is None and out[1]["t3"] is None
    assert out[1]["c1"] == t(1)
    assert out[2]["t3"] == t(2)
    assert out[2]["c1"] is None and out[2]["c2"] is None


def test_negated_funnel_duck_mirror_parity(spark):
    from datetime import datetime

    from flink_rag_spark.operators.sequences import (
        negated_funnel_times, negated_funnel_times_duck)
    import random
    rng = random.Random(7)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = [(i, datetime(2024, 1, 1, rng.randrange(24),
                         rng.randrange(60)),
             rng.randrange(12), rng.choice(types))
            for i in range(300)]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string")
    sp = negated_funnel_times(
        e, ["view", "click", "purchase"], {1: "signup", 2: "error"}
    ).toPandas()
    con = duckdb.connect()
    con.register("events", e.toPandas())
    du = con.execute(negated_funnel_times_duck(
        ["view", "click", "purchase"],
        {1: "signup", 2: "error"})).fetchdf()
    assert canon(sp) == canon(du)


def test_negated_funnel_validates_inputs(spark):
    from flink_rag_spark.operators.sequences import (
        negated_funnel_times, negated_funnel_times_duck)
    e = spark.createDataFrame(
        [], "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string")
    with pytest.raises(ValueError, match="out of range"):
        negated_funnel_times(e, ["a", "b"], {2: "c"})
    with pytest.raises(TypeError, match="string steps"):
        negated_funnel_times_duck(["a", "b"], {1: 42})  # type: ignore


# -------------------------------- quantile rollup partials (r10)

def test_quantiles_from_bins_hand_values(spark):
    from flink_rag_spark.operators.profiling import quantiles_from_bins
    # one group, values quantized at step=10: bins 0(×3), 1(×1), 5(×1)
    bins = spark.createDataFrame(
        [("g", 0, 3), ("g", 1, 1), ("g", 5, 1)],
        "grp string, qbin bigint, cnt bigint")
    out = {r["q"]: r for r in quantiles_from_bins(
        bins, ["grp"], [0.5, 0.9], step=10.0).collect()}
    # n=5: rank ceil(2.5)=3 → cum 3 at bin 0; rank ceil(4.5)=5 → bin 5
    assert out[0.5]["quantile_lb"] == 0.0
    assert out[0.9]["quantile_lb"] == 50.0
    assert out[0.5]["n"] == 5


def test_quantile_partials_merge_equals_full(spark, sf_oracle):
    import pyspark.sql.functions as F

    from flink_rag_spark.operators.profiling import quantile_partials
    from flink_rag_spark.sources.tables import load_table
    e = load_table(spark, sf_oracle, "events")
    full = quantile_partials(e, "ts", "value", "1 hour", 5.0)
    halves = [quantile_partials(e.filter(f"event_id % 2 = {i}"),
                                "ts", "value", "1 hour", 5.0)
              for i in (0, 1)]
    merged = (halves[0].unionByName(halves[1])
              .groupBy("bucket_ts", "qbin")
              .agg(F.sum("cnt").alias("cnt")))
    assert canon(merged.toPandas()) == canon(full.toPandas())


def test_quantile_partials_ride_rollup_store(spark, sf_oracle, tmp_path):
    """The persistence contract: qbin as a rollup key rides the
    existing store's build/append/replay machinery unchanged, and the
    maintained bins finalize to the same quantiles as a from-scratch
    pass."""
    import pyspark.sql.functions as F

    from flink_rag_spark.operators.profiling import (quantile_partials,
                                                     quantiles_from_bins)
    from flink_rag_spark.operators.rollup import (append_to_rollup,
                                                  build_rollup,
                                                  read_rollup)
    from flink_rag_spark.sources.tables import load_table
    e = (load_table(spark, sf_oracle, "events")
         .withColumn("qbin", F.floor(F.col("value").cast("double") / 5.0)
                     .cast("bigint")))
    hist = e.filter("event_id % 10 != 0")
    fresh = e.filter("event_id % 10 = 0")
    path = str(tmp_path / "qroll")
    build_rollup(spark, hist, path, ts_col="ts", keys=["qbin"],
                 value_col="value")
    append_to_rollup(spark, fresh, path, ts_col="ts", keys=["qbin"],
                     value_col="value", batch_id=1)
    # replay: idempotent, no double counts
    append_to_rollup(spark, fresh, path, ts_col="ts", keys=["qbin"],
                     value_col="value", batch_id=1)
    stored = (read_rollup(spark, path, keys=["qbin"], finalize=False)
              .select("bucket_ts", "qbin", "cnt"))
    want = quantile_partials(e, "ts", "value", "1 hour", 5.0)
    assert canon(stored.toPandas()) == canon(want.toPandas())
    got_q = quantiles_from_bins(
        stored.groupBy(F.window("bucket_ts", "1 day")["start"]
                       .alias("bucket_ts"), "qbin")
        .agg(F.sum("cnt").alias("cnt")), ["bucket_ts"], [0.5], 5.0)
    want_q = quantiles_from_bins(
        want.groupBy(F.window("bucket_ts", "1 day")["start"]
                     .alias("bucket_ts"), "qbin")
        .agg(F.sum("cnt").alias("cnt")), ["bucket_ts"], [0.5], 5.0)
    assert canon(got_q.toPandas()) == canon(want_q.toPandas())


# -------------------------- linear attribution / conversion stats (r10)

def test_linear_attribution_hand_values(spark):
    from datetime import datetime

    from flink_rag_spark.operators.sequences import linear_attribution
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # u1: view + click seen -> purchase 12 splits 6/6
        (0, t(0), 1, "view", 0.0), (1, t(1), 1, "click", 0.0),
        (2, t(2), 1, "purchase", 12.0),
        # u2: only view seen -> full 10 to view
        (3, t(0), 2, "view", 0.0), (4, t(1), 2, "purchase", 10.0),
        # u3: no prior touch -> unattributed bucket
        (5, t(0), 3, "purchase", 7.0),
        # u4: click-only purchase (4), then view arrives; second
        # purchase (6) splits 3/3 — seen-sets grow over time
        (6, t(0), 4, "click", 0.0), (7, t(1), 4, "purchase", 4.0),
        (8, t(2), 4, "view", 0.0), (9, t(3), 4, "purchase", 6.0),
    ]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    out = {r["touch_type"]: r for r in linear_attribution(
        e, ["view", "click"], "purchase").collect()}
    assert out["view"]["attributed_value"] == 6 + 10 + 3
    assert out["click"]["attributed_value"] == 6 + 4 + 3
    assert out[None]["attributed_value"] == 7.0
    assert out["view"]["n_conversions"] == 3
    assert out["click"]["n_conversions"] == 3
    assert out[None]["n_conversions"] == 1
    total = 39.0
    assert out["view"]["value_share"] == round(19 / total, 6)
    assert abs(sum(r["value_share"] for r in out.values()) - 1.0) < 2e-6


def test_funnel_conversion_stats_hand_values(spark):
    from datetime import datetime

    from flink_rag_spark.operators.sequences import funnel_conversion_stats
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # u1: view->click 60s, click->purchase... seconds capped at 59,
        # use minute arithmetic via datetime(…, minute)
    ]
    tm = lambda m, s=0: datetime(2024, 1, 1, 0, m, s)  # noqa: E731
    rows = [
        (0, tm(0), 1, "view"), (1, tm(1), 1, "click"),
        (2, tm(3), 1, "purchase"),                      # gaps 60s, 120s
        (3, tm(0), 2, "view"), (4, tm(0, 30), 2, "click"),  # gap 30s
        (5, tm(0), 3, "purchase"),                      # never in funnel
    ]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string")
    out = {r["step"]: r for r in funnel_conversion_stats(
        e, ["view", "click", "purchase"]).collect()}
    s1 = out[1]
    assert s1["from_type"] == "view" and s1["to_type"] == "click"
    assert s1["n_converted"] == 2
    assert s1["min_gap_s"] == 30.0 and s1["max_gap_s"] == 60.0
    assert s1["median_gap_s"] == 30.0      # type-1: rank ceil(0.5*2)=1
    assert s1["p90_gap_s"] == 60.0         # rank ceil(0.9*2)=2
    s2 = out[2]
    assert s2["n_converted"] == 1
    assert s2["median_gap_s"] == 120.0 == s2["p90_gap_s"]
    with pytest.raises(ValueError, match=">= 2"):
        funnel_conversion_stats(e, ["view"])


def test_stratified_sample_quota_and_determinism(spark):
    from flink_rag_spark.operators.curation import stratified_sample
    rows = [(i, "big") for i in range(100)] + [(100 + i, "small")
                                               for i in range(3)]
    df = spark.createDataFrame(rows, "k bigint, stratum string")
    out = stratified_sample(df, ["stratum"], quota=10, key_col="k",
                            seed=1)
    by = {}
    for r in out.collect():
        by.setdefault(r["stratum"], set()).add(r["k"])
    assert len(by["big"]) == 10        # exact quota on the big stratum
    assert by["small"] == {100, 101, 102}  # under-quota kept whole
    # deterministic: identical reruns, seed changes the selection
    again = stratified_sample(df, ["stratum"], quota=10, key_col="k",
                              seed=1)
    assert {r["k"] for r in again.collect()} == \
        {r["k"] for r in out.collect()}
    other = stratified_sample(df, ["stratum"], quota=10, key_col="k",
                              seed=2)
    assert {r["k"] for r in other.collect() if r["stratum"] == "big"} \
        != by["big"]
    with pytest.raises(ValueError, match=">= 1"):
        stratified_sample(df, ["stratum"], quota=0, key_col="k")


# ------------------------------- streaming CEP negation (r10 twin)

def _write_batch(spark, path, rows):
    spark.createDataFrame(
        [(i, ts, u, t) for i, (ts, u, t) in enumerate(rows)],
        "event_id bigint, ts_s string, user_id bigint, event_type string"
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts",
                 "user_id", "event_type"
                 ).coalesce(1).write.mode("append").parquet(path)
    import time
    time.sleep(1.1)


def test_streaming_negated_funnel_matches_batch(spark, tmp_path):
    """Streaming emissions ≡ batch negated_funnel_times completions
    (t_k non-NULL) under bounded disorder; voided keys emit nothing."""
    import pyspark.sql.functions as F

    from flink_rag_spark.operators.sequences import negated_funnel_times
    from flink_rag_spark.streaming.cep import negated_funnel_monitor
    src = str(tmp_path / "negcep_src")
    steps = ["view", "click", "purchase"]
    negs = {2: "error"}
    # u1 completes clean; u2 has an error between click and purchase
    # (voided — and the error arrives out of order in batch 2); u3's
    # error lands AFTER the purchase (clean); u4's error is BEFORE the
    # funnel (clean)
    _write_batch(spark, src, [
        ("2024-01-01 00:01:00", 1, "view"),
        ("2024-01-01 00:02:00", 1, "click"),
        ("2024-01-01 00:03:00", 1, "purchase"),
        ("2024-01-01 00:01:00", 2, "view"),
        ("2024-01-01 00:02:00", 2, "click"),
        ("2024-01-01 00:30:00", 2, "purchase"),
        ("2024-01-01 00:01:00", 3, "view"),
        ("2024-01-01 00:02:00", 3, "click"),
        ("2024-01-01 00:03:00", 3, "purchase"),
        ("2024-01-01 00:04:00", 3, "error"),
        ("2024-01-01 00:00:30", 4, "error"),
        ("2024-01-01 00:01:00", 4, "view"),
        ("2024-01-01 00:02:00", 4, "click"),
        ("2024-01-01 00:03:00", 4, "purchase"),
    ])
    _write_batch(spark, src, [
        ("2024-01-01 00:10:00", 2, "error"),   # the voiding instant
        ("2024-01-10 00:00:00", 99, "view"),   # watermark flush
    ])
    stream = (spark.readStream
              .schema("event_id bigint, ts timestamp, user_id bigint, "
                      "event_type string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (negated_funnel_monitor(stream, steps, negs, watermark="1 hour")
         .writeStream.format("memory").queryName("negcep_t")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_negcep"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not drain in time"
    got = {(r["user_id"], r["t1"], r["t2"], r["t3"])
           for r in spark.sql("select * from negcep_t").collect()}
    batch = (negated_funnel_times(spark.read.parquet(src), steps, negs)
             .filter(F.col("t3").isNotNull()).collect())
    want = {(r["user_id"], r["t1"], r["t2"], r["t3"]) for r in batch}
    assert got == want
    assert {u for u, *_ in got} == {1, 3, 4}   # u2 voided, no emission


def test_streaming_negated_funnel_validates(spark):
    from flink_rag_spark.streaming.cep import negated_funnel_monitor
    with pytest.raises(ValueError, match="out of range"):
        negated_funnel_monitor(None, ["a", "b"], {2: "c"})


# ------------------------------------------- fused FK audit (r9 verdict)

def test_fk_integrity_audit_empty_facts(spark):
    from flink_rag_spark.operators.validation import fk_integrity_audit
    facts = spark.createDataFrame([], "id bigint, fk bigint")
    dims = spark.createDataFrame([(10,)], "k bigint")
    r = fk_integrity_audit([("f_d", facts, "fk", dims, "k")]).collect()[0]
    assert r["n_rows"] == 0
    assert r["n_null_keys"] == 0
    assert r["n_orphans"] == 0
    assert r["orphan_rate"] == 0.0


def test_fk_integrity_audit_multi_relation_single_frame(spark):
    from flink_rag_spark.operators.validation import fk_integrity_audit
    facts = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id bigint, fk bigint")
    dims = spark.createDataFrame([(10,), (20,)], "k bigint")
    dims2 = spark.createDataFrame([(99,), (10,)], "k bigint")
    out = fk_integrity_audit([
        ("f_d", facts, "fk", dims, "k"),
        ("f_d2", facts, "fk", dims2, "k"),
    ])
    rows = {r["relation"]: r for r in out.collect()}
    assert rows["f_d"]["n_orphans"] == 1       # fk=99
    assert rows["f_d"]["orphan_rate"] == 0.25
    assert rows["f_d2"]["n_orphans"] == 1      # fk=20
    assert rows["f_d2"]["n_null_keys"] == 1
    # one lazy frame, |relations| rows — not |relations| driver actions
    assert out.count() == 2
