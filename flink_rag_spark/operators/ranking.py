"""Lexical (BM25) ranking and hybrid rank fusion — the OTHER half of the
reference's retrieval backend, re-expressed Spark-first.

The reference delegates retrieval to OpenSearch (``RAG.java:51-63``), whose
text scoring is Lucene BM25 and whose production deployments pair that
lexical tier with the k-NN tier in a hybrid query. This engine already has
the k-NN half (``operators/similarity.py``); this module adds:

- ``bm25_topk`` — classic Okapi BM25 (Lucene's variant of Robertson's idf)
  over whitespace tokens, as pure declarative aggregation: one explode of
  the corpus filtered to the QUERY'S terms before any shuffle (so shuffle
  volume is matching postings, never the full token stream), document
  lengths and the average length as broadcast aggregates, score assembled
  in one whole-stage-codegen projection. No Python anywhere.
- ``rrf_fuse`` — Reciprocal Rank Fusion (Cormack et al.): each input
  ranking contributes 1/(k0 + rank); rankings are tiny top-k frames, so
  the fusion is a union + one aggregate over ≤ Σk rows.
- ``hybrid_topk`` — BM25 ∪ cosine top-k fused by RRF — the OpenSearch
  hybrid-query shape on plain DataFrames.

At 100 TB: the postings filter (``term IN query_terms``) pushes to the
scan; tf/df aggregates are partial-agg friendly; every per-query frame is
k-bounded. The whole pipeline has exact DuckDB oracle SQL (same tokens,
same formula, same tie-breaks) — see plans/catalog_extra.py.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from flink_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from flink_rag_spark.functions.textfns import TOKENS_DUCK, TOKENS_SPARK
from flink_rag_spark.operators.util import (
    commit_staged,
    replace_dir,
    settle_dir,
    settle_staged,
    staged_moves,
    write_json,
)

#: standard Okapi defaults (and Lucene's)
BM25_K1 = 1.2
BM25_B = 0.75
#: the RRF constant from Cormack et al. (and OpenSearch's default)
RRF_K0 = 60

ROUND_DP = 6


def _norm_terms(query_terms: list[str]) -> list[str]:
    """Lowercased, deduped, order-stable query terms."""
    seen: dict[str, None] = {}
    for t in query_terms:
        seen.setdefault(t.strip().lower(), None)
    return [t for t in seen if t]


def bm25_scores(docs: DataFrame, query_terms: list[str] | DataFrame,
                text_col: str = "text", id_col: str = "doc_id",
                k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """(id, score) — Okapi BM25 of every document that matches ≥1 query
    term. idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene's non-negative
    variant); tf normalized by k1/b with length ratio dl/avgdl.

    ``query_terms`` is either a literal list (pushed to the scan as an
    ``IN`` filter) or a small single-column ``(term)`` DataFrame
    (filtered by a broadcast join) — the latter lets DATA-DEPENDENT term
    sets (e.g. RM3 expansion election) stay inside one Spark job instead
    of round-tripping through a driver collect.

    Plan shape: tokens explode ONCE, filtered to the query's terms before
    the (id, term) aggregate — the shuffle carries matching postings only.
    N / avgdl ride as a broadcast 1-row aggregate; df per term is a
    |terms|-row aggregate joined back on the term.
    """
    toks = TOKENS_SPARK.format(s=f"lower({text_col})")
    tokens = docs.select(F.col(id_col),
                         F.explode(F.expr(toks)).alias("term"))
    if isinstance(query_terms, DataFrame):
        matched = tokens.join(F.broadcast(query_terms.select("term")),
                              on="term")
    else:
        matched = tokens.filter(
            F.col("term").isin(_norm_terms(query_terms)))
    postings = (matched.groupBy(id_col, "term")
                .agg(F.count(F.lit(1)).alias("tf")))
    dl = docs.select(F.col(id_col),
                     F.expr(f"size({toks})").cast("double").alias("dl"))
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.expr(f"size({toks})")).alias("avgdl"))
    dfreq = (postings.groupBy("term")
             .agg(F.count(F.lit(1)).cast("double").alias("df")))
    scored = (postings
              .join(dl, on=id_col)
              .join(F.broadcast(dfreq), on="term")
              .crossJoin(F.broadcast(stats)))
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1.0)
               / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))))
    return (scored.withColumn("term_score", idf * tf_part)
            .groupBy(id_col)
            .agg(F.round(F.sum("term_score"), ROUND_DP).alias("score")))


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
              text_col: str = "text", id_col: str = "doc_id",
              k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Top-k by BM25, deterministic tie-break on id. Returns
    (id, score, rank) — the lexical twin of similarity.cosine_topk."""
    scored = bm25_scores(docs, query_terms, text_col, id_col, k1, b)
    topk = scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)
    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score"), F.col(id_col))))


def rrf_fuse(rankings: list[DataFrame], id_col: str = "doc_id",
             k0: int = RRF_K0, k: int | None = None) -> DataFrame:
    """Reciprocal Rank Fusion over (id, rank) frames:
    score(d) = Σ_r 1/(k0 + rank_r(d)). Frames are k-bounded per source, so
    the union + aggregate touches ≤ Σk rows. Returns (id, rrf_score, rank)
    ordered by fused score (tie-break on id)."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking frame")
    parts = [r.select(F.col(id_col),
                      (1.0 / (F.lit(float(k0)) + F.col("rank")))
                      .alias("contrib"))
             for r in rankings]
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    fused = (allp.groupBy(id_col)
             .agg(F.round(F.sum("contrib"), ROUND_DP).alias("rrf_score")))
    out = fused.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("rrf_score"), F.col(id_col))))
    return out.filter(F.col("rank") <= k) if k else out


def hybrid_topk(docs: DataFrame, embeddings: DataFrame,
                query_terms: list[str], query_vec: list[float],
                k: int = 10, text_col: str = "text",
                doc_id: str = "doc_id", vec_id: str = "vec_id",
                k0: int = RRF_K0) -> DataFrame:
    """The OpenSearch hybrid-query shape: lexical BM25 top-k ∪ cosine
    top-k, fused with RRF. ``embeddings.vec_id`` must align with
    ``docs.doc_id`` (the ingest contract, streaming/ingest.py). Both arms
    retrieve 2k candidates so a document ranked k+1 in one arm can still
    win the fusion."""
    from flink_rag_spark.operators.similarity import cosine_topk

    lex = (bm25_topk(docs, query_terms, k=2 * k,
                     text_col=text_col, id_col=doc_id)
           .select(F.col(doc_id), "rank"))
    vec = (cosine_topk(embeddings, query_vec, k=2 * k, id_col=vec_id)
           .select(F.col(vec_id).alias(doc_id), "rank"))
    return rrf_fuse([lex, vec], id_col=doc_id, k0=k0, k=k)


# ------------------------------------------- Dirichlet query-likelihood

#: Dirichlet smoothing pseudo-count (Zhai & Lafferty 2004's reference
#: default) — at corpus avgdl ≪ μ the background dominates, which is the
#: documented behavior, not a bug
LM_MU = 2000.0


def lm_dirichlet_scores(docs: DataFrame, query_terms: list[str],
                        text_col: str = "text", id_col: str = "doc_id",
                        mu: float = LM_MU) -> DataFrame:
    """(id, score) — Dirichlet-smoothed query-likelihood language-model
    retrieval (Zhai & Lafferty 2004, "A study of smoothing methods for
    language models applied to information retrieval"), the OTHER
    classical lexical model beside BM25 (Lucene's LMDirichletSimilarity):

        score(q, d) = Σ_{w ∈ q} ln( (tf(w,d) + μ·P(w|C)) / (|d| + μ) )

    with P(w|C) = cf(w)/|C| (collection term frequency over total corpus
    tokens). The sum runs over ALL query terms — absent terms contribute
    the background ln(μ·P(w|C)/(|d|+μ)), which is what makes document
    LENGTH matter; ranking only present-term contributions is a known
    wrong shortcut. Candidates are documents matching ≥1 query term (a
    no-term document scores pure background for every term — a constant
    given its length, never competitive — the standard candidate prune
    BM25 uses too). Terms with cf = 0 (absent from the corpus) are
    skipped, mirroring Lucene (ln 0 is undefined and the term carries no
    signal).

    Plan shape (the bm25_scores discipline): tokens explode ONCE,
    filtered to the query's terms before the (id, term) aggregate;
    |C| and per-term cf ride as broadcast ≤|Q|-row frames; candidates
    cross-join the |Q|-row term table (broadcast) and LEFT-join their
    postings so absent terms hit the background branch. One shuffle on
    the id; everything else is codegen."""
    terms = _norm_terms(query_terms)
    toks = TOKENS_SPARK.format(s=f"lower({text_col})")
    tokens = docs.select(F.col(id_col),
                         F.explode(F.expr(toks)).alias("term"))
    matched = tokens.filter(F.col("term").isin(terms))
    postings = (matched.groupBy(id_col, "term")
                .agg(F.count(F.lit(1)).alias("tf")))
    dl = docs.select(F.col(id_col),
                     F.expr(f"size({toks})").cast("double").alias("dl"))
    total = docs.agg(F.sum(F.expr(f"size({toks})"))
                     .cast("double").alias("c_len"))
    cf = (matched.groupBy("term")
          .agg(F.count(F.lit(1)).cast("double").alias("cf")))
    cand = postings.select(id_col).distinct()
    grid = (cand.join(F.broadcast(cf), how="cross")  # |cand|·|terms ∩ C|
            .join(postings, on=[id_col, "term"], how="left")
            .join(dl, on=id_col)
            .crossJoin(F.broadcast(total)))
    p_bg = F.col("cf") / F.col("c_len")
    term_score = F.log((F.coalesce(F.col("tf"), F.lit(0))
                        + F.lit(mu) * p_bg)
                       / (F.col("dl") + F.lit(mu)))
    return (grid.withColumn("_ts", term_score)
            .groupBy(id_col)
            .agg(F.round(F.sum("_ts"), ROUND_DP).alias("score")))


def lm_dirichlet_topk(docs: DataFrame, query_terms: list[str],
                      k: int = 10, text_col: str = "text",
                      id_col: str = "doc_id",
                      mu: float = LM_MU) -> DataFrame:
    """Top-k by Dirichlet query likelihood, deterministic tie-break on
    id — (id, score, rank), the LM twin of ``bm25_topk``."""
    scored = lm_dirichlet_scores(docs, query_terms, text_col, id_col, mu)
    topk = scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)
    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score"),
                                           F.col(id_col))))


def lm_dirichlet_topk_duck(query_terms: list[str], k: int = 10,
                           text_col: str = "text",
                           id_col: str = "doc_id", mu: float = LM_MU,
                           table: str = "documents") -> str:
    """DuckDB mirror of :func:`lm_dirichlet_topk` — same tokens, same
    full-query sum with background branches, same rounding/tie-break."""
    terms = _norm_terms(query_terms)
    toks = TOKENS_DUCK.format(s=f"lower({text_col})")
    in_list = (", ".join("'" + t.replace("'", "''") + "'" for t in terms)
               or "NULL")
    return f"""
WITH tok AS (
  SELECT {id_col}, unnest({toks}) AS term FROM {table}
),
matched AS (SELECT {id_col}, term FROM tok WHERE term IN ({in_list})),
postings AS (
  SELECT {id_col}, term, COUNT(*) AS tf FROM matched
  GROUP BY {id_col}, term
),
dl AS (
  SELECT {id_col}, CAST(len({toks}) AS DOUBLE) AS dl FROM {table}
),
total AS (
  SELECT CAST(SUM(len({toks})) AS DOUBLE) AS c_len FROM {table}
),
cf AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS cf FROM matched
       GROUP BY term),
cand AS (SELECT DISTINCT {id_col} FROM postings),
scored AS (
  SELECT c.{id_col},
         ROUND(SUM(ln(
           (COALESCE(p.tf, 0) + {mu} * (f.cf / t.c_len))
           / (d.dl + {mu}))), {ROUND_DP}) AS score
  FROM cand c
  CROSS JOIN cf f
  LEFT JOIN postings p ON p.{id_col} = c.{id_col} AND p.term = f.term
  JOIN dl d ON d.{id_col} = c.{id_col}
  CROSS JOIN total t
  GROUP BY c.{id_col}
)
SELECT {id_col}, score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, {id_col}) AS BIGINT)
         AS "rank"
FROM (SELECT * FROM scored
      ORDER BY score DESC, {id_col} LIMIT {k}) t
"""


# ---------------------------------------------------------------- oracles


def bm25_scores_duck(query_terms: list[str], text_col: str = "text",
                     id_col: str = "doc_id", k1: float = BM25_K1,
                     b: float = BM25_B,
                     table: str = "documents") -> str:
    """DuckDB mirror of bm25_scores — same tokens, same formula, same
    rounding — as a SELECT returning (id, score)."""
    terms = _norm_terms(query_terms)
    toks = TOKENS_DUCK.format(s=f"lower({text_col})")
    # empty term list → `IN (NULL)` (matches nothing, like Spark's
    # isin([])) rather than the syntactically invalid `IN ()`
    in_list = (", ".join("'" + t.replace("'", "''") + "'" for t in terms)
               or "NULL")
    return f"""
WITH tok AS (
  SELECT {id_col}, unnest({toks}) AS term FROM {table}
),
postings AS (
  SELECT {id_col}, term, COUNT(*) AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY {id_col}, term
),
dl AS (
  SELECT {id_col}, CAST(len({toks}) AS DOUBLE) AS dl FROM {table}
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         AVG(CAST(len({toks}) AS DOUBLE)) AS avgdl
  FROM {table}
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM postings GROUP BY term
)
SELECT p.{id_col},
       ROUND(SUM(
         ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
         * (p.tf * ({k1} + 1.0)
            / (p.tf + {k1} * (1.0 - {b} + {b} * d.dl / s.avgdl)))
       ), {ROUND_DP}) AS score
FROM postings p
JOIN dl d ON d.{id_col} = p.{id_col}
JOIN dfreq f ON f.term = p.term
CROSS JOIN stats s
GROUP BY p.{id_col}
"""


# ------------------------------------------------------- persisted index

#: partition count for the postings layout (term-hash partitions)
TEXT_INDEX_PARTS = 64

#: the text index's staged commit (util.commit_staged): a batch's
#: postings and doc lengths stage under STAGED, and one intent moves
#: them into place and sets stats.json
TEXT_INTENT = "commit.intent.json"
STAGED = "staged"


def settle_text_index(path: str) -> None:
    """Every text-index writer's first step: undo a compaction swap that
    crashed between its renames, then roll a committed batch forward (or
    clear a batch staged without an intent). Readers never call it: a
    staged file is invisible until its move, and a reader rolling a
    stale intent forward could race the writer's next commit."""
    for sub in ("postings", "doclens"):
        settle_dir(os.path.join(path, sub))
    settle_staged(os.path.join(path, TEXT_INTENT),
                  os.path.join(path, STAGED))


def _commit_text_batch(spark, docs: DataFrame, path: str, text_col: str,
                       id_col: str, n_parts: int,
                       guard: tuple | None = None,
                       replace: bool = False) -> bool:
    """The one write body of the text index, shared by build, append and
    streaming maintenance. Settles first, then reads ``stats.json`` (a
    missing or ``replace``d index starts from empty stats — a cold start
    is just n_docs = total_len = 0). ``guard = (stream_id, batch_id)``
    skips a batch the same stream already committed (returns False) and
    rides in the staged stats, so it commits with the totals.

    Three Spark jobs stage the postings, the doc lengths and the batch's
    totals; then ONE intent commits them (``util.commit_staged``):
    ``replace`` swaps the staged directories in whole (a build),
    otherwise every staged part file moves into its live partition (an
    append — physically exactly once, however often the batch is
    replayed). ``total_len`` makes the stats MERGEABLE: doc lengths are
    integers, so their double sums are exact (≤ 2^53) and avgdl =
    total_len / n_docs is bit-identical however batches split the
    corpus."""
    import json

    settle_text_index(path)
    st = {"n_docs": 0.0, "total_len": 0.0, "n_parts": n_parts}
    stats_p = os.path.join(path, "stats.json")
    if not replace and os.path.exists(stats_p):
        with open(stats_p) as f:
            st = json.load(f)
    if guard is not None:
        stream_id, batch_id = guard
        if (st.get("stream_id") == stream_id
                and st.get("last_batch_id") is not None
                and batch_id <= st["last_batch_id"]):
            return False
        st["stream_id"], st["last_batch_id"] = stream_id, batch_id
    staged = os.path.join(path, STAGED)
    toks = TOKENS_SPARK.format(s=f"lower({text_col})")
    tokens = docs.select(F.col(id_col).alias("doc_id"),
                         F.explode(F.expr(toks)).alias("term"))
    postings = (tokens.groupBy("doc_id", "term")
                .agg(F.count(F.lit(1)).alias("tf"))
                .withColumn("tp", F.pmod(F.hash("term"),
                                         F.lit(int(st["n_parts"])))))
    (postings.repartition("tp").write.mode("overwrite")
     .partitionBy("tp").parquet(os.path.join(staged, "postings")))
    doclens = docs.select(F.col(id_col).alias("doc_id"),
                          F.expr(f"size({toks})").cast("double").alias("dl"))
    (doclens.repartition(1).write.mode("overwrite")
     .parquet(os.path.join(staged, "doclens")))
    batch = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.expr(f"size({toks})")).cast("double").alias("tl")).first()
    st["n_docs"] += batch["n"]
    st["total_len"] += batch["tl"] or 0.0
    st["avgdl"] = (st["total_len"] / st["n_docs"]) if st["n_docs"] else 0.0
    moves = ([[f"{STAGED}/{sub}", sub] for sub in ("postings", "doclens")]
             if replace else staged_moves(path, staged))
    commit_staged(os.path.join(path, TEXT_INTENT), staged,
                  {"moves": moves, "json": {"stats.json": st}})
    return True


def build_text_index(spark, docs: DataFrame, path: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     n_parts: int = TEXT_INDEX_PARTS) -> None:
    """Materialize the inverted-index shape BM25 deployments actually
    query (the inline ``bm25_topk`` scans the corpus text per query —
    right for ad-hoc, wrong at 100 TB):

    - ``postings/`` — (term, doc_id, tf) partitioned by
      ``tp = pmod(hash(term), n_parts)``: a query's terms map to a bounded
      set of tp values, so the scan prunes to ≤ |terms| partitions;
    - ``doclens/``  — (doc_id, dl);
    - ``stats.json`` — corpus row count, total and average doc length.

    Replaces any index at ``path`` through the same staged commit as
    the appends (``_commit_text_batch``), so a crashed build leaves the
    old index or the new one. Same write discipline as the dedup/IVF
    indexes: repartition on the partition column first (no tasks ×
    partitions small-file blowup)."""
    _commit_text_batch(spark, docs, path, text_col, id_col, n_parts,
                       replace=True)


def append_to_text_index(spark, new_docs: DataFrame, path: str,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> None:
    """O(batch) inverted-index maintenance: the batch's postings and doc
    lengths stage, then move into the existing partitions while the
    mergeable stats update in the same commit (``_commit_text_batch``),
    so indexed BM25 after N appends is BIT-IDENTICAL to a full rebuild
    (asserted in tests/test_ranking.py). Assumes NEW doc ids (re-ingest
    of an updated doc needs a compaction-cadence rebuild — appending a
    duplicate id would double its postings); ``compact_text_index``
    restores one-file-per-partition on the same cadence as the other
    persisted indexes. For per-micro-batch maintenance under streaming
    replay, use ``maintain_text_index`` (batch-id guarded)."""
    _commit_text_batch(spark, new_docs, path, text_col, id_col,
                       TEXT_INDEX_PARTS)


def maintain_text_index(spark, new_docs: DataFrame, path: str,
                        batch_id: int, stream_id: str | None = None,
                        text_col: str = "text", id_col: str = "doc_id",
                        n_parts: int = TEXT_INDEX_PARTS) -> bool:
    """Replay-idempotent per-micro-batch maintenance of the inverted
    index — ``append_to_text_index`` behind a ``(stream_id, batch_id)``
    guard, built for ``foreachBatch`` where a crashed micro-batch is
    re-delivered with the SAME batch id (the reference's store-knowledge
    job is exactly this at-least-once shape,
    `StreamingStoreKnowledge.java:30-37` — this extends it to the
    lexical arm of hybrid serving). Returns False when the batch was
    already applied (replay skip).

    The guard rides in the staged ``stats.json``, so it commits in the
    same intent as the batch's rows and totals: a crash before the
    intent leaves nothing (the replay stages again), a crash after it is
    rolled forward by the replay's settle, which then skips the batch —
    postings, doclens and totals land exactly once at every crash point
    (``tests/test_crash_matrix.py``). ``stream_id`` scopes the guard to
    one checkpointed stream: a NEW checkpoint restarts batch ids at 0,
    and a stale ``last_batch_id`` from a previous stream must not
    swallow its batches. A missing index is a cold start from empty
    stats with ``n_parts`` term partitions.

    Single-writer boundary (README): compaction and forgets run from the
    same loop, between batches; each settles a leftover commit first."""
    return _commit_text_batch(spark, new_docs, path, text_col, id_col,
                              n_parts, guard=(stream_id, batch_id))


def compact_text_index(spark, path: str) -> dict[str, int]:
    """Rewrite ``postings/`` to one file per tp partition and ``doclens/``
    to one file after a run of appends; stats are recomputed exactly from
    the compacted doclens. Settles a leftover batch commit first, then
    write-then-swap, same single-writer boundary as the other indexes
    (README). Returns data-file counts."""
    import json

    settle_text_index(path)
    p_path = os.path.join(path, "postings")
    d_path = os.path.join(path, "doclens")
    replace_dir(p_path, lambda tmp: (
        spark.read.parquet(p_path).repartition(F.col("tp"))
        .write.mode("overwrite").partitionBy("tp").parquet(tmp)))
    replace_dir(d_path, lambda tmp: (
        spark.read.parquet(d_path).repartition(1)
        .write.mode("overwrite").parquet(tmp)))
    counts = {sub: sum(1 for _, _, fs in os.walk(t_path)
                       for x in fs if x.endswith(".parquet"))
              for sub, t_path in (("postings", p_path), ("doclens", d_path))}
    stats = (spark.read.parquet(d_path)
             .agg(F.count(F.lit(1)).cast("double").alias("n"),
                  F.sum("dl").cast("double").alias("tl")).first())
    with open(os.path.join(path, "stats.json")) as f:
        st = json.load(f)
    st["n_docs"] = stats["n"]
    st["total_len"] = stats["tl"] or 0.0
    st["avgdl"] = (st["total_len"] / st["n_docs"]) if st["n_docs"] else 0.0
    write_json(os.path.join(path, "stats.json"), st)
    return counts


def _pruned_postings_doclens(spark, path: str, terms: list[str]):
    """Shared index-read scaffolding for every indexed scorer (BM25,
    LM-Dirichlet): load stats.json, prune the postings scan to the
    query terms' hash partitions (the JVM-hash one-row job — a
    driver-side mirror of pmod(hash(term), n_parts) does not exist),
    and pre-filter doclens by a broadcast semi join on the matched ids.
    Returns (stats, postings, doclens, matched_ids) — fix the pruning
    rules HERE and every indexed scorer moves together."""
    import json
    import os

    with open(os.path.join(path, "stats.json")) as f:
        st = json.load(f)
    n_parts = int(st["n_parts"])
    tps = [r["tp"] for r in spark.range(1).select(
        F.explode(F.array(*[
            F.pmod(F.hash(F.lit(t)), F.lit(n_parts)) for t in terms]))
        .alias("tp")).distinct().collect()]
    postings = (spark.read.parquet(os.path.join(path, "postings"))
                .filter(F.col("tp").isin(tps))
                .filter(F.col("term").isin(terms)))
    doclens = spark.read.parquet(os.path.join(path, "doclens"))
    matched_ids = postings.select("doc_id").distinct()
    doclens = doclens.join(F.broadcast(matched_ids),
                           on="doc_id", how="left_semi")
    return st, postings, doclens, matched_ids


def bm25_topk_indexed(spark, path: str, query_terms: list[str],
                      k: int = 10, k1: float = BM25_K1,
                      b: float = BM25_B) -> DataFrame:
    """BM25 top-k against the persisted index: work is O(postings of the
    query's terms) — the postings scan partition-prunes on the terms' hash
    partitions, df per term is a tiny aggregate over those postings, and
    the doclen join is pre-filtered by a broadcast semi join on the
    matched doc ids (bounded by the matched postings). Results are
    bit-identical to the inline ``bm25_topk`` (asserted in
    tests/test_ranking.py)."""
    terms = _norm_terms(query_terms)
    st, postings, doclens, _ = _pruned_postings_doclens(spark, path,
                                                        terms)
    dfreq = (postings.groupBy("term")
             .agg(F.count(F.lit(1)).cast("double").alias("df")))
    scored = (postings
              .join(doclens, on="doc_id")
              .join(F.broadcast(dfreq), on="term"))
    idf = F.log(F.lit(1.0)
                + (F.lit(st["n_docs"]) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1.0)
               / (F.col("tf")
                  + k1 * (1.0 - b + b * F.col("dl") / F.lit(st["avgdl"]))))
    topk = (scored.withColumn("term_score", idf * tf_part)
            .groupBy("doc_id")
            .agg(F.round(F.sum("term_score"), ROUND_DP).alias("score"))
            .orderBy(F.desc("score"), F.col("doc_id")).limit(k))
    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score"), F.col("doc_id"))))


def lm_dirichlet_topk_indexed(spark, path: str, query_terms: list[str],
                              k: int = 10,
                              mu: float = LM_MU) -> DataFrame:
    """Dirichlet query-likelihood top-k against the persisted text index
    — the LM twin of ``bm25_topk_indexed`` (r10 verdict: the inline
    ``lm_dirichlet_scores`` re-tokenizes the corpus per query to get |C|
    and doc lengths; at 100 TB those are statistics the index already
    stores). Everything LM-Dirichlet needs is already committed:

    - per-term cf = SUM(tf) over the term's postings (partition-pruned
      to the query's term hashes — O(postings of the query's terms));
    - |C| = ``stats.json``'s mergeable ``total_len`` (exact integer
      sums, so append/maintain keep it bit-identical to a rebuild);
    - per-doc |d| = ``doclens/``, via the shared
      ``_pruned_postings_doclens`` scaffolding (same pruning as
      BM25).

    Terms absent from the postings (cf = 0) drop out of the broadcast
    cf frame — the same Lucene-mirroring skip as the inline operator —
    and absent-but-in-corpus terms hit the background branch through
    the left join. Results are bit-identical to the inline
    ``lm_dirichlet_topk`` (pinned in tests/test_round11_ops.py)."""
    terms = _norm_terms(query_terms)
    st, postings, doclens, matched_ids = _pruned_postings_doclens(
        spark, path, terms)
    cf = (postings.groupBy("term")
          .agg(F.sum("tf").cast("double").alias("cf")))
    grid = (matched_ids.join(F.broadcast(cf), how="cross")
            .join(postings.select("doc_id", "term", "tf"),
                  on=["doc_id", "term"], how="left")
            .join(doclens, on="doc_id"))
    c_len = float(st["total_len"])
    term_score = F.log((F.coalesce(F.col("tf"), F.lit(0))
                        + F.lit(mu) * (F.col("cf") / F.lit(c_len)))
                       / (F.col("dl") + F.lit(mu)))
    topk = (grid.withColumn("_ts", term_score)
            .groupBy("doc_id")
            .agg(F.round(F.sum("_ts"), ROUND_DP).alias("score"))
            .orderBy(F.desc("score"), F.col("doc_id")).limit(k))
    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score"),
                                           F.col("doc_id"))))


# ------------------------------------------------------------ batch form


def bm25_join(queries: DataFrame, docs: DataFrame | None, k: int = 10,
              query_id: str = "query_id", query_text: str = "query_text",
              text_col: str = "text", id_col: str = "doc_id",
              k1: float = BM25_K1, b: float = BM25_B,
              index_path: str | None = None) -> DataFrame:
    """BM25 top-k for EVERY row of ``queries`` — the lexical twin of
    similarity.knn_join. Each query's UNIQUE terms (classic BM25: query
    term multiplicity does not re-weight) equi-join the corpus postings,
    so shuffle volume is matching postings across the batch, never
    |Q| × corpus. df per term is global (computed from the postings before
    the query join). Returns (query_id, id, score, rank ≤ k).

    ``index_path``: read postings/doclens/stats from a persisted
    ``build_text_index`` layout instead of recomputing them from corpus
    text — the at-scale shape (``docs`` may then be None); results are
    bit-identical (tests/test_ranking.py)."""
    import json
    import os

    qtoks = TOKENS_SPARK.format(s=f"lower({query_text})")
    qterms = (queries.select(F.col(query_id),
                             F.explode(F.expr(qtoks)).alias("term"))
              .distinct())
    all_terms = F.broadcast(qterms.select("term").distinct())
    if index_path is not None:
        spark = queries.sparkSession
        with open(os.path.join(index_path, "stats.json")) as f:
            st = json.load(f)
        # no per-term partition pruning here (terms live in a frame, not a
        # driver list) — the semi join still prunes at the first stage
        postings = (spark.read.parquet(os.path.join(index_path, "postings"))
                    .join(all_terms, on="term", how="left_semi")
                    .select(F.col("doc_id").alias(id_col), "term", "tf"))
        dl = (spark.read.parquet(os.path.join(index_path, "doclens"))
              .select(F.col("doc_id").alias(id_col), "dl"))
        n_docs, avgdl = F.lit(st["n_docs"]), F.lit(st["avgdl"])
        stats = None
    else:
        toks = TOKENS_SPARK.format(s=f"lower({text_col})")
        tokens = docs.select(F.col(id_col),
                             F.explode(F.expr(toks)).alias("term"))
        # postings restricted to terms ANY query uses (semi join before the
        # aggregate — the wordcount shuffle carries queried terms only)
        postings = (tokens.join(all_terms, on="term", how="left_semi")
                    .groupBy(id_col, "term")
                    .agg(F.count(F.lit(1)).alias("tf")))
        dl = docs.select(F.col(id_col),
                         F.expr(f"size({toks})").cast("double").alias("dl"))
        stats = docs.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg(F.expr(f"size({toks})")).alias("avgdl"))
        n_docs, avgdl = F.col("n_docs"), F.col("avgdl")
    dfreq = (postings.groupBy("term")
             .agg(F.count(F.lit(1)).cast("double").alias("df")))
    scored = (postings
              .join(F.broadcast(qterms), on="term")
              .join(dl, on=id_col)
              .join(F.broadcast(dfreq), on="term"))
    if stats is not None:
        scored = scored.crossJoin(F.broadcast(stats))
    idf = F.log(F.lit(1.0)
                + (n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1.0)
               / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)))
    per_q = (scored.withColumn("term_score", idf * tf_part)
             .groupBy(query_id, id_col)
             .agg(F.round(F.sum("term_score"), ROUND_DP).alias("score")))
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.col(id_col))
    return (per_q.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def hybrid_knn_join(queries: DataFrame, docs: DataFrame | None,
                    embeddings: DataFrame, k: int = 10,
                    query_id: str = "query_id",
                    query_text: str = "query_text",
                    query_vec: str = "query_vec",
                    text_col: str = "text", doc_id: str = "doc_id",
                    vec_id: str = "vec_id", k0: int = RRF_K0,
                    text_index: str | None = None,
                    ann_index: tuple | str | None = None,
                    cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Batch hybrid retrieval: per-query BM25 arm (bm25_join) ∪ per-query
    exact cosine arm (similarity.knn_join), fused by RRF per query —
    the full OpenSearch hybrid-query shape for a question BATCH. Each arm
    retrieves 2k; returns (query_id, doc_id, rrf_score, rank ≤ k).
    ``text_index`` routes the lexical arm through a persisted
    ``build_text_index`` layout (``docs`` may then be None);
    ``ann_index`` — a ``(centroids, cells)`` tuple or the path of a
    persisted index of either layout, IVF or IVF-PQ, chosen by the
    directory (``index.index_knn_join``) — routes the vector arm through
    that index, probed with ``cfg``'s budget (approximate — the fused result then inherits the ANN
    recall contract; hybrid fusion is naturally tolerant since a
    neighbor missed by one arm can still arrive through the other)."""
    from flink_rag_spark.operators.index import index_knn_join
    from flink_rag_spark.operators.similarity import knn_join

    lex = (bm25_join(queries, docs, k=2 * k, query_id=query_id,
                     query_text=query_text, text_col=text_col,
                     id_col=doc_id, index_path=text_index)
           .select(query_id, F.col(doc_id), "rank"))
    if ann_index is not None:
        vec = (index_knn_join(queries.sparkSession, ann_index,
                              queries.select(query_id, query_vec), embeddings,
                              k=2 * k, query_id=query_id, query_vec=query_vec,
                              id_col=vec_id, cfg=cfg)
               .select(query_id, F.col(vec_id).alias(doc_id), "rank"))
    else:
        vec = (knn_join(queries.select(query_id, query_vec), embeddings,
                        k=2 * k, query_id=query_id, query_vec=query_vec,
                        id_col=vec_id)
               .select(query_id, F.col(vec_id).alias(doc_id), "rank"))
    both = (lex.select(query_id, doc_id, "rank")
            .unionByName(vec.select(query_id, doc_id, "rank")))
    contrib = both.select(
        query_id, doc_id,
        (1.0 / (F.lit(float(k0)) + F.col("rank"))).alias("contrib"))
    fused = (contrib.groupBy(query_id, doc_id)
             .agg(F.round(F.sum("contrib"), ROUND_DP).alias("rrf_score")))
    w = Window.partitionBy(query_id).orderBy(F.desc("rrf_score"),
                                             F.col(doc_id))
    return (fused.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


# --------------------------------------------- pseudo-relevance feedback

#: RM3-family defaults: feedback depth, expansion width, and the weight
#: of the expansion arm relative to the original query
RM3_N_FB = 10
RM3_N_TERMS = 5
RM3_BETA = 0.4


def rm3_expansion_terms(docs: DataFrame, query_terms: list[str],
                        n_fb: int = RM3_N_FB,
                        n_terms: int = RM3_N_TERMS,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        scored: DataFrame | None = None) -> DataFrame:
    """Pseudo-relevance-feedback expansion terms (the RM1 relevance
    model of Lavrenko & Croft 2001, as used by RM3): take the BM25
    top-``n_fb`` feedback documents, weight every term they contain by
    ``Σ_fb tf(t,d)/|d| × idf(t)`` (uniform feedback-doc prior × the
    corpus idf, which suppresses stopwords without a stoplist), drop
    the original query terms, and return the ``n_terms`` heaviest as
    (term, weight, erank). Deterministic: weights rounded before the
    (weight DESC, term ASC) rank.

    Scale shape: the feedback side is n_fb documents (broadcast); the
    only corpus-wide work is the candidates' document frequencies — a
    semi-join of the token explode against the (tiny, broadcast)
    candidate set, the same pruned-postings discipline as bm25_scores.
    Pass ``scored`` (a precomputed ``bm25_scores`` frame for the same
    query) to derive feedback selection from it instead of scoring
    again — ``rm3_expanded_topk`` does, so the original-query corpus
    pass appears once in its plan."""
    terms = _norm_terms(query_terms)
    toks = TOKENS_SPARK.format(s=f"lower({text_col})")
    if scored is None:
        scored = bm25_scores(docs, terms, text_col, id_col)
    fb_ids = (scored.orderBy(F.desc("score"), F.col(id_col))
              .limit(n_fb).select(id_col))
    fb = docs.join(F.broadcast(fb_ids), on=id_col)
    fb_tok = fb.select(F.col(id_col),
                       F.explode(F.expr(toks)).alias("term"))
    fb_dl = fb.select(F.col(id_col),
                      F.expr(f"size({toks})").cast("double").alias("dl"))
    cand = (fb_tok.filter(~F.col("term").isin(terms))
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .join(fb_dl, on=id_col)
            .groupBy("term")
            .agg(F.sum(F.col("tf") / F.col("dl")).alias("fbw")))
    corpus_tok = (docs.select(F.col(id_col),
                              F.explode(F.expr(toks)).alias("term"))
                  .join(F.broadcast(cand.select("term")), on="term")
                  .distinct())
    dfreq = corpus_tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    w = (cand.join(F.broadcast(dfreq), on="term")
         .crossJoin(F.broadcast(n))
         .select("term", F.round(F.col("fbw") * idf, ROUND_DP)
                 .alias("weight")))
    win = Window.orderBy(F.desc("weight"), F.asc("term"))
    return (w.withColumn("erank", F.row_number().over(win))
            .filter(F.col("erank") <= n_terms))


def rm3_expanded_topk(docs: DataFrame, query_terms: list[str],
                      k: int = 10, n_fb: int = RM3_N_FB,
                      n_terms: int = RM3_N_TERMS,
                      beta: float = RM3_BETA,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """RM3-style expanded retrieval: final score = BM25(original query)
    + β·BM25(expansion terms), top-k with id tie-break.

    ONE Spark job end to end: the expansion terms stay a (≤ n_terms)-row
    frame that the second arm consumes through ``bm25_scores``'
    broadcast-join path (no driver collect), feedback selection derives
    from the SAME scored frame the final combination uses, and the
    final top-k is orderBy().limit(k) — a parallel TakeOrdered — with
    row_number windowed over only the k survivors, never an
    all-to-one-partition sort (same shape as ``bm25_topk``).

    The original-query scored frame feeds two plan consumers (feedback
    selection + the final combination join). An r15 persist of that
    frame was REVERTED in r16 after same-day paired medians (median of
    3, noop sink, deps released between runs, both arm orders tried)
    read the UNPERSISTED plan at 4.3-4.4 s steady-state vs 5.2-6.1 s
    persisted at sf0.1/local[32]: the (id, score) frame is tiny, but
    persisting it serializes the pipeline behind an InMemoryRelation
    materialization barrier, while the duplicated subtree's shuffles
    are cheap (and eligible for exchange reuse) — the r15 claim of
    6.35→4.07 never reproduced in a driver capture (r15 verdict item
    3). Values verified identical across the two shapes."""
    terms = _norm_terms(query_terms)
    orig = bm25_scores(docs, terms, text_col, id_col)
    exp_terms = rm3_expansion_terms(docs, terms, n_fb, n_terms,
                                    text_col, id_col,
                                    scored=orig).select("term")
    es = bm25_scores(docs, exp_terms, text_col, id_col) \
        .withColumnRenamed("score", "s_e")
    j = orig.withColumnRenamed("score", "s_o").join(es, on=id_col,
                                                    how="full")
    comb = j.select(
        id_col,
        F.round(F.coalesce(F.col("s_o"), F.lit(0.0))
                + beta * F.coalesce(F.col("s_e"), F.lit(0.0)),
                ROUND_DP).alias("score"))
    topk = comb.orderBy(F.desc("score"), F.col(id_col)).limit(k)
    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score"),
                                           F.col(id_col))))


def rm3_expanded_topk_duck(query_terms: list[str], k: int = 10,
                           n_fb: int = RM3_N_FB,
                           n_terms: int = RM3_N_TERMS,
                           beta: float = RM3_BETA,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           table: str = "documents") -> str:
    """DuckDB mirror of the WHOLE RM3 chain — feedback selection, term
    weighting, expansion-term choice, and the weighted second pass all
    replay in SQL, so the data-dependent expansion is hash-verified."""
    terms = _norm_terms(query_terms)
    toks = TOKENS_DUCK.format(s=f"lower({text_col})")
    # with no query terms every candidate term survives the original-term
    # exclusion (Spark's ~isin([]) keeps all rows) — emit a vacuous
    # predicate instead of the invalid `NOT IN ()`
    not_orig = ("t.term NOT IN ({})".format(
        ", ".join("'" + t.replace("'", "''") + "'" for t in terms))
        if terms else "TRUE")
    orig = bm25_scores_duck(terms, text_col, id_col, table=table)
    return f"""
WITH orig AS ({orig}),
fb AS (SELECT {id_col} FROM orig
       ORDER BY score DESC, {id_col} LIMIT {n_fb}),
tok AS (SELECT {id_col}, unnest({toks}) AS term FROM {table}),
dl AS (SELECT {id_col}, CAST(len({toks}) AS DOUBLE) AS dl FROM {table}),
fbtf AS (
  SELECT t.{id_col}, t.term, COUNT(*) AS tf
  FROM tok t JOIN fb USING ({id_col})
  WHERE {not_orig}
  GROUP BY t.{id_col}, t.term),
cand AS (
  SELECT f.term, SUM(f.tf / d.dl) AS fbw
  FROM fbtf f JOIN dl d USING ({id_col}) GROUP BY f.term),
dfq AS (
  SELECT term, CAST(COUNT(DISTINCT {id_col}) AS DOUBLE) AS df
  FROM tok JOIN cand USING (term) GROUP BY term),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM {table}),
w AS (
  SELECT c.term,
         ROUND(c.fbw * ln(1.0 + (nn.n_docs - dfq.df + 0.5)
                          / (dfq.df + 0.5)), {ROUND_DP}) AS weight
  FROM cand c JOIN dfq USING (term) CROSS JOIN nn),
exp_terms AS (SELECT term FROM w
              ORDER BY weight DESC, term LIMIT {n_terms}),
postx AS (
  SELECT t.{id_col}, t.term, COUNT(*) AS tf
  FROM tok t JOIN exp_terms USING (term)
  GROUP BY t.{id_col}, t.term),
dfx AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
        FROM postx GROUP BY term),
statsx AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         AVG(CAST(len({toks}) AS DOUBLE)) AS avgdl
  FROM {table}),
expsc AS (
  SELECT p.{id_col},
         ROUND(SUM(
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (p.tf * ({BM25_K1} + 1.0)
              / (p.tf + {BM25_K1} * (1.0 - {BM25_B}
                 + {BM25_B} * d.dl / s.avgdl)))
         ), {ROUND_DP}) AS score
  FROM postx p
  JOIN dl d USING ({id_col})
  JOIN dfx f USING (term)
  CROSS JOIN statsx s
  GROUP BY p.{id_col}),
comb AS (
  SELECT COALESCE(o.{id_col}, e.{id_col}) AS {id_col},
         ROUND(COALESCE(o.score, 0.0)
               + {beta!r} * COALESCE(e.score, 0.0), {ROUND_DP}) AS score
  FROM orig o FULL OUTER JOIN expsc e ON o.{id_col} = e.{id_col}),
ranked AS (
  SELECT {id_col}, score,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, {id_col}) AS INT)
           AS rank
  FROM comb)
SELECT {id_col}, score, rank FROM ranked WHERE rank <= {k}
"""


# ------------------------------------------------- fuzzy term search

#: edit-distance cap for fuzzy term search — OpenSearch's fuzziness
#: AUTO tops out at 2 edits (the backend the reference's text tier
#: delegates to; RAG.java:51's match query accepts `fuzziness`)
FUZZY_MAX_DISTANCE = 2


def _fuzzy_prefix_chars(term: str, max_distance: int) -> str:
    """The query characters a candidate's (d+1)-char prefix must
    intersect: in any alignment with ≤ d edits, at least one of the
    candidate's first d+1 characters is COPIED from the query (d+1
    positions cannot all be inserts/substitutions under d edits), and a
    copied character at candidate position i ≤ d comes from query
    position j ≤ i + d ≤ 2d — so from the query's first 2d+1
    characters. Exact-preserving by construction; shared by operator
    and mirror."""
    return term[:2 * max_distance + 1]


def fuzzy_match_terms(vocab: DataFrame, term: str,
                      max_distance: int = FUZZY_MAX_DISTANCE
                      ) -> DataFrame:
    """Filter a one-column ``(term)`` vocabulary frame to the terms
    within ``max_distance`` edits of ``term`` (lowercased) — the
    OpenSearch ``fuzziness`` term class. Three stages, cheapest first:
    a LENGTH BAND (|len(c) − len(q)| ≤ d — each length change costs an
    edit), the PREFIX-CHARACTER prune of :func:`_fuzzy_prefix_chars`,
    then Spark's thresholded ``levenshtein`` (early-abandons above d —
    the linkage.py discipline). Output: (term, distance)."""
    q = term.strip().lower()
    if not q:
        raise ValueError("term must be non-empty")
    if not 1 <= max_distance <= FUZZY_MAX_DISTANCE:
        raise ValueError(
            f"max_distance must be in 1..{FUZZY_MAX_DISTANCE} "
            f"(the OpenSearch fuzziness cap), got {max_distance}")
    d = max_distance
    out = vocab.filter(
        (F.length("term") >= F.lit(len(q) - d))
        & (F.length("term") <= F.lit(len(q) + d)))
    if len(q) > d:
        # the prune only applies when a (d+1)-prefix must contain a
        # copied char — always true here since len(candidate) ≥
        # len(q) − d ≥ 1 and d+1 candidate positions can't all be edits
        chars = sorted(set(_fuzzy_prefix_chars(q, d)))
        cond = None
        for ch in chars:
            e = F.substring("term", 1, d + 1).contains(ch)
            cond = e if cond is None else (cond | e)
        out = out.filter(cond)
    dist = F.levenshtein(F.col("term"), F.lit(q), d)
    return (out.withColumn("distance", dist)
            .filter(F.col("distance") >= 0)
            .select("term", F.col("distance").cast("int").alias("distance")))


def fuzzy_term_topk(docs: DataFrame, term: str,
                    max_distance: int = FUZZY_MAX_DISTANCE,
                    k: int = 10, text_col: str = "text",
                    id_col: str = "doc_id", k1: float = BM25_K1,
                    b: float = BM25_B) -> DataFrame:
    """Inline fuzzy term search: BM25 top-k over every vocabulary term
    within ``max_distance`` edits of ``term`` — the one Lucene query
    class the text tier lacked (OpenSearch fuzzy term matching; the
    reference's backend accepts ``fuzziness`` on its match query,
    RAG.java:51). The matched variants form the effective query — each
    contributes its own idf·tf, exactly a multi-term BM25 over the
    data-dependent term frame (the bm25_scores DataFrame-terms path).
    Output: (doc_id, score, rank).

    The inline vocabulary is a distinct-terms aggregate over the corpus
    tokens — right for ad-hoc; the serving path is
    :func:`fuzzy_term_topk_indexed` (vocabulary from the persisted
    postings, already term-deduped per partition)."""
    toks = TOKENS_SPARK.format(s=f"lower({text_col})")
    vocab = (docs.select(F.explode(F.expr(toks)).alias("term"))
             .filter(F.col("term") != "").distinct())
    matched = fuzzy_match_terms(vocab, term, max_distance)
    scored = bm25_scores(docs, matched.select("term"), text_col,
                         id_col, k1, b)
    w = Window.orderBy(F.desc("score"), F.col(id_col))
    return (scored
            .orderBy(F.desc("score"), F.col(id_col)).limit(k)
            .withColumn("rank", F.row_number().over(w)))


def fuzzy_term_topk_indexed(spark, path: str, term: str,
                            max_distance: int = FUZZY_MAX_DISTANCE,
                            k: int = 10, k1: float = BM25_K1,
                            b: float = BM25_B) -> DataFrame:
    """Fuzzy term search served from the PERSISTED text index: the
    vocabulary is the postings' term column (column-pruned scan — a
    fuzzy query cannot hash-prune partitions, so the honest cost is one
    vocabulary-bounded distinct + the matched terms' postings), the
    length-band/prefix/levenshtein cascade of :func:`fuzzy_match_terms`
    picks the variants, and BM25 runs over ONLY their postings with df
    from those postings and N/avgdl from stats.json — bit-identical to
    the inline :func:`fuzzy_term_topk` (pinned in tests)."""
    import json
    import os

    with open(os.path.join(path, "stats.json")) as f:
        st = json.load(f)
    postings_all = spark.read.parquet(os.path.join(path, "postings"))
    vocab = postings_all.select("term").distinct()
    matched = fuzzy_match_terms(vocab, term, max_distance)
    postings = postings_all.join(F.broadcast(matched.select("term")),
                                 on="term")
    doclens = spark.read.parquet(os.path.join(path, "doclens"))
    # the matched DOC-ID set must never carry a broadcast hint: a fuzzy
    # neighborhood that reaches a common vocabulary term matches O(corpus)
    # docs, and a forced broadcast of that set kills the driver at scale.
    # The TERM-side frames (matched, dfreq) are vocabulary-bounded —
    # |Σ^(len±d)| edit ball ∩ vocab — so their hints stay; the doc-id
    # semi-join is left to AQE, which broadcasts it only when it measures
    # small.
    matched_ids = postings.select("doc_id").distinct()
    doclens = doclens.join(matched_ids, on="doc_id", how="left_semi")
    dfreq = (postings.groupBy("term")
             .agg(F.count(F.lit(1)).cast("double").alias("df")))
    scored = (postings
              .join(doclens, on="doc_id")
              .join(F.broadcast(dfreq), on="term"))
    idf = F.log(F.lit(1.0)
                + (F.lit(st["n_docs"]) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1.0)
               / (F.col("tf")
                  + k1 * (1.0 - b + b * F.col("dl") / F.lit(st["avgdl"]))))
    topk = (scored.withColumn("term_score", idf * tf_part)
            .groupBy("doc_id")
            .agg(F.round(F.sum("term_score"), ROUND_DP).alias("score"))
            .orderBy(F.desc("score"), F.col("doc_id")).limit(k))
    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score"),
                                           F.col("doc_id"))))


def fuzzy_term_topk_duck(term: str,
                         max_distance: int = FUZZY_MAX_DISTANCE,
                         k: int = 10, text_col: str = "text",
                         id_col: str = "doc_id", k1: float = BM25_K1,
                         b: float = BM25_B,
                         table: str = "documents") -> str:
    """DuckDB mirror of :func:`fuzzy_term_topk` — the same length band
    and levenshtein threshold pick the variants (the prefix prune is
    exact-preserving, so the mirror may skip it), then the bm25 mirror
    formula over the matched terms."""
    q = term.strip().lower().replace("'", "''")
    d = max_distance
    toks = TOKENS_DUCK.format(s=f"lower({text_col})")
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, UNNEST({toks}) AS term FROM {table}),
toks_ne AS (SELECT * FROM toks WHERE term <> ''),
matched AS (
  SELECT DISTINCT term FROM toks_ne
  WHERE LENGTH(term) BETWEEN {len(q) - d} AND {len(q) + d}
    AND levenshtein(term, '{q}') <= {d}),
tf AS (
  SELECT doc_id, t.term, COUNT(*) AS tf
  FROM toks_ne t JOIN matched m ON t.term = m.term
  GROUP BY doc_id, t.term),
dl AS (
  SELECT {id_col} AS doc_id,
         CAST(LENGTH({toks}) AS DOUBLE) AS dl
  FROM {table}),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         AVG(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
          FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         LN(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (tf.tf * ({k1} + 1.0)
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / s.avgdl)))
           AS term_score
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
  JOIN dfreq f ON tf.term = f.term
  CROSS JOIN stats s),
topk AS (
  SELECT doc_id, ROUND(SUM(term_score), {ROUND_DP}) AS score
  FROM scored GROUP BY doc_id
  ORDER BY score DESC, doc_id LIMIT {k})
SELECT doc_id, score,
       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
FROM topk
"""
