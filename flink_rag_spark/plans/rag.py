"""The flagship RAG plan — the reference's full answer path (AiJob.java:46-50
→ RAG.java:29-99) re-expressed for a question BATCH:

    question → embed (A8) → exact cosine top-k (A9) → context lookup +
    concat (A10) → prompt template (A10) → chat (A11)

The reference pays 3 synchronous HTTP round-trips and rebuilds every client
per record (RAG.java:31-44,87-94 — SURVEY.md §2.1 'inconsistencies'). Here
the batch is collected once and embedded on the driver in one provider
call; exact retrieval is ONE mapInPandas pass over the corpus with the
query matrix broadcast (``similarity.fused_knn``, bit-identical to the
``knn_join`` plan), the winners' text comes back in one bounded lookup,
and chat is an Arrow-batched pandas UDF that runs on the executors when
the answers are written. At micro-batch sizes Spark's per-job scheduling,
not compute, sets the latency, so the path spends four jobs per batch.

Every entry — ``rag_answer`` (all three retrievals, batch and stream) and
the oracle-checked chains — collects its hits as bounded (question_id,
vec_id, rank) rows and ends in the same driver-side tail (``_answer``):
only retrieval differs between them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from flink_rag_spark.functions.providers import LocalDeterministicProvider, chat_col
from flink_rag_spark.operators.similarity import fused_knn, knn_join
from flink_rag_spark.sources.tables import load_table


# the fixed pre-embedded query set for the oracle-checked assembly entry —
# spread across the corpus, stable at every SF (embeddings always has ≥500
# rows, FIXTURES.md §B)
RAG_ORACLE_QUERY_IDS = (0, 7, 13, 21, 42)

#: the filtered chain's corpus predicate (tenant-isolation demo)
RAG_FILTER_PREDICATE = "label < 3"

# the columns retrieval reads from a live ingest store; an explicit schema
# spares every read of the store a schema-inference job
_STORE_SCHEMA = "vec_id bigint, text string, embedding array<float>"


def _local_provider(cfg: EngineConfig) -> LocalDeterministicProvider:
    return LocalDeterministicProvider(cfg.embedding_dims, cfg.seed)


def _corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(embeddings, documents as (vec_id, text)): doc_id aligns 1:1 with
    vec_id (FIXTURES.md §B), so retrieved ids join straight to text. The
    embeddings are read as scanned, never round-robined: the scoring pass
    is one narrow stage, and ``run_answer_stream`` widens its persisted
    copy once."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "text")
    return load_table(spark, sf_dir, "embeddings", widen=False), docs


def _oracle_questions(emb: DataFrame, docs: DataFrame
                      ) -> tuple[DataFrame, DataFrame]:
    """The oracle questions ``RAG_ORACLE_QUERY_IDS``: (question_id,
    query_vec) and (question_id, question) — the query doc's own text."""
    ids = list(RAG_ORACLE_QUERY_IDS)
    queries = (emb.filter(F.col("vec_id").isin(ids))
               .select(F.col("vec_id").alias("question_id"),
                       F.col("embedding").alias("query_vec")))
    qtext = (docs.filter(F.col("vec_id").isin(ids))
             .select(F.col("vec_id").alias("question_id"),
                     F.col("text").alias("question")))
    return queries, qtext


def _rows(df: DataFrame) -> list[tuple]:
    """A bounded frame (questions, or hits as question_id, vec_id, rank)
    collected as tuples."""
    return [tuple(r) for r in df.collect()]


def _answer(spark: SparkSession, questions: list[tuple], hits: list[tuple],
            docs: DataFrame, cfg: EngineConfig, provider=None,
            qid_type=LongType(), keep_unanswered: bool = False
            ) -> DataFrame:
    """The answer tail of every entry, on the driver: ``questions``
    (question_id, question) and ``hits`` (question_id, vec_id, rank)
    rows, one bounded lookup of the hits' text in ``docs``, the
    rank-ordered context concat and the literal two-slot template fill
    (A10: the text around ``{question}`` and ``{information}`` is copied
    verbatim, so a ``%`` is just a character). Returns a local relation
    (question_id, question, information, prompt) with ``answer`` as a chat
    (A11) pandas-UDF column when a ``provider`` is given, so chat runs on
    the executors when the answers are written.

    A hit without a ``docs`` row adds no text, and a question whose hits
    found none has a null ``information``: ``keep_unanswered`` (the
    serving path) keeps it with an empty context, the oracle chains drop
    it, as their SQL mirrors' inner join does."""
    texts: dict = {}
    ids = sorted({h[1] for h in hits})
    if ids:
        for vid, text in _rows(docs.filter(F.col("vec_id").isin(ids))
                               .select("vec_id", "text")):
            texts.setdefault(vid, []).append(text)
    context: dict = {}
    for qid, vid, _rank in sorted(hits, key=lambda h: h[2]):
        if vid in texts:
            context.setdefault(qid, []).extend(
                sorted(t for t in texts[vid] if t is not None))
    pre, rest = cfg.prompt_template.split("{question}")
    mid, post = rest.split("{information}")
    rows = []
    for qid, question in questions:
        info = (cfg.context_separator.join(context[qid]) if qid in context
                else None)
        if info is None and not keep_unanswered:
            continue
        prompt = (None if question is None
                  else pre + question + mid + (info or "") + post)
        rows.append((qid, question, info, prompt))
    # one partition per provider batch of prompts: a micro-batch's chat
    # then runs as one task rather than as many near-empty ones
    slices = max(1, -(-len(rows) // cfg.provider_batch_size))
    out = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), StructType([
            StructField("question_id", qid_type),
            *(StructField(c, StringType())
              for c in ("question", "information", "prompt"))]))
    if provider is not None:
        out = out.withColumn("answer",
                             chat_col(provider, cfg)(F.col("prompt")))
    return out


def _oracle_chain(spark: SparkSession, sf_dir: str, cfg: EngineConfig,
                  where=None, chat: bool = False) -> DataFrame:
    """Exact cosine top-k (A9) for the oracle questions, then the answer
    tail; ``where`` filters the corpus side of the retrieval only."""
    emb, docs = _corpus(spark, sf_dir)
    queries, qtext = _oracle_questions(emb, docs)
    qvecs = sorted(_rows(queries))
    hits = [(qvecs[qi][0], vid, rank) for qi, vid, _, rank in fused_knn(
        emb, np.asarray([v for _, v in qvecs], dtype=np.float64),
        k=cfg.retrieval_k, min_score=cfg.min_score, where=where)]
    return _answer(spark, _rows(qtext), hits, docs, cfg,
                   _local_provider(cfg) if chat else None)


def rag_context_assembly(spark: SparkSession, sf_dir: str,
                         cfg: EngineConfig = DEFAULT_CONFIG,
                         where=None) -> DataFrame:
    """The flagship's retrieval+assembly chain from PRE-EMBEDDED query
    vectors — the SQL-expressible core of ``rag_answer`` (everything
    downstream of the question embedding), hash-verified against DuckDB.

    Covers reference semantics ``RAG.java:51-84`` end to end: exact cosine
    top-k (A9, k=10 / minScore=0), retrieved-text join, rank-ordered
    ``\\n\\n`` concat, and two-slot template fill (A10). ``rag_answer_batch``
    stays rows-only because its query vectors come from a provider UDF; this
    entry pins the same downstream plan with vectors taken from the
    ``embeddings`` table (the query doc's own text acts as the question).

    ``where``: corpus-side metadata filter on the retrieval (tenant
    isolation / source filters — knn_join's filtered-k-NN contract);
    the QUESTION vectors come from the unfiltered table (a tenant's
    query may be any document)."""
    return _oracle_chain(spark, sf_dir, cfg, where=where)


def rag_answer_oracle(spark: SparkSession, sf_dir: str,
                      cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """The FULL RAG chain hash-verified: ``rag_context_assembly`` (A9+A10)
    extended through the chat step (A11) to the ``answer`` column.

    The chat call is the REAL A11 path — the same Arrow-batched
    ``chat_col`` pandas UDF ``rag_answer`` uses (reference semantics
    RAG.java:86-95) — with the deterministic local provider, whose reply is
    a pure string function of the prompt
    (``'[answer:' + md5(prompt)[:8] + '] ' + prompt[:200]``,
    functions/providers.py:85-89). DuckDB mirrors it with
    ``md5()``/``substr``, so the driver's value hash now covers
    embed-free retrieval → assembly → template → chat end to end; only the
    question-embedding UDF (graded via its own entries) stays outside the
    SQL-expressible span."""
    return _oracle_chain(spark, sf_dir, cfg, chat=True)


def rag_filtered_answer(spark: SparkSession, sf_dir: str,
                        cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """The FULL RAG chain under a corpus metadata filter — the tenant-
    isolation / source-filter serving shape (OpenSearch's filtered
    k-NN, the capability the round-11 ``where=`` tiers map): identical
    to ``rag_answer_oracle`` but retrieval sees only ``label < 3``
    vectors, filter-then-score, so every retrieved context chunk
    satisfies the predicate and the context is still exactly k chunks.
    Hash-verified end to end like the unfiltered chain."""
    return _oracle_chain(spark, sf_dir, cfg, where=RAG_FILTER_PREDICATE,
                         chat=True)


def rag_answer(spark: SparkSession, sf_dir: str,
               questions: DataFrame | list[str] | None = None,
               cfg: EngineConfig = DEFAULT_CONFIG,
               provider=None, with_chat: bool = True,
               extra_store_path: str | None = None,
               retrieval: str = "exact",
               ann_index: tuple | str | None = None,
               text_index: str | None = None) -> DataFrame:
    """Answer a batch of questions against the sf_dir corpus.

    Runs retrieval at call time: the questions (a list, or a frame of
    question_id, question) are collected once and embedded on the
    driver, ``cfg.max_driver_queries`` at a time; each chunk retrieves
    in one Spark job, and one bounded lookup fetches the winners' text.
    Returns a local relation (question_id, question, information,
    prompt) plus the chat UDF's ``answer`` column when ``with_chat``, so
    chat runs on the executors when the result is written or collected.

    ``extra_store_path``: a live ingest store (streaming/ingest.py schema
    vec_id/text/embedding) unioned into both the vector and text sides —
    freshly ingested knowledge is retrievable in the same session
    (the reference's freshness loop, README.md:241-267).

    ``retrieval``: 'exact' (cosine top-k, one ``fused_knn`` pass over the
    corpus), 'ann' (IVF probe) or 'hybrid' (BM25 + cosine, RRF-fused per
    question); any other value raises ValueError.

    ``ann_index``: for retrieval='ann', None (centroids trained inline),
    a (centroids, cells) tuple (store-predating index: the whole live
    store probes as the tail) or the PATH of a persisted index of either
    layout maintained by ``run_ingest(ivf_index=...)``. The directory
    says IVF or IVF-PQ (``index.index_knn_join``), and freshness comes
    from the index's own pending tail, bounded by the flush cadence by
    construction.

    ``text_index``: for retrieval='hybrid', the path of a persisted
    ``build_text_index`` layout — the lexical arm then reads pruned
    postings instead of re-tokenizing the corpus per batch (the serving
    shape; an ``ann_index`` tuple or path likewise routes the vector arm
    through that index). Indexed arms serve the INDEXED corpus: with
    ``extra_store_path`` the fresh tail is only guaranteed through
    non-indexed arms, so pair indexes with their own maintenance cadence
    (run_ingest) rather than a live store.
    """
    emb, docs = _corpus(spark, sf_dir)
    return _rag_answer(spark, emb.select("vec_id", "embedding"), docs,
                       questions, cfg, provider, with_chat, extra_store_path,
                       retrieval, ann_index, text_index)


def _rag_answer(spark: SparkSession, emb: DataFrame, docs: DataFrame,
                questions, cfg: EngineConfig, provider, with_chat: bool,
                store_path: str | None, retrieval: str, ann_index,
                text_index: str | None) -> DataFrame:
    """``rag_answer`` over a loaded corpus — (vec_id, embedding) and
    (vec_id, text) frames; ``run_answer_stream`` passes its persisted
    copy so no micro-batch re-reads the static corpus."""
    if retrieval not in ("exact", "ann", "hybrid"):
        raise ValueError("retrieval must be 'exact', 'ann' or 'hybrid', "
                         f"not {retrieval!r}")
    provider = provider or _local_provider(cfg)
    if questions is None:
        questions = [
            "What do I do if it is dark?",          # README.md:192 sample
            "What is the capital of France?",       # README.md:258 freshness q
            "How do I sort a big table fast?",
        ]
    if isinstance(questions, list):
        qrows, qid_type = list(enumerate(questions)), LongType()
    else:
        qrows = _rows(questions.select("question_id", "question"))
        qid_type = questions.schema["question_id"].dataType

    store_vecs = None
    if store_path:
        store = spark.read.schema(_STORE_SCHEMA).parquet(store_path)
        store_vecs = store.select("vec_id", "embedding")
        emb = emb.unionByName(store_vecs)
        docs = docs.unionByName(store.select("vec_id", "text"))

    hits: list[tuple] = []
    step = cfg.max_driver_queries
    for lo in range(0, len(qrows), step):
        chunk = qrows[lo:lo + step]
        qids = [qid for qid, _ in chunk]
        # float32 round-trip: the array<float> an embed UDF would return
        Q = np.asarray(list(provider.embed_batch(
            pd.Series([q for _, q in chunk], dtype=object))),
            dtype=np.float32).astype(np.float64)
        if retrieval == "exact":
            hits += [(qids[qi], vid, rank) for qi, vid, _, rank in fused_knn(
                emb, Q, k=cfg.retrieval_k, min_score=cfg.min_score)]
            continue
        if retrieval == "ann":
            # IVF probe retrieval — the large-corpus path. A prebuilt
            # index amortizes its construction across calls; it predates
            # the live store, so the store IS its un-indexed tail, probed
            # exactly beside the cells (README.md:241-267; a persisted
            # index serves its own pending tail first). Inline centroids
            # train on emb, which already unions the store.
            from flink_rag_spark.operators.index import index_knn_join
            found = index_knn_join(
                spark, ann_index, None, emb, k=cfg.retrieval_k,
                query_id="question_id", cfg=cfg, driver_queries=(qids, Q),
                tail=store_vecs if ann_index is not None else None)
        else:
            # lexical BM25 arm + exact cosine arm, RRF-fused per question —
            # the hybrid query the reference's OpenSearch backend serves
            # (operators/ranking.py); docs/emb already union the live
            # store, so freshness carries through both arms
            from flink_rag_spark.operators.ranking import hybrid_knn_join
            q_hyb = spark.createDataFrame(
                [(qid, q, vec) for (qid, q), vec in zip(chunk, Q.tolist())],
                StructType([StructField("question_id", qid_type),
                            StructField("query_text", StringType()),
                            StructField("query_vec", ArrayType(FloatType()))]))
            found = hybrid_knn_join(q_hyb, None if text_index else docs, emb,
                                    k=cfg.retrieval_k, query_id="question_id",
                                    text_col="text", doc_id="vec_id",
                                    vec_id="vec_id", text_index=text_index,
                                    ann_index=ann_index, cfg=cfg)
        hits += _rows(found.select("question_id", "vec_id", "rank"))
    return _answer(spark, qrows, hits, docs, cfg,
                   provider if with_chat else None, qid_type=qid_type,
                   keep_unanswered=True)


def rag_hybrid_context(spark: SparkSession, sf_dir: str,
                       cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """The HYBRID twin of ``rag_context_assembly``: retrieval is
    BM25 ∪ exact-cosine fused by RRF (operators/ranking.py — the hybrid
    query the reference's OpenSearch backend serves), then the same
    rank-ordered context concat and two-slot template fill. Query text
    comes from the query docs themselves and vectors from the aligned
    embeddings, so every stage is deterministic and the DuckDB oracle
    reproduces fused ranks, context order, and prompts exactly."""
    from flink_rag_spark.operators.ranking import hybrid_knn_join

    emb, docs = _corpus(spark, sf_dir)
    emb = emb.select("vec_id", "embedding")
    queries, qtext = _oracle_questions(emb, docs)
    hits = hybrid_knn_join(
        qtext.withColumnRenamed("question", "query_text")
        .join(queries, on="question_id"),
        docs, emb, k=cfg.retrieval_k, query_id="question_id",
        text_col="text", doc_id="vec_id", vec_id="vec_id")
    return _answer(spark, _rows(qtext),
                   _rows(hits.select("question_id", "vec_id", "rank")),
                   docs, cfg)


def oracle_reranked_hits(spark: SparkSession, sf_dir: str,
                         cfg: EngineConfig = DEFAULT_CONFIG
                         ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Exact cosine top-``RERANK_K0`` per oracle question → provider
    ``rerank_col`` → top ``cfg.retrieval_k`` by (rerank score, score,
    id). Returns (hits (question_id, vec_id, rr_score, score,
    final_rank), question text, documents)."""
    from flink_rag_spark.functions.providers import rerank_col
    from flink_rag_spark.plans.llm import RERANK_K0

    emb, docs = _corpus(spark, sf_dir)
    queries, qtext = _oracle_questions(emb, docs)
    hits = knn_join(queries, emb.select("vec_id", "embedding"), k=RERANK_K0,
                    query_id="question_id")
    pairs = (broadcast(hits.join(broadcast(qtext), on="question_id"))
             .join(docs, on="vec_id")
             .withColumn("rr_score",
                         rerank_col(_local_provider(cfg), cfg)(
                             F.col("question"), F.col("text"))))
    w = Window.partitionBy("question_id").orderBy(
        F.desc("rr_score"), F.desc("score"), F.asc("vec_id"))
    top = (pairs.withColumn("final_rank", F.row_number().over(w))
           .filter(F.col("final_rank") <= cfg.retrieval_k)
           .select("question_id", "vec_id", "rr_score", "score",
                   "final_rank"))
    return top, qtext, docs


def rag_reranked_answer_oracle(spark: SparkSession, sf_dir: str,
                               cfg: EngineConfig = DEFAULT_CONFIG
                               ) -> DataFrame:
    """The full two-stage serving chain hash-verified END TO END:
    ``oracle_reranked_hits`` (exact cosine top-30 → the deterministic
    cross-encoder seam, an int/int overlap both engines compute
    bit-identically → top-k), then the answer tail ordered by the
    RERANKED rank. The DuckDB oracle replays retrieval, rerank scores,
    final ranks, context order, prompts AND answers."""
    top, qtext, docs = oracle_reranked_hits(spark, sf_dir, cfg)
    return _answer(spark, _rows(qtext),
                   _rows(top.select("question_id", "vec_id", "final_rank")),
                   docs, cfg, _local_provider(cfg))
