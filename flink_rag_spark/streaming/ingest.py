"""Knowledge-ingestion job: the Spark re-expression of the reference's
``StreamingStoreKnowledge`` (source ``:30-37`` → Embedder map ``:80-97`` →
vector-store sink ``:54-74``).

Differences by design (SURVEY.md §2.1 known-inconsistency fixes):

- ONE embedding config for ingest and retrieval (the reference embeds with a
  library-default model on write, ``StreamingStoreKnowledge.java:88``, but a
  pinned model on read, ``RAG.java:33``).
- The provider is constructed once per executor task and called per Arrow
  batch (the reference's ``open()`` amortization done right), not per record.
- The vector store is a Spark-managed Parquet table maintained by
  ``foreachBatch`` with idempotent content-hash ids — replaying the source
  (the reference's earliest-offsets cold start) cannot duplicate vectors,
  upgrading the sink from at-least-once writes to effectively-once content.
- Rows carry a ``metadata`` map<string,string> column, mirroring the
  reference's ``TextSegment`` optional metadata
  (``StreamingStoreKnowledge.java:47-51``); sources may supply their own
  ``metadata`` column, which flows through to retrieval.

Store layout — O(batch) upserts at any store size:

The store is HASH-BUCKETED on disk: partitioned by
``bucket = pmod(vec_id, STORE_BUCKETS)``. Each micro-batch's dedup
anti-join reads ONLY the buckets the batch touches (partition pruning at
the scan), so upsert cost is O(|batch| + touched-bucket size), never
O(|store|) — a 1-row batch reads 1 bucket whatever the store holds
(asserted in tests/test_streaming.py::test_upsert_prunes_to_touched_buckets).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.errors import AnalysisException

from flink_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from flink_rag_spark.functions.providers import Provider, embed_text_col
from flink_rag_spark.operators.util import (
    replace_dir,
    settle_dir,
    track_cached_deps,
    unpersist_cached_deps,
)
from flink_rag_spark.session import ensure_runtime_confs

# content-addressed id: first 60 bits of md5(text) — deterministic across
# batches/runs, so re-ingesting the same fact is a no-op after the anti-join.
VEC_ID_EXPR = "CAST(conv(substring(md5(value), 1, 15), 16, 10) AS BIGINT)"

# disk buckets for the store. At 100 TB this is sized so one bucket's vec_id
# column fits an executor (e.g. 4096); the pruning math is identical.
STORE_BUCKETS = 64


def _bucket_col(vec_id: str = "vec_id", buckets: int = STORE_BUCKETS) -> F.Column:
    return F.pmod(F.col(vec_id), F.lit(buckets)).cast("int")


def chunk_stream(stream: DataFrame,
                 window: int | None = None,
                 stride: int | None = None) -> DataFrame:
    """value:string stream → one row per overlapping token-window chunk,
    with provenance metadata ({parent_id, chunk_id, chunk_tokens}).

    The reference embeds each document as ONE segment
    (StreamingStoreKnowledge.java:44-52), which caps retrieval quality and
    embedding-input length at short-document scale; chunk-level ingestion
    is the standard RAG shape. Streaming-safe (narrow projection +
    posexplode — no state, no watermark needed); chunk ids are
    content-derived so the downstream content-hash upsert stays
    replay-idempotent per CHUNK."""
    from flink_rag_spark.operators.curation import (
        DEFAULT_CHUNK_STRIDE,
        DEFAULT_CHUNK_TOKENS,
        chunk_documents,
    )
    window = window or DEFAULT_CHUNK_TOKENS
    stride = stride or DEFAULT_CHUNK_STRIDE
    base_meta = (F.col("metadata") if "metadata" in stream.columns
                 else F.expr("map()").cast("map<string,string>"))
    base = stream.withColumn("_parent_id", F.expr(VEC_ID_EXPR)) \
                 .withColumn("_base_meta", base_meta)
    chunked = chunk_documents(
        base.select("_parent_id", "_base_meta", F.col("value")),
        "value", "_parent_id", window=window, stride=stride,
        carry_cols=("_base_meta",))
    # strip the reserved provenance keys from the incoming map first:
    # map_concat throws under Spark's default mapKeyDedupPolicy=EXCEPTION
    # on duplicate keys, so re-ingesting an already-chunked store (whose
    # metadata already carries parent_id/chunk_id/chunk_tokens) would
    # otherwise fail the whole micro-batch
    reserved = "array('parent_id', 'chunk_id', 'chunk_tokens')"
    cleaned = F.expr(
        f"map_filter(_base_meta, (k, v) -> NOT array_contains({reserved}, k))")
    meta = F.map_concat(
        cleaned,
        F.create_map(
            F.lit("parent_id"), F.col("_parent_id").cast("string"),
            F.lit("chunk_id"), F.col("chunk_id").cast("string"),
            F.lit("chunk_tokens"), F.col("chunk_tokens").cast("string")))
    return chunked.select(F.col("chunk_text").alias("value"),
                          meta.alias("metadata"))


def embed_stream(stream: DataFrame, provider: Provider | None = None,
                 cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """value:string stream → (vec_id, text, embedding, metadata) — the A5
    Embedder. A ``metadata`` map column on the source flows through
    (TextSegment metadata analog); absent one, an empty map is stored."""
    meta = (F.col("metadata") if "metadata" in stream.columns
            else F.expr("map()").cast("map<string,string>"))
    return stream.select(
        F.expr(VEC_ID_EXPR).alias("vec_id"),
        F.col("value").alias("text"),
        embed_text_col(provider, cfg)(F.col("value")).alias("embedding"),
        meta.alias("metadata"),
    )


def migrate_flat_store(spark: SparkSession, store_path: str,
                       buckets: int = STORE_BUCKETS) -> None:
    """One-time rewrite of a pre-bucketing (round-1 flat) store into the
    bucketed layout, filling a missing ``metadata`` column with empty maps.
    Write-then-swap (``operators.util.replace_dir``), so readers never see
    a hybrid flat+partitioned directory (Spark cannot read one).

    Crash-safe on re-entry: a retry after a failure mid-swap first settles
    the swap (restores the store from ``.swap.old`` when the store path is
    missing, clears any stale ``.swap.tmp``), so the migration is
    idempotent. The swap renames directories and therefore assumes a
    LOCAL (or POSIX-mounted) filesystem — on object stores, run the
    equivalent rewrite with your store's atomic-commit primitive
    instead."""
    def write(tmp: str) -> None:
        flat = spark.read.parquet(store_path)
        meta = (F.col("metadata") if "metadata" in flat.columns
                else F.expr("map()").cast("map<string,string>"))
        (flat.select("vec_id", "text", "embedding", meta.alias("metadata"))
         .withColumn("bucket", _bucket_col(buckets=buckets))
         .write.mode("overwrite").partitionBy("bucket").parquet(tmp))

    replace_dir(store_path, write)


def existing_ids_pruned(spark: SparkSession, store_path: str,
                        touched_buckets: list[int]) -> DataFrame | None:
    """vec_ids already stored in the touched buckets — a partition-pruned
    scan (PartitionFilters on `bucket`), never a full-store read.

    A pre-bucketing store (round-1 flat layout, no `bucket` partition
    column) is migrated in place first (one-time rewrite) — appending
    ``bucket=N/`` directories into a flat store would leave an unreadable
    hybrid layout. A store swap (compaction, flat upsert/delete) that
    crashed between its renames is settled first, so a missing store
    means "first batch", never "mid-swap"."""
    settle_dir(store_path)
    try:
        store = spark.read.parquet(store_path)
    except AnalysisException:
        return None  # first batch — store doesn't exist yet
    if "bucket" not in store.columns:  # legacy flat layout
        migrate_flat_store(spark, store_path)
        store = spark.read.parquet(store_path)
    return (store.filter(F.col("bucket").isin(touched_buckets))
            .select("vec_id"))


def upsert_batch(batch: DataFrame, store_path: str,
                 buckets: int = STORE_BUCKETS,
                 on_new=None) -> None:
    """Idempotent append of one micro-batch into the bucketed store.

    Within-batch dups collapse deterministically; against-store dups are
    dropped with a left-anti join against ONLY the buckets this batch
    touches (micro-batches are small → few distinct buckets → the store
    scan prunes to those partition directories). Parquet-append +
    content-keyed ids keeps replays idempotent without a transactional log.

    ``on_new``: callback invoked with the genuinely-new rows (deduped,
    anti-joined vs the store) BEFORE the store write — the hook point for
    secondary-index maintenance that must precede the store commit: a
    crash between the hook and the store write replays with the SAME
    new-row set (the store is unchanged), so a batch-id-guarded index
    applies it exactly once; a crash after the store write replays with
    an EMPTY new-row set and touches nothing."""
    spark = batch.sparkSession
    cached = (batch.dropDuplicates(["vec_id"])
              .withColumn("bucket", _bucket_col(buckets=buckets)))
    cached.persist()
    try:
        deduped = cached
        touched = [r["bucket"] for r in
                   deduped.select("bucket").distinct().collect()]
        existing = existing_ids_pruned(spark, store_path, touched)
        if existing is not None:
            deduped = deduped.join(existing, on="vec_id", how="left_anti")
        if on_new is not None:
            on_new(deduped)
        (deduped.write.mode("append")
         .partitionBy("bucket").parquet(store_path))
    finally:
        cached.unpersist()


def neardup_filter_batch(batch: DataFrame, index_path: str,
                         threshold: float = 0.3,
                         cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Streaming near-dup suppression: drop batch rows that near-duplicate
    an already-INDEXED doc (first writer wins) or a kept batch-mate
    (min-id wins), using the persisted incremental dedup index
    (operators/incremental.py) — O(batch + matched buckets) per
    micro-batch, never O(corpus).

    Greedy pair-wise semantics: each near-dup pair drops its loser
    independently, so a chain a–b, b–c with no a–c pair drops both b and c.
    The batch pipeline's connected-components grouping
    (operators/graph.py) is the precise offline resolution; at ingest
    time greedy is the right latency/cost point."""
    from flink_rag_spark.operators.incremental import incremental_neardup_pairs

    spark = batch.sparkSession
    docs = (batch.select(F.col("vec_id").alias("doc_id"), F.col("text"))
            .dropDuplicates(["doc_id"]))
    pairs = incremental_neardup_pairs(
        spark, docs, "text", "doc_id", index_path, threshold, cfg)
    new_ids = docs.select("doc_id")
    flagged = (pairs
               .join(new_ids.select(F.col("doc_id").alias("id_a"),
                                    F.lit(True).alias("a_new")),
                     on="id_a", how="left")
               .join(new_ids.select(F.col("doc_id").alias("id_b"),
                                    F.lit(True).alias("b_new")),
                     on="id_b", how="left"))
    drop = (flagged.select(
        F.when(F.col("a_new") & F.col("b_new"), F.col("id_b"))     # both new
        .when(F.col("a_new") & F.col("b_new").isNull(), F.col("id_a"))
        .otherwise(F.col("id_b")).alias("vec_id")).distinct())     # new loses
    out = batch.join(drop, on="vec_id", how="left_anti")
    # propagate the incremental path's persisted intermediates so the
    # per-micro-batch loop can release them after its action
    return track_cached_deps(out, getattr(pairs, "_cached_deps", []))


def load_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The retrieval-side view of the store:
    (vec_id, text, embedding, metadata). Stores written before the
    metadata column existed read back with an empty map."""
    store = spark.read.parquet(store_path)
    meta = (F.col("metadata") if "metadata" in store.columns
            else F.expr("map()").cast("map<string,string>"))
    return store.select("vec_id", "text", "embedding",
                        meta.alias("metadata"))


def run_ingest(spark: SparkSession, source: DataFrame, store_path: str,
               checkpoint: str, provider: Provider | None = None,
               cfg: EngineConfig = DEFAULT_CONFIG,
               available_now: bool = False,
               chunk: bool = False,
               neardup_index: str | None = None,
               neardup_threshold: float = 0.3,
               neardup_compact_every: int | None = None,
               ivf_index: str | None = None,
               ivf_append_every: int = 1,
               ivf_codebook: bool = False,
               text_index: str | None = None,
               text_compact_every: int | None = None):
    """Wire source → [chunk] → embed → [near-dup filter] → idempotent
    store sink; returns the started query.

    ``chunk=True`` splits each source document into overlapping
    token-window chunks before embedding (chunk_stream) — one vector per
    chunk with provenance metadata, the standard RAG ingestion shape the
    reference lacks. ``available_now=True`` drains everything currently in
    the source and stops — the test/batch-backfill trigger; the default
    processing-time trigger mirrors the reference's continuous job.

    ``neardup_index=<path>`` turns on streaming near-dup suppression:
    each micro-batch is filtered against the persisted dedup index
    (neardup_filter_batch), survivors are appended to the index so LATER
    batches see them, then upserted to the store. Index appends are
    at-least-once under replay; reads dedup (effectively-once), and a
    replayed survivor rejoins the store idempotently via its content-hash
    id — same delivery contract as the store itself.

    ``ivf_index=<path>`` keeps a persisted vector index fresh from the
    stream — either layout, IVF (``index.build_ivf_index``) or IVF-PQ
    (``pq.build_ivfpq_index``; the directory says which): each
    micro-batch's vectors stage into the index's pending tail, and every
    ``ivf_append_every`` batches the tail flushes into the cell
    partitions (operators/index.py:flush_pending — PQ-encoded with the
    frozen geometry on an IVF-PQ index, anti-joined so replays are
    no-ops) — so the exactly-scored tail a probe must union
    (``load_ivf_tail``) is ≤ one cadence of ingest BY CONSTRUCTION, not
    by rebuild convention. Before the first build the flush is a no-op
    and vectors simply stay in the tail.

    ``ivf_codebook=True`` additionally absorbs each micro-batch's
    genuinely store-NEW rows (the upsert's own anti-join, via the same
    ``on_new`` hook as the text index — so a re-ingest of stored content
    absorbs nothing and the running-mean counts never double) into the
    index's staged NEXT codebook (index.maintain_codebook — running-mean
    mini-batch k-means over the coarse centroids, replay-guarded by
    (stream, batch) id): the serving geometry is never touched, but the
    staged codebook's ``drift`` signal tells a maintenance loop when the
    geometry has moved enough to warrant a ``promote_next_codebook``
    rebuild — which then skips centroid training entirely (and, on
    IVF-PQ, retrains the residual PQ codebook once, inside the
    crash-recoverable swap). Requires ``ivf_index``.

    ``text_index=<path>`` keeps the persisted BM25 inverted index fresh
    from the same stream (ranking.maintain_text_index): each batch's
    genuinely-NEW docs (vs the store — the upsert's own anti-join, so the
    index never double-counts a re-ingested content hash) append their
    postings BEFORE the store commit, batch-id-guarded for replay. The
    maintained index only ever sees store-NEW rows, so enabling it over
    a PRE-EXISTING populated store would silently miss every document
    already stored — run_ingest closes that gap itself: a cold index
    (no stats.json) plus a non-empty store triggers a one-time
    ``build_text_index`` backfill over current store contents BEFORE the
    stream starts (the build commits through the index's one staged
    intent, so a crash mid-backfill just rebuilds on the next start). With
    ``ivf_index`` too, one streaming job maintains the FULL hybrid
    serving stack — store, vector index, lexical index (+ optional dedup
    index) — where the reference's job maintained only the OpenSearch
    store (`StreamingStoreKnowledge.java:30-37`)."""
    ensure_runtime_confs(spark)
    if ivf_codebook and ivf_index is None:
        raise ValueError("ivf_codebook=True requires ivf_index=<path> — "
                         "the staged codebook lives inside the index")
    if text_index is not None:
        import os
        if not os.path.exists(os.path.join(text_index, "stats.json")):
            try:
                existing = load_store(spark, store_path)
                has_rows = existing.limit(1).count() > 0
            except Exception:
                has_rows = False  # no store yet: nothing to backfill
            if has_rows:
                from flink_rag_spark.operators.ranking import (
                    build_text_index,
                )
                build_text_index(
                    spark,
                    existing.select(F.col("vec_id").alias("doc_id"),
                                    "text"),
                    text_index)
    if chunk:
        source = chunk_stream(source)
    embedded = embed_stream(source, provider, cfg)

    def _sink(b: DataFrame, _id: int) -> None:
        # persist whenever >1 action consumes the batch (the embed UDF
        # must not run once per sink write)
        multi_action = (neardup_index is not None or ivf_index is not None
                        or text_index is not None)
        if neardup_index is not None:
            from flink_rag_spark.operators.incremental import (
                append_to_dedup_index,
            )
            b = neardup_filter_batch(b, neardup_index, neardup_threshold, cfg)
            b.persist()
            append_to_dedup_index(
                b.sparkSession,
                b.select(F.col("vec_id").alias("doc_id"), "text"),
                "text", "doc_id", neardup_index, cfg)
            if neardup_compact_every and (_id + 1) % neardup_compact_every == 0:
                # bound the small-file growth the per-batch appends cause;
                # write-then-swap, so the next batch reads a whole layout
                from flink_rag_spark.operators.incremental import (
                    compact_dedup_index,
                )
                compact_dedup_index(b.sparkSession, neardup_index)
        elif multi_action:
            b.persist()
        try:
            hooks = []
            if text_index is not None:
                def _text_hook(new_rows, _bid=_id):
                    from flink_rag_spark.operators.ranking import (
                        maintain_text_index,
                    )
                    maintain_text_index(
                        new_rows.sparkSession,
                        new_rows.select(F.col("vec_id").alias("doc_id"),
                                        "text"),
                        text_index, batch_id=_bid, stream_id=checkpoint)
                hooks.append(_text_hook)
            if ivf_index is not None and ivf_codebook:
                # absorb only genuinely store-NEW rows (a re-ingest under
                # a fresh checkpoint replays with an empty new-row set, so
                # the codebook's running-mean counts never double); drift
                # tracking only — never mutates the serving centroids
                def _codebook_hook(new_rows, _bid=_id):
                    from flink_rag_spark.operators.index import (
                        maintain_codebook,
                    )
                    maintain_codebook(
                        new_rows.sparkSession,
                        new_rows.select("vec_id", "embedding"),
                        ivf_index, batch_id=_bid, stream_id=checkpoint)
                hooks.append(_codebook_hook)
            on_new = None
            if hooks:
                def on_new(new_rows, _hooks=tuple(hooks)):
                    for h in _hooks:
                        h(new_rows)
            upsert_batch(b, store_path, on_new=on_new)
            if text_index is not None and text_compact_every \
                    and (_id + 1) % text_compact_every == 0:
                from flink_rag_spark.operators.ranking import (
                    compact_text_index,
                )
                compact_text_index(b.sparkSession, text_index)
            if ivf_index is not None:
                from flink_rag_spark.operators.index import (
                    flush_pending,
                    stage_pending,
                )
                stage_pending(b.sparkSession, b.select("vec_id", "embedding"),
                              ivf_index)
                if (_id + 1) % max(1, ivf_append_every) == 0:
                    flush_pending(b.sparkSession, ivf_index)
        finally:
            if multi_action:
                b.unpersist()
                # release the incremental dedup path's persisted
                # intermediates — per-micro-batch frames that would
                # otherwise accumulate cached blocks across the stream
                unpersist_cached_deps(b)

    writer = (embedded.writeStream
              .foreachBatch(_sink)
              .option("checkpointLocation", checkpoint)
              .outputMode("update"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
