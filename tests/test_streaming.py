"""Streaming-layer tests: the two reference jobs (ingest, answer) on file
sources with availableNow triggers, the freshness scenario (README.md:241-267
re-created), event-time windows checked against their batch equivalents, and
streaming dedup."""

import os

import pyspark.sql.functions as F
import pytest

from flink_rag_spark.sources.streams import file_string_source
from flink_rag_spark.sources.tables import load_table
from flink_rag_spark.streaming.answer import run_answer_stream
from flink_rag_spark.streaming.events import (
    dedup_within_watermark,
    session_windows,
    sliding_counts,
    tumbling_counts,
)
from flink_rag_spark.streaming.ingest import run_ingest

EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")


def _await(query, timeout=120):
    assert query.awaitTermination(timeout), "stream did not drain in time"


@pytest.fixture()
def events_stream_dir(spark, sf_smoke, tmp_path):
    """Copy sf0.001 events into a stream-source dir as normal-µs parquet."""
    path = str(tmp_path / "events_src")
    load_table(spark, sf_smoke, "events").write.parquet(path)
    return path


def test_ingest_idempotent_and_freshness(spark, sf_smoke, tmp_path):
    src = tmp_path / "knowledge"
    src.mkdir()
    (src / "facts0.txt").write_text(
        "The capital of France is Paris.\nThe Eiffel Tower was completed in 1889.\n")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt_ingest")

    q = run_ingest(spark, file_string_source(spark, str(src)), store, ckpt,
                   available_now=True)
    _await(q)
    stored = spark.read.parquet(store)
    assert stored.count() == 2
    row = stored.filter(F.col("text").contains("Paris")).first()
    assert row is not None and len(row["embedding"]) == 64

    # replay the same facts through a fresh checkpoint → no duplicates
    q = run_ingest(spark, file_string_source(spark, str(src)), store,
                   str(tmp_path / "ckpt_ingest2"), available_now=True)
    _await(q)
    assert spark.read.parquet(store).count() == 2
    assert spark.read.parquet(store).select("vec_id").distinct().count() == 2

    # freshness loop: the ingested fact must be retrieved for the question
    # (the reference's manual scenario, README.md:241-267)
    questions = tmp_path / "questions"
    questions.mkdir()
    (questions / "q.txt").write_text("What is the capital of France?\n")
    out = str(tmp_path / "answers")
    q = run_answer_stream(spark, file_string_source(spark, str(questions)),
                          sf_smoke, out, str(tmp_path / "ckpt_answer"),
                          available_now=True, store_path=store)
    _await(q)
    answers = spark.read.parquet(out)
    assert answers.count() == 1
    info = answers.first()["information"]
    assert "The capital of France is Paris." in info


def test_upsert_prunes_to_touched_buckets(spark, tmp_path):
    """The O(batch) upsert contract: the anti-join's store scan must prune
    to the buckets the batch touches — a 1-bucket probe reads 1 partition
    directory, not the store."""
    import contextlib
    import glob
    import io
    import os

    from flink_rag_spark.streaming.ingest import existing_ids_pruned, upsert_batch
    store = str(tmp_path / "bstore")
    rows = [(i, f"text {i}", [0.0, 1.0]) for i in range(200)]
    df = (spark.createDataFrame(
        rows, "vec_id long, text string, embedding array<float>")
        .withColumn("metadata", F.expr("map()").cast("map<string,string>")))
    upsert_batch(df, store)
    all_files = glob.glob(os.path.join(store, "*", "*.parquet"))
    assert len(all_files) > 10

    pruned = existing_ids_pruned(spark, store, [5])
    # partition pruning visible at the scan node ...
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan
    # ... and real at execution: only bucket=5's files are actually read
    read_files = {r[0] for r in
                  spark.read.parquet(store).filter(F.col("bucket") == 5)
                  .select(F.input_file_name()).distinct().collect()}
    assert read_files and len(read_files) < len(all_files)
    assert all("bucket=5" in f for f in read_files)

    # replaying the identical batch across the bucketed layout adds nothing
    upsert_batch(df, store)
    got = spark.read.parquet(store)
    assert got.count() == 200
    assert got.select("vec_id").distinct().count() == 200


def test_upsert_into_legacy_flat_store(spark, tmp_path):
    """A round-1 store (flat layout — no bucket partition column, no
    metadata column) must still accept idempotent upserts: the first upsert
    migrates it in place to the bucketed layout (appending bucket=N/ dirs
    into a flat store would be an unreadable hybrid), after which pruning
    and load_store behave exactly like a born-bucketed store."""
    from flink_rag_spark.streaming.ingest import load_store, upsert_batch
    store = str(tmp_path / "legacy")
    legacy = spark.createDataFrame(
        [(i, f"old {i}", [0.0, 1.0]) for i in range(20)],
        "vec_id long, text string, embedding array<float>")
    legacy.write.parquet(store)  # pre-bucketing layout, written directly

    batch = (spark.createDataFrame(
        [(i, f"new {i}", [1.0, 0.0]) for i in range(10, 30)],
        "vec_id long, text string, embedding array<float>")
        .withColumn("metadata", F.expr("map()").cast("map<string,string>")))
    upsert_batch(batch, store)

    got = load_store(spark, store)
    assert got.count() == 30  # 20 legacy + 10 genuinely new, 10 deduped
    assert got.select("vec_id").distinct().count() == 30
    assert got.columns == ["vec_id", "text", "embedding", "metadata"]
    # legacy rows read back with an empty map, and the store is now bucketed
    assert all(r["metadata"] == {} for r in got.collect())
    assert "bucket" in spark.read.parquet(store).columns
    # the migrated store keeps idempotency: replay adds nothing
    upsert_batch(batch, store)
    assert load_store(spark, store).count() == 30


def test_ingest_metadata_roundtrip(spark, tmp_path):
    """TextSegment-metadata analog: a metadata map attached to the source
    stream must survive embed → store → retrieval-side load."""
    from flink_rag_spark.streaming.ingest import load_store, run_ingest
    src = tmp_path / "meta_src"
    src.mkdir()
    (src / "f.txt").write_text("Metadata travels with the segment.\n")
    store = str(tmp_path / "meta_store")
    stream = (file_string_source(spark, str(src))
              .withColumn("metadata", F.create_map(
                  F.lit("origin"), F.lit("unit-test"),
                  F.lit("topic"), F.lit("knowledge_updates"))))
    q = run_ingest(spark, stream, store, str(tmp_path / "meta_ckpt"),
                   available_now=True)
    _await(q)
    row = load_store(spark, store).first()
    assert row["text"] == "Metadata travels with the segment."
    assert row["metadata"]["origin"] == "unit-test"
    assert row["metadata"]["topic"] == "knowledge_updates"


def test_chunked_ingest_stores_one_vector_per_chunk(spark, tmp_path):
    """chunk=True ingestion: a long document lands as multiple overlapping
    chunks, each with its own embedding, provenance metadata, and a
    content-derived id (replay-idempotent per chunk); source metadata
    merges into every chunk's map."""
    from flink_rag_spark.operators.curation import (
        DEFAULT_CHUNK_STRIDE,
        DEFAULT_CHUNK_TOKENS,
    )
    from flink_rag_spark.streaming.ingest import load_store, run_ingest
    src = tmp_path / "chunk_src"
    src.mkdir()
    n_tok = 200
    long_doc = " ".join(f"word{i}" for i in range(n_tok))
    (src / "doc.txt").write_text(long_doc + "\n")
    store = str(tmp_path / "chunk_store")
    stream = (file_string_source(spark, str(src))
              .withColumn("metadata", F.create_map(
                  F.lit("origin"), F.lit("chunk-test"))))
    q = run_ingest(spark, stream, store, str(tmp_path / "chunk_ckpt"),
                   available_now=True, chunk=True)
    _await(q)
    rows = load_store(spark, store).collect()
    import math
    expect_chunks = math.ceil(
        max(n_tok - DEFAULT_CHUNK_TOKENS, 0) / DEFAULT_CHUNK_STRIDE) + 1
    assert len(rows) == expect_chunks
    assert len({r["vec_id"] for r in rows}) == expect_chunks
    by_chunk = sorted(rows, key=lambda r: int(r["metadata"]["chunk_id"]))
    parents = {r["metadata"]["parent_id"] for r in rows}
    assert len(parents) == 1  # all chunks trace to the one source doc
    assert all(r["metadata"]["origin"] == "chunk-test" for r in rows)
    # first chunk starts at the document head; consecutive chunks overlap
    assert by_chunk[0]["text"].startswith("word0 word1")
    a, b = by_chunk[0]["text"].split(" "), by_chunk[1]["text"].split(" ")
    overlap = DEFAULT_CHUNK_TOKENS - DEFAULT_CHUNK_STRIDE
    assert a[-overlap:] == b[:overlap]
    # every chunk got a real embedding
    assert all(r["embedding"] is not None and len(r["embedding"]) > 0
               for r in rows)
    # replaying the same source adds nothing (content-hash ids per chunk)
    q2 = run_ingest(spark, stream, store, str(tmp_path / "chunk_ckpt2"),
                    available_now=True, chunk=True)
    _await(q2)
    assert load_store(spark, store).count() == expect_chunks


def test_ann_retrieval_sees_live_store_without_rebuild(spark, sf_smoke,
                                                       tmp_path):
    """Freshness for the ANN path (VERDICT r3 item 5): with a PREBUILT IVF
    index and a live ingest store, retrieval='ann' must cite a
    just-ingested fact with no index rebuild — the store is the un-indexed
    tail, cell-assigned on the fly and probed alongside the index cells."""
    from flink_rag_spark.operators.index import build_ivf_index, load_ivf_index
    from flink_rag_spark.plans.rag import rag_answer

    emb = load_table(spark, sf_smoke, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(spark, emb, path)          # index BEFORE the ingest
    cents, cells = load_ivf_index(spark, path)

    src = tmp_path / "facts"
    src.mkdir()
    (src / "f.txt").write_text("The capital of France is Paris.\n")
    store = str(tmp_path / "store")
    q = run_ingest(spark, file_string_source(spark, str(src)), store,
                   str(tmp_path / "ckpt_fresh"), available_now=True)
    _await(q)

    out = rag_answer(spark, sf_smoke, ["What is the capital of France?"],
                     retrieval="ann", ann_index=(cents, cells),
                     extra_store_path=store, with_chat=False).collect()
    assert len(out) == 1
    assert "The capital of France is Paris." in out[0]["information"]


def test_chunk_stream_reingest_reserved_keys(spark):
    """Re-ingesting an already-chunked store (metadata already carries the
    provenance keys) must not throw under mapKeyDedupPolicy=EXCEPTION: the
    incoming reserved keys are stripped and replaced with THIS pass's
    provenance, while foreign keys survive (ADVICE r3)."""
    from flink_rag_spark.streaming.ingest import chunk_stream
    src = spark.createDataFrame(
        [("some previously chunked text",)], "value string"
    ).withColumn("metadata", F.create_map(
        F.lit("parent_id"), F.lit("stale"),
        F.lit("chunk_id"), F.lit("99"),
        F.lit("origin"), F.lit("first-pass")))
    rows = chunk_stream(src).collect()
    assert len(rows) == 1
    meta = rows[0]["metadata"]
    assert meta["origin"] == "first-pass"          # foreign key survives
    assert meta["chunk_id"] == "0"                 # fresh provenance wins
    assert meta["parent_id"] != "stale"


def test_tumbling_matches_batch(spark, sf_smoke, events_stream_dir, tmp_path):
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_stream_dir)
    result = tumbling_counts(stream)
    q = (result.writeStream.format("memory").queryName("tumbling_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    _await(q)
    got = spark.sql("select * from tumbling_test")
    expected = tumbling_counts(
        spark.read.parquet(events_stream_dir), watermark=None)
    # append mode only emits windows the watermark closed; with availableNow
    # over a finite source that is every window except possibly the last
    assert got.count() > 0
    diff = got.exceptAll(expected)
    assert diff.count() == 0, "stream emitted a window batch disagrees with"


def test_complete_mode_matches_batch(spark, events_stream_dir, tmp_path):
    """complete output mode re-emits the whole aggregate each batch — after
    draining a finite source it must equal the batch aggregation exactly."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_stream_dir)
    result = tumbling_counts(stream, watermark=None)
    q = (result.writeStream.format("memory").queryName("complete_test")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt_c"))
         .trigger(availableNow=True).start())
    _await(q)
    got = spark.sql("select * from complete_test")
    expected = tumbling_counts(spark.read.parquet(events_stream_dir), watermark=None)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_sliding_and_session_windows_run(spark, events_stream_dir, tmp_path):
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_stream_dir)
    for i, df in enumerate([sliding_counts(stream), session_windows(stream)]):
        q = (df.writeStream.format("memory").queryName(f"win_test_{i}")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / f"ckpt{i}"))
             .trigger(availableNow=True).start())
        _await(q)
        assert spark.sql(f"select * from win_test_{i}").count() >= 0


def test_stream_stream_interval_join(spark, sf_smoke, events_stream_dir, tmp_path):
    from flink_rag_spark.streaming.events import stream_interval_join
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_stream_dir)
    out = stream_interval_join(
        stream.filter(F.col("event_type") == "signup"),
        stream.filter(F.col("event_type") == "click"))
    q = (out.writeStream.format("memory").queryName("ssj_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
         .trigger(availableNow=True).start())
    _await(q)
    got = spark.sql("select * from ssj_test").count()
    # batch equivalent: same join on the static table
    e = load_table(spark, sf_smoke, "events")
    s = (e.filter(F.col("event_type") == "signup")
         .select(F.col("event_id").alias("s_id"), "user_id",
                 F.col("ts").alias("s_ts")))
    c = (e.filter(F.col("event_type") == "click")
         .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")))
    expected = s.join(c, (F.col("user_id") == F.col("c_user"))
                      & (F.col("c_ts") >= F.col("s_ts"))
                      & (F.col("c_ts") < F.col("s_ts") + F.expr("INTERVAL 10 MINUTES"))).count()
    assert got == expected and got > 0


def test_sessionize_stateful(spark, tmp_path):
    from flink_rag_spark.streaming.events import sessionize_stateful
    src = tmp_path / "sess_src"
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:01", 10.0), (1, "2024-01-01 00:02:00", 5.0),
         (1, "2024-01-01 00:20:00", 7.0),   # >5 min gap closes session 1
         (2, "2024-01-01 00:00:30", 1.0)],
        "user_id bigint, ts_s string, value double",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    df.write.parquet(str(src))
    stream = spark.readStream.schema(
        "user_id bigint, ts timestamp, value double").parquet(str(src))
    q = (sessionize_stateful(stream).writeStream.format("memory")
         .queryName("sess_t").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
         .trigger(availableNow=True).start())
    _await(q)
    rows = {(r["user_id"], r["n_events"], r["total_value"])
            for r in spark.sql("select * from sess_t").collect()}
    # user 1: first session closed by the in-data gap; user 2: closed by the
    # event-time timeout when the watermark passed its horizon
    assert (1, 2, 15.0) in rows
    assert (2, 1, 1.0) in rows


def test_session_window_exact_gap_boundary(spark):
    """Pin Spark's session-merge boundary semantics: an event arriving at
    EXACTLY prev_ts + gap is merged into the running session (a new session
    starts only when the inter-event gap is strictly greater than the gap
    duration). The SQL gaps-and-islands oracle (catalog.ORACLE_SESSION_BATCH)
    uses the matching strictly-greater predicate — if either side's boundary
    convention drifted, exact-boundary timestamps would break value parity."""
    rows = [(1, "2020-01-01 10:00:00"),
            (2, "2020-01-01 10:05:00"),   # == prev + gap → merges
            (3, "2020-01-01 10:11:00")]   # > prev + gap → new session
    df = (spark.createDataFrame(rows, "id int, ts string")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    out = (df.groupBy(F.session_window("ts", "5 minutes"))
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.col("session_window.start").cast("string").alias("s"),
                   F.col("session_window.end").cast("string").alias("e"), "n")
           .orderBy("s").collect())
    got = [(r["s"], r["e"], r["n"]) for r in out]
    assert got == [("2020-01-01 10:00:00", "2020-01-01 10:10:00", 2),
                   ("2020-01-01 10:11:00", "2020-01-01 10:16:00", 1)]


def test_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "dup_src"
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:01"), (1, "2024-01-01 00:00:02"),
         (2, "2024-01-01 00:00:03"), (2, "2024-01-01 00:00:03"),
         (3, "2024-01-01 00:01:00")],
        "event_id bigint, ts_s string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    df.write.parquet(str(src))
    stream = spark.readStream.schema("event_id bigint, ts timestamp").parquet(str(src))
    out = dedup_within_watermark(stream, ["event_id"], "10 minutes")
    q = (out.writeStream.format("memory").queryName("dedup_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    _await(q)
    got = spark.sql("select event_id from dedup_test")
    assert got.count() == 3
    assert got.distinct().count() == 3


def test_streaming_ivf_append_bounds_tail(spark, tmp_path):
    """run_ingest(ivf_index=...): new vectors reach probes through the
    INDEX partitions on the flush cadence, and the exactly-scored tail
    stays bounded by construction (round-4 verdict item 8)."""
    import glob

    import pyspark.sql.functions as F

    from flink_rag_spark.operators.index import (
        build_ivf_index,
        load_ivf_index,
        load_ivf_tail,
    )
    from flink_rag_spark.operators.similarity import ivf_knn_join
    from flink_rag_spark.sources.streams import file_string_source
    from flink_rag_spark.streaming.ingest import run_ingest

    idx = str(tmp_path / "ivf")
    store = str(tmp_path / "store")

    # seed corpus → initial index build (without it the flush is a no-op)
    seed = tmp_path / "seed"
    seed.mkdir()
    (seed / "s.txt").write_text(
        "".join(f"seed fact number {i} about topic {i % 4}\n"
                for i in range(12)))
    q = run_ingest(spark, file_string_source(spark, str(seed)), store,
                   str(tmp_path / "c0"), available_now=True)
    assert q.awaitTermination(120)
    build_ivf_index(spark, spark.read.parquet(store)
                    .select("vec_id", "embedding"), idx, n_centroids=4)
    assert load_ivf_tail(spark, idx) is None

    # stream 3 more files as 3 micro-batches, flushing every 2 batches
    newdir = tmp_path / "new"
    newdir.mkdir()
    for j in range(3):
        (newdir / f"n{j}.txt").write_text(
            f"fresh streamed fact {j} about entirely new topics\n")
    q = run_ingest(spark,
                   file_string_source(spark, str(newdir),
                                      max_files_per_trigger=1),
                   store, str(tmp_path / "c1"), available_now=True,
                   ivf_index=idx, ivf_append_every=2)
    assert q.awaitTermination(180)

    store_df = spark.read.parquet(store)
    n_all = store_df.count()
    assert n_all == 15

    cents, cells = load_ivf_index(spark, idx)
    tail = load_ivf_tail(spark, idx)
    indexed = {r["vec_id"] for r in cells.select("vec_id").collect()}
    tail_ids = ({r["vec_id"] for r in tail.select("vec_id").collect()}
                if tail is not None else set())
    fresh = {r["vec_id"] for r in
             store_df.filter(F.col("text").contains("fresh"))
             .select("vec_id").collect()}
    # cadence 2 over 3 batches: at least one flush happened, so some fresh
    # vectors are served from index PARTITIONS; the un-flushed tail is
    # bounded by one cadence of ingest (< all fresh vectors)
    assert fresh & indexed
    assert len(tail_ids) < len(fresh)
    assert fresh <= indexed | tail_ids  # nothing is invisible to probes

    # a probe over index+tail sees a fresh vector exactly
    target = store_df.filter(F.col("text").contains("streamed fact 1"))
    qvec = [list(r["embedding"]) for r in target.collect()][0]
    qdf = spark.createDataFrame([(0, qvec)],
                                "query_id long, query_vec array<float>")
    hits = ivf_knn_join(qdf, None, k=3, centroids=cents, cells=cells,
                        tail=tail)
    top = sorted(hits.collect(), key=lambda r: r["rank"])[0]
    assert top["vec_id"] == [r["vec_id"] for r in target.collect()][0]
    assert top["score"] == 1.0


@pytest.mark.parametrize("layout", ["ivf", "ivfpq"])
def test_ivf_flush_replay_inserts_nothing_twice(spark, tmp_path, layout):
    """A crash between append and cleanup replays the flush — the
    partition-pruned anti join must keep the index duplicate-free
    (effectively-once), so probes never need a dedupe shuffle. One
    flush serves both layouts (PQ codes or raw vectors in the cells)."""
    import shutil

    from flink_rag_spark.operators.index import (
        FLUSHING_DIR,
        build_ivf_index,
        flush_pending,
        stage_pending,
    )
    from flink_rag_spark.operators.pq import build_ivfpq_index
    from flink_rag_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / layout)
    base = emb.filter("vec_id < 150")
    if layout == "ivf":
        build_ivf_index(spark, base, idx, n_centroids=4)
    else:
        build_ivfpq_index(spark, base.select("vec_id", "embedding"), idx,
                          n_centroids=4, m=8, kc=4, iters=3)

    fresh = emb.filter("vec_id >= 150").select("vec_id", "embedding")
    stage_pending(spark, fresh, idx)
    # snapshot the staged files, flush, then simulate the replay of a
    # crashed flush by restoring the flushing dir and flushing again
    import glob
    pend = f"{idx}/pending"
    snap = str(tmp_path / "snap")
    shutil.copytree(pend, snap)
    n1 = flush_pending(spark, idx)
    assert n1 == fresh.count() and n1 > 0
    shutil.copytree(snap, f"{idx}/{FLUSHING_DIR}")
    n2 = flush_pending(spark, idx)
    assert n2 == 0  # replay inserted nothing

    cells = spark.read.parquet(f"{idx}/cells")
    assert cells.count() == cells.select("vec_id").distinct().count()


def test_hybrid_rag_retrieval_cites_fresh_fact(spark, sf_smoke, tmp_path):
    """retrieval='hybrid': the RAG chain fuses the lexical and vector arms
    per question, and a just-ingested fact reaches the context through
    BOTH arms (the store unions into docs and embeddings before either arm
    runs)."""
    from flink_rag_spark.plans.rag import rag_answer

    src = tmp_path / "facts"
    src.mkdir()
    (src / "f.txt").write_text("The capital of France is Paris.\n")
    store = str(tmp_path / "store")
    q = run_ingest(spark, file_string_source(spark, str(src)), store,
                   str(tmp_path / "ckpt_h"), available_now=True)
    _await(q)

    out = rag_answer(spark, sf_smoke, ["What is the capital of France?"],
                     retrieval="hybrid", extra_store_path=store,
                     with_chat=False).collect()
    assert len(out) == 1
    assert "The capital of France is Paris." in out[0]["information"]


def test_rag_prompt_template_percent_is_literal(spark, sf_smoke):
    """A '%' in the configured template is copied verbatim into the
    prompt: the fill is a literal concat, not a format string (which
    failed the job on "100%" and "%d")."""
    from flink_rag_spark.config import EngineConfig
    from flink_rag_spark.plans.rag import (rag_answer,
                                           rag_reranked_answer_oracle)

    cfg = EngineConfig(
        prompt_template="100% sure (%d, %s): {question}\n{information} 5%")

    def want(r):
        return f"100% sure (%d, %s): {r['question']}\n{r['information']} 5%"

    [row] = rag_answer(spark, sf_smoke, ["How do I water a fern?"],
                       cfg=cfg).collect()
    assert row["prompt"] == want(row) and row["answer"]
    reranked = rag_reranked_answer_oracle(spark, sf_smoke, cfg).collect()
    assert reranked and all(r["prompt"] == want(r) for r in reranked)


@pytest.mark.parametrize("layout", ["ivf", "ivfpq"])
def test_rag_ann_with_index_path_and_pending_tail(spark, sf_smoke, tmp_path,
                                                  layout):
    """retrieval='ann' with ann_index=<path>: freshness is served from the
    index's own pending tail (bounded by flush cadence), both before a
    flush (fact in pending/) and after (fact in the cell partitions). The
    directory decides the layout, so one path serves an IVF and an IVF-PQ
    index alike — in the batch plan, the hybrid vector arm and the
    answer stream."""
    from flink_rag_spark.operators.index import (
        build_ivf_index,
        flush_pending,
        load_ivf_tail,
    )
    from flink_rag_spark.operators.pq import build_ivfpq_index
    from flink_rag_spark.plans.rag import rag_answer

    emb = load_table(spark, sf_smoke, "embeddings")
    idx = str(tmp_path / layout)
    if layout == "ivf":
        build_ivf_index(spark, emb, idx)
    else:
        build_ivfpq_index(spark, emb.select("vec_id", "embedding"), idx,
                          n_centroids=4, m=8, kc=4, iters=3)

    src = tmp_path / "facts"
    src.mkdir()
    fact = "The capital of France is Paris."
    (src / "f.txt").write_text(fact + "\n")
    store = str(tmp_path / "store")
    # cadence 10 >> 1 batch: the fact stays in the pending tail
    q = run_ingest(spark, file_string_source(spark, str(src)), store,
                   str(tmp_path / "c"), available_now=True,
                   ivf_index=idx, ivf_append_every=10)
    _await(q)
    assert load_ivf_tail(spark, idx) is not None

    question = ["What is the capital of France?"]
    out = rag_answer(spark, sf_smoke, question, retrieval="ann",
                     ann_index=idx, extra_store_path=store,
                     with_chat=False).collect()
    assert fact in out[0]["information"]

    if layout == "ivfpq":
        out = rag_answer(spark, sf_smoke, question, retrieval="hybrid",
                         ann_index=idx, extra_store_path=store,
                         with_chat=False).collect()
        assert fact in out[0]["information"]
        # the streaming shape: questions arrive as a DataFrame
        qdir = tmp_path / "questions"
        qdir.mkdir()
        (qdir / "q.txt").write_text(question[0] + "\n")
        answers = str(tmp_path / "answers")
        _await(run_answer_stream(
            spark, file_string_source(spark, str(qdir)), sf_smoke, answers,
            str(tmp_path / "ca"), available_now=True, store_path=store,
            retrieval="ann", ann_index=idx))
        [row] = spark.read.parquet(answers).collect()
        assert fact in row["information"]

    # drain the tail into the cells: same answer, now through partitions
    assert flush_pending(spark, idx) > 0
    assert load_ivf_tail(spark, idx) is None
    out = rag_answer(spark, sf_smoke, question, retrieval="ann",
                     ann_index=idx, extra_store_path=store,
                     with_chat=False).collect()
    assert fact in out[0]["information"]


def test_answer_stream_replayed_epoch_answers_once(spark, sf_smoke, tmp_path):
    """Spark runs foreachBatch at-least-once: a crash between the answers
    write and the checkpoint commit replays the epoch on restart. The
    sink must still hold each question once."""
    qdir = tmp_path / "questions"
    qdir.mkdir()
    (qdir / "q.txt").write_text("What is the capital of France?\n")
    out, ck = str(tmp_path / "answers"), str(tmp_path / "ck")

    def run():
        _await(run_answer_stream(
            spark, file_string_source(spark, str(qdir)), sf_smoke, out, ck,
            available_now=True))

    run()
    # the state a crash after the sink write leaves: no commit entry for
    # the last epoch
    commits = os.path.join(ck, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    run()
    assert os.path.exists(os.path.join(commits, str(last)))  # it replayed
    rows = spark.read.parquet(out).collect()
    assert [r["question"] for r in rows] == ["What is the capital of France?"]


def test_answer_stream_hybrid_retrieval(spark, sf_smoke, tmp_path):
    """The question→answer job (AiJob re-expression) with the hybrid
    retrieval tier: a streamed question is answered with fused
    lexical+vector context."""
    from flink_rag_spark.streaming.answer import run_answer_stream

    src = tmp_path / "facts"
    src.mkdir()
    (src / "f.txt").write_text("The capital of France is Paris.\n")
    store = str(tmp_path / "store")
    q = run_ingest(spark, file_string_source(spark, str(src)), store,
                   str(tmp_path / "ci"), available_now=True)
    _await(q)

    qdir = tmp_path / "questions"
    qdir.mkdir()
    (qdir / "q.txt").write_text("What is the capital of France?\n")
    out = str(tmp_path / "answers")
    q = run_answer_stream(spark, file_string_source(spark, str(qdir)),
                          sf_smoke, out, str(tmp_path / "ca"),
                          available_now=True, store_path=store,
                          retrieval="hybrid")
    _await(q)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert "The capital of France is Paris." in rows[0]["information"]
    assert rows[0]["answer"].startswith("[answer:")


def test_answer_stream_hybrid_indexed_lexical_arm(spark, sf_smoke, tmp_path):
    """The serving shape of the hybrid tier inside the streaming job: the
    lexical arm reads the persisted inverted index; answers match the
    inline-hybrid stream bit-for-bit on the same questions (the corpus is
    fully indexed and the vector arm is exact)."""
    from flink_rag_spark.operators.ranking import build_text_index
    from flink_rag_spark.sources.tables import load_table
    from flink_rag_spark.streaming.answer import run_answer_stream

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    tix = str(tmp_path / "tix")
    build_text_index(spark, d, tix, n_parts=8)

    qdir = tmp_path / "questions"
    qdir.mkdir()
    (qdir / "q.txt").write_text("what do i do if it is dark\n")

    outs = {}
    for label, kw in (("inline", {}), ("indexed", {"text_index": tix})):
        out = str(tmp_path / f"answers_{label}")
        q = run_answer_stream(spark,
                              file_string_source(spark, str(qdir)),
                              sf_smoke, out, str(tmp_path / f"c_{label}"),
                              available_now=True, retrieval="hybrid", **kw)
        _await(q)
        outs[label] = sorted(
            (r["question"], r["information"], r["answer"])
            for r in spark.read.parquet(out).collect())
    assert outs["inline"] == outs["indexed"] and outs["indexed"]


def test_ingest_maintains_text_index(spark, tmp_path):
    """run_ingest(text_index=...) keeps the persisted BM25 index fresh
    from the stream: after the drain, indexed BM25 is bit-identical to
    inline BM25 over the store text; re-ingesting the same facts through
    a FRESH checkpoint (new stream id, batch ids restart) leaves the
    index untouched — the upsert's anti-join hands the maintainer an
    empty new-row set."""
    from flink_rag_spark.operators.ranking import bm25_topk, bm25_topk_indexed

    src = tmp_path / "knowledge"
    src.mkdir()
    (src / "facts0.txt").write_text(
        "spark shuffles data across executors\n"
        "broadcast joins avoid the shuffle for small tables\n"
        "parquet footers carry column statistics\n")
    store = str(tmp_path / "store")
    idx = str(tmp_path / "text_idx")

    q = run_ingest(spark, file_string_source(spark, str(src)), store,
                   str(tmp_path / "ckpt1"), available_now=True,
                   text_index=idx)
    _await(q)

    docs = (spark.read.parquet(store)
            .select(F.col("vec_id").alias("doc_id"), "text"))
    terms = ["shuffle", "parquet", "executors"]
    want = [tuple(r) for r in bm25_topk(docs, terms, k=5).collect()]
    got = [tuple(r) for r in
           bm25_topk_indexed(spark, idx, terms, k=5).collect()]
    assert got == want and len(got) == 3

    rows_before = spark.read.parquet(f"{idx}/postings").count()
    q = run_ingest(spark, file_string_source(spark, str(src)), store,
                   str(tmp_path / "ckpt2"), available_now=True,
                   text_index=idx)
    _await(q)
    assert spark.read.parquet(f"{idx}/postings").count() == rows_before
    assert [tuple(r) for r in
            bm25_topk_indexed(spark, idx, terms, k=5).collect()] == want

    # a genuinely new fact through yet another checkpoint lands in the
    # index (stale guard must not swallow the new stream's batch 0)
    (src / "facts1.txt").write_text("codegen fuses operators into one stage\n")
    q = run_ingest(spark, file_string_source(spark, str(src)), store,
                   str(tmp_path / "ckpt3"), available_now=True,
                   text_index=idx)
    _await(q)
    docs = (spark.read.parquet(store)
            .select(F.col("vec_id").alias("doc_id"), "text"))
    assert docs.count() == 4
    got = [tuple(r) for r in
           bm25_topk_indexed(spark, idx, ["codegen", "shuffle"], k=5)
           .collect()]
    want = [tuple(r) for r in
            bm25_topk(docs, ["codegen", "shuffle"], k=5).collect()]
    assert got == want


def test_fresh_fact_served_through_maintained_text_index(spark, sf_smoke,
                                                         tmp_path):
    """The full serving loop with a streaming-maintained lexical index:
    build the inverted index over the static corpus once, let run_ingest
    maintain it as facts arrive, and serve hybrid retrieval whose lexical
    arm reads ONLY the index — the fresh fact must surface with no
    rebuild, and the answers must be bit-identical to the inline-hybrid
    plan over the same corpus+store (mergeable stats keep the maintained
    index exact)."""
    from flink_rag_spark.operators.ranking import build_text_index
    from flink_rag_spark.plans.rag import rag_answer
    from flink_rag_spark.sources.tables import load_table

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    tix = str(tmp_path / "tix")
    build_text_index(spark, d, tix, n_parts=8)

    src = tmp_path / "facts"
    src.mkdir()
    (src / "f.txt").write_text("The capital of France is Paris.\n")
    store = str(tmp_path / "store")
    q = run_ingest(spark, file_string_source(spark, str(src)), store,
                   str(tmp_path / "ckpt_tix"), available_now=True,
                   text_index=tix)
    _await(q)

    question = ["What is the capital of France?"]
    indexed = rag_answer(spark, sf_smoke, question, retrieval="hybrid",
                         extra_store_path=store, text_index=tix,
                         with_chat=False).collect()
    assert len(indexed) == 1
    assert "The capital of France is Paris." in indexed[0]["information"]

    inline = rag_answer(spark, sf_smoke, question, retrieval="hybrid",
                        extra_store_path=store, with_chat=False).collect()
    assert [tuple(r) for r in indexed] == [tuple(r) for r in inline]


def test_ingest_backfills_cold_text_index(spark, tmp_path):
    """Enabling text_index=... on a stream over a PRE-EXISTING populated
    store must not silently skip already-stored docs (ADVICE r7):
    run_ingest detects the cold index + non-empty store and backfills it
    from store contents before the stream starts, so after the drain the
    index covers OLD and NEW docs alike — bit-identical to inline BM25
    over the whole store."""
    from flink_rag_spark.operators.ranking import bm25_topk, bm25_topk_indexed

    src = tmp_path / "knowledge"
    src.mkdir()
    (src / "facts0.txt").write_text(
        "spark shuffles data across executors\n"
        "broadcast joins avoid the shuffle for small tables\n")
    store = str(tmp_path / "store")

    # phase 1: populate the store with NO text index
    q = run_ingest(spark, file_string_source(spark, str(src)), store,
                   str(tmp_path / "ckpt1"), available_now=True)
    _await(q)
    assert spark.read.parquet(store).count() == 2

    # phase 2: new facts arrive and the operator turns the index on
    (src / "facts1.txt").write_text(
        "parquet footers carry column statistics\n")
    idx = str(tmp_path / "text_idx")
    q = run_ingest(spark, file_string_source(spark, str(src)), store,
                   str(tmp_path / "ckpt2"), available_now=True,
                   text_index=idx)
    _await(q)

    docs = (spark.read.parquet(store)
            .select(F.col("vec_id").alias("doc_id"), "text"))
    assert docs.count() == 3
    terms = ["shuffle", "parquet", "executors"]
    want = [tuple(r) for r in bm25_topk(docs, terms, k=5).collect()]
    got = [tuple(r) for r in
           bm25_topk_indexed(spark, idx, terms, k=5).collect()]
    # the pre-existing docs (phase 1) must be retrievable via the index
    assert got == want and len(got) == 3


def test_ingest_maintains_codebook(spark, tmp_path):
    """run_ingest(ivf_codebook=True): every micro-batch is absorbed into
    the staged NEXT codebook with a drift signal, while the serving
    centroids stay untouched."""
    import json
    import os

    from flink_rag_spark.operators.index import (
        build_ivf_index,
        codebook_drift,
    )
    from flink_rag_spark.sources.streams import file_string_source
    from flink_rag_spark.streaming.ingest import run_ingest

    idx = str(tmp_path / "ivf")
    store = str(tmp_path / "store")
    seed = tmp_path / "seed"
    seed.mkdir()
    (seed / "s.txt").write_text(
        "".join(f"seed fact number {i} about topic {i % 4}\n"
                for i in range(12)))
    q = run_ingest(spark, file_string_source(spark, str(seed)), store,
                   str(tmp_path / "c0"), available_now=True)
    assert q.awaitTermination(120)
    cents0 = build_ivf_index(spark, spark.read.parquet(store)
                             .select("vec_id", "embedding"), idx,
                             n_centroids=4)
    assert codebook_drift(idx) is None  # nothing staged yet

    newdir = tmp_path / "new"
    newdir.mkdir()
    for j in range(3):
        (newdir / f"n{j}.txt").write_text(
            f"fresh streamed fact {j} about entirely new topics\n")
    q = run_ingest(spark,
                   file_string_source(spark, str(newdir),
                                      max_files_per_trigger=1),
                   store, str(tmp_path / "c1"), available_now=True,
                   ivf_index=idx, ivf_codebook=True)
    assert q.awaitTermination(180)

    st = json.load(open(os.path.join(idx, "next_codebook.json")))
    assert sum(st["counts"]) == 3          # all fresh vectors absorbed
    assert st["last_batch_id"] is not None
    assert codebook_drift(idx) is not None
    # serving geometry untouched until an explicit promote
    assert json.load(open(os.path.join(idx, "centroids.json"))) == cents0

    # re-ingesting the SAME content under a fresh checkpoint absorbs
    # nothing (the hook only sees store-new rows) — counts never double
    q = run_ingest(spark,
                   file_string_source(spark, str(newdir),
                                      max_files_per_trigger=1),
                   store, str(tmp_path / "c2"), available_now=True,
                   ivf_index=idx, ivf_codebook=True)
    assert q.awaitTermination(180)
    st2 = json.load(open(os.path.join(idx, "next_codebook.json")))
    assert sum(st2["counts"]) == 3
