"""Question→answer job: the Spark re-expression of the reference's ``AiJob``
(Kafka questions source ``:19-24`` → ``map(RAG::getAnswer)`` ``:46-50`` →
Kafka answers sink ``:25-33``, at-least-once ``:32``).

The reference runs the full RAG round-trip synchronously per record inside
one ``map``. Here each micro-batch of questions runs the BATCH rag plan
(plans/rag.py) — retrieval is one broadcast cross-join + window over the
whole batch, and provider calls are Arrow-batched — so cost per question
falls as traffic rises instead of staying constant.

Delivery: Spark runs ``foreachBatch`` at-least-once — a crash between
the sink write and the checkpoint commit replays the epoch. The answers
sink is still exactly-once: each epoch writes its own ``epoch_id=<n>``
partition with dynamic overwrite, so a replayed epoch replaces its
answers instead of appending them again. A Kafka sink would be
at-least-once, identical to the reference's guarantee.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from flink_rag_spark.functions.providers import Provider
from flink_rag_spark.plans.rag import rag_answer


def run_answer_stream(spark: SparkSession, questions: DataFrame,
                      corpus_sf_dir: str, out_path: str, checkpoint: str,
                      provider: Provider | None = None,
                      cfg: EngineConfig = DEFAULT_CONFIG,
                      available_now: bool = False,
                      store_path: str | None = None,
                      retrieval: str = "exact",
                      ann_index=None,
                      text_index: str | None = None):
    """questions (value:string stream) → answered parquet at out_path.

    ``store_path`` optionally points at a live ingest store (streaming/
    ingest.py) that is unioned with the static corpus — this closes the
    reference's freshness loop (README.md:241-267: ingest a fact, ask,
    see it in the answer) with micro-batch latency.

    ``retrieval``/``ann_index``/``text_index`` pass straight through to
    the batch plan: 'exact' (default), 'ann' (with a (centroids, cells)
    tuple or the path of a persisted index of either layout, IVF or
    IVF-PQ as its directory says, whose pending tail serves freshness),
    or 'hybrid' (BM25 + cosine, RRF-fused per question; ``text_index``
    routes its lexical arm through the persisted inverted index — the
    serving shape).

    Each micro-batch's answers overwrite their own
    ``out_path/epoch_id=<n>/`` partition, so a replayed epoch is not
    answered twice. ``out_path`` therefore belongs to one checkpoint: a
    fresh checkpoint restarts epoch ids at 0 and would overwrite them.
    """

    def answer_batch(batch: DataFrame, epoch_id: int) -> None:
        # stateless query: Spark runs no no-data micro-batches, so every
        # batch holds questions
        qs = (batch.select(F.col("value").alias("question"))
              .withColumn("question_id", F.monotonically_increasing_id()))
        out = rag_answer(spark, corpus_sf_dir, questions=qs,
                         cfg=cfg, provider=provider,
                         extra_store_path=store_path,
                         retrieval=retrieval, ann_index=ann_index,
                         text_index=text_index)
        (out.withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id").parquet(out_path))

    writer = (questions.writeStream
              .foreachBatch(answer_batch)
              .option("checkpointLocation", checkpoint)
              .outputMode("update"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
