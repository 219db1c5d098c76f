"""Question→answer job: the Spark re-expression of the reference's ``AiJob``
(Kafka questions source ``:19-24`` → ``map(RAG::getAnswer)`` ``:46-50`` →
Kafka answers sink ``:25-33``, at-least-once ``:32``).

The reference runs the full RAG round-trip synchronously per record inside
one ``map``. Here each micro-batch of questions is answered by the batch
RAG path (plans/rag.py) as one unit: the questions are collected and
embedded on the driver in one provider call, exact retrieval is ONE
mapInPandas pass over the corpus (loaded, widened and persisted once when
the query starts), one bounded lookup fetches the winners' text, and chat
runs Arrow-batched on the executors as the answers are written — four
Spark jobs per micro-batch, so cost per question falls as traffic rises
instead of staying constant.

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
from pyspark.sql.streaming import StreamingQueryListener

from flink_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from flink_rag_spark.functions.providers import Provider
from flink_rag_spark.operators.util import widen_if_narrow
from flink_rag_spark.plans.rag import _corpus, _rag_answer


class _UnpersistOnStop(StreamingQueryListener):
    """Releases a query's persisted frames when that query terminates."""

    def __init__(self, spark: SparkSession, frames: list[DataFrame]):
        self._session, self._frames, self.query_id = spark, frames, None

    def release(self) -> None:
        frames, self._frames = self._frames, []
        if frames:
            for f in frames:
                f.unpersist()
            self._session.streams.removeListener(self)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        if str(event.id) == self.query_id:
            self.release()


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

    The static corpus is loaded, widened to the session's parallelism and
    persisted once, when the query starts; it is released when the query
    terminates. Each micro-batch then answers its questions with
    ``rag_answer``'s path over that copy: with exact retrieval, one job
    collects the questions, one scores the corpus, one looks up the
    winners' text and one writes the answers (chat runs in that write).

    ``store_path`` optionally points at a live ingest store (streaming/
    ingest.py) that is unioned with the static corpus — this closes the
    reference's freshness loop (README.md:241-267: ingest a fact, ask,
    see it in the answer) with micro-batch latency. The store is re-read
    every micro-batch, so each batch sees the facts committed before it.

    ``retrieval``/``ann_index``/``text_index`` pass straight through to
    the batch path: 'exact' (default), 'ann' (with a (centroids, cells)
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
    emb, docs = _corpus(spark, corpus_sf_dir)
    emb = widen_if_narrow(emb.select("vec_id", "embedding")).persist()
    docs = docs.persist()
    emb.count()
    docs.count()

    def answer_batch(batch: DataFrame, epoch_id: int) -> None:
        # stateless query: Spark runs no no-data micro-batches, so every
        # batch holds questions
        qs = [r[0] for r in batch.select("value").collect()]
        out = _rag_answer(spark, emb, docs, qs, cfg, provider,
                          with_chat=True, store_path=store_path,
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
    releaser = _UnpersistOnStop(spark, [emb, docs])
    spark.streams.addListener(releaser)
    query = writer.start()
    releaser.query_id = query.id
    if not query.isActive:   # terminated before the id was known
        releaser.release()
    return query
