"""Streaming quality gate with dead-letter routing: apply the validation
rule set (``operators/validation.py``) to every micro-batch, route clean
rows onward and violating rows — stamped with the rules they broke — to a
quarantine sink, and append a per-batch validation report.

This is the streaming face of the curation pipeline's quality stage (the
reference pipeline ingests every Kafka record unchecked,
StreamingStoreKnowledge.java:40-52; a production knowledge ingest wants
malformed documents diverted, not stored). Same foreachBatch discipline
as ``streaming/ingest.py`` and ``streaming/rollup_job.py``:

- Each micro-batch evaluates the rules ONCE, in one projection (the
  per-row failed-rule array), and splits by emptiness of that array —
  two filtered writes off one computed frame, no per-rule jobs.
- Exactly-once: all three sinks (clean, quarantine, metrics) partition
  by ``batch_id`` and dynamic-partition-overwrite their own partition,
  so a replayed micro-batch rewrites the same directories byte-for-byte
  instead of appending duplicates — the same in-partition idempotency
  the rollup job uses, with no marker file at all.

At 100 TB: per-batch work is one scan of the micro-batch; the metrics
report is |rules| rows; nothing here reads history.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_rag_spark.operators.validation import violating_rows
from flink_rag_spark.session import ensure_runtime_confs


def run_quality_gate(spark: SparkSession, stream_df: DataFrame,
                     rules: dict[str, str], id_col: str,
                     clean_path: str, quarantine_path: str,
                     metrics_path: str, checkpoint_dir: str,
                     available_now: bool = False):
    """Gate a streaming frame through ``rules``. Returns the
    StreamingQuery. Layout: ``clean_path`` holds passing rows,
    ``quarantine_path`` holds (row + failed_rules), ``metrics_path``
    holds (rule, violations, n_rows) — all partitioned by batch_id."""
    ensure_runtime_confs(spark)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bad = violating_rows(batch_df, rules, id_col)
        clean = (batch_df.join(bad.select(id_col), on=id_col,
                               how="left_anti")
                 .withColumn("batch_id", F.lit(batch_id)))
        quarantined = (batch_df.join(
            bad.withColumnRenamed(id_col, "_bid"),
            F.col(id_col) == F.col("_bid"), "inner")
            .drop("_bid")
            .withColumn("batch_id", F.lit(batch_id)))
        report = (quarantined
                  .select(F.explode("failed_rules").alias("rule"))
                  .groupBy("rule").agg(F.count(F.lit(1)).alias("violations")))
        n_rows = batch_df.count()
        all_rules = spark.createDataFrame([(r,) for r in sorted(rules)],
                                          "rule string")
        metrics = (all_rules.join(report, on="rule", how="left")
                   .select("rule",
                           F.coalesce("violations", F.lit(0))
                           .alias("violations"),
                           F.lit(n_rows).alias("n_rows"),
                           F.lit(batch_id).alias("batch_id")))
        for frame, path in ((clean, clean_path),
                            (quarantined, quarantine_path),
                            (metrics, metrics_path)):
            (frame.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id").parquet(path))

    writer = (stream_df.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
