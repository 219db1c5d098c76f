"""Streaming DSIR gate: score every micro-batch's documents against a
stored importance estimator and route target-like docs in, off-domain
docs out.

The batch operator (``operators/importance.py``) fits the estimator —
the 2·B-number λ table — from a raw corpus and a target domain. A
production ingest wants the SAME scoring applied continuously without
refitting: so the estimator is saved ONCE as a JSON sidecar (exactly
the drift monitor's reference-profile discipline), and each micro-batch
pays one scan — feature explode → broadcast-λ join → per-doc sum — plus
batch_id-partitioned idempotent routing (the quality-gate discipline:
a replayed batch rewrites identical bytes).

Per-doc scoring here is identical to ``dsir_log_weights`` (same feature
hashes, same λ, same rounding) — pinned by a streaming ≡ batch test —
so a doc admitted by the gate is exactly a doc the batch selector would
have scored the same.

At 100 TB/day: the estimator never refits in-stream (drift in the RAW
distribution is the drift monitor's job — compose both gates on one
stream); per-batch cost is one scan of the micro-batch; the sidecar is
one JSON open per stream start.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_rag_spark.operators.importance import (
    DSIR_ALPHA,
    ROUND_DP,
    _features_expr,
    bucket_joint_counts,
)
from flink_rag_spark.operators.util import write_json
from flink_rag_spark.session import ensure_runtime_confs

ESTIMATOR_FILE = "dsir_estimator.json"


def save_estimator(raw: DataFrame, target: DataFrame, text_col: str,
                   path: str, n_buckets: int = 512,
                   alpha: float = DSIR_ALPHA) -> dict:
    """Fit the DSIR estimator and persist it as a JSON sidecar:
    {bucket → λ} plus the (n_buckets, alpha, text_col) it was fit with.
    The sufficient statistics come from the batch operator's OWN
    ``bucket_joint_counts`` (one shared fit path — the sidecar cannot
    drift from ``dsir_log_weights``). Buckets never seen on either side
    are absent — their λ is the smoothing-only constant, stored once as
    ``lam_default``. Atomic write (tmp+replace)."""
    j = bucket_joint_counts(raw, target, text_col, n_buckets) \
        .collect()  # ≤ n_buckets rows — bounded driver metadata
    import math
    n_raw = float(sum(r["c_raw"] for r in j))
    n_tgt = float(sum(r["c_tgt"] for r in j))

    def lam(ct, cr):
        return (math.log((ct + alpha) / (n_tgt + alpha * n_buckets))
                - math.log((cr + alpha) / (n_raw + alpha * n_buckets)))

    est = {"n_buckets": n_buckets, "alpha": alpha, "text_col": text_col,
           "lam_default": lam(0, 0),
           "lam": {str(r["b"]): lam(r["c_tgt"], r["c_raw"]) for r in j}}
    os.makedirs(path, exist_ok=True)
    write_json(os.path.join(path, ESTIMATOR_FILE), est)
    return est


def load_estimator(path: str) -> dict:
    with open(os.path.join(path, ESTIMATOR_FILE)) as f:
        return json.load(f)


def score_batch(batch_df: DataFrame, est: dict, text_col: str | None,
                id_col: str) -> DataFrame:
    """(id, n_feats, log_weight) of one frame under a loaded estimator —
    the same features, λ and rounding as dsir_log_weights (streaming ≡
    batch pinned by test). The λ table rides as a broadcast join of an
    ≤ n_buckets-row frame built from the sidecar."""
    tc = text_col or est["text_col"]
    spark = batch_df.sparkSession
    lam_df = spark.createDataFrame(
        [(int(b), float(v)) for b, v in est["lam"].items()],
        "b bigint, lam double")
    feats = F.expr(_features_expr(tc, est["n_buckets"]))
    return (batch_df.select(F.col(id_col), F.explode(feats).alias("b"))
            .join(F.broadcast(lam_df), on="b", how="left")
            .withColumn("lam", F.coalesce(
                "lam", F.lit(float(est["lam_default"]))))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_feats"),
                 F.round(F.sum("lam"), ROUND_DP).alias("log_weight")))


def run_importance_gate(spark: SparkSession, stream_df: DataFrame,
                        est_path: str, checkpoint_dir: str,
                        threshold: float,
                        pass_path: str | None = None,
                        reject_path: str | None = None,
                        text_col: str | None = None,
                        id_col: str = "doc_id",
                        available_now: bool = False):
    """Gate a document stream on DSIR log-importance: docs with
    log_weight ≥ threshold route to ``pass_path``, the rest to
    ``reject_path`` — each side independent (an unset side is an
    intentional discard, never a silent one), rows carrying their
    (n_feats, log_weight) provenance, batch_id-partitioned idempotent
    overwrite. Docs that CANNOT be scored (NULL/empty text → no
    features) route to the reject side with NULL provenance — never
    silently dropped. A batch whose split leaves one side EMPTY writes
    no files for that side (readers of a possibly-empty sink should
    pass an explicit schema). Returns the StreamingQuery."""
    ensure_runtime_confs(spark)
    est = load_estimator(est_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # LEFT join: a doc whose text is NULL/empty yields no feature
        # rows, so an inner join would silently drop it from BOTH sinks.
        # Unscorable docs keep NULL (n_feats, log_weight) and route to
        # the reject side — visible, never vanished.
        scored = (batch_df.join(
            score_batch(batch_df, est, text_col, id_col),
            on=id_col, how="left")
            .withColumn("batch_id", F.lit(batch_id))
            .persist())  # two sink writes share one scoring pass
        passes = F.coalesce(F.col("log_weight") >= threshold,
                            F.lit(False))
        try:
            for dst, keep in ((pass_path, passes),
                              (reject_path, ~passes)):
                if dst is not None:
                    (scored.filter(keep).write.mode("overwrite")
                     .option("partitionOverwriteMode", "dynamic")
                     .partitionBy("batch_id").parquet(dst))
        finally:
            scored.unpersist()

    writer = (stream_df.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
