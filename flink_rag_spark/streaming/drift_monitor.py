"""Streaming distribution-drift monitor: score every micro-batch's PSI
against a stored reference profile and gate on it.

The batch operator (``operators/drift.py psi_drift``) compares two
frames; a production ingest wants the same question asked CONTINUOUSLY —
"has this stream drifted from the distribution the model was trained
on?" — without rescanning the reference each batch. So the reference is
profiled ONCE into a tiny artifact (bin boundaries + ε-floored bin
probabilities, a JSON of 2·n_bins numbers — the same shape a trained
model's feature-stats sidecar has), and each micro-batch pays one scan:
bin assignment against literal boundaries (codegen conditional sum,
no join), an ≤ n_bins-row count aggregate, and a driver-side fold of
the PSI formula over those n_bins numbers.

Same foreachBatch discipline as ``streaming/quality_gate.py``:

- metrics rows (batch_id, n_rows, psi, drifted) partition by
  ``batch_id`` and dynamic-partition-overwrite their own partition, so
  a replayed batch rewrites identical bytes — no marker files;
- optional whole-batch routing: a drifted batch lands in
  ``quarantine_path`` instead of ``pass_path`` (drift is a BATCH
  property — individual rows aren't "wrong", the distribution is — so
  the gate quarantines the batch, unlike the per-row quality gate);
- an empty batch records psi NULL / drifted false (no distribution to
  compare) rather than dividing by zero.

At 100 TB: per-batch cost is one scan of the micro-batch; the reference
is never re-read beyond one JSON open; nothing reads history.
"""

from __future__ import annotations

import json
import math
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_rag_spark.operators.drift import (PSI_EPS, binned_counts,
                                             quantile_boundaries)
from flink_rag_spark.operators.util import write_json
from flink_rag_spark.session import ensure_runtime_confs

REFERENCE_FILE = "drift_reference.json"
ROUND_DP = 6


def build_drift_reference(ref_df: DataFrame, value_col: str, path: str,
                          n_bins: int = 10, eps: float = PSI_EPS,
                          exact: bool = True) -> dict:
    """Profile the reference distribution into ``path``/drift_reference
    .json: equal-frequency bin boundaries (n_bins−1 numbers) and the
    ε-floored per-bin probabilities. Two scans of the reference (the
    same boundary-then-assign shape as psi_drift / quantile_bins;
    ``exact=False`` swaps approx_percentile in at scale), then the
    artifact is bounded driver metadata. Raises on an empty reference
    (via quantile_boundaries — NULL boundaries would profile garbage).
    Atomic write (tmp+replace)."""
    bounds = quantile_boundaries(ref_df, value_col, n_bins, exact=exact)
    counts = {r["bin"]: r["n"] for r in
              binned_counts(ref_df, value_col, bounds).collect()}
    total = float(sum(counts.values()))
    p_ref = [max(counts.get(b, 0) / total, eps)
             for b in range(1, n_bins + 1)]
    # p_raw: the UN-floored probabilities — the bounded distances
    # (batch_distances) are zero-safe by construction and must see the
    # true zeros, not the PSI ε floor
    p_raw = [counts.get(b, 0) / total for b in range(1, n_bins + 1)]
    ref = {"value_col": value_col, "n_bins": n_bins, "eps": eps,
           "boundaries": bounds, "p_ref": p_ref, "p_raw": p_raw}
    os.makedirs(path, exist_ok=True)
    write_json(os.path.join(path, REFERENCE_FILE), ref)
    return ref


def load_drift_reference(path: str) -> dict:
    with open(os.path.join(path, REFERENCE_FILE)) as f:
        return json.load(f)


def batch_psi(batch_df: DataFrame, ref: dict,
              value_col: str | None = None) -> tuple[float | None, int]:
    """(psi, n_rows) of one frame against a loaded reference — the same
    ε-floored Σ(p_cur−p_ref)·ln(p_cur/p_ref) fold as psi_drift, with
    p_ref fixed from the stored profile. psi is None for an empty
    frame."""
    vc = value_col or ref["value_col"]
    counts = {r["bin"]: r["n"] for r in
              binned_counts(batch_df, vc, ref["boundaries"]).collect()}
    n = int(sum(counts.values()))
    if n == 0:
        return None, 0
    eps = ref["eps"]
    psi = 0.0
    for b in range(1, ref["n_bins"] + 1):
        pc = max(counts.get(b, 0) / n, eps)
        pr = ref["p_ref"][b - 1]
        psi += (pc - pr) * math.log(pc / pr)
    return round(psi, ROUND_DP), n


def batch_distances(batch_df: DataFrame, ref: dict,
                    value_col: str | None = None
                    ) -> tuple[float | None, float | None, float | None]:
    """(jsd, hellinger, tv) of one frame against a loaded reference —
    the streaming face of ``operators/drift.distribution_distance``:
    same bins, same UN-floored probabilities (``p_raw``, stored since
    round 15 — older artifacts without it report None), and the same
    9-dp per-bin term quantization replayed EXACTLY (Decimal half-up
    on the shortest float repr ≡ Spark's F.round — the ph_monitor
    discipline), so a batch's distances equal the batch operator's on
    the same two frames bit-for-bit (pinned by test). All None for an
    empty frame."""
    from decimal import ROUND_FLOOR, ROUND_HALF_UP, Decimal

    if "p_raw" not in ref:
        return None, None, None
    vc = value_col or ref["value_col"]
    counts = {r["bin"]: r["n"] for r in
              binned_counts(batch_df, vc, ref["boundaries"]).collect()}
    n = int(sum(counts.values()))
    if n == 0:
        return None, None, None
    q9 = Decimal("1e-9")
    q6 = Decimal("1e-6")

    def quant9(x: float) -> Decimal:
        return Decimal(repr(float(x))).quantize(q9,
                                                rounding=ROUND_HALF_UP)

    jsd_s = bc_s = tv_s = Decimal(0)
    for b in range(1, ref["n_bins"] + 1):
        cr = ref["p_raw"][b - 1]
        cc = counts.get(b, 0)
        if cr == 0 and cc == 0:
            continue        # the batch op's full join never sees it
        p = cr
        q = cc / n
        term = 0.0
        if p > 0:
            term += 0.5 * (p * math.log(2.0 * p / (p + q)))
        if cc > 0:
            term += 0.5 * (q * math.log(2.0 * q / (p + q)))
        jsd_s += quant9(term)
        bc_s += quant9(math.sqrt(p * q))
        tv_s += quant9(abs(p - q))

    def out6(x: float) -> float:
        return float(Decimal(repr(float(x))).quantize(
            q6, rounding=ROUND_HALF_UP))

    def dec2d(d: Decimal) -> float:
        # the batch op's util.dec_to_double floor-split, replayed
        fl = d.to_integral_value(rounding=ROUND_FLOOR)
        return float(fl) + float(d - fl)

    hell = math.sqrt(max(1.0 - dec2d(bc_s), 0.0))
    return (out6(dec2d(jsd_s)), out6(hell), out6(dec2d(tv_s) / 2.0))


def run_drift_monitor(spark: SparkSession, stream_df: DataFrame,
                      ref_path: str, metrics_path: str,
                      checkpoint_dir: str,
                      threshold: float = 0.25,
                      pass_path: str | None = None,
                      quarantine_path: str | None = None,
                      value_col: str | None = None,
                      available_now: bool = False):
    """Monitor a streaming frame against the stored reference. Metrics
    rows (batch_id, n_rows, n_scored, psi, jsd, hellinger, tv,
    drifted) land under
    ``metrics_path`` partitioned by batch_id (replay-idempotent
    overwrite). ``n_rows`` is the batch's full row count; ``n_scored``
    is the rows that actually entered the PSI bins (non-NULL values) —
    a non-empty batch whose value column is all NULL reports
    ``n_rows > 0, n_scored = 0`` instead of masquerading as empty. With
    ``pass_path``/``quarantine_path`` set, each batch is additionally
    routed WHOLE to one side by ``psi > threshold``. Each side is
    independent: setting only ``quarantine_path`` captures drifted
    batches and intentionally discards passing ones (and vice versa) —
    a batch is never silently dropped because the OTHER side's path
    was left unset. Returns the StreamingQuery."""
    ensure_runtime_confs(spark)
    ref = load_drift_reference(ref_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        psi, n_scored = batch_psi(batch_df, ref, value_col)
        jsd, hell, tv = batch_distances(batch_df, ref, value_col)
        n_rows = batch_df.count()
        drifted = psi is not None and psi > threshold
        metrics = spark.createDataFrame(
            [(int(n_rows), int(n_scored), psi, jsd, hell, tv,
              bool(drifted), int(batch_id))],
            "n_rows bigint, n_scored bigint, psi double, jsd double, "
            "hellinger double, tv double, "
            "drifted boolean, batch_id bigint")
        routed = batch_df.withColumn("batch_id", F.lit(batch_id))
        (metrics.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(metrics_path))
        dst = quarantine_path if drifted else pass_path
        if dst is not None:
            (routed.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id").parquet(dst))

    writer = (stream_df.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
