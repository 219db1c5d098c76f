"""Incrementally-maintained rollups (continuous aggregates).

The batch rollup queries (plans/relational*.py: tumbling/hourly cascades)
recompute from raw events every run — O(history). At 100 TB of events the
deployment shape is a MATERIALIZED partial-aggregate table maintained per
ingest batch: append a day of events, touch only that day's partitions of
the rollup. This mirrors how the dedup index (operators/incremental.py)
and the IVF index (operators/index.py) make their batch operators
incremental — same storage idiom, same single-writer boundary (README
"Single-writer boundary").

Storage: parquet partitioned by ``pday`` (the bucket's calendar day), rows
(bucket_ts, *keys, cnt, vsum). The stored measures are PARTIAL aggregates
with a commutative-associative merge (sum/sum) — so maintenance is:

1. partial-aggregate the new batch (map-side combine; the shuffle carries
   one row per (bucket, keys), never raw events),
2. read ONLY the rollup partitions the batch touches (partition pruning on
   ``pday`` — historical days are never scanned),
3. re-merge and rewrite exactly those partitions via Spark's DYNAMIC
   partition overwrite (the per-write ``partitionOverwriteMode=dynamic``
   option, so no session-wide conf flips): untouched day directories are
   left in place by the writer itself, not re-written.

``vsum`` is DECIMAL(18,2): decimal addition is exact and associative, so
the incremental merge is BIT-IDENTICAL to a from-scratch groupBy no matter
how batches split the data — which is what lets the driver grade this
against a plain GROUP BY oracle (plans/catalog.py rollup_incremental_
hourly). A double sum would drift in the last ulp depending on merge
order.

The merged frame is localCheckpoint()ed before the overwrite: Spark
(correctly) refuses to overwrite a path its own plan is reading, and the
checkpoint — bounded by the touched partitions' aggregate rows, not by
events — cuts that lineage.

Replay idempotency (streaming maintenance): when the caller passes a
``batch_id``, each rewritten ``pday`` partition carries ONE marker row
(``bids`` = array of every batch id applied to that partition; data rows
have ``bids`` NULL). Because the marker lives in the same parquet files
as the data it accounts for, a partition's data and its applied-batch
record commit in the SAME directory swap — replaying an already-merged
batch finds its id in ``bids`` and skips those partitions entirely, with
no separate marker write to race against (the round-6 design's honest
gap). Readers (``read_rollup``/``rollup_cascade``) filter the marker
rows out.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def rollup_partials(events: DataFrame, ts_col: str, keys: list[str],
                    value_col: str, bucket: str = "1 hour",
                    distinct_col: str | None = None) -> DataFrame:
    """Partial-aggregate one batch of events: (bucket_ts, *keys, cnt,
    vsum[, hsk], pday). Epoch-aligned buckets via window() — the same
    alignment DuckDB's time_bucket uses, so oracles line up.

    ``distinct_col`` adds an HLL SKETCH partial (``hsk`` binary,
    Spark's datasketches HLL): sketches are the mergeable form of
    COUNT(DISTINCT) — union is commutative/associative/idempotent and
    order-insensitive (register maxima), so incremental maintenance and
    cascades keep working exactly like the sum partials, where a stored
    exact distinct count could never merge. The estimate is approximate
    by nature; the graded query carries an accuracy contract instead of
    a value hash on the estimate itself."""
    b = F.window(F.col(ts_col), bucket)["start"].alias("bucket_ts")
    aggs = [F.count(F.lit(1)).alias("cnt"),
            # pin the stored type: Spark widens sum(decimal(p,s)) to
            # decimal(p+10,s), so without the cast every merge
            # generation would write a different parquet type and
            # mixed-generation partitions would fail to read
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("decimal(28,2)").alias("vsum")]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col).alias("hsk"))
    return (events
            .groupBy(b, *keys)
            .agg(*aggs)
            .withColumn("pday", F.date_format("bucket_ts", "yyyy-MM-dd")))


def build_rollup(spark: SparkSession, events: DataFrame, path: str,
                 ts_col: str = "ts", keys: list[str] | None = None,
                 value_col: str = "value", bucket: str = "1 hour",
                 distinct_col: str | None = None) -> None:
    """Full build (the once-per-history cost): one repartition per pday so
    each partition is one task's file."""
    keys = keys or []
    p = (rollup_partials(events, ts_col, keys, value_col, bucket,
                         distinct_col=distinct_col)
         # uniform schema with append's marker rows (module doc): data
         # rows carry a NULL applied-batch list
         .withColumn("bids", F.lit(None).cast("array<bigint>")))
    (p.repartition("pday").write.mode("overwrite")
     .partitionBy("pday").parquet(path))


def append_to_rollup(spark: SparkSession, new_events: DataFrame, path: str,
                     ts_col: str = "ts", keys: list[str] | None = None,
                     value_col: str = "value", bucket: str = "1 hour",
                     batch_id: int | None = None,
                     distinct_col: str | None = None) -> list[str]:
    """O(batch + touched partitions) maintenance; returns the pdays
    actually rewritten. Work never scales with rollup history: the
    batch's partials are merged with ONLY the pruned partitions they land
    in, and dynamic partition overwrite rewrites only those directories.

    With ``batch_id`` set (streaming maintenance), the merge is
    IDEMPOTENT: partitions whose in-file marker row already lists this
    batch id are skipped untouched, and rewritten partitions get the id
    appended to their marker — data and applied-record commit together
    (module doc)."""
    from pyspark.errors import AnalysisException

    keys = keys or []
    np_ = rollup_partials(new_events, ts_col, keys, value_col, bucket,
                          distinct_col=distinct_col).persist()
    touched = sorted(r["pday"] for r in
                     np_.select("pday").distinct().collect())
    if not touched:
        np_.unpersist()
        return []
    try:
        # mergeSchema: a pre-bids rollup generation reads cleanly next to
        # marker-carrying partitions. pday comes back as DATE (partition
        # type inference) — normalize to the string form rollup_partials
        # writes so pday comparisons below are type-stable.
        existing = (spark.read.option("mergeSchema", "true").parquet(path)
                    # prune on the RAW partition column (string literals
                    # coerce to the inferred date type), THEN normalize
                    .filter(F.col("pday").isin(touched))
                    .withColumn("pday",
                                F.date_format("pday", "yyyy-MM-dd")))
        if "bids" not in existing.columns:
            existing = existing.withColumn(
                "bids", F.lit(None).cast("array<bigint>"))
        existing = existing.persist()
    except AnalysisException:  # first batch — nothing to merge (cold
        existing = None        # start); other read errors must PROPAGATE,
        # or the overwrite below would replace surviving history with
        # batch-only partials
    try:
        if existing is not None and batch_id is not None:
            # replay guard: pdays whose marker already lists this batch id
            # were committed by a previous attempt — drop them from the
            # rewrite set entirely (their directories stay byte-untouched)
            done = {r["pday"] for r in
                    existing.filter(F.array_contains("bids",
                                                     F.lit(batch_id)))
                    .select("pday").distinct().collect()}
            touched = sorted(set(touched) - done)
            if not touched:
                return []
            existing = existing.filter(F.col("pday").isin(touched))
            np_live = np_.filter(F.col("pday").isin(touched))
        else:
            np_live = np_

        data_src = (np_live if existing is None
                    else existing.filter(F.col("bids").isNull())
                    .drop("bids").unionByName(np_live))
        has_hsk = "hsk" in data_src.columns
        aggs = [F.sum("cnt").alias("cnt"),
                F.sum("vsum").cast("decimal(28,2)").alias("vsum")]
        if has_hsk:  # sketch union — the mergeable distinct partial
            aggs.append(F.hll_union_agg("hsk").alias("hsk"))
        merged = (data_src
                  .groupBy("bucket_ts", *keys, "pday")
                  .agg(*aggs)
                  .withColumn("bids", F.lit(None).cast("array<bigint>")))

        # marker rows: one per rewritten pday, carrying every batch id
        # applied so far (prior marker's list, plus this batch's id when
        # given). Bounded by |touched| rows.
        prior = None
        if existing is not None:
            prior = (existing.filter(F.col("bids").isNotNull())
                     .groupBy("pday")
                     .agg(F.flatten(F.collect_list("bids")).alias("_pb")))
        if batch_id is not None or prior is not None:
            pdays = merged.select("pday").distinct()
            if prior is not None:
                pdays = pdays.join(prior, on="pday", how="left")
            else:
                pdays = pdays.withColumn(
                    "_pb", F.lit(None).cast("array<bigint>"))
            bids_col = F.coalesce(F.col("_pb"),
                                  F.lit(None).cast("array<bigint>"))
            if batch_id is not None:
                bids_col = F.array_union(
                    F.coalesce(F.col("_pb"), F.array().cast("array<bigint>")),
                    F.array(F.lit(batch_id).cast("bigint")))
            markers = pdays.select(
                F.lit(None).cast(merged.schema["bucket_ts"].dataType)
                .alias("bucket_ts"),
                *[F.lit(None).cast(merged.schema[k].dataType).alias(k)
                  for k in keys],
                F.lit(0).cast("bigint").alias("cnt"),
                F.lit(None).cast("decimal(28,2)").alias("vsum"),
                *([F.lit(None).cast("binary").alias("hsk")]
                  if has_hsk else []),
                F.col("pday"), bids_col.alias("bids"))
            # a pday with no prior marker and no batch_id needs no marker
            markers = markers.filter(F.col("bids").isNotNull())
            merged = merged.unionByName(markers)

        merged = (merged.repartition("pday")
                  # cut the self-read lineage so the dynamic overwrite of
                  # the same path is legal; size = touched partitions'
                  # aggregate rows (bounded by distinct (bucket, keys) per
                  # day — never raw events)
                  .localCheckpoint(eager=True))
        (merged.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("pday").parquet(path))
    finally:
        np_.unpersist()
        if existing is not None:
            existing.unpersist()
    return touched


def read_rollup(spark: SparkSession, path: str,
                keys: list[str] | None = None,
                finalize: bool = True) -> DataFrame:
    """The query side. finalize=True re-derives the user-facing measures
    (cnt, sum, avg) from the stored partials; finalize=False exposes the
    raw partials (what a coarser re-rollup or a cascade would merge)."""
    keys = keys or []
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if "bids" in df.columns:  # drop per-partition applied-batch markers
        df = df.filter(F.col("bids").isNull()).drop("bids")
    if not finalize:
        return df
    return df.select(
        "bucket_ts", *keys, "cnt",
        F.col("vsum").cast("double").alias("sum_value"),
        F.round(F.col("vsum").cast("double") / F.col("cnt"), 4)
        .alias("avg_value"),
        *([F.hll_sketch_estimate("hsk").alias("approx_distinct")]
          if "hsk" in df.columns else []))


def rollup_cascade(spark: SparkSession, path: str, bucket: str,
                   keys: list[str] | None = None,
                   finalize: bool = True) -> DataFrame:
    """Serve a COARSER rollup from the stored partials — the cascade query
    (daily from stored hourly) that never re-reads raw events: cnt/vsum
    are commutative-associative, so re-bucketing the partials is exact
    (same decimal argument as the append merge). Cost is O(rollup rows),
    which at 100 TB is orders of magnitude below O(events)."""
    keys = keys or []
    p = read_rollup(spark, path, keys=keys, finalize=False)
    has_hsk = "hsk" in p.columns
    b = F.window(F.col("bucket_ts"), bucket)["start"].alias("bucket_ts")
    aggs = [F.sum("cnt").alias("cnt"),
            F.sum("vsum").cast("decimal(28,2)").alias("vsum")]
    if has_hsk:  # sketches re-merge exactly like sums (union is assoc.)
        aggs.append(F.hll_union_agg("hsk").alias("hsk"))
    out = p.groupBy(b, *keys).agg(*aggs)
    if not finalize:
        return out
    return out.select(
        "bucket_ts", *keys, "cnt",
        F.col("vsum").cast("double").alias("sum_value"),
        F.round(F.col("vsum").cast("double") / F.col("cnt"), 4)
        .alias("avg_value"),
        *([F.hll_sketch_estimate("hsk").alias("approx_distinct")]
          if has_hsk else []))
