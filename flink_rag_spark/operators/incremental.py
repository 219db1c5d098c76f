"""Incremental near-duplicate detection against a persisted dedup index.

The at-scale problem the batch path can't solve: a 100 TB corpus ingests a
few million new documents a day. Re-running LSH over the whole corpus per
batch is O(corpus) compute; the right shape is O(batch + matched buckets).
(The reference has no dedup at all — this extends the north-star dedup
family in ``operators/dedup.py`` the same way ``operators/index.py``
makes ANN retrieval incremental.)

The index persisted at ``<path>/`` holds two partition-pruned tables:

- ``bands/``  — (doc_id, band, band_key) partitioned by
  ``bkp = pmod(hash(band, band_key), n_parts)``. A new batch's band rows
  land in a bounded set of bkp values; filtering the store scan to that
  set is PARTITION pruning — the untouched corpus partitions are never
  read.
- ``shingles/`` — (doc_id, sh: array<bigint>) partitioned by
  ``sbp = pmod(doc_id, n_parts)``, so the Jaccard verify stage reads only
  the partitions holding candidate old docs, not every corpus shingle set.
- ``sizes/``  — (band, band_key, n, rep) partitioned by the same ``bkp``:
  a log-structured per-bucket summary. ``build`` writes one row per
  bucket; every ``append`` adds DELTA rows for the buckets it touched
  (n = batch members, rep = batch min id); ``compact`` merges back to one
  row per bucket. Because the merge is (sum n, min rep) — both
  commutative-associative — readers aggregate the delta log on the fly
  and always see exact totals, with no read-modify-write at append time.

Everything derives from the same seeded minhash/shingle machinery as the
batch path, so for corpora without hot buckets the incremental result is
EXACTLY the batch result restricted to batch-involving pairs (asserted in
tests/test_incremental.py). The store-side join carries the SAME hot-bucket
guard as the batch path (dedup.py lsh_candidate_pairs): stored buckets
larger than ``lsh_max_bucket`` contribute only their min-id representative
as a join partner, so a new doc hitting a boilerplate bucket with 10⁶
stored members emits ONE candidate pair, not 10⁶. Bucket sizes come from
the ``sizes/`` summary table (pruned to the matched partitions and
aggregated — a frame bounded by the MATCHED bucket count, i.e. by the
batch), so the probe never pays a window shuffle+sort over the store scan;
indexes built before ``sizes/`` existed fall back to exactly that window
(equivalence asserted in tests). Divergence semantics mirror the batch
guard exactly: connectivity through the representative is preserved, but a
verify stage can lose a member↔member edge when jaccard(rep, new) < t —
see the batch guard's docstring for when that matters.

At 1000-executor scale: n_parts should be O(cluster parallelism × a few);
every driver-side step below is capped — the fused key+stats collect by
MAX_LOCAL_KEYS + the matched-bucket count (≤ the key count; with a
distributed-broadcast fallback above it), the sbp pruning collect by
n_parts — never by corpus size. The probe's serialized driver chain is
three jobs: (1) one FUSED collect returning the batch's distinct band
keys AND the matched buckets' summary stats (the sizes scan is
runtime-partition-pruned via a dynamicpruning subquery reusing the key
broadcast), (2) the candidate materialization + shingle-partition
pruning collect, (3) the Jaccard verify — with the within-batch
candidate stage prefetching on a background thread across (2).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from flink_rag_spark.operators.dedup import (
    lsh_band_rows,
    lsh_candidate_pairs,
    shingle_hashes_expr,
    verify_jaccard_candidates,
)
from flink_rag_spark.operators.util import (
    replace_dir,
    settle_dir,
    track_cached_deps,
    widen_if_narrow,
)

DEFAULT_PARTS = 64

#: the probe collects the batch's distinct (band, band_key, bkp) triples
#: driver-side when there are at most this many — broadcast-threshold-like
#: budget (~10 MB at 100 B/key) that turns every pruning/guard broadcast
#: into a local relation with no cluster sub-job. Bigger batches keep the
#: subtree-broadcast plan; results are identical either way.
MAX_LOCAL_KEYS = 100_000


def _band_rows_with_pkey(df: DataFrame, text_col: str, id_col: str,
                         cfg: EngineConfig, n_parts: int,
                         shingle_sets: DataFrame | None = None) -> DataFrame:
    return (lsh_band_rows(df, text_col, id_col, cfg,
                          shingle_sets=shingle_sets)
            .withColumn("bkp", F.pmod(F.hash("band", "band_key"),
                                      F.lit(n_parts))))


def _shingle_sets_with_pkey(df: DataFrame, text_col: str, id_col: str,
                            cfg: EngineConfig, n_parts: int) -> DataFrame:
    return (widen_if_narrow(df).select(
        F.col(id_col),
        F.array_distinct(
            F.expr(shingle_hashes_expr(text_col, cfg.shingle_size)))
        .alias("sh"))
        .withColumn("sbp", F.pmod(F.col(id_col), F.lit(n_parts))))


def _bucket_size_deltas(bands: DataFrame, id_col: str) -> DataFrame:
    """Per-bucket summary rows for one write's band rows: (band, band_key,
    n = member rows written, rep = min id written, bkp). Counts physical
    rows — matching what the window fallback counts over an
    at-least-once-appended store, so the two sizing paths agree even
    under streaming replay."""
    return (bands.groupBy("band", "band_key", "bkp")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(F.col(id_col)).alias("rep")))


def _sizes_tasks(n_parts: int) -> int:
    """Writer-task count for the per-bucket summary table: hashing on bkp
    alone keeps ONE file per partition dir at any task count, so the tiny
    summary doesn't need a full-width shuffle — a quarter of the band
    width (floor 8) halves the write's wall time at small scale while
    still scaling with n_parts (≈ cluster parallelism) for big corpora."""
    return max(8, n_parts // 4)


def build_dedup_index(spark: SparkSession, docs: DataFrame, text_col: str,
                      id_col: str, path: str,
                      cfg: EngineConfig = DEFAULT_CONFIG,
                      n_parts: int = DEFAULT_PARTS) -> None:
    """Full index build (the once-per-corpus cost). Writes are repartitioned
    on the partition column first so each output partition is one task's
    file, not a small-file explosion of tasks × partitions."""
    bands = _band_rows_with_pkey(docs, text_col, id_col, cfg,
                                 n_parts).persist()
    (bands.repartition("bkp").write.mode("overwrite")
     .partitionBy("bkp").parquet(path.rstrip("/") + "/bands"))
    (_bucket_size_deltas(bands, id_col)
     .repartition(_sizes_tasks(n_parts), "bkp")
     .write.mode("overwrite")
     .partitionBy("bkp").parquet(path.rstrip("/") + "/sizes"))
    bands.unpersist()
    sh = _shingle_sets_with_pkey(docs, text_col, id_col, cfg, n_parts)
    (sh.repartition("sbp").write.mode("overwrite")
     .partitionBy("sbp").parquet(path.rstrip("/") + "/shingles"))


def _settle_tables(path: str) -> None:
    """Undo any table swap a crashed ``compact_dedup_index`` left half
    done — run by every writer before it reads or appends."""
    for sub in ("bands", "shingles", "sizes"):
        settle_dir(os.path.join(path, sub))


def append_to_dedup_index(spark: SparkSession, new_docs: DataFrame,
                          text_col: str, id_col: str, path: str,
                          cfg: EngineConfig = DEFAULT_CONFIG,
                          n_parts: int = DEFAULT_PARTS) -> None:
    """O(batch) index maintenance: the new docs' band rows, shingle sets,
    and per-bucket size DELTAS append into their partitions (same layout,
    so future incremental runs see them — no read-modify-write against the
    existing summary). ``compact_dedup_index`` restores
    one-file-per-partition and re-merges the size log on the
    store-compaction cadence."""
    root = path.rstrip("/")
    _settle_tables(root)
    # Legacy-index migration: an index built before sizes/ existed must get
    # a FULL summary backfilled from its stored bands BEFORE the first
    # delta lands. Appending deltas alone would leave sizes/ holding only
    # the touched buckets, and the probe (which trusts sizes/ whenever the
    # path exists) would silently drop every pre-append bucket from the
    # candidate join — missing near-dup pairs against the old corpus.
    # O(stored bands) once, same cost as compact's rebuild path.
    if os.path.exists(root + "/bands") and not os.path.exists(root + "/sizes"):
        store = spark.read.parquet(root + "/bands")
        store_id = [c for c in store.columns
                    if c not in ("band", "band_key", "bkp")][0]
        (_bucket_size_deltas(store, store_id)
         .repartition(_sizes_tasks(n_parts), "bkp")
         .write.mode("overwrite")
         .partitionBy("bkp").parquet(root + "/sizes"))
    bands = _band_rows_with_pkey(new_docs, text_col, id_col, cfg,
                                 n_parts).persist()
    (bands.repartition("bkp").write.mode("append")
     .partitionBy("bkp").parquet(root + "/bands"))
    (_bucket_size_deltas(bands, id_col)
     .repartition(_sizes_tasks(n_parts), "bkp")
     .write.mode("append")
     .partitionBy("bkp").parquet(root + "/sizes"))
    bands.unpersist()
    sh = _shingle_sets_with_pkey(new_docs, text_col, id_col, cfg, n_parts)
    (sh.repartition("sbp").write.mode("append")
     .partitionBy("sbp").parquet(path.rstrip("/") + "/shingles"))


def compact_dedup_index(spark: SparkSession, path: str,
                        files_per_part: int = 1) -> dict[str, int]:
    """Rewrite ``bands/`` and ``shingles/`` to ``files_per_part`` files per
    partition after a run of appends (each append adds ≤ one file per
    touched partition, so file counts grow O(appends × touched parts)),
    and merge the ``sizes/`` delta log back to one row per bucket.
    Write-then-swap per table (``util.replace_dir``).

    Concurrency boundary: the two-rename swap leaves a window where the
    table path does not exist. A crash inside it is settled by the
    index's next writer (every writer calls ``_settle_tables`` first),
    but an append racing a compaction from another process would be
    dropped — the index assumes a SINGLE writer/reader process (the
    streaming ingest loop, which runs compaction between its own
    micro-batches; see README "Single-writer boundary"). Probe results are
    bit-identical before/after (asserted in tests/test_incremental.py).
    Returns the data-file count per table."""
    def swap_in(df_out, t_path: str, pcol: str, n_files: int,
                salt_cols: list[str]) -> int:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]),
                      F.lit(files_per_part))
        replace_dir(t_path, lambda tmp: (
            df_out.repartition(n_files, F.col(pcol), salt)
            .write.mode("overwrite").partitionBy(pcol).parquet(tmp)))
        return sum(1 for _, _, files in os.walk(t_path)
                   for f in files if f.endswith(".parquet"))

    _settle_tables(path)
    counts: dict[str, int] = {}
    for sub, pcol in (("bands", "bkp"), ("shingles", "sbp")):
        t_path = os.path.join(path, sub)
        df = spark.read.parquet(t_path)
        n_parts = df.agg(F.countDistinct(pcol)).collect()[0][0] or 1
        cols = [c for c in df.columns if c != pcol]
        counts[sub] = swap_in(df, t_path, pcol,
                              n_parts * files_per_part, cols)

    # sizes: merge the delta log to one exact row per bucket ((sum n,
    # min rep) — the same totals readers compute on the fly). A legacy
    # index without sizes/ gets one REBUILT from the compacted bands —
    # compaction doubles as the migration path.
    s_path = os.path.join(path, "sizes")
    if os.path.exists(s_path):
        merged = (spark.read.parquet(s_path)
                  .groupBy("band", "band_key", "bkp")
                  .agg(F.sum("n").alias("n"), F.min("rep").alias("rep")))
    else:
        bands = spark.read.parquet(os.path.join(path, "bands"))
        id_col = [c for c in bands.columns
                  if c not in ("band", "band_key", "bkp")][0]
        merged = _bucket_size_deltas(bands, id_col)
    n_parts = merged.agg(F.countDistinct("bkp")).collect()[0][0] or 1
    counts["sizes"] = swap_in(merged, s_path, "bkp",
                              n_parts * files_per_part,
                              ["band", "band_key"])
    return counts


def incremental_neardup_pairs(spark: SparkSession, new_docs: DataFrame,
                              text_col: str, id_col: str, path: str,
                              threshold: float,
                              cfg: EngineConfig = DEFAULT_CONFIG,
                              n_parts: int = DEFAULT_PARTS,
                              max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup pairs (id_a, id_b, jaccard ≥ threshold) between a NEW batch
    and the indexed corpus, plus within the batch itself — without reading
    corpus text or recomputing corpus signatures.

    Work: O(batch) signature compute + a partition-pruned equi-join on
    (band, band_key) + O(candidates) verify. Driver-side steps are capped:
    the band-key collect by MAX_LOCAL_KEYS (falling back to distributed
    broadcasts above it), the sbp pruning-key collect by n_parts —
    independent of corpus size. Stored
    buckets larger than ``max_bucket_size`` (default ``cfg.lsh_max_bucket``)
    star-reduce to their min-id representative before the join — the same
    guard, same default, same divergence semantics as the batch path's
    ``lsh_candidate_pairs``.

    The returned frame's lineage holds a few persisted batch-bounded
    intermediates; looping callers (streaming ingest) must release them via
    ``operators.util.unpersist_cached_deps(result)`` after materializing.
    """
    from pyspark.errors import AnalysisException

    if max_bucket_size is None:
        max_bucket_size = cfg.lsh_max_bucket
    root = path.rstrip("/")
    # batch-side frames are persisted: they are batch-bounded (never
    # corpus-sized) and each feeds 2+ downstream jobs (the pruning-key
    # collects plus the joins) — without caching the whole signature
    # pipeline re-runs per job. The expensive char-level text hashing runs
    # ONCE: the shingle-set cache seeds the minhash derivation (identical
    # signatures — min() ignores the duplicates array_distinct removed),
    # the within-batch candidates, AND the verify stage.
    sh_batch = _shingle_sets_with_pkey(new_docs, text_col, id_col,
                                       cfg, n_parts).persist()
    nb = _band_rows_with_pkey(new_docs, text_col, id_col, cfg, n_parts,
                              shingle_sets=sh_batch).persist()

    try:
        store = spark.read.parquet(root + "/bands")
    except AnalysisException:
        store = None  # first batch — no index yet (streaming cold start)

    within = lsh_candidate_pairs(new_docs, text_col, id_col, cfg,
                                 band_rows=nb)
    sh_new = sh_batch.select(id_col, "sh")
    if store is None:
        return track_cached_deps(
            verify_jaccard_candidates(within, sh_new, id_col, threshold),
            [sh_batch, nb])
    # the within-batch candidate stage reads only the cached signature
    # frame, so it is independent of every store-side job below —
    # materialize it on a background thread (Spark schedules concurrent
    # jobs from one session safely) so its window+join+distinct chain
    # overlaps the cross/pruning job instead of serializing after it.
    # Launched AFTER the key collect below so the nb cache is already
    # built (no double-compute race); errors surface on the main-thread
    # action that re-evaluates the frame.
    import threading

    within = within.persist()

    def _prefetch_within() -> None:
        try:
            within.count()
        except Exception:
            pass  # the caller's action re-raises any real failure

    within_thread = threading.Thread(target=_prefetch_within, daemon=True)

    # hot-bucket sizing reads the persisted per-bucket summary log (exact
    # under appends because the merge is sum/min over deltas); legacy
    # indexes without sizes/ fall back to the equivalent window over the
    # pruned store scan.
    sizes = None
    try:
        sizes = spark.read.parquet(root + "/sizes")
    except AnalysisException:
        pass
    size_deps: list[DataFrame] = []
    key_schema = nb.select("band", "band_key").schema
    local_stats = None
    if sizes is not None:
        # ONE fused collect returns the batch's distinct band keys AND the
        # matched buckets' (size, min-id) stats: the summary scan
        # semi-joins the broadcast key set and unions under the same
        # action, so the probe's front half is a single driver job instead
        # of a key collect followed by a stats subtree (whose broadcast
        # sites each ran their own cluster job). The redundant comparison
        # filter on the broadcast side is semantically a no-op (band ≥ 0
        # always) but marks the subtree "selective" for Spark's
        # PartitionPruning rule, so the sizes scan carries a
        # dynamicpruning IN-subquery on bkp — runtime partition pruning
        # with no driver roundtrip, reusing the key broadcast. Stats rows
        # are bounded by the matched-bucket count ≤ the key count, so the
        # collect stays batch-bounded.
        keys = (nb.select("band", "band_key", "bkp").distinct()
                .limit(MAX_LOCAL_KEYS + 1))
        marked = keys.filter(F.col("band") >= 0)
        stats_arm = (sizes.join(F.broadcast(marked),
                                on=["band", "band_key", "bkp"],
                                how="left_semi")
                     .groupBy("band", "band_key", "bkp")
                     .agg(F.sum("n").alias("_n"), F.min("rep").alias("_rep"))
                     .select(F.lit(1).alias("_kind"), "band", "band_key",
                             "bkp", "_n", "_rep"))
        key_arm = keys.select(F.lit(0).alias("_kind"), "band", "band_key",
                              "bkp", F.lit(None).cast("long").alias("_n"),
                              F.lit(None).cast("long").alias("_rep"))
        fused = [r.asDict() for r in
                 key_arm.unionByName(stats_arm).collect()]
        key_rows = [r for r in fused if r["_kind"] == 0]
        local_keys = len(key_rows) <= MAX_LOCAL_KEYS
        if local_keys:
            local_stats = [r for r in fused if r["_kind"] == 1]
    else:
        key_rows = (nb.select("band", "band_key", "bkp").distinct()
                    .limit(MAX_LOCAL_KEYS + 1).collect())
        local_keys = len(key_rows) <= MAX_LOCAL_KEYS

    if local_stats is not None:
        # everything downstream of the fused collect is DRIVER-LOCAL: the
        # hot side becomes a literal relation of representatives, and the
        # store scan prunes to the matched COLD buckets only (a bucket
        # with no stats row has no store rows at all — the backfill in
        # append_to_dedup_index guarantees summary completeness), which is
        # strictly tighter than pruning by every batch key. No broadcast
        # here has a cluster sub-job behind it.
        from pyspark.sql import types as T
        within_thread.start()
        cold = [(r["band"], r["band_key"]) for r in local_stats
                if r["_n"] <= max_bucket_size]
        cold_bkps = sorted({r["bkp"] for r in local_stats
                            if r["_n"] <= max_bucket_size})
        hot = [(r["_rep"], r["band"], r["band_key"]) for r in local_stats
               if r["_n"] > max_bucket_size]
        id_type = nb.schema[id_col].dataType
        cold_keys = spark.createDataFrame(cold, key_schema)
        hot_old = spark.createDataFrame(
            hot, T.StructType([T.StructField("id_old", id_type)]
                              + list(key_schema.fields)))
        cold_old = (store.filter(F.col("bkp").isin(cold_bkps))
                    .join(F.broadcast(cold_keys),
                          on=["band", "band_key"], how="left_semi")
                    .select(F.col(id_col).alias("id_old"),
                            "band", "band_key"))
        old_side = cold_old.unionByName(hot_old)
    else:
        # oversized batch (or legacy index): partition pruning + key semi
        # join as broadcast subtrees — correctness never depends on the
        # local collect, only the probe's fixed job count does
        if local_keys:
            hit_bkps = sorted({r["bkp"] for r in key_rows})
            batch_keys = spark.createDataFrame(
                [(r["band"], r["band_key"]) for r in key_rows], key_schema)
        else:
            hit_bkps = [r["bkp"] for r in
                        nb.select("bkp").distinct().collect()]
            batch_keys = nb.select("band", "band_key").distinct()
        within_thread.start()
        store_bands = (store.filter(F.col("bkp").isin(hit_bkps))
                       .join(F.broadcast(batch_keys),
                             on=["band", "band_key"], how="left_semi"))
        if sizes is not None:
            stats = (sizes.filter(F.col("bkp").isin(hit_bkps))
                     .join(F.broadcast(batch_keys),
                           on=["band", "band_key"], how="left_semi")
                     .groupBy("band", "band_key")
                     .agg(F.sum("n").alias("_n"),
                          F.min("rep").alias("_rep"))
                     .persist())
            size_deps.append(stats)
            cold_filter = F.broadcast(
                stats.filter(F.col("_n") <= max_bucket_size)
                .select("band", "band_key"))
            hot_old = (stats.filter(F.col("_n") > max_bucket_size)
                       .select(F.col("_rep").alias("id_old"),
                               "band", "band_key"))
            cold_old = (store_bands
                        .join(cold_filter,
                              on=["band", "band_key"], how="left_semi")
                        .select(F.col(id_col).alias("id_old"),
                                "band", "band_key"))
        else:
            from pyspark.sql import Window
            wb = Window.partitionBy("band", "band_key")
            tagged = (store_bands
                      .withColumn("_n", F.count(F.lit(1)).over(wb))
                      .withColumn("_rep", F.min(F.col(id_col)).over(wb)))
            cold_old = (tagged.filter(F.col("_n") <= max_bucket_size)
                        .select(F.col(id_col).alias("id_old"),
                                "band", "band_key"))
            hot_old = (tagged.filter(F.col("_n") > max_bucket_size)
                       .select(F.col("_rep").alias("id_old"),
                               "band", "band_key")
                       .distinct())
        old_side = cold_old.unionByName(hot_old)

    new_side = nb.select(F.col(id_col).alias("id_new"), "band", "band_key")
    cross = (new_side.join(old_side, on=["band", "band_key"])
             .filter(F.col("id_new") != F.col("id_old"))
             .select(F.least("id_new", "id_old").alias("id_a"),
                     F.greatest("id_new", "id_old").alias("id_b"))
             .distinct()).persist()
    candidates = cross.unionByName(within).distinct()

    # corpus shingle sets read pruned; dropDuplicates makes an at-least-once
    # appended index (streaming replay re-appends rows) read effectively-once
    old_ids = (cross.select(F.col("id_a").alias("cid"))
               .unionByName(cross.select(F.col("id_b").alias("cid")))
               .distinct())
    hit_sbps = [r["sbp"] for r in
                old_ids.select(F.pmod("cid", F.lit(n_parts)).alias("sbp"))
                .distinct().collect()]
    within_thread.join()  # prefetch overlapped the two jobs above
    sh_old = (spark.read.parquet(root + "/shingles")
              .filter(F.col("sbp").isin(hit_sbps))
              .join(old_ids, F.col(id_col) == F.col("cid"), "left_semi")
              .dropDuplicates([id_col])
              .select(id_col, "sh"))
    # batch docs win on id collision (re-ingest of an updated doc)
    sh = sh_new.unionByName(
        sh_old.join(sh_new.select(id_col), on=id_col, how="left_anti"))
    return track_cached_deps(
        verify_jaccard_candidates(candidates, sh, id_col, threshold),
        [sh_batch, nb, cross, within] + size_deps)
