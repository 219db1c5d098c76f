"""Shared operator plumbing."""

from __future__ import annotations

import json
import math
import os
import shutil

from pyspark.sql import DataFrame

_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def _max_partition_bytes(spark) -> int:
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes",
                             str(_DEFAULT_MAX_PARTITION_BYTES)))
    digits = "".join(ch for ch in raw if ch.isdigit())
    return int(digits) if digits else _DEFAULT_MAX_PARTITION_BYTES


def sql_str_lit(v) -> str:
    """Render a Python value as a SQL literal, safely.

    ``repr()`` is NOT a SQL quoter (bool/Decimal reprs aren't SQL, and a
    string containing a single quote produces broken SQL); neither is a
    bare f-string ``'{v}'``. One shared rendering for every operator that
    interpolates user-supplied strings (event types, funnel steps, touch
    labels, group values) into Spark ``F.expr`` strings or DuckDB oracle
    SQL — both engines use the same ``''`` escape."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and not math.isfinite(v):
        # bare inf/nan are not valid SQL literals in either engine —
        # fail loudly rather than emit broken SQL from a future
        # numeric call site
        raise ValueError(f"non-finite float is not a SQL literal: {v!r}")
    if isinstance(v, (int, float)):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def dec_to_double(c):
    """Engine-portable DECIMAL→DOUBLE cast, floor-split:

        double(floor(d)) + double(d − floor(d))

    A direct high-scale cast is NOT identical across engines once the
    unscaled value exceeds 2^53: DuckDB converts the int128 to double
    and then divides by 10^scale (two roundings — measured 1 ulp off
    correctly-rounded on DECIMAL(38,12) at ~3e14, the round-13
    brown_forsythe ss_within failure), while Java's BigDecimal cast is
    correctly rounded. Splitting makes every step a SINGLE identical
    IEEE operation in both engines: the scale-0 floor converts int→
    double (correctly rounded everywhere), the sub-unit fraction
    converts exactly, and the final add is one IEEE op. Pair with
    :func:`dec_to_double_duck` in the oracle mirror."""
    import pyspark.sql.functions as F
    fl = F.floor(c)
    return fl.cast("double") + (c - fl).cast("double")


def dec_to_double_duck(expr: str) -> str:
    """DuckDB mirror of :func:`dec_to_double` — same floor-split."""
    return (f"(CAST(FLOOR({expr}) AS DOUBLE) "
            f"+ CAST(({expr}) - FLOOR({expr}) AS DOUBLE))")


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate how many partitions the input scan yields, WITHOUT touching
    ``df.rdd`` (which forces a logical→RDD plan conversion per call and is
    unsupported under Spark Connect). Uses the public ``inputFiles()``
    listing plus local file sizes; remote files count 1 split each (their
    size isn't cheaply knowable — an undercount, which only ever makes the
    widen MORE eager, never skips a genuinely narrow input). Returns None
    for purely in-memory inputs (no scan files)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    max_bytes = _max_partition_bytes(df.sparkSession)
    est = 0
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        if os.path.isfile(path):
            est += max(1, math.ceil(os.path.getsize(path) / max_bytes))
        else:
            est += 1
    return est


def estimated_scan_rows(df: DataFrame) -> int | None:
    """Row-count estimate for a scan-backed frame from parquet FOOTERS —
    no Spark job. Drives size-adaptive plan choices (e.g. whether a
    map-side partial top-k pays for itself). Returns None when the input
    isn't local parquet files (in-memory frames, other formats, remote
    storage) — callers must treat None as 'assume large' so the
    scale-safe plan is the fallback, never the exception."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    try:
        import pyarrow.parquet as pq
        for f in files:
            path = f[len("file:"):] if f.startswith("file:") else f
            if not (os.path.isfile(path) and path.endswith(".parquet")):
                return None
            total += pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None
    return total


def track_cached_deps(out: DataFrame, deps: list[DataFrame]) -> DataFrame:
    """Record persisted frames the returned frame's lineage depends on.

    Some operators persist an intermediate (e.g. a batch signature frame
    feeding both a bounded pruning-key collect and the returned plan) that
    CANNOT be unpersisted before the caller materializes the result. For
    one-shot callers the session's LRU block manager reclaims the cache;
    LOOPING callers (streaming foreachBatch, repeated bench runs) must call
    ``unpersist_cached_deps(result)`` after their action or cached blocks
    accumulate for the session lifetime."""
    out._cached_deps = list(deps)
    return out


def unpersist_cached_deps(df: DataFrame, blocking: bool = False) -> None:
    """Release every persisted dependency recorded by ``track_cached_deps``
    — call AFTER the frame has been materialized (collected/written)."""
    for d in getattr(df, "_cached_deps", []):
        d.unpersist(blocking)
    df._cached_deps = []


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the input
    scan yields fewer partitions than cores.

    Compute-heavy narrow stages (per-row cosine, char-level hashing) are
    otherwise pinned to however many partitions the scan produced — for a
    single small parquet file that is ONE task regardless of cores. At real
    scale the scan already yields ≥cores partitions (many files / many row
    groups) and this is a no-op; the repartition cost is only paid exactly
    when the input is small enough for it to be cheap. In-memory inputs
    (createDataFrame/range) already default to cores partitions and are
    left alone. Catalyst still pushes filters/pruning through the
    repartition to the scan."""
    target = df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_partitions(df)
    if est is not None and est < target:
        return df.repartition(target)
    return df


def hash_capped_groups(df: DataFrame, group_col: str, item_col: str,
                       cap: int) -> DataFrame:
    """The hub-skew bound shared by the basket-pair family and link
    prediction: keep each group's ``cap`` lowest-(poly_hash(item),
    item) rows — a deterministic, unbiased-in-expectation take-N that
    both engines replay bit-identically (the shared polynomial hash;
    SQL twin: ``functions.hashing.hash_capped_sql``). One window on
    the group key; everything else scan-shaped."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from flink_rag_spark.functions.hashing import poly_hash_expr
    h = F.expr(poly_hash_expr(f"cast({item_col} as string)"))
    w = (Window.partitionBy(group_col)
         .orderBy(h.asc(), F.col(item_col).asc()))
    return (df.withColumn("_hc_rk", F.row_number().over(w))
            .filter(F.col("_hc_rk") <= cap).drop("_hc_rk"))


# ------------------------------------------------ persisted-artifact commits
#
# The one write-then-swap every persisted parquet directory commits
# through (local or POSIX-mounted filesystem: the swap is two directory
# renames). The swap leaves a short window where the live path is
# missing; ``settle_dir`` closes it, and every writer of a swapped
# artifact calls it (directly or through ``replace_dir``) before it
# reads the artifact, so a crash inside the window is settled by the
# artifact's next writer instead of reading as "no data yet".

SWAP_TMP = ".swap.tmp"
SWAP_OLD = ".swap.old"


def settle_dir(path: str) -> None:
    """Undo a swap that crashed between its two renames: a missing live
    ``path`` is restored from ``<path>.swap.old``, and any leftover
    ``.swap.tmp`` / ``.swap.old`` sibling is removed. A no-op (three
    existence checks) when no swap was interrupted."""
    path = path.rstrip("/")
    old = path + SWAP_OLD
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    for stale in (path + SWAP_TMP, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)


def swap_in_dir(src: str, path: str) -> None:
    """Replace the live ``path`` with the fully written directory
    ``src``: live -> ``<path>.swap.old``, ``src`` -> live, drop old. A
    crash between the renames is undone by ``settle_dir``."""
    path = path.rstrip("/")
    old = path + SWAP_OLD
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(src, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def replace_dir(path: str, write) -> None:
    """Crash-safely replace the directory ``path``: settle any earlier
    swap, call ``write(tmp)`` to write the new contents into
    ``<path>.swap.tmp`` (``write`` may read the live ``path``; it is
    settled by then), then swap it in. Readers see the old or the new
    directory, never a half-written one."""
    settle_dir(path)
    tmp = path.rstrip("/") + SWAP_TMP
    write(tmp)
    swap_in_dir(tmp, path)


def overwrite_partitions(kept: DataFrame, path: str, pcol: str,
                         touched: list) -> None:
    """Dynamic-overwrite the ``touched`` partitions of ``path`` with
    ``kept`` (already checkpointed), removing any partition directory the
    deletion emptied (dynamic overwrite only replaces partitions PRESENT
    in the write)."""
    (kept.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy(pcol).parquet(path))
    kept_parts = {r[pcol] for r in kept.select(pcol).distinct().collect()}
    for p in set(touched) - kept_parts:
        shutil.rmtree(os.path.join(path, f"{pcol}={p}"),
                      ignore_errors=True)


def write_json(path: str, obj) -> None:
    """Atomically replace the JSON file ``path`` (tmp + ``os.replace``):
    a reader never sees a torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


# ------------------------------------------------------ staged commits
#
# An update that spans several files of one artifact (data files plus
# the JSON records that describe them) commits in four steps:
#
# 1. the writer stages its files under a staging directory inside the
#    artifact;
# 2. one intent record (``write_json``) lists every move and every JSON
#    file the update sets or removes — writing it is the commit point;
# 3. ``roll_forward`` does the moves, writes the JSON files and removes
#    the intent. Each step is idempotent, so a crash inside it is
#    redone by running it again;
# 4. the artifact's next writer calls ``settle_staged`` first: a
#    leftover intent rolls forward, and a staging directory left
#    without one is pre-commit garbage and is cleared.
#
# An intent record is {"moves": [[src, dst], ...], "json": {name: obj}},
# paths relative to the intent's directory; a None obj removes the file.


def staged_moves(root: str, staging: str) -> list[list[str]]:
    """The moves that carry every data file under ``staging`` to the
    same relative place under ``root`` (both relative to ``root``).
    Hidden and ``_``-prefixed files (checksums, ``_SUCCESS``) stay
    behind and are cleared with the staging directory."""
    moves = []
    for d, _, files in os.walk(staging):
        for name in sorted(files):
            if not name.startswith((".", "_")):
                src = os.path.join(d, name)
                moves.append([os.path.relpath(src, root),
                              os.path.relpath(src, staging)])
    return moves


def _move(src: str, dst: str) -> None:
    """One roll-forward move. A missing ``src`` is a move already done.
    A file is renamed to ``dst`` (Spark part-file names are unique per
    job, so a staged file never collides with a live one); a directory
    replaces the live ``dst`` through ``swap_in_dir``."""
    if not os.path.exists(src):
        return
    if os.path.isdir(src):
        swap_in_dir(src, dst)
    else:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)


def roll_forward(intent: str, steps=None) -> None:
    """Finish the commit the ``intent`` file records, if there is one:
    the moves, then the JSON files, then the intent's removal.
    ``steps`` maps an artifact's own intent payload onto the record
    shape above."""
    if not os.path.exists(intent):
        return
    with open(intent) as f:
        rec = json.load(f)
    if steps is not None:
        rec = steps(rec)
    root = os.path.dirname(intent)
    for src, dst in rec["moves"]:
        _move(os.path.join(root, src), os.path.join(root, dst))
    for name, obj in rec["json"].items():
        target = os.path.join(root, name)
        if obj is not None:
            write_json(target, obj)
        elif os.path.exists(target):
            os.remove(target)
    os.remove(intent)


def settle_staged(intent: str, staging: str, steps=None) -> None:
    """A writer's first step on a staged-commit artifact: roll a
    committed update forward, then clear what is left of ``staging``."""
    roll_forward(intent, steps)
    if os.path.exists(staging):
        shutil.rmtree(staging)


def commit_staged(intent: str, staging: str, record, steps=None) -> None:
    """Commit the update staged under ``staging``: write its intent
    ``record`` (the commit point), then roll it forward."""
    write_json(intent, record)
    settle_staged(intent, staging, steps)
