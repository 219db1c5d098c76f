"""Streaming rollup maintenance: the continuous-aggregate job.

Wires ``operators/rollup.py`` into Structured Streaming the same way
``streaming/ingest.py`` maintains the vector store and the dedup index:
``foreachBatch`` runs the batch maintenance op per micro-batch, so the
materialized rollup stays fresh while every write touches only the day
partitions the micro-batch lands in (dynamic partition overwrite — never
O(history)).

Delivery: the merge is additive, so replaying a micro-batch must not
double-count. Correctness comes from ``append_to_rollup``'s in-partition
batch-id markers: every rewritten ``pday`` partition carries the list of
batch ids applied to it IN THE SAME FILES as the data, so a replayed
batch finds its id and skips those partitions — idempotent by
construction, with no data-vs-marker commit race (the round-6 design's
documented gap, now closed). The ``_applied/`` file here is only a
fast-path: it records the highest fully-applied batch id (batch ids are
monotonically increasing under one checkpoint) so a replay can no-op
without even computing the batch's partials. Losing or lagging it is
safe. Single-writer assumptions per README "Single-writer boundary".
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from flink_rag_spark.operators.rollup import append_to_rollup
from flink_rag_spark.operators.util import write_json
from flink_rag_spark.session import ensure_runtime_confs


def _last_applied(marker_dir: str) -> int | None:
    try:
        with open(os.path.join(marker_dir, "latest")) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def _record_applied(marker_dir: str, batch_id: int) -> None:
    # JSON of an int is its decimal text: _last_applied's int() parses it
    write_json(os.path.join(marker_dir, "latest"), batch_id)
    # prune legacy one-file-per-batch markers (pre-round-7 layout) so the
    # directory stays O(1) instead of growing per micro-batch forever
    for name in os.listdir(marker_dir):
        if name not in ("latest", "latest.tmp"):
            p = os.path.join(marker_dir, name)
            if os.path.isfile(p):
                try:
                    os.remove(p)
                except OSError:
                    pass


def run_rollup(spark: SparkSession, events_stream: DataFrame, path: str,
               checkpoint_dir: str, ts_col: str = "ts",
               keys: list[str] | None = None, value_col: str = "value",
               bucket: str = "1 hour",
               available_now: bool = False,
               distinct_col: str | None = None):
    """Maintain the materialized rollup at ``path`` from a streaming
    events frame. Returns the StreamingQuery."""
    ensure_runtime_confs(spark)
    keys = keys or []
    marker_dir = path.rstrip("/") + "_applied"
    os.makedirs(marker_dir, exist_ok=True)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        last = _last_applied(marker_dir)
        if last is not None and batch_id <= last:
            return  # replayed, already merged — fast no-op
        append_to_rollup(spark, batch_df, path, ts_col=ts_col, keys=keys,
                         value_col=value_col, bucket=bucket,
                         batch_id=batch_id, distinct_col=distinct_col)
        _record_applied(marker_dir, batch_id)

    writer = (events_stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
