"""The catalog layer: the 20 non-RAG headline queries of the root
``bench.py`` (this list is the benchmark's own copy), each timed as its
query-function call (plan construction plus any eager jobs) and its noop
force, and each checked against its DuckDB oracle by value hash.

The value hash is order-insensitive: columns sorted by name, every cell
written in a canonical form (floats with all 17 significant digits, ints
and floats kept apart), rows sorted, then hashed.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd

QUERIES = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "agg_orders_by_status",
    "window_top3_orders_per_customer",
    "window_running_customer_spend",
    "events_tumbling_5min",
    "json_events_props",
    "asof_error_last_purchase",
    "knn_single_vec0",
    "knn_batch",
    "lsh_dup_candidates",
    "simhash_docs",
    "text_quality_stats",
    "lang_id_heuristic",
    "doc_fingerprints",
    "word_count_top50",
    "interval_join_signup_clicks",
    "session_windows_batch",
    "stats_order_prices",
]


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else f"f:{v + 0.0:.17g}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return f"i:{v}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def value_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(_cell(v) for v in row)
                  for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()


def oracle_frame(sql: str, tables_dir: str):
    """Run a catalog oracle in DuckDB over the same table directory."""
    import duckdb
    from flink_rag_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            path = os.path.join(tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()
