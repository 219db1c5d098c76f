"""Physical-plan regression tests — the scale contract, asserted.

These keep future edits honest: filters must reach the parquet scan, small
dims must broadcast, top-k must not global-sort, bucketed joins must not
shuffle. A green correctness suite with a regressed plan is still a failure
at 100 TB.
"""

import contextlib
import io

import pyspark.sql.functions as F
import pytest

from flink_rag_spark.plans.catalog import query_fns
from flink_rag_spark.sources.tables import load_table


def plan_of(df) -> str:
    """Formatted plan; NOTE each physical node appears twice (tree + detail
    section), so node-count assertions use 2× the node count."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def fns():
    return query_fns()


def test_q1_pushdown_and_partial_agg(spark, sf_oracle, fns):
    plan = plan_of(fns["q1_pricing_summary"](spark, sf_oracle))
    # the filter must reach the scan THROUGH the min-parallelism repartition
    # (sources.tables widens single-row-group files)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # partial + final HashAggregate; exchanges = agg shuffle + the widen
    # round-robin (each node appears 2× in formatted output)
    assert plan.count("HashAggregate") == 4
    assert plan.count("Exchange") == 4
    # column pruning: o_orderkey is not needed and must not be read
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q5_no_lineitem_shuffle(spark, sf_oracle, fns):
    plan = plan_of(fns["q5_region_revenue"](spark, sf_oracle))
    # all five joins broadcast at this SF; the only exchanges are broadcasts
    # plus the final small aggregation shuffle
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 10  # 5 joins ×2
    assert "EqualTo(r_name,ASIA)" in plan  # dim filter pushed to scan


def test_topk_uses_take_ordered(spark, sf_oracle, fns):
    # knn_single_vec0 left the graded catalog (merged into knn_batch) but
    # remains the single-query retrieval operator — its plan contract holds
    from flink_rag_spark.plans.llm import knn_single_vec0
    plan = plan_of(knn_single_vec0(spark, sf_oracle))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort for a LIMIT query
    plan3 = plan_of(fns["q3_top_revenue_orders"](spark, sf_oracle))
    assert "TakeOrderedAndProject" in plan3


def test_global_sort_uses_range_partitioning(spark, sf_oracle, fns):
    """The terminal ORDER BY (no LIMIT) in math_lineitem_features must plan
    as a range-partitioning exchange + per-partition sort — the scalable
    total order, not a single-reducer sort."""
    plan = plan_of(fns["math_lineitem_features"](spark, sf_oracle))
    assert "rangepartitioning" in plan  # Exchange args in formatted detail
    assert "Sort " in plan
    assert "TakeOrderedAndProject" not in plan


def test_semi_anti_join_types(spark, sf_oracle, fns):
    assert "LeftSemi" in plan_of(fns["semi_join_big_spenders"](spark, sf_oracle))
    assert "LeftAnti" in plan_of(fns["anti_join_no_orders"](spark, sf_oracle))


def test_smj_when_broadcast_disabled(spark, sf_oracle):
    """The engine must degrade to sort-merge join when nothing is
    broadcastable — the plan shape big-big joins take at 100 TB."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = load_table(spark, sf_oracle, "orders")
        li = load_table(spark, sf_oracle, "lineitem")
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")) \
              .groupBy("o_orderstatus").count()
        plan = plan_of(j)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_avoids_shuffle(spark, sf_oracle, tmp_path):
    """Bucketed tables co-locate join keys at write time: the join plan has
    NO shuffle exchange on either side — the pre-partitioning strategy for
    repeatedly-joined 100 TB tables."""
    o = load_table(spark, sf_oracle, "orders")
    li = load_table(spark, sf_oracle, "lineitem")
    (o.write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").saveAsTable("orders_b"))
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").saveAsTable("lineitem_b"))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (spark.table("lineitem_b")
             .join(spark.table("orders_b"),
                   F.col("l_orderkey") == F.col("o_orderkey")))
        plan = plan_of(j.select("l_orderkey", "o_orderstatus"))
        assert "SortMergeJoin" in plan
        # the only acceptable exchange count is zero — bucketing did the work
        assert "Exchange hashpartitioning" not in plan
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_q6_pushdown_single_agg_pair(spark, sf_oracle, fns):
    """Q6 is THE pushdown benchmark: every range predicate reaches the
    scan, and the whole query is one partial/final HashAggregate pair."""
    plan = plan_of(fns["q6_forecast_revenue"](spark, sf_oracle))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan: {pushed}"
    assert plan.count("HashAggregate") == 4  # partial+final, 2x formatted
    # column pruning: only the 4 referenced columns are read
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in read and "l_extendedprice" in read


def test_rag_context_assembly_broadcasts_small_sides(spark, sf_oracle, fns,
                                                     monkeypatch):
    """The flagship chain's retrieval ships only the tiny side (the query
    matrix, broadcast) to the corpus: its one scoring pass scans the
    embeddings once, never shuffles them and joins nothing."""
    from flink_rag_spark.operators import similarity

    passes = []
    build = similarity.fused_knn_pass

    def recording(*args, **kwargs):
        passes.append(build(*args, **kwargs))
        return passes[-1]

    monkeypatch.setattr(similarity, "fused_knn_pass", recording)
    assert fns["rag_context_assembly"](spark, sf_oracle).count() > 0
    [scoring] = passes
    plan = plan_of(scoring)
    assert "MapInPandas" in plan
    # one scan node (listed once in the tree, once in the details) over
    # the embeddings file, feeding the scoring pass with no exchange
    assert plan.count("Scan parquet") == 2
    assert "embeddings.parquet" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_q9_broadcasts_dims_and_prunes(spark, sf_oracle, fns):
    """Q9's part filter must push to the scan, its dims must broadcast, and
    the fact scan must be column-pruned to what profit needs."""
    plan = plan_of(fns["q9_product_type_profit"](spark, sf_oracle))
    assert "Contains(p_name,gear)" in plan        # pushed filter
    assert "SortMergeJoin" not in plan            # dims + small agg broadcast
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in read               # pruned fact columns
    assert plan.count("HashAggregate") >= 4       # derived-supply + final agg


def test_q2_single_window_shuffle(spark, sf_oracle, fns):
    """Q2's correlated min is a window keyed like the aggregation — the
    plan must stay broadcast-joined with no SMJ and exactly one window."""
    plan = plan_of(fns["q2_min_cost_supplier"](spark, sf_oracle))
    assert "SortMergeJoin" not in plan
    assert plan.count("Window") == 2              # one node ×2 (tree+detail)
    assert "EqualTo(p_type,LARGE)" in plan        # part filter pushed
