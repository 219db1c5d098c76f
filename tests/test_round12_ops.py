"""Round-12 operator tests: ADVICE hardening (weight validation,
weighted-LPA parallel-edge semantics, sql_str_lit non-finite floats)
plus the round's new operator families."""

import duckdb
import pytest


# ------------------------------------------------------ ADVICE fixes


def test_weight_validation_rejects_bad_weights(spark):
    """Non-positive or NULL weights would silently corrupt every rank
    (out_deg = 0 is non-NULL, so pr·w/out_deg → Infinity) — the guard
    fails loudly up front instead."""
    from flink_rag_spark.operators.graph import (
        community_labels, pagerank, personalized_pagerank,
        weighted_shortest_paths)
    zero = spark.createDataFrame([(1, 2, 3), (2, 3, 0)],
                                 "src bigint, dst bigint, w bigint")
    neg = spark.createDataFrame([(1, 2, 3), (2, 3, -1)],
                                "src bigint, dst bigint, w bigint")
    nul = spark.createDataFrame([(1, 2, 3), (2, 3, None)],
                                "src bigint, dst bigint, w bigint")
    for bad in (zero, neg, nul):
        with pytest.raises(ValueError):
            pagerank(bad, iters=1, weight="w")
        with pytest.raises(ValueError):
            personalized_pagerank(bad, [1], iters=1, weight="w")
        with pytest.raises(ValueError):
            community_labels(bad, id_a="src", id_b="dst", iters=1,
                             weight="w")
    # min-plus tolerates zero-weight edges but not negative ones
    z = zero.toDF("u", "v", "w")
    out = {r["node"]: r["dist"]
           for r in weighted_shortest_paths(z, [1], 2).collect()}
    assert out[3] == 3.0        # through the zero-weight edge
    with pytest.raises(ValueError):
        weighted_shortest_paths(neg.toDF("u", "v", "w"), [1], 2)
    with pytest.raises(ValueError):
        weighted_shortest_paths(nul.toDF("u", "v", "w"), [1], 2)


def test_weighted_lpa_parallel_edges_combine(spark):
    """Parallel (and reversed-duplicate) weighted edges pre-aggregate
    to ONE undirected edge with the summed weight — a duplicate with a
    differing weight must not double-vote or vote asymmetrically."""
    from flink_rag_spark.operators.graph import (community_labels,
                                                 community_labels_duck)
    # same graph expressed with parallel + reversed-duplicate edges …
    dup = spark.createDataFrame(
        [(1, 2, 3), (1, 2, 5), (2, 1, 2), (2, 3, 4)],
        "u bigint, v bigint, w bigint")
    # … and pre-aggregated (1-2 strength 10, 2-3 strength 4)
    flat = spark.createDataFrame([(1, 2, 10), (2, 3, 4)],
                                 "u bigint, v bigint, w bigint")
    got_dup = {r["node"]: r["label"] for r in community_labels(
        dup, id_a="u", id_b="v", iters=2, weight="w").collect()}
    got_flat = {r["node"]: r["label"] for r in community_labels(
        flat, id_a="u", id_b="v", iters=2, weight="w").collect()}
    assert got_dup == got_flat
    # the duck mirror replays the SAME pre-aggregation
    con = duckdb.connect()
    con.register("dupe", dup.toPandas())
    du = con.execute(community_labels_duck(
        "SELECT u, v, w FROM dupe", iters=2, weighted=True)).fetchdf()
    assert {(int(r.node), int(r.label))
            for r in du.itertuples()} == set(got_dup.items())


def test_sql_str_lit_rejects_non_finite():
    from flink_rag_spark.operators.util import sql_str_lit
    assert sql_str_lit(1.5) == "1.5"
    assert sql_str_lit(True) == "TRUE"
    assert sql_str_lit("o'hara") == "'o''hara'"
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError):
            sql_str_lit(bad)


# ------------------------------------- all-matches CEP (noSkip /
# ------------------------------------- skipPastLastEvent)


def _ev(spark, rows):
    """(event_id, ts_str, user_id, event_type) → events frame."""
    import pyspark.sql.functions as F
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
              "event_type string")
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def test_all_funnel_matches_hand_values(spark):
    from flink_rag_spark.operators.sequences import (all_funnel_matches,
                                                     funnel_times)
    rows = [(1, "2024-01-01 00:00:01", 1, "A"),
            (2, "2024-01-01 00:00:02", 1, "A"),
            (3, "2024-01-01 00:00:03", 1, "B"),
            (4, "2024-01-01 00:00:04", 1, "B"),
            (5, "2024-01-01 00:00:05", 1, "C"),
            (6, "2024-01-01 00:00:06", 1, "A")]   # anchor, never done
    e = _ev(spark, rows)
    out = sorted((str(r["t1"]), str(r["t2"]), str(r["t3"])) for r in
                 all_funnel_matches(e, ["A", "B", "C"]).collect())
    # BOTH anchors emit; each continues greedily (first B after the
    # anchor, first C after that B); the trailing A emits nothing
    assert out == [
        ("2024-01-01 00:00:01", "2024-01-01 00:00:03",
         "2024-01-01 00:00:05"),
        ("2024-01-01 00:00:02", "2024-01-01 00:00:03",
         "2024-01-01 00:00:05")]
    # min over anchors == funnel_times' single completion
    ft = funnel_times(e, ["A", "B", "C"]).collect()[0]
    assert (str(ft["t1"]), str(ft["t2"]), str(ft["t3"])) == out[0]
    # within: the greedy chain is t_k-minimal, so the filter is exact
    within = all_funnel_matches(e, ["A", "B", "C"], within_seconds=3)
    got = [str(r["t1"]) for r in within.collect()]
    assert got == ["2024-01-01 00:00:02"]     # 5s-1s > 3s, 5s-2s = 3s
    # k = 1: every step-1 event is a match
    assert all_funnel_matches(e, ["A"]).count() == 3
    with pytest.raises(ValueError):
        all_funnel_matches(e, [])


def test_all_funnel_matches_equal_instants(spark):
    """Two anchors at the same microsecond both emit (per-EVENT match
    identity); equal-instant step events never chain to themselves
    (strict value order)."""
    from flink_rag_spark.operators.sequences import all_funnel_matches
    rows = [(1, "2024-01-01 00:00:01", 1, "A"),
            (2, "2024-01-01 00:00:01", 1, "A"),
            (3, "2024-01-01 00:00:01", 1, "B"),   # NOT after the As
            (4, "2024-01-01 00:00:02", 1, "B"),
            (5, "2024-01-01 00:00:03", 1, "C")]
    out = all_funnel_matches(_ev(spark, rows), ["A", "B", "C"]).collect()
    assert len(out) == 2
    assert {str(r["t2"]) for r in out} == {"2024-01-01 00:00:02"}


def test_consumed_funnel_matches_hand_values(spark):
    from flink_rag_spark.operators.sequences import (
        consumed_funnel_matches)
    rows = [(1, "2024-01-01 00:00:01", 1, "A"),
            (2, "2024-01-01 00:00:02", 1, "A"),
            (3, "2024-01-01 00:00:03", 1, "B"),
            (4, "2024-01-01 00:00:04", 1, "C"),
            (5, "2024-01-01 00:00:05", 1, "A"),
            (6, "2024-01-01 00:00:06", 1, "B"),
            (7, "2024-01-01 00:00:07", 1, "C"),
            # second user: one match only
            (8, "2024-01-01 00:00:01", 2, "A"),
            (9, "2024-01-01 00:00:02", 2, "B"),
            (10, "2024-01-01 00:00:03", 2, "C")]
    e = _ev(spark, rows)
    out = {(r["user_id"], r["match_idx"]):
           (str(r["t1"]), str(r["t2"]), str(r["t3"]))
           for r in consumed_funnel_matches(e, ["A", "B", "C"],
                                            max_matches=4).collect()}
    # user 1: match 1 from the EARLIEST anchor (00:01); the 00:02
    # anchor overlaps it (t1 < consumed 00:04) and is skipped; match 2
    # starts at 00:05
    assert out == {
        (1, 1): ("2024-01-01 00:00:01", "2024-01-01 00:00:03",
                 "2024-01-01 00:00:04"),
        (1, 2): ("2024-01-01 00:00:05", "2024-01-01 00:00:06",
                 "2024-01-01 00:00:07"),
        (2, 1): ("2024-01-01 00:00:01", "2024-01-01 00:00:02",
                 "2024-01-01 00:00:03")}
    # max_matches truncates
    one = consumed_funnel_matches(e, ["A", "B", "C"], max_matches=1)
    assert {r["user_id"] for r in one.collect()} == {1, 2}
    assert one.count() == 2
    with pytest.raises(ValueError):
        consumed_funnel_matches(e, ["A", "B", "C"], max_matches=0)


# ------------------------------------------------- log-rank test


def test_logrank_hand_values(spark):
    """Hand-computed Mantel 1966 table: O_A = 2, E_A = 1.5, V = 0.65
    (the t=20 risk set has n=1 — its variance term is 0 by the guard),
    z = 0.5/sqrt(0.65)."""
    from flink_rag_spark.operators.hypothesis import logrank_test
    rows = [("a", 5, 1), ("a", 10, 1), ("a", 15, 0),
            ("b", 5, 1), ("b", 12, 0), ("b", 20, 1),
            ("a", None, 1), ("a", 7, None)]       # excluded
    df = spark.createDataFrame(rows, "grp string, dur int, ev int")
    [r] = logrank_test(df, "dur", "ev", "grp", "a", "b").collect()
    assert (r["n_a"], r["n_b"], r["o_a"]) == (3, 3, 2)
    assert r["e_a"] == 1.5 and r["v"] == 0.65
    assert abs(r["z"] - 0.5 / 0.65 ** 0.5) < 1e-6
    assert abs(r["chi2"] - r["z"] ** 2) < 1e-5
    assert r["significant"] is False
    # a permissive critical value flips the verdict on the same z
    [r2] = logrank_test(df, "dur", "ev", "grp", "a", "b",
                        z_crit=0.1).collect()
    assert r2["significant"] is True
    # identical curves: z = 0 exactly
    same = spark.createDataFrame(
        [("a", 5, 1), ("a", 9, 1), ("b", 5, 1), ("b", 9, 1)],
        "grp string, dur int, ev int")
    [r3] = logrank_test(same, "dur", "ev", "grp", "a", "b").collect()
    assert r3["z"] == 0.0 and r3["significant"] is False
    # no comparable events → NULL z, False verdict
    empty = spark.createDataFrame([("a", 5, 0), ("b", 6, 0)],
                                  "grp string, dur int, ev int")
    [r4] = logrank_test(empty, "dur", "ev", "grp", "a", "b").collect()
    assert r4["z"] is None and r4["significant"] is False


def test_logrank_fuzz_mirror_parity(spark):
    from flink_rag_spark.operators.hypothesis import (logrank_test,
                                                      logrank_test_duck)
    from tests.oracle_check import canon
    import random
    rng = random.Random(5)
    rows = [(rng.choice(["x", "y"]), rng.randrange(1, 40),
             rng.randrange(2)) for _ in range(300)]
    df = spark.createDataFrame(rows, "grp string, dur int, ev int")
    sp = logrank_test(df, "dur", "ev", "grp", "x", "y").toPandas()
    con = duckdb.connect()
    con.register("subj", df.toPandas())
    du = con.execute(logrank_test_duck(
        "SELECT grp, dur, ev FROM subj", "dur", "ev", "grp",
        "x", "y")).fetchdf()
    assert canon(sp) == canon(du)


# ------------------------------------------------- Holt forecasting


def test_holt_forecast_hand_values(spark):
    """α = β = 0.5 over a perfectly linear series tracks the trend
    exactly (hand-unrolled recurrence: l = x_n, b = slope), and the
    closed-form weight table reproduces the recurrence on an
    arbitrary series."""
    from flink_rag_spark.operators.timeseries import holt_forecast
    rows = [(i, f"2024-01-01 00:00:{i:02d}", 1, float(i))
            for i in range(1, 4)]                 # x = 1, 2, 3
    rows += [(10 + i, f"2024-01-01 00:00:{i:02d}", 2, v)
             for i, v in enumerate([4.0, 1.0, 7.0, 2.0], start=1)]
    rows += [(20, "2024-01-01 00:00:01", 3, 9.0)]  # singleton: omitted
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, value double")
    import pyspark.sql.functions as F
    df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {r["user_id"]: r for r in holt_forecast(
        df, ["user_id"], "ts", "value", "event_id",
        alpha=0.5, beta=0.5).collect()}
    assert set(out) == {1, 2}                     # singleton dropped
    assert out[1]["level"] == 3.0 and out[1]["trend"] == 1.0
    assert out[1]["forecast"] == 4.0
    # recurrence replay for user 2 (x = 4, 1, 7, 2), α = β = 0.5:
    # l1=4 b1=-3; l2=1 b2=-3; l3=.5*7+.5*(1-3)=2.5 b3=.5*1.5+.5*(-3)
    # =-0.75; l4=.5*2+.5*1.75=1.875 b4=.5*(-.625)+.5*(-.75)=-0.6875
    assert abs(out[2]["level"] - 1.875) < 1e-9
    assert abs(out[2]["trend"] - (-0.6875)) < 1e-9
    assert abs(out[2]["forecast"] - 1.1875) < 1e-9
    # horizon scales the trend term
    h3 = {r["user_id"]: r["forecast"] for r in holt_forecast(
        df, ["user_id"], "ts", "value", "event_id",
        alpha=0.5, beta=0.5, horizon=3).collect()}
    assert h3[1] == 6.0
    import pytest as _pt
    for kw in ({"alpha": 0.0}, {"beta": 1.5}, {"horizon": 0}):
        with _pt.raises(ValueError):
            holt_forecast(df, ["user_id"], "ts", "value", "event_id",
                          **kw)


def test_holt_forecast_matches_float_recurrence_and_mirror(spark):
    """The quantized closed form stays within quantization error of the
    float recurrence on fuzzed series, and replays bit-identically in
    DuckDB (default α, β — complex eigenvalues, oscillating weights)."""
    import random

    from flink_rag_spark.operators.timeseries import (holt_forecast,
                                                      holt_forecast_duck)
    from tests.oracle_check import canon
    rng = random.Random(42)
    rows, eid = [], 0
    series = {}
    for u in range(12):
        n = rng.randrange(2, 60)
        xs = [round(rng.uniform(-50, 150), 2) for _ in range(n)]
        series[u] = xs
        for i, x in enumerate(xs):
            eid += 1
            rows.append((eid, f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00",
                         u, x))
    import pyspark.sql.functions as F
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {r["user_id"]: r for r in holt_forecast(
        df, ["user_id"], "ts", "value", "event_id").collect()}
    a, b = 0.3, 0.1
    for u, xs in series.items():
        le, tr = xs[1], xs[1] - xs[0]
        for x in xs[2:]:
            nl = a * x + (1 - a) * (le + tr)
            tr = b * (nl - le) + (1 - b) * tr
            le = nl
        tol = 5e-7 * max(1.0, len(xs))   # 12-dp weights × |x| ≤ 150
        assert abs(out[u]["level"] - le) < tol, u
        assert abs(out[u]["trend"] - tr) < tol, u
    con = duckdb.connect()
    con.register("events", df.toPandas())
    du = con.execute(holt_forecast_duck(
        "SELECT user_id, ts, event_id, value FROM events",
        ["user_id"], "ts", "value", "event_id")).fetchdf()
    sp = holt_forecast(df, ["user_id"], "ts", "value",
                       "event_id").toPandas()
    assert canon(sp) == canon(du)


def test_consecutive_funnel_hand_values(spark):
    from flink_rag_spark.operators.sequences import (
        consecutive_funnel_times, quantified_funnel_times)
    rows = [  # user 1: clean back-to-back clicks
        (1, "2024-01-01 00:00:01", 1, "A"),
        (2, "2024-01-01 00:00:02", 1, "B"),
        (3, "2024-01-01 00:00:03", 1, "B"),
        (4, "2024-01-01 00:00:04", 1, "C"),
        # user 2: an interloper breaks the first run; the second
        # run (B@4, B@5) completes the loop
        (5, "2024-01-01 00:00:01", 2, "A"),
        (6, "2024-01-01 00:00:02", 2, "B"),
        (7, "2024-01-01 00:00:03", 2, "Z"),
        (8, "2024-01-01 00:00:04", 2, "B"),
        (9, "2024-01-01 00:00:05", 2, "B"),
        (10, "2024-01-01 00:00:06", 2, "C"),
        # user 3: no contiguous run at all
        (11, "2024-01-01 00:00:01", 3, "A"),
        (12, "2024-01-01 00:00:02", 3, "B"),
        (13, "2024-01-01 00:00:03", 3, "Z"),
        (14, "2024-01-01 00:00:04", 3, "B"),
        (15, "2024-01-01 00:00:05", 3, "C")]
    e = _ev(spark, rows)
    out = {r["user_id"]: (str(r["t1"]), str(r["t2"]), str(r["t3"]))
           for r in consecutive_funnel_times(
               e, ["A", ("B", 2), "C"], {2}).collect()}
    assert out[1] == ("2024-01-01 00:00:01", "2024-01-01 00:00:03",
                      "2024-01-01 00:00:04")
    assert out[2] == ("2024-01-01 00:00:01", "2024-01-01 00:00:05",
                      "2024-01-01 00:00:06")
    assert out[3][0] == "2024-01-01 00:00:01"
    assert out[3][1] == "None" and out[3][2] == "None"
    # empty consecutive set degenerates to the relaxed quantified form
    a = consecutive_funnel_times(e, ["A", ("B", 2), "C"], set())
    b = quantified_funnel_times(e, ["A", ("B", 2), "C"])
    assert sorted(map(tuple, a.collect())) == \
           sorted(map(tuple, b.collect()))
    # vacuous consecutive targets are refused (the `until` discipline)
    for bad_steps, cons in ((["A", "B", "C"], {2}),
                            (["A", ("B", 1), "C"], {2})):
        with pytest.raises(ValueError):
            consecutive_funnel_times(e, bad_steps, cons)
    with pytest.raises(ValueError):
        consecutive_funnel_times(e, ["A", ("B", 2)], {5})


def test_consecutive_funnel_fuzz_mirror_parity(spark):
    """Engine parity over 30 fuzzed event streams (the strict family's
    discipline) for the composed consecutive() desugaring."""
    import random

    from flink_rag_spark.operators.sequences import (
        consecutive_funnel_times, consecutive_funnel_times_duck)
    from tests.oracle_check import canon
    rng = random.Random(7)
    rows, eid = [], 0
    for _ in range(30):
        user = rng.randrange(40)
        for _ in range(rng.randrange(1, 16)):
            eid += 1
            rows.append((eid,
                         f"2024-01-01 00:00:{rng.randrange(55):02d}",
                         user, rng.choice(["A", "B", "B", "C", "Z"])))
    e = _ev(spark, rows)
    con = duckdb.connect()
    con.register("events", e.toPandas())
    for steps, cons, within in ((["A", ("B", 2), "C"], {2}, None),
                                (["A", ("B", 3), "C"], {2}, None),
                                ((["A", ("B", 2), "C"], {2}, 30))):
        sp = consecutive_funnel_times(e, steps, cons,
                                      within_seconds=within).toPandas()
        du = con.execute(consecutive_funnel_times_duck(
            steps, cons, within_seconds=within)).fetchdf()
        assert canon(sp) == canon(du), (steps, cons, within)


def test_all_matches_fuzz_mirror_parity(spark, sf_oracle):
    """Both operators replay bit-identically in DuckDB over fuzzed
    event streams (30 random graphs — the strict-CEP discipline) and
    over the real events table."""
    import random

    import pandas as pd

    from flink_rag_spark.operators.sequences import (
        all_funnel_matches, all_funnel_matches_duck,
        consumed_funnel_matches, consumed_funnel_matches_duck)
    from tests.oracle_check import canon
    rng = random.Random(12)
    rows, eid = [], 0
    for _ in range(30):
        user = rng.randrange(40)
        for _ in range(rng.randrange(1, 14)):
            eid += 1
            rows.append((eid,
                         f"2024-01-01 00:00:{rng.randrange(50):02d}",
                         user, rng.choice(["A", "B", "C", "Z"])))
    e = _ev(spark, rows)
    pdf = e.toPandas()
    con = duckdb.connect()
    con.register("events", pdf)
    for within in (None, 20):
        sp = all_funnel_matches(e, ["A", "B", "C"],
                                within_seconds=within).toPandas()
        du = con.execute(all_funnel_matches_duck(
            ["A", "B", "C"], within_seconds=within)).fetchdf()
        assert canon(sp) == canon(du), f"all-matches within={within}"
    sp = consumed_funnel_matches(e, ["A", "B", "C"], 3).toPandas()
    du = con.execute(
        consumed_funnel_matches_duck(["A", "B", "C"], 3)).fetchdf()
    assert canon(sp) == canon(du)
    # every consumed match IS an all-matches row, and consecutive
    # matches never overlap
    am = {tuple(r) for r in all_funnel_matches(
        e, ["A", "B", "C"]).collect()}
    byu = {}
    for r in sorted(sp.itertuples(index=False),
                    key=lambda r: (r.user_id, r.match_idx)):
        assert (r.user_id, pd.Timestamp(r.t1), pd.Timestamp(r.t2),
                pd.Timestamp(r.t3)) in {
            (u, pd.Timestamp(a), pd.Timestamp(b), pd.Timestamp(c))
            for u, a, b, c in am}
        if r.user_id in byu:
            assert pd.Timestamp(r.t1) > byu[r.user_id]
        byu[r.user_id] = pd.Timestamp(r.t3)


# ------------------------------------------------------ NSW graph ANN


@pytest.fixture(scope="module")
def nsw_index(spark, sf_smoke, tmp_path_factory):
    """One persisted NSW index over the smoke embeddings, shared by the
    graph-ANN tests (build is the expensive half)."""
    from flink_rag_spark.operators.nsw import build_nsw_index
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("nsw_idx"))
    meta = build_nsw_index(spark, emb, path)
    return path, meta, emb


def test_nsw_recall_and_fill(spark, nsw_index):
    """Beam search must meet the contract floor (and in practice lands
    near exact recall on this corpus) and always fill to k."""
    import pyspark.sql.functions as F

    from flink_rag_spark.operators.nsw import nsw_topk
    from flink_rag_spark.operators.similarity import cosine_topk
    path, _, emb = nsw_index
    for qid in (7, 100, 333):
        qv = list(emb.filter(F.col("vec_id") == qid).first()["embedding"])
        approx = [r["vec_id"] for r in nsw_topk(spark, path, qv, k=10)
                  .collect()]
        exact = {r["vec_id"] for r in cosine_topk(emb, qv, k=10).collect()}
        assert len(approx) == 10
        assert len(set(approx) & exact) / 10.0 >= 0.5
        # the result frame carries the exact tier's schema and ordering
        rows = nsw_topk(spark, path, qv, k=10).collect()
        assert [r["rank"] for r in rows] == list(range(1, 11))
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_nsw_deterministic_rebuild(spark, nsw_index, tmp_path):
    """Seeded centroids + deterministic tie-breaks: a second build of the
    same corpus probes identically."""
    import pyspark.sql.functions as F

    from flink_rag_spark.operators.nsw import build_nsw_index, nsw_topk
    path, meta, emb = nsw_index
    path2 = str(tmp_path / "nsw2")
    meta2 = build_nsw_index(spark, emb, path2)
    assert meta2["entry_ids"] == meta["entry_ids"]
    qv = list(emb.filter(F.col("vec_id") == 42).first()["embedding"])
    a = [(r["vec_id"], r["score"]) for r in
         nsw_topk(spark, path, qv, k=10).collect()]
    b = [(r["vec_id"], r["score"]) for r in
         nsw_topk(spark, path2, qv, k=10).collect()]
    assert a == b


def test_nsw_graph_shape(spark, nsw_index):
    """Degree cap (≤ 2M out-edges per node), no self-loops, and every
    edge endpoint is a real vector id."""
    import pyspark.sql.functions as F
    path, meta, emb = nsw_index
    edges = spark.read.parquet(f"{path}/edges")
    m = meta["m_neighbors"]
    deg = edges.groupBy("src_id").count()
    assert deg.agg(F.max("count")).first()[0] <= 2 * m
    assert edges.filter(F.col("src_id") == F.col("dst_id")).count() == 0
    ids = emb.select(F.col("vec_id").alias("dst_id"))
    assert edges.join(ids, "dst_id", "left_anti").count() == 0


def test_nsw_hop_scans_prune(spark, nsw_index):
    """The per-hop edge fetch and vector fetch must reach
    PartitionFilters — bounded I/O per hop is the tier's scale story."""
    import io
    from contextlib import redirect_stdout

    import pyspark.sql.functions as F
    path, meta, _ = nsw_index
    nb = meta["n_buckets"]
    edges = spark.read.parquet(f"{path}/edges")
    frontier = meta["entry_ids"][:4]
    bks = sorted({i % nb for i in frontier})
    plan_df = edges.filter(F.col("src_bucket").isin(bks)
                           & F.col("src_id").isin(frontier))
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "src_bucket" in plan.split("PartitionFilters")[1][:300]


def test_nsw_bounded_hops_and_validation(spark, nsw_index):
    """max_hops bounds the walk (0 hops = entry points only) and bad
    arguments fail loudly."""
    import pyspark.sql.functions as F

    from flink_rag_spark.operators.nsw import build_nsw_index, nsw_topk
    path, meta, emb = nsw_index
    qv = list(emb.filter(F.col("vec_id") == 7).first()["embedding"])
    zero = [r["vec_id"] for r in
            nsw_topk(spark, path, qv, k=10, max_hops=0).collect()]
    assert set(zero) <= set(meta["entry_ids"])
    with pytest.raises(ValueError):
        nsw_topk(spark, path, qv, k=0)
    with pytest.raises(ValueError):
        build_nsw_index(spark, emb, "/tmp/never", m_neighbors=0)
    with pytest.raises(ValueError):
        build_nsw_index(spark, emb, "/tmp/never", n_probe=0)


def test_nsw_build_rejects_duplicate_ids(spark, nsw_index, tmp_path):
    """The build's lag-based (src, dst) dedup assumes one vector per id:
    a duplicated vec_id is rejected by name before anything is written."""
    import os

    import pyspark.sql.functions as F

    from flink_rag_spark.operators.nsw import build_nsw_index
    _, _, emb = nsw_index
    dup = emb.unionByName(emb.filter(F.col("vec_id") == 7))
    path = str(tmp_path / "dup")
    with pytest.raises(ValueError, match=r"duplicated: \[7\]"):
        build_nsw_index(spark, dup, path)
    assert not os.path.exists(path)


# --------------------------------------------- round-12 wave 2: stats


def test_chi2_independence_hand_values(spark):
    """2×2 with dependence: O=[[10,20],[20,10]] → E=15 everywhere,
    chi2 = 4·(25/15) = 6.666667, significant at 3.841 (dof 1). NULL
    categories excluded; an unobserved cell contributes its whole
    expectation."""
    from flink_rag_spark.operators.hypothesis import (
        chi2_independence, chi2_independence_duck)
    rows = ([("a", "x")] * 10 + [("a", "y")] * 20 + [("b", "x")] * 20
            + [("b", "y")] * 10 + [(None, "x")] * 3 + [("a", None)] * 2)
    df = spark.createDataFrame(rows, "r string, c string")
    out = chi2_independence(df, "r", "c", 3.841).collect()[0]
    assert (out["n"], out["n_rows"], out["n_cols"], out["dof"]) \
        == (60, 2, 2, 1)
    assert out["chi2"] == 6.666667
    assert out["significant"]
    con = duckdb.connect()
    vals = ", ".join(
        f"({'NULL' if r is None else repr(r)}, "
        f"{'NULL' if c is None else repr(c)})" for r, c in rows)
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {vals}) v(r, c)")
    d = con.execute(chi2_independence_duck(
        "SELECT r, c FROM t", "r", "c", 3.841)).fetchdf()
    assert d["chi2"][0] == 6.666667 and bool(d["significant"][0])
    # unobserved cells: O=[[5,0],[0,5]] → all E=2.5, chi2 = 4·2.5 = 10
    df2 = spark.createDataFrame([("a", "x")] * 5 + [("b", "y")] * 5,
                                "r string, c string")
    out2 = chi2_independence(df2, "r", "c", 3.841).collect()[0]
    assert out2["chi2"] == 10.0 and out2["significant"]


def test_mann_whitney_hand_values_and_ties(spark):
    """A=[1,2,3,3,5], B=[3,4,5,6]: U_A = Σ[a>b] + ½Σ[a=b] = 3.5,
    μ=10, tie groups {3:3, 5:2} → Σ(t³−t)=30, σ=3.996526,
    z=−1.626412. All-tied input → NULL z, False verdict."""
    from flink_rag_spark.operators.hypothesis import (
        mann_whitney_u, mann_whitney_u_duck)
    A = [1.0, 2.0, 3.0, 3.0, 5.0]
    B = [3.0, 4.0, 5.0, 6.0]
    a = spark.createDataFrame([(x,) for x in A], "x double")
    b = spark.createDataFrame([(x,) for x in B], "x double")
    out = mann_whitney_u(a, b, "x").collect()[0]
    assert out["u_a"] == 3.5 and out["mu_u"] == 10.0
    assert out["sigma_u"] == 3.996526
    assert out["z"] == -1.626412 and not out["significant"]
    brute = sum((1.0 if x > y else 0.5 if x == y else 0.0)
                for x in A for y in B)
    assert out["u_a"] == brute
    con = duckdb.connect()
    con.execute(f"CREATE TABLE ta AS SELECT UNNEST({A}) AS x")
    con.execute(f"CREATE TABLE tb AS SELECT UNNEST({B}) AS x")
    d = con.execute(mann_whitney_u_duck(
        "SELECT x FROM ta", "SELECT x FROM tb", "x")).fetchdf()
    assert d["z"][0] == -1.626412 and d["u_a"][0] == 3.5
    tied = spark.createDataFrame([(1.0,)] * 3, "x double")
    t = mann_whitney_u(tied, tied, "x").collect()[0]
    assert t["z"] is None and not t["significant"]
    assert t["u_a"] == t["mu_u"] == 4.5


def test_gini_hand_values_and_validation(spark):
    """Perfect evenness → 0; one row holding everything of three →
    G=(2·27−4·9)/27 = 2/3; negative values rejected; all-NULL group
    absent; empty group_cols rejected."""
    from decimal import Decimal

    from flink_rag_spark.operators.profiling import (
        gini_concentration, gini_concentration_duck)
    rows = [("a", Decimal("1.00"))] * 3 + \
           [("b", Decimal("0.00")), ("b", Decimal("0.00")),
            ("b", Decimal("9.00"))] + [("c", None)]
    df = spark.createDataFrame(rows, "g string, v decimal(15,2)")
    out = {r["g"]: r for r in
           gini_concentration(df, "v", ["g"]).collect()}
    assert out["a"]["gini"] == 0.0
    assert out["b"]["gini"] == 0.666667
    assert "c" not in out
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                "('a',1.00),('a',1.00),('a',1.00),"
                "('b',0.00),('b',0.00),('b',9.00),('c',NULL)) v(g,v)")
    d = con.execute(gini_concentration_duck(
        "SELECT g, CAST(v AS DECIMAL(15,2)) AS v FROM t", "v", ["g"])
        + " ORDER BY g").fetchdf()
    assert list(d["gini"]) == [0.0, 0.666667]
    import pyspark.sql.functions as F
    neg = df.withColumn("v", F.lit(Decimal("-1.00")).cast("decimal(15,2)"))
    with pytest.raises(ValueError):
        gini_concentration(neg, "v", ["g"])
    with pytest.raises(ValueError):
        gini_concentration(df, "v", [])


def test_autocorrelation_hand_values(spark):
    """A strictly alternating series has acf(1) = −1, acf(2) = +1,
    acf(3) = −1 exactly; constant series → NULL (zero variance);
    max_lag < 1 rejected; NULL values drop before pairing."""
    from flink_rag_spark.operators.timeseries import (
        autocorrelation, autocorrelation_duck)
    rows = [("u", i, i, float(v))
            for i, v in enumerate([1, 2, 1, 2, 1, 2, 1, 2])]
    df = spark.createDataFrame(
        rows, "k string, t bigint, sq bigint, v double")
    out = {r["lag"]: r for r in
           autocorrelation(df, ["k"], "t", "v", 3, seq_col="sq")
           .collect()}
    assert (out[1]["acf"], out[2]["acf"], out[3]["acf"]) \
        == (-1.0, 1.0, -1.0)
    assert (out[1]["n"], out[2]["n"], out[3]["n"]) == (7, 6, 5)
    con = duckdb.connect()
    vals = ", ".join(f"('u',{i},{i},{v})" for _, i, _, v in rows)
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {vals}) "
                "x(k, t, sq, v)")
    d = con.execute(autocorrelation_duck(
        "SELECT k, t, sq, v FROM t", ["k"], "t", "v", 3, "sq")
        + " ORDER BY lag").fetchdf()
    assert list(d["acf"]) == [-1.0, 1.0, -1.0]
    const = spark.createDataFrame([("u", i, i, 5.0) for i in range(4)],
                                  "k string, t bigint, sq bigint, v double")
    c = autocorrelation(const, ["k"], "t", "v", 1).collect()[0]
    assert c["acf"] is None
    with pytest.raises(ValueError):
        autocorrelation(df, ["k"], "t", "v", 0)
    # NULLs drop before pairing: lag spans the gap
    import pyspark.sql.functions as F
    holey = df.withColumn(
        "v", F.when(F.col("t") == 3, None).otherwise(F.col("v")))
    h = {r["lag"]: r for r in
         autocorrelation(holey, ["k"], "t", "v", 1, seq_col="sq")
         .collect()}
    assert h[1]["n"] == 6  # 7 values -> 6 adjacent pairs in the gapped order


def test_benford_hand_values(spark):
    """Digits extract from the DECIMAL string (sub-1 values use their
    first NONZERO digit), zero-count digits still contribute their
    expectation, raw doubles are rejected."""
    from decimal import Decimal

    from flink_rag_spark.operators.profiling import (
        benford_audit, benford_audit_duck)
    vals = [Decimal("123.45"), Decimal("0.19"), Decimal("1999.00"),
            Decimal("2.50"), Decimal("31.00"), Decimal("-5.00"),
            Decimal("0.00"), None, Decimal("9000.01")]
    df = spark.createDataFrame([(v,) for v in vals], "v decimal(15,2)")
    out = benford_audit(df, "v", 15.507).collect()
    by_d = {r["digit"]: r for r in out}
    assert [r["digit"] for r in out] == list(range(1, 10))
    assert by_d[1]["n_d"] == 3          # 123.45, 0.19 (digit 1), 1999.00
    assert by_d[2]["n_d"] == 1 and by_d[3]["n_d"] == 1
    assert by_d[9]["n_d"] == 1          # 9000.01; -5, 0, NULL excluded
    assert by_d[4]["n_d"] == 0 and by_d[4]["share"] == 0.0
    assert len({r["chi2"] for r in out}) == 1   # table-level, repeated
    con = duckdb.connect()
    vv = ", ".join("(NULL)" if v is None else f"({v})" for v in vals)
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {vv}) x(v)")
    d = con.execute(benford_audit_duck(
        "SELECT CAST(v AS DECIMAL(15,2)) AS v FROM t", "v",
        15.507)).fetchdf()
    assert list(d["n_d"]) == [r["n_d"] for r in out]
    assert d["chi2"][0] == out[0]["chi2"]
    dbl = spark.createDataFrame([(1.5,)], "v double")
    with pytest.raises(ValueError):
        benford_audit(dbl, "v", 15.507)
    # zero qualifying rows: every term is 0/0 — both engines must emit
    # NULL chi2 and a False verdict (an unguarded NaN->DECIMAL cast
    # nulls in Spark but ERRORS in DuckDB)
    empty = spark.createDataFrame(
        [(Decimal("-1.00"),), (None,)], "v decimal(15,2)")
    e = benford_audit(empty, "v", 15.507).collect()
    assert e[0]["chi2"] is None and not e[0]["significant"]
    con2 = duckdb.connect()
    con2.execute("CREATE TABLE t2 AS SELECT * FROM (VALUES (-1.00), "
                 "(NULL)) x(v)")
    d2 = con2.execute(benford_audit_duck(
        "SELECT CAST(v AS DECIMAL(15,2)) AS v FROM t2", "v",
        15.507)).fetchdf()
    assert not bool(d2["significant"][0])


def test_ushaped_attribution_hand_values(spark):
    """Four paths: 4-touch (40/20-split/40), single touch (100%),
    no touch (NULL bucket), two touches (50/50)."""
    from flink_rag_spark.operators.sequences import (
        ushaped_attribution, ushaped_attribution_duck)
    rows = [
        ("u1", 1, "view", 0.0), ("u1", 2, "click", 0.0),
        ("u1", 3, "view", 0.0), ("u1", 4, "email", 0.0),
        ("u1", 5, "purchase", 100.0),
        ("u2", 1, "click", 0.0), ("u2", 2, "purchase", 10.0),
        ("u3", 1, "purchase", 5.0),
        ("u4", 1, "view", 0.0), ("u4", 2, "click", 0.0),
        ("u4", 3, "purchase", 20.0),
    ]
    df = spark.createDataFrame(
        [(u, i, i, t, v) for (u, i, t, v) in rows],
        "user_id string, ts bigint, event_id bigint, "
        "event_type string, value double")
    out = {r["touch_type"]: r for r in ushaped_attribution(
        df, ["view", "click", "email"], "purchase").collect()}
    # u1: first=view(.4→40), last=email(.4→40), middles click+view
    # (.1→10 each); u2: click 10; u4: view 10, click 10
    assert out["view"]["attributed_value"] == 60.0
    assert out["click"]["attributed_value"] == 30.0
    assert out["email"]["attributed_value"] == 40.0
    assert out[None]["attributed_value"] == 5.0
    assert out["view"]["n_conversions"] == 2
    assert out["click"]["n_conversions"] == 3
    con = duckdb.connect()
    vals = ", ".join(f"('{u}',{i},{i},'{t}',{v})" for (u, i, t, v) in rows)
    con.execute(f"CREATE TABLE events AS SELECT * FROM (VALUES {vals}) "
                "x(user_id, ts, event_id, event_type, value)")
    d = con.execute(ushaped_attribution_duck(
        ["view", "click", "email"], "purchase")).fetchdf()
    got = dict(zip(d["touch_type"], d["attributed_value"]))
    assert got["view"] == 60.0 and got["click"] == 30.0
    assert got["email"] == 40.0


def _hw_float_recurrence(xs, m, a, b, g, h):
    """Textbook additive Holt-Winters in plain floats — the reference
    the decimal weight tables must reproduce to 4+ decimals."""
    lvl = sum(xs[:m]) / m
    tr = (sum(xs[m:2 * m]) - sum(xs[:m])) / m ** 2
    s = [x - lvl for x in xs[:m]]
    for t in range(m, len(xs)):
        x = xs[t]
        sm = s[t - m]
        l_new = a * (x - sm) + (1 - a) * (lvl + tr)
        tr = b * (l_new - lvl) + (1 - b) * tr
        s.append(g * (x - l_new) + (1 - g) * sm)
        lvl = l_new
    r = m * ((h + m - 1) // m) - h
    return tr, lvl + h * tr + s[len(xs) - 1 - r]


def test_holt_winters_matches_recurrence_and_mirror(spark):
    """The closed-form decimal weight tables reproduce the textbook
    float recurrence (to the quantization budget), match the DuckDB
    mirror bit-exactly, omit keys shorter than two seasons, and reject
    bad parameters."""
    import random

    from flink_rag_spark.operators.timeseries import (
        holt_winters_forecast, holt_winters_forecast_duck)
    m, a, b, g, h = 4, 0.4, 0.1, 0.4, 1
    random.seed(7)
    rows, expected = [], {}
    for key, n in (("u1", 17), ("u2", 9), ("u3", 8)):
        xs = [round(10 + 3 * ((i % m) == 1) + random.random() * 2, 2)
              for i in range(n)]
        rows += [(key, i, i, x) for i, x in enumerate(xs)]
        expected[key] = _hw_float_recurrence(xs, m, a, b, g, h)
    rows += [("short", i, i, 5.0) for i in range(2 * m - 1)]
    df = spark.createDataFrame(
        rows, "k string, t bigint, sq bigint, v double")
    out = {r["k"]: r for r in holt_winters_forecast(
        df, ["k"], "t", "v", "sq", period=m, horizon=h).collect()}
    assert "short" not in out
    for key, (tr, fc) in expected.items():
        assert abs(out[key]["trend"] - tr) < 5e-4
        assert abs(out[key]["forecast"] - fc) < 5e-4
    con = duckdb.connect()
    vals = ", ".join(f"('{k}',{i},{i2},{v})" for k, i, i2, v in rows)
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {vals}) "
                "x(k, t, sq, v)")
    d = con.execute(holt_winters_forecast_duck(
        "SELECT k, t, sq, v FROM t", ["k"], "t", "v", "sq", m)).fetchdf()
    got = {r["k"]: r for _, r in d.iterrows()}
    for key in expected:
        assert got[key]["trend"] == out[key]["trend"]
        assert got[key]["forecast"] == out[key]["forecast"]
    with pytest.raises(ValueError):
        holt_winters_forecast(df, ["k"], "t", "v", "sq", period=1)
    with pytest.raises(ValueError):
        holt_winters_forecast(df, ["k"], "t", "v", "sq", period=m,
                              alpha=0.0)
    with pytest.raises(ValueError):
        holt_winters_forecast(df, ["k"], "t", "v", "sq", period=m,
                              horizon=0)


def test_holt_winters_weight_convergence_guard():
    """A geometry whose powers decay too slowly to quantize within the
    cap is rejected up front — the stability contract."""
    from flink_rag_spark.operators.timeseries import _hw_weights
    with pytest.raises(ValueError):
        # alpha/gamma near zero: seasonal roots sit just inside the
        # unit circle and the table cannot quantize to zero in budget
        _hw_weights(0.001, 0.001, 0.001, 12, 1)
    # and the shipped defaults DO converge with finite tables
    mid, seed = _hw_weights(0.4, 0.1, 0.4, 4, 1)
    assert 0 < len(mid) < 1000 and 0 < len(seed) < 5000


def test_first_touch_and_time_decay_attribution(spark):
    """First-touch credits the earliest prior touch; time-decay splits
    2^(−gap/half_life) within the window, and a conversion whose only
    touches are OUT of window lands in the NULL bucket (the left-join
    condition, not a post-filter — the failure mode found in review)."""
    import datetime as dt

    from flink_rag_spark.operators.sequences import (
        first_touch_attribution, first_touch_attribution_duck,
        time_decay_attribution, time_decay_attribution_duck)
    T0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return T0 + dt.timedelta(seconds=s)

    rows = [
        # u1: view t=0, click t=100, purchase(90) t=200 — with hl=100 s
        # the weights are 0.25 / 0.5 → credits 30 / 60
        ("u1", ts(0), 1, "view", 0.0), ("u1", ts(100), 2, "click", 0.0),
        ("u1", ts(200), 3, "purchase", 90.0),
        # u2: only touch is outside the 1000 s window → NULL bucket
        ("u2", ts(0), 4, "view", 0.0), ("u2", ts(5000), 5, "purchase", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id bigint, "
        "event_type string, value double")
    td = {r["touch_type"]: r for r in time_decay_attribution(
        df, ["view", "click"], "purchase",
        half_life_seconds=100, window_seconds=1000).collect()}
    assert td["view"]["attributed_value"] == 30.0
    assert td["click"]["attributed_value"] == 60.0
    assert td[None]["attributed_value"] == 7.0
    ft = {r["touch_type"]: r["attributed_value"]
          for r in first_touch_attribution(
              df, ["view", "click"], "purchase").collect()}
    assert ft == {"view": 97.0}   # both conversions' first touch is view
    con = duckdb.connect()
    vals = ", ".join(f"('{u}', TIMESTAMP '{t}', {i}, '{ty}', {v})"
                     for (u, t, i, ty, v) in rows)
    con.execute(f"CREATE TABLE events AS SELECT * FROM (VALUES {vals}) "
                "x(user_id, ts, event_id, event_type, value)")
    d = con.execute(time_decay_attribution_duck(
        ["view", "click"], "purchase", 100, 1000)).fetchdf()
    got = dict(zip(d["touch_type"], d["attributed_value"]))
    assert got["view"] == 30.0 and got["click"] == 60.0
    d2 = con.execute(first_touch_attribution_duck(
        ["view", "click"], "purchase")).fetchdf()
    assert dict(zip(d2["touch_type"], d2["attributed_value"])) \
        == {"view": 97.0}
    with pytest.raises(ValueError):
        time_decay_attribution(df, ["view"], "purchase",
                               half_life_seconds=0, window_seconds=10)
    with pytest.raises(ValueError):
        time_decay_attribution(df, ["view"], "purchase",
                               half_life_seconds=10, window_seconds=0)


def test_spearman_hand_values(spark):
    """Monotone-nonlinear association scores near 1 (exactly 1 without
    ties); anti-monotone scores −1; a constant column yields NULL;
    NULL pairs are excluded. Matches the DuckDB mirror exactly
    (half-integer decimal midranks)."""
    from flink_rag_spark.operators.hypothesis import (spearman_corr,
                                                      spearman_corr_duck)
    rows = [(1.0, 1.0), (2.0, 8.0), (3.0, 27.0), (4.0, 64.0),
            (2.0, 8.5), (None, 9.9), (5.0, None)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = spearman_corr(df, "x", "y").collect()[0]
    assert out["n"] == 5 and out["rho"] == 0.974679
    con = duckdb.connect()
    vals = ", ".join(
        f"({'NULL' if a is None else a}, {'NULL' if b is None else b})"
        for a, b in rows)
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {vals}) v(x,y)")
    d = con.execute(spearman_corr_duck(
        "SELECT x, y FROM t", "x", "y")).fetchdf()
    assert d["rho"][0] == out["rho"] and d["z"][0] == out["z"]
    anti = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 4.0), (3.0, 3.0), (4.0, 1.0)],
        "x double, y double")
    assert spearman_corr(anti, "x", "y").collect()[0]["rho"] == -1.0
    const = spark.createDataFrame([(1.0, 2.0), (2.0, 2.0)],
                                  "x double, y double")
    c = spearman_corr(const, "x", "y").collect()[0]
    assert c["rho"] is None and not c["significant"]


def test_seasonal_decompose_hand_values(spark):
    """A linear trend + zero-sum 4-phase seasonal decomposes EXACTLY
    (fixed-point integers end to end): trend = the line, seasonal = the
    injected phases, remainder = 0; edge rows NULL; short keys pass
    through NULL; duck mirror bit-identical."""
    from flink_rag_spark.operators.timeseries import (
        seasonal_decompose, seasonal_decompose_duck)
    s = [2.0, -1.0, -2.0, 1.0]
    xs = [round(10 + i + s[i % 4], 2) for i in range(12)]
    rows = [("u", i, i, x) for i, x in enumerate(xs)]
    rows += [("short", i, i, 5.0) for i in range(3)]
    df = spark.createDataFrame(rows,
                               "k string, t bigint, sq bigint, v double")
    out = sorted([r.asDict() for r in
                  seasonal_decompose(df, ["k"], "t", "v", "sq", 4)
                  .filter("k = 'u'").collect()],
                 key=lambda r: r["t"])
    for i in range(2, 10):          # interior rows: full MA window
        assert out[i]["trend"] == 10.0 + i
        assert out[i]["seasonal"] == s[i % 4]
        assert out[i]["remainder"] == 0.0
    assert out[0]["trend"] is None and out[0]["remainder"] is None
    assert out[11]["trend"] is None
    sh = seasonal_decompose(df, ["k"], "t", "v", "sq", 4) \
        .filter("k = 'short'").collect()
    assert all(r["trend"] is None and r["remainder"] is None for r in sh)
    con = duckdb.connect()
    vals = ", ".join(f"('{k}',{i},{i2},{v})" for k, i, i2, v in rows)
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {vals}) "
                "x(k, t, sq, v)")
    d = con.execute(seasonal_decompose_duck(
        "SELECT k, t, sq, v FROM t", ["k"], "t", "v", "sq", 4)
        + " ORDER BY d.k DESC, d.t").fetchdf()
    du = d[d["k"] == "u"].reset_index(drop=True)
    for i in range(12):
        for col in ("trend", "seasonal", "remainder"):
            a, b = out[i][col], du[col][i]
            assert (a is None and b != b) or a == b
    with pytest.raises(ValueError):
        seasonal_decompose(df, ["k"], "t", "v", "sq", 1)


def test_seasonal_decompose_halfup_boundary(spark):
    """Phase means that land EXACTLY on the 6-dp .5 boundary round
    half-away-from-zero identically in both engines — the integer
    (2|S|+D) DIV 2D construction, immune to the double-ROUND
    disagreement that flipped the first implementation."""
    from flink_rag_spark.operators.timeseries import (
        seasonal_decompose, seasonal_decompose_duck)
    # period 2, detrended values engineered so a phase mean hits x.5
    # in 1e-6 units: values at 3 dp force odd scaled sums over cnt 2
    xs = [1.001, 2.0, 3.0, 4.002, 5.0, 6.0]
    rows = [("u", i, i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows,
                               "k string, t bigint, sq bigint, v double")
    out = sorted([r.asDict() for r in
                  seasonal_decompose(df, ["k"], "t", "v", "sq", 2,
                                     value_scale=3).collect()],
                 key=lambda r: r["t"])
    con = duckdb.connect()
    vals = ", ".join(f"('{k}',{i},{i2},{v})" for k, i, i2, v in rows)
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {vals}) "
                "x(k, t, sq, v)")
    d = con.execute(seasonal_decompose_duck(
        "SELECT k, t, sq, v FROM t", ["k"], "t", "v", "sq", 2,
        value_scale=3) + " ORDER BY t").fetchdf()
    for i in range(len(xs)):
        for col in ("trend", "seasonal", "remainder"):
            a, b = out[i][col], d[col][i]
            assert (a is None and b != b) or a == b, (i, col, a, b)


def test_seasonal_decompose_large_magnitude_exact(spark):
    """Fixed-point numerators PAST 2^53 still divide exactly: the
    half-up quotient runs through integral `div` on DECIMAL(38,0), not
    floor-of-double (which silently loses ulps above ~9e15 — the r12
    ADVICE finding). Values ~5e9 at 1e-6 scale put the doubled MA
    numerator at ~4e16; Spark must still match the mirror's integer
    `//` bit for bit."""
    from flink_rag_spark.operators.timeseries import (
        seasonal_decompose, seasonal_decompose_duck)
    # odd 1e-6-unit sums so quotients are NOT trivially exact in double
    xs = [5000000000.000001 + i + (1 if i % 2 else -1)
          for i in range(8)]
    # express values exactly: build from integers to dodge repr noise
    xs = [round(x, 6) for x in xs]
    rows = [("u", i, i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows,
                               "k string, t bigint, sq bigint, v double")
    out = sorted([r.asDict() for r in
                  seasonal_decompose(df, ["k"], "t", "v", "sq", 2,
                                     value_scale=6).collect()],
                 key=lambda r: r["t"])
    con = duckdb.connect()
    vals = ", ".join(f"('{k}',{i},{i2},{v!r})" for k, i, i2, v in rows)
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {vals}) "
                "x(k, t, sq, v)")
    d = con.execute(seasonal_decompose_duck(
        "SELECT k, t, sq, v FROM t", ["k"], "t", "v", "sq", 2,
        value_scale=6) + " ORDER BY t").fetchdf()
    for i in range(len(xs)):
        for col in ("trend", "seasonal", "remainder"):
            a, b = out[i][col], d[col][i]
            assert (a is None and b != b) or a == b, (i, col, a, b)


def test_kruskal_wallis_hand_values(spark):
    """Three groups with cross-group ties: midranks 1, 2.5, 2.5, 4, 5,
    6.5, 6.5, 8, 9, 10 → R = (7.5, 14, 33.5), tie groups {2:2, 5:2} →
    Σ(t³−t) = 12, tie-corrected H ≈ 6.8627 — significant at the dof-2
    5% critical value 5.991. NULLs excluded; all-tied input → NULL H,
    False verdict; mirror bit-identical."""
    from flink_rag_spark.operators.hypothesis import (kruskal_wallis,
                                                      kruskal_wallis_duck)
    rows = ([("a", x) for x in (1.0, 2.0, 3.0)]
            + [("b", x) for x in (2.0, 4.0, 5.0)]
            + [("c", x) for x in (5.0, 6.0, 7.0, 8.0)]
            + [(None, 1.0), ("a", None)])
    df = spark.createDataFrame(rows, "g string, v double")
    out = kruskal_wallis(df, "g", "v", 5.991).collect()[0]
    assert (out["n"], out["n_groups"]) == (10, 3)
    assert abs(out["h"] - 6.8627) < 1e-3 and out["significant"]
    con = duckdb.connect()
    vals = ", ".join(
        f"({'NULL' if g is None else repr(g)}, "
        f"{'NULL' if v is None else v})" for g, v in rows)
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {vals}) v(g,v)")
    d = con.execute(kruskal_wallis_duck(
        "SELECT g, v FROM t", "g", "v", 5.991)).fetchdf()
    assert d["h"][0] == out["h"] and bool(d["significant"][0])
    tied = spark.createDataFrame([("a", 1.0), ("b", 1.0)],
                                 "g string, v double")
    t = kruskal_wallis(tied, "g", "v", 5.991).collect()[0]
    assert t["h"] is None and not t["significant"]


def test_nsw_batch_join_matches_single(spark, nsw_index):
    """nsw_knn_join's vectorized beams reproduce nsw_topk per query
    (ids AND exact-tier scores/ranks), meet the recall floor, and fill
    to k — every hop shares one pruned edge scan and one pruned vector
    scan across all queries."""
    import numpy as np
    import pyspark.sql.functions as F

    from flink_rag_spark.operators.nsw import nsw_knn_join, nsw_topk
    from flink_rag_spark.operators.similarity import cosine_topk
    path, _, emb = nsw_index
    qids = [7, 100, 333]
    qvs = {q: list(emb.filter(F.col("vec_id") == q).first()["embedding"])
           for q in qids}
    out = nsw_knn_join(spark, path,
                       (qids, np.asarray([qvs[q] for q in qids])), k=10)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["score"]))
    for q in qids:
        batch = [(v, s) for _, v, s in sorted(by_q[q])]
        single = [(r["vec_id"], r["score"]) for r in
                  nsw_topk(spark, path, qvs[q], k=10).collect()]
        assert batch == single
        exact = {r["vec_id"] for r in cosine_topk(emb, qvs[q],
                                                  k=10).collect()}
        assert len({v for v, _ in batch} & exact) / 10.0 >= 0.5
        assert len(batch) == 10
    with pytest.raises(ValueError):
        nsw_knn_join(spark, path, (qids, np.zeros((2, 4))), k=10)


def test_nsw_ranks_null_scores_last(spark, nsw_index):
    """The beam orders (id, score) pairs as the exact tier ranks them, a
    null or NaN score last. A zero-norm query divides by zero: under
    ANSI both beam searches raise, without it every node scores null and
    both still walk, fill k and agree, ordered by id."""
    import numpy as np

    from flink_rag_spark.operators.nsw import _by_score, nsw_knn_join, nsw_topk
    pairs = [(3, None), (1, 0.5), (2, float("nan")), (0, 0.5), (4, -0.1)]
    assert [i for i, _ in sorted(pairs, key=_by_score)] == [0, 1, 4, 2, 3]
    path, _, emb = nsw_index
    dims = len(emb.first()["embedding"])
    conf = "spark.sql.ansi.enabled"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            nsw_topk(spark, path, [0.0] * dims, k=5).collect()
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            nsw_knn_join(spark, path, ([0], np.zeros((1, dims))), k=5)
        spark.conf.set(conf, "false")
        single = [(r["vec_id"], r["score"]) for r in
                  nsw_topk(spark, path, [0.0] * dims, k=5).collect()]
        batch = [(r["vec_id"], r["score"]) for r in
                 nsw_knn_join(spark, path, ([0], np.zeros((1, dims))), k=5)
                 .orderBy("rank").collect()]
    finally:
        spark.conf.set(conf, before)
    assert batch == single and len(single) == 5
    assert all(s is None for _, s in single)
    assert [v for v, _ in single] == sorted(v for v, _ in single)


def test_frequent_paths_hand_values(spark):
    """Consecutive event-type n-grams counted globally with
    distinct-key reach; (count DESC, path ASC) ranking; paths need the
    full window (trailing events emit nothing); validation."""
    from flink_rag_spark.operators.sequences import (frequent_paths,
                                                     frequent_paths_duck)
    rows = [(1, 1, "u1", "A"), (2, 2, "u1", "B"), (3, 3, "u1", "C"),
            (4, 4, "u1", "A"), (5, 5, "u1", "B"),
            (6, 1, "u2", "A"), (7, 2, "u2", "B"), (8, 3, "u2", "X")]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts bigint, user_id string, "
        "event_type string")
    out = [(r["path"], r["n_occurrences"], r["n_keys"], r["rank"])
           for r in frequent_paths(df, 2, top_n=5).collect()]
    assert out == [("A>B", 3, 2, 1), ("B>C", 1, 1, 2),
                   ("B>X", 1, 1, 3), ("C>A", 1, 1, 4)]
    con = duckdb.connect()
    vals = ", ".join(f"({i},{t},'{u}','{ty}')" for (i, t, u, ty) in rows)
    con.execute(f"CREATE TABLE events AS SELECT * FROM (VALUES {vals}) "
                "x(event_id, ts, user_id, event_type)")
    d = con.execute(frequent_paths_duck(2, top_n=5)).fetchdf()
    assert [(r.path, r.n_occurrences, r.n_keys, r.rank)
            for r in d.itertuples()] == out
    # length-3 paths: u1 has A>B>C, B>C>A, C>A>B; u2 has A>B>X
    p3 = {r["path"] for r in frequent_paths(df, 3, top_n=10).collect()}
    assert p3 == {"A>B>C", "B>C>A", "C>A>B", "A>B>X"}
    # NULL-typed events drop BEFORE pairing: concat_ws would otherwise
    # silently shorten the path and count it as full-length
    holey = spark.createDataFrame(
        [(1, 1, "u", "A"), (2, 2, "u", None), (3, 3, "u", "B")],
        "event_id bigint, ts bigint, user_id string, event_type string")
    hp = [(r["path"], r["n_occurrences"]) for r in
          frequent_paths(holey, 2, top_n=5).collect()]
    assert hp == [("A>B", 1)]   # never a bare "A" or "B" pseudo-path
    with pytest.raises(ValueError):
        frequent_paths(df, 1)
    with pytest.raises(ValueError):
        frequent_paths(df, 2, top_n=0)


def test_embedding_drift_hand_values(spark):
    """Orthogonal centroids score cosine 0 with L2 = √5; identical
    slices score cosine 1 with L2 = 0; NULL vectors excluded; a
    dimensionality mismatch raises; duck mirror identical."""
    from flink_rag_spark.operators.drift import (embedding_drift,
                                                 embedding_drift_duck)
    ref = spark.createDataFrame([([1.0, 0.0],), ([1.0, 0.0],), (None,)],
                                "embedding array<double>")
    cur = spark.createDataFrame([([0.0, 2.0],)],
                                "embedding array<double>")
    out = embedding_drift(ref, cur).collect()[0]
    assert (out["n_ref"], out["n_cur"]) == (2, 1)
    assert out["centroid_cosine"] == 0.0
    assert out["centroid_l2"] == 2.236068      # sqrt(5)
    assert out["mean_norm_ref"] == 1.0 and out["mean_norm_cur"] == 2.0
    same = embedding_drift(ref, ref).collect()[0]
    assert same["centroid_cosine"] == 1.0 and same["centroid_l2"] == 0.0
    con = duckdb.connect()
    con.execute("CREATE TABLE r AS SELECT * FROM (VALUES ([1.0,0.0]),"
                "([1.0,0.0]),(NULL)) t(embedding)")
    con.execute("CREATE TABLE c AS SELECT * FROM (VALUES ([0.0,2.0])) "
                "t(embedding)")
    d = con.execute(embedding_drift_duck(
        "SELECT embedding FROM r",
        "SELECT embedding FROM c")).fetchdf()
    assert d["centroid_cosine"][0] == 0.0
    assert d["centroid_l2"][0] == 2.236068
    bad = spark.createDataFrame([([1.0, 0.0, 3.0],)],
                                "embedding array<double>")
    with pytest.raises(ValueError):
        embedding_drift(ref, bad)
    # the mirror surfaces a dimensionality mismatch as an ERROR too
    # (FULL join + error() guard), never by silently dropping dims
    con.execute("CREATE TABLE b AS SELECT * FROM "
                "(VALUES ([1.0,0.0,3.0])) t(embedding)")
    with pytest.raises(Exception, match="dimensionalities"):
        con.execute(embedding_drift_duck(
            "SELECT embedding FROM r",
            "SELECT embedding FROM b")).fetchdf()


def test_rbo_hand_values(spark):
    """Identical prefixes → Σ(1−p)p^{d−1}; disjoint → 0; a top-2 swap
    switches its ids on at depth 2 (C = 0, 2, 3 → exactly 0.375 at
    p = 0.5, depth 3); queries present in either run always emit;
    validation; duck parity."""
    from flink_rag_spark.operators.evaluation import (rbo_overlap,
                                                      rbo_overlap_duck)
    schema = "query_id long, doc_id long, rank long"
    a = spark.createDataFrame(
        [(1, 101, 1), (1, 102, 2), (1, 103, 3)], schema)
    same = rbo_overlap(a, a, 3, p=0.5).collect()[0]
    assert same["rbo"] == 0.875              # 0.5 + 0.25 + 0.125
    disj = spark.createDataFrame(
        [(1, 201, 1), (1, 202, 2), (1, 203, 3)], schema)
    assert rbo_overlap(a, disj, 3, p=0.5).collect()[0]["rbo"] == 0.0
    perm = spark.createDataFrame(
        [(1, 102, 1), (1, 101, 2), (1, 103, 3)], schema)
    assert rbo_overlap(a, perm, 3, p=0.5).collect()[0]["rbo"] == 0.375
    con = duckdb.connect()
    con.execute("CREATE TABLE A AS SELECT * FROM (VALUES (1,101,1),"
                "(1,102,2),(1,103,3)) t(query_id, doc_id, rank)")
    con.execute("CREATE TABLE B AS SELECT * FROM (VALUES (1,102,1),"
                "(1,101,2),(1,103,3)) t(query_id, doc_id, rank)")
    d = con.execute(rbo_overlap_duck(
        "SELECT * FROM A", "SELECT * FROM B", 3, p=0.5)).fetchdf()
    assert d["rbo"][0] == 0.375
    with pytest.raises(ValueError):
        rbo_overlap(a, a, 0)
    with pytest.raises(ValueError):
        rbo_overlap(a, a, 3, p=1.0)
