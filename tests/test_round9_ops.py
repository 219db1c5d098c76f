"""Round-9 operator contracts: right-to-be-forgotten across the VECTOR
indexes (IVF and IVF-PQ), completing the deletion surface the text and
dedup indexes already honor (tests/test_round7b_ops.py).

The rebuild-equivalence contract here is geometry-pinned: an IVF
geometry (coarse centroids, PQ codebook) is a TRAINED corpus-level
aggregate — like the text index's avgdl, it legitimately survives a
deletion and is refreshed on the rebuild cadence, not per delete. So
"forget ≡ rebuild" means: after forgetting ids, the index is
bit-identical (artifact AND probe results) to an index built from the
surviving corpus UNDER THE SAME GEOMETRY (build_ivf_index(centroids=) /
build_ivfpq_index(coarse_centroids=, codebook=)).
"""

import pyspark.sql.functions as F
import pytest


def _clustered(spark, n_per=15, dim=16, dtype="double"):
    rows = []
    vid = 0
    for cx, cy in ((0.0, 5.0), (5.0, 0.0)):
        for _ in range(n_per):
            # jitter period 23 over vid — no two of the 30 vectors tie
            v = [(cx if d % 2 == 0 else cy)
                 + ((vid * 13 + d * 7) % 23) / 50.0 for d in range(dim)]
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(
        rows, f"vec_id bigint, embedding array<{dtype}>")


def _cells_content(spark, path):
    return sorted(
        (r["vec_id"], r["cell"]) for r in
        spark.read.parquet(f"{path}/cells").select("vec_id", "cell")
        .collect())


# ------------------------------------------------------- IVF forget

@pytest.mark.parametrize("pass_vectors", [False, True],
                         ids=["find-scan", "vector-pruned"])
def test_forget_in_ivf_index_equals_rebuild(spark, tmp_path, pass_vectors):
    import json

    from flink_rag_spark.operators.index import (build_ivf_index,
                                                 load_ivf_index)
    from flink_rag_spark.operators.maintenance import forget_in_ivf_index
    from flink_rag_spark.operators.similarity import ivf_knn_join

    emb = _clustered(spark)
    forgotten = [3, 17]
    survivors = emb.filter(~F.col("vec_id").isin(forgotten))
    full, fresh = str(tmp_path / "full"), str(tmp_path / "fresh")
    cents = build_ivf_index(spark, emb, full, n_centroids=4)
    build_ivf_index(spark, survivors, fresh, centroids=cents)

    vectors = (emb.filter(F.col("vec_id").isin(forgotten))
               .select("vec_id", "embedding")) if pass_vectors else None
    removed = forget_in_ivf_index(spark, full, forgotten, vectors=vectors)
    assert removed == 2

    # artifact-identical: same cell assignments, same centroids
    assert _cells_content(spark, full) == _cells_content(spark, fresh)
    assert json.load(open(f"{full}/centroids.json")) == \
        json.load(open(f"{fresh}/centroids.json"))

    # probe-identical, and the forgotten ids never surface
    q = spark.createDataFrame(
        [(0, [r["embedding"] for r in
              emb.filter(F.col("vec_id") == 4).collect()][0])],
        "query_id bigint, query_vec array<double>")

    def probe(path):
        cents_p, cells_p = load_ivf_index(spark, path)
        return sorted(map(tuple, ivf_knn_join(
            q, None, k=5, centroids=cents_p, cells=cells_p).collect()))

    got, want = probe(full), probe(fresh)
    assert got == want
    assert not any(r[1] in forgotten for r in got)


def test_forget_in_ivf_index_purges_pending_tail(spark, tmp_path):
    from flink_rag_spark.operators.index import (build_ivf_index,
                                                 load_ivf_tail,
                                                 stage_pending)
    from flink_rag_spark.operators.maintenance import forget_in_ivf_index

    emb = _clustered(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, emb.filter("vec_id < 20"), idx, n_centroids=4)
    # two fresh vectors land in the tail; one of them is then forgotten
    stage_pending(spark, emb.filter(F.col("vec_id").isin(25, 26)), idx)
    removed = forget_in_ivf_index(spark, idx, [25])
    assert removed == 1                       # tail row only — no cell hit
    tail = {r["vec_id"] for r in load_ivf_tail(spark, idx).collect()}
    assert tail == {26}                       # the other tail row survives


def test_forget_in_ivf_index_missing_ids_noop(spark, tmp_path):
    from flink_rag_spark.operators.index import build_ivf_index
    from flink_rag_spark.operators.maintenance import forget_in_ivf_index

    emb = _clustered(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, emb, idx, n_centroids=4)
    before = _cells_content(spark, idx)
    assert forget_in_ivf_index(spark, idx, [999]) == 0
    assert forget_in_ivf_index(spark, idx, []) == 0
    assert _cells_content(spark, idx) == before


# ----------------------------------------------------- IVF-PQ forget

@pytest.mark.parametrize("pass_vectors", [False, True],
                         ids=["find-scan", "vector-pruned"])
def test_forget_in_ivf_index_equals_rebuild_on_ivfpq(spark, tmp_path,
                                                    pass_vectors):
    import json

    from flink_rag_spark.operators.maintenance import forget_in_ivf_index
    from flink_rag_spark.operators.index import PQ_CODEBOOK
    from flink_rag_spark.operators.pq import build_ivfpq_index, ivfpq_topk

    emb = _clustered(spark)
    forgotten = [3, 17]
    survivors = emb.filter(~F.col("vec_id").isin(forgotten))
    full, fresh = str(tmp_path / "full"), str(tmp_path / "fresh")
    build_ivfpq_index(spark, emb, full, n_centroids=4, m=4, kc=4, iters=3)
    cents = json.load(open(f"{full}/centroids.json"))
    cb = json.load(open(f"{full}/{PQ_CODEBOOK}"))
    build_ivfpq_index(spark, survivors, fresh, coarse_centroids=cents,
                      codebook=cb, m=4, kc=4, iters=3)

    vectors = (emb.filter(F.col("vec_id").isin(forgotten))
               .select("vec_id", "embedding")) if pass_vectors else None
    removed = forget_in_ivf_index(spark, full, forgotten,
                                  vectors=vectors)
    assert removed == 2

    # artifact-identical: same (id, cell, codes) rows, same geometry
    def codes(path):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["codes"])) for r in
            spark.read.parquet(f"{path}/cells").collect())
    assert codes(full) == codes(fresh)

    # probe-identical, forgotten ids never surface (rerank against the
    # surviving corpus — the store's own delete already ran by contract)
    qv = [r["embedding"] for r in
          emb.filter(F.col("vec_id") == 4).collect()][0]

    def probe(path):
        return sorted(map(tuple, ivfpq_topk(
            spark, path, qv, survivors, k=5, n_probe=2).collect()))

    got, want = probe(full), probe(fresh)
    assert got == want
    assert not any(r[0] in forgotten for r in got)


def test_forget_in_ivf_index_settles_crashed_ivfpq_promotion(spark,
                                                             tmp_path):
    """A crashed IVF-PQ promotion (re-encoded cells staged, intent
    committed, swap not done) must be settled BEFORE the forget: its
    staged cells predate the forget, and a later reader swapping them
    in would bring the forgotten id back."""
    import json
    import os

    from flink_rag_spark.operators.index import PROMOTE_INTENT
    from flink_rag_spark.operators.maintenance import forget_in_ivf_index
    from flink_rag_spark.operators.pq import (_encode_cells,
                                              build_ivfpq_index,
                                              ivfpq_topk)

    emb = _clustered(spark)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, emb, idx, n_centroids=4, m=4, kc=4, iters=3)
    cents = json.load(open(f"{idx}/centroids.json"))
    cb = json.load(open(f"{idx}/pq_codebook.json"))
    _encode_cells(spark, emb, cents, cb, f"{idx}/cells.rebuilding",
                  4, 4, 3, "embedding", "vec_id")
    with open(os.path.join(idx, PROMOTE_INTENT), "w") as f:
        json.dump({"centroids": cents, "codebook": cb}, f)

    assert forget_in_ivf_index(spark, idx, [4]) == 1
    qv = [r["embedding"] for r in
          emb.filter(F.col("vec_id") == 4).collect()][0]
    got = {r["vec_id"] for r in
           ivfpq_topk(spark, idx, qv, emb, k=5, n_probe=4).collect()}
    assert got and 4 not in got
    ids = {r["vec_id"] for r in
           spark.read.parquet(f"{idx}/cells").collect()}
    assert ids == set(range(30)) - {4}


# ------------------------------------------- IVF-PQ append / flush

def test_append_to_ivfpq_index_equals_rebuild_and_replays_noop(
        spark, tmp_path):
    """Appended codes are encoded with the FROZEN geometry, so the
    maintained index is bit-identical to a from-scratch build of the
    full corpus under that geometry; a replayed append inserts
    nothing."""
    import json

    from flink_rag_spark.operators.index import PQ_CODEBOOK
    from flink_rag_spark.operators.pq import (append_to_ivfpq_index,
                                              build_ivfpq_index)

    emb = _clustered(spark)
    base = emb.filter("vec_id < 20")
    fresh = emb.filter("vec_id >= 20")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_ivfpq_index(spark, base, inc, n_centroids=4, m=4, kc=4, iters=3)
    cents = json.load(open(f"{inc}/centroids.json"))
    cb = json.load(open(f"{inc}/{PQ_CODEBOOK}"))

    assert append_to_ivfpq_index(spark, fresh, inc) == 10
    build_ivfpq_index(spark, emb, full, coarse_centroids=cents,
                      codebook=cb, m=4, kc=4, iters=3)

    def codes(path):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["codes"])) for r in
            spark.read.parquet(f"{path}/cells").collect())
    assert codes(inc) == codes(full)

    # replay: the partition-pruned anti join absorbs the whole batch
    assert append_to_ivfpq_index(spark, fresh, inc) == 0
    assert codes(inc) == codes(full)


def test_ivfpq_flush_pending_and_tail_probe(spark, tmp_path):
    """flush_pending drains the staged tail through the replay
    guard; before the flush, ivfpq_topk(tail=...) serves the staged
    vectors exactly."""
    from flink_rag_spark.operators.index import (flush_pending,
                                                 load_ivf_tail,
                                                 stage_pending)
    from flink_rag_spark.operators.pq import build_ivfpq_index, ivfpq_topk

    emb = _clustered(spark)
    base = emb.filter("vec_id < 20")
    fresh = emb.filter("vec_id >= 20")
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, base, idx, n_centroids=4, m=4, kc=4, iters=3)
    stage_pending(spark, fresh, idx)

    # pre-flush: a fresh vector is only reachable through the tail
    qv = [r["embedding"] for r in
          emb.filter(F.col("vec_id") == 25).collect()][0]
    tail = load_ivf_tail(spark, idx)
    no_tail = {r["vec_id"] for r in
               ivfpq_topk(spark, idx, qv, emb, k=3, n_probe=2).collect()}
    with_tail = ivfpq_topk(spark, idx, qv, emb, k=3, n_probe=2,
                           tail=tail).collect()
    assert 25 not in no_tail
    top = sorted(with_tail, key=lambda r: r["rank"])[0]
    assert top["vec_id"] == 25 and top["score"] == 1.0

    # flush drains the tail into the partitions; a replayed flush
    # (crash between append and cleanup) inserts nothing twice
    assert flush_pending(spark, idx) == 10
    assert load_ivf_tail(spark, idx) is None
    ids = [r["vec_id"] for r in
           spark.read.parquet(f"{idx}/cells").collect()]
    assert sorted(ids) == list(range(30))
    post = {r["vec_id"] for r in
            ivfpq_topk(spark, idx, qv, emb, k=3, n_probe=2).collect()}
    assert 25 in post


def test_ivfpq_flush_noop_before_first_build(spark, tmp_path):
    from flink_rag_spark.operators.index import (flush_pending,
                                                 load_ivf_tail,
                                                 stage_pending)

    emb = _clustered(spark)
    idx = str(tmp_path / "ivfpq")
    stage_pending(spark, emb.filter("vec_id < 5"), idx)
    assert flush_pending(spark, idx) == 0    # no geometry yet
    assert load_ivf_tail(spark, idx).count() == 5  # nothing lost


def test_streaming_ingest_maintains_ivfpq_index(spark, tmp_path):
    """run_ingest(ivf_index=<IVF-PQ path>): streamed vectors reach the code
    partitions on the flush cadence; the maintained index is
    bit-identical to a from-scratch build of the full store under the
    same geometry."""
    import json

    from flink_rag_spark.operators.index import PQ_CODEBOOK
    from flink_rag_spark.operators.pq import build_ivfpq_index
    from flink_rag_spark.sources.streams import file_string_source
    from flink_rag_spark.streaming.ingest import run_ingest

    idx, store = str(tmp_path / "ivfpq"), str(tmp_path / "store")
    seed = tmp_path / "seed"
    seed.mkdir()
    (seed / "s.txt").write_text(
        "".join(f"seed fact number {i} about topic {i % 4}\n"
                for i in range(16)))
    q = run_ingest(spark, file_string_source(spark, str(seed)), store,
                   str(tmp_path / "c0"), available_now=True)
    assert q.awaitTermination(120)
    emb0 = spark.read.parquet(store).select("vec_id", "embedding")
    # embeddings are provider-dim; pick m that divides it
    dim = len(emb0.first()["embedding"])
    m = 4 if dim % 4 == 0 else (2 if dim % 2 == 0 else 1)
    build_ivfpq_index(spark, emb0, idx, n_centroids=4, m=m, kc=4,
                      iters=3)

    newdir = tmp_path / "new"
    newdir.mkdir()
    for j in range(2):
        (newdir / f"n{j}.txt").write_text(
            f"fresh streamed fact {j} about entirely new topics\n")
    q = run_ingest(spark,
                   file_string_source(spark, str(newdir),
                                      max_files_per_trigger=1),
                   store, str(tmp_path / "c1"), available_now=True,
                   ivf_index=idx, ivf_append_every=1)
    assert q.awaitTermination(180)

    cents = json.load(open(f"{idx}/centroids.json"))
    cb = json.load(open(f"{idx}/{PQ_CODEBOOK}"))
    full = str(tmp_path / "full")
    build_ivfpq_index(spark,
                      spark.read.parquet(store)
                      .select("vec_id", "embedding"),
                      full, coarse_centroids=cents, codebook=cb, m=m,
                      kc=4, iters=3)

    def codes(path):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["codes"])) for r in
            spark.read.parquet(f"{path}/cells").collect())
    assert codes(idx) == codes(full)
    assert len(codes(idx)) == 18


# ----------------------------------------- quantified (Kleene) CEP

def _ev(spark, rows):
    from datetime import datetime
    return spark.createDataFrame(
        [(i, datetime(2024, 1, 1, h, m), u, t)
         for i, (h, m, u, t) in enumerate(rows)],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string")


def test_quantified_funnel_hand_values(spark):
    """A B{3,} C: the pattern advances at the 3rd strictly-later B;
    repeats before the anchor don't count; same-timestamp repeats
    count once (strict-after chaining)."""
    from datetime import datetime

    from flink_rag_spark.operators.sequences import quantified_funnel_times
    e = _ev(spark, [
        # u1: clean completion — 4 clicks, completes at the 3rd
        (0, 0, 1, "view"), (0, 1, 1, "click"), (0, 2, 1, "click"),
        (0, 3, 1, "click"), (0, 4, 1, "click"), (0, 5, 1, "purchase"),
        # u2: only 2 clicks — quantified step never completes
        (1, 0, 2, "view"), (1, 1, 2, "click"), (1, 2, 2, "click"),
        (1, 3, 2, "purchase"),
        # u3: clicks BEFORE the view don't count toward the repeat
        (2, 0, 3, "click"), (2, 1, 3, "click"), (2, 2, 3, "view"),
        (2, 3, 3, "click"), (2, 4, 3, "click"), (2, 5, 3, "click"),
        (2, 6, 3, "purchase"),
    ])
    got = {r["user_id"]: r for r in quantified_funnel_times(
        e, ["view", ("click", 3), "purchase"]).collect()}
    d = lambda h, m: datetime(2024, 1, 1, h, m)
    assert got[1]["t1"] == d(0, 0)
    assert got[1]["t2"] == d(0, 3)          # the 3rd click, not the 4th
    assert got[1]["t3"] == d(0, 5)
    assert got[2]["t2"] is None and got[2]["t3"] is None
    assert got[3]["t1"] == d(2, 2)
    assert got[3]["t2"] == d(2, 5)
    assert got[3]["t3"] == d(2, 6)


def test_quantified_funnel_same_ts_counts_once_and_validates(spark):
    import pytest as _pytest

    from flink_rag_spark.operators.sequences import (
        expand_quantified_steps,
        quantified_funnel_times,
    )
    # two clicks at the SAME minute: strict-after chaining counts one
    e = _ev(spark, [
        (0, 0, 1, "view"), (0, 1, 1, "click"), (0, 1, 1, "click"),
        (0, 2, 1, "click"), (0, 3, 1, "purchase")])
    got = quantified_funnel_times(
        e, ["view", ("click", 3), "purchase"]).collect()[0]
    assert got["t2"] is None                 # only 2 distinct instants
    flat, last = expand_quantified_steps(["a", ("b", 3), "c"])
    assert flat == ["a", "b", "b", "b", "c"] and last == [1, 4, 5]
    with _pytest.raises(ValueError):
        expand_quantified_steps([("b", 0)])


def test_quantified_funnel_duck_mirror_rejects_columns(spark):
    import pyspark.sql.functions as F2
    import pytest as _pytest

    from flink_rag_spark.operators.sequences import (
        quantified_funnel_times_duck,
    )
    with _pytest.raises(TypeError):
        quantified_funnel_times_duck([(F2.col("x") > 1, 2)])


# ------------------------------------------- label propagation

def test_community_labels_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge: LPA assigns each clique
    its min-id label; the single bridge cannot outvote 3 in-clique
    neighbors, so the communities stay separate — exactly where
    connected_components would merge them into one."""
    from flink_rag_spark.operators.graph import (community_labels,
                                                 connected_components)
    edges = ([(a, b) for a in range(4) for b in range(a + 1, 4)]
             + [(a, b) for a in range(10, 14)
                for b in range(a + 1, 14)]
             + [(3, 10)])                      # the bridge
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["node"]: r["label"] for r in
           community_labels(df, iters=4).collect()}
    assert {got[n] for n in range(4)} == {0}
    assert {got[n] for n in range(10, 14)} == {10}
    cc = connected_components(df)
    labels = {r[1] for r in cc.collect()}
    assert len(labels) == 1                    # reachability merges them


def test_community_labels_deterministic_tiebreak(spark):
    """A node with equal votes takes the SMALLEST label — pinned on a
    path graph where the middle node sees one neighbor of each label."""
    from flink_rag_spark.operators.graph import community_labels
    df = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    # round 1 (sync): n1<-l2, n2<-min(l1,l3)=1, n3<-l2. round 2:
    # n1<-l(n2)=1, n2<-min(l1,l3)=min(2,2)=2, n3<-1 ... fixed 4 rounds
    got = {r["node"]: r["label"] for r in
           community_labels(df, iters=4).collect()}
    # replay by hand: l0={1:1,2:2,3:3}; l1={1:2,2:1,3:2};
    # l2={1:1,2:2,3:1}; l3={1:2,2:1,3:2}; l4={1:1,2:2,3:1}
    assert got == {1: 1, 2: 2, 3: 1}


# ------------------------------------------------------- CUSUM

def test_cusum_closed_form_equals_recurrence(spark):
    """The running-sum − running-min closed form must equal the
    textbook fold s_i = max(0, s_{i-1} + d_i) exactly."""
    from datetime import datetime

    from flink_rag_spark.operators.anomaly import cusum_scores
    vals = [10.0, 12.5, 7.0, 30.0, 31.5, 2.0, 2.0, 55.25, 9.0]
    rows = [(i, datetime(2024, 1, 1, 0, i), 1, v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double")
    target, slack = 10.0, 2.0
    got = [ (r["cusum_hi"], r["cusum_lo"]) for r in
            cusum_scores(df, ["user_id"], "ts", "value", target, slack,
                         seq_col="event_id").orderBy("ts").collect()]
    s_hi = s_lo = 0.0
    want = []
    for v in vals:
        s_hi = max(0.0, s_hi + (v - target - slack))
        s_lo = max(0.0, s_lo + (target - v - slack))
        want.append((round(s_hi, 6), round(s_lo, 6)))
    assert got == want


def test_cusum_first_alarms_hand_values(spark):
    from datetime import datetime

    from flink_rag_spark.operators.anomaly import cusum_first_alarms
    rows = ([(i, datetime(2024, 1, 1, 0, i), 1, 20.0) for i in range(3)]
            # u1 shifts up at minute 3: d_hi = +9/row, crosses h=20 at
            # the 3rd shifted row (minute 5)
            + [(i, datetime(2024, 1, 1, 0, i), 1, 30.0)
               for i in range(3, 8)]
            # u2 never shifts
            + [(10 + i, datetime(2024, 1, 1, 0, i), 2, 20.0)
               for i in range(6)])
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double")
    got = {r["user_id"]: r for r in cusum_first_alarms(
        df, ["user_id"], "ts", "value", target=20.0, slack=1.0, h=20.0,
        seq_col="event_id").collect()}
    assert got[1]["first_hi_ts"] == datetime(2024, 1, 1, 0, 5)
    assert got[1]["first_lo_ts"] is None
    assert got[1]["max_cusum_hi"] == 45.0      # 5 rows × 9
    assert got[1]["n_alarms"] == 3             # minutes 5, 6, 7
    assert got[2]["first_hi_ts"] is None and got[2]["n_alarms"] == 0


# ------------------------------------------- positional phrase search

def test_phrase_match_hand_values(spark):
    from flink_rag_spark.operators.positional import phrase_match
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "quick brown quick brown fox"),     # overlapping repeats
         (3, "brown quick fox"),                 # right words, wrong order
         (4, "the QUICK   Brown fox")],          # case + whitespace folding
        "doc_id bigint, text string")
    phrases = spark.createDataFrame(
        [(1, "quick brown"), (2, "brown fox"), (3, "fox jumps over")],
        "phrase_id int, phrase string")
    got = {(r["doc_id"], r["phrase_id"]): (r["n_occurrences"],
                                           r["first_pos"])
           for r in phrase_match(docs, phrases).collect()}
    assert got[(1, 1)] == (1, 1)
    assert got[(2, 1)] == (2, 0)                 # both occurrences
    assert got[(2, 2)] == (1, 3)
    assert got[(4, 1)] == (1, 1)                 # folded
    assert (3, 1) not in got                     # order matters
    assert not any(p == 3 for _, p in got)       # partial phrase ≠ match
    assert got[(1, 2)] == (1, 2)


def test_phrase_match_single_token_and_adjacency(spark):
    from flink_rag_spark.operators.positional import phrase_match
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha gamma beta")],
        "doc_id bigint, text string")
    phrases = spark.createDataFrame(
        [(1, "beta"), (2, "alpha beta")], "phrase_id int, phrase string")
    got = {(r["doc_id"], r["phrase_id"]) for r in
           phrase_match(docs, phrases).collect()}
    assert (1, 1) in got and (2, 1) in got       # term lookup degenerate
    assert (1, 2) in got
    assert (2, 2) not in got                     # gap breaks adjacency


# ------------------------------------------- SCD2 time travel

def test_as_of_snapshot_half_open_contract(spark):
    from datetime import datetime

    from flink_rag_spark.operators.scd import as_of_snapshot, scd2_history
    log = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), "A", 1),
         (1, datetime(2024, 3, 1), "B", 2),
         (2, datetime(2024, 2, 1), "X", 3)],
        "k bigint, ts timestamp, attr string, seq bigint")
    hist = scd2_history(log, "k", "ts", "attr", "seq")
    # at the exact boundary instant the NEW version is valid (half-open)
    snap = {r["k"]: r["attr"] for r in
            as_of_snapshot(hist, "2024-03-01 00:00:00").collect()}
    assert snap == {1: "B", 2: "X"}
    # one instant earlier: the old version
    snap = {r["k"]: r["attr"] for r in
            as_of_snapshot(hist, "2024-02-28 23:59:59").collect()}
    assert snap == {1: "A", 2: "X"}
    # before an entity existed: absent
    snap = {r["k"]: r["attr"] for r in
            as_of_snapshot(hist, "2024-01-15 00:00:00").collect()}
    assert snap == {1: "A"}


# --------------------------------------------- streaming CUSUM

_VSEQ = [0]


def _write_vbatch(spark, path, rows):
    """rows: (ts, user, value) with auto seq, or (seq, ts, user, value)
    to pin the tie-break explicitly."""
    out = []
    for r in rows:
        if len(r) == 4:
            out.append(r)
        else:
            out.append((_VSEQ[0], *r))
            _VSEQ[0] += 1
    spark.createDataFrame(
        out, "event_id bigint, ts_s string, user_id bigint, value double"
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
                 "value").coalesce(1).write.mode("append").parquet(path)
    import time
    time.sleep(1.1)


def test_streaming_cusum_matches_batch_closed_form(spark, tmp_path):
    """The streaming fold's final per-key state equals the batch
    closed form's last row over the same events, including
    cross-batch disorder inside the watermark; the first alarm_hi
    emission is the change-point alert."""
    from flink_rag_spark.operators.anomaly import cusum_scores
    from flink_rag_spark.streaming.cusum_monitor import cusum_monitor
    src = str(tmp_path / "cusum_src")
    target, slack, h = 10.0, 2.0, 15.0
    # u1 shifts upward; u2 stays on target; arrival disorder in batch 2
    _write_vbatch(spark, src, [
        ("2024-01-01 00:10:00", 1, 30.0),
        ("2024-01-01 00:00:00", 1, 10.0),
        ("2024-01-01 00:05:00", 2, 10.0),
    ])
    # u5: SAME-ts pair arriving seq-inverted across batches — the fold
    # must order by (ts, seq), not arrival: seq 1000 (v=15, d_hi=+3)
    # then seq 1001 (v=7, d_hi=-5) → s_hi = max(0, 3) then max(0,-2)=0;
    # arrival-order folding would give 0 then 3
    _write_vbatch(spark, src, [
        (1001, "2024-01-01 00:05:00", 5, 7.0),
    ])
    _write_vbatch(spark, src, [
        (1000, "2024-01-01 00:05:00", 5, 15.0),
        ("2024-01-01 00:05:00", 1, 25.0),       # earlier than batch-1 max
        ("2024-01-01 00:20:00", 1, 28.0),
        ("2024-01-01 00:20:00", 2, 11.0),
        ("2024-06-01 00:00:00", 99, 0.0),       # flush key, never emits
    ])
    stream = (spark.readStream
              .schema("event_id bigint, ts timestamp, user_id bigint, "
                      "value double")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (cusum_monitor(stream, target, slack, h, watermark="30 days")
         .writeStream.format("memory").queryName("cusum_t")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_cusum"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not drain in time"
    emitted = spark.sql("select * from cusum_t").collect()
    last = {}
    for r in emitted:
        if (r["user_id"] not in last
                or r["n_events"] > last[r["user_id"]]["n_events"]):
            last[r["user_id"]] = r
    assert set(last) == {1, 2, 5}
    assert last[5]["cusum_hi"] == 0.0      # (ts, seq) fold, not arrival
    batch = cusum_scores(
        spark.read.parquet(src).filter("user_id < 99"),
        ["user_id"], "ts", "value", target, slack, seq_col="event_id")
    import pyspark.sql.functions as F2
    from pyspark.sql import Window as W2
    final = {r["user_id"]: r for r in batch.withColumn(
        "_rn", F2.row_number().over(
            W2.partitionBy("user_id").orderBy(F2.desc("ts"),
                                              F2.desc("event_id"))))
        .filter("_rn = 1").collect()}
    for uid in (1, 2, 5):
        assert last[uid]["cusum_hi"] == final[uid]["cusum_hi"]
        assert last[uid]["cusum_lo"] == final[uid]["cusum_lo"]
    # u1 fold: d_hi = v-12 → 0-2→0, 25-12=13, 30-12=18→31, 28-12=16→47
    assert last[1]["cusum_hi"] == 47.0 and last[1]["alarm_hi"]
    assert last[2]["cusum_hi"] == 0.0 and not last[2]["alarm_hi"]
    # the alert: earliest alarm_hi emission for u1 exists
    alarms = [r for r in emitted if r["user_id"] == 1 and r["alarm_hi"]]
    assert alarms


# --------------------------------------------- golden records

def test_golden_records_rules_hand_values(spark):
    from datetime import datetime

    from flink_rag_spark.operators.linkage import golden_records
    df = spark.createDataFrame(
        [(1, "acme", "x@a",  10.0, datetime(2024, 1, 1), 1),
         (1, "acme", None,   12.0, datetime(2024, 1, 3), 2),
         (1, "ACME", "y@a",  11.0, datetime(2024, 1, 2), 3),
         (2, "zeta", "z@b",   5.0, datetime(2024, 1, 1), 4),
         (2, None,   None,    7.0, datetime(2024, 1, 9), 5)],
        "ent bigint, brand string, email string, price double, "
        "ts timestamp, seq bigint")
    out = {r["ent"]: r for r in golden_records(
        df, "ent",
        {"brand": "most_frequent", "email": "latest", "price": "max"},
        ts_col="ts", tiebreak="seq").collect()}
    assert out[1]["n_records"] == 3
    assert out[1]["brand"] == "acme"       # 2-vs-1 consensus
    # latest NON-NULL email: the 1/3 row is NULL, so 1/2 wins
    assert out[1]["email"] == "y@a"
    assert out[1]["price"] == 12.0
    # entity 2: brand NULL never wins; all-NULL email stays NULL
    assert out[2]["brand"] == "zeta"
    assert out[2]["email"] == "z@b"
    assert out[2]["price"] == 7.0


def test_golden_records_consensus_tiebreak_and_validation(spark):
    import pytest as _pt

    from flink_rag_spark.operators.linkage import golden_records
    df = spark.createDataFrame(
        [(1, "b"), (1, "a")], "ent bigint, v string")
    out = golden_records(df, "ent", {"v": "most_frequent"}).collect()[0]
    assert out["v"] == "a"                 # 1-1 tie → smaller value
    with _pt.raises(ValueError):
        golden_records(df, "ent", {"v": "latest"})     # needs ts_col
    with _pt.raises(ValueError):
        golden_records(df, "ent", {"v": "mode"})       # unknown rule


# ------------------------------------- histogram / corr / basket rules

def test_equiwidth_histogram_hand_values(spark):
    from flink_rag_spark.operators.profiling import equiwidth_histogram
    df = spark.createDataFrame(
        [(0.0,), (2.5,), (4.9,), (5.0,), (10.0,), (None,), (11.0,)],
        "v double")
    out = {r["bin"]: r for r in equiwidth_histogram(
        df, "v", n_bins=2, lo=0.0, hi=10.0).collect()}
    assert len(out) == 2
    assert (out[0]["bin_lo"], out[0]["bin_hi"]) == (0.0, 5.0)
    assert out[0]["n"] == 3                    # 0, 2.5, 4.9
    assert out[1]["n"] == 2                    # 5.0 (boundary), 10.0 (= hi)
    # empty bins materialize
    out = {r["bin"]: r["n"] for r in equiwidth_histogram(
        df.filter("v = 0.0"), "v", n_bins=4, lo=0.0, hi=10.0).collect()}
    assert out == {0: 1, 1: 0, 2: 0, 3: 0}


def test_corr_matrix_hand_values(spark):
    from flink_rag_spark.operators.regression import corr_matrix
    # y = 2x exactly -> corr 1; z anti-correlates; c constant -> NULL
    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0, 5.0), (2.0, 4.0, 2.0, 5.0),
         (3.0, 6.0, 1.0, 5.0), (None, 1.0, 1.0, 5.0)],
        "x double, y double, z double, c double")
    out = {(r["col_a"], r["col_b"]): r for r in
           corr_matrix(df, ["x", "y", "z", "c"]).collect()}
    assert all(r["n"] == 3 for r in out.values())   # complete-case
    assert out[("x", "x")]["corr"] == 1.0
    assert out[("x", "y")]["corr"] == 1.0
    assert out[("x", "z")]["corr"] == -1.0
    assert out[("x", "c")]["corr"] is None          # zero variance
    assert len(out) == 10                           # 4*(4+1)/2 pairs


def test_itemset_pair_rules_hand_values(spark):
    from flink_rag_spark.operators.association import itemset_pair_rules
    # baskets: {a,b,c}, {a,b}, {a,c}, {b} -> N=4, n_a=3, n_b=3, n_c=2,
    # n_ab=2, n_ac=2, n_bc=1 (pruned at min 2)
    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"),
            (3, "a"), (3, "c"), (4, "b"), (1, "a")]   # dup (1,a) collapses
    df = spark.createDataFrame(rows, "b bigint, i string")
    out = {(r["item_a"], r["item_b"]): r for r in
           itemset_pair_rules(df, "b", "i", min_pair_count=2).collect()}
    assert set(out) == {("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")}
    r = out[("a", "b")]
    assert r["n_pair"] == 2
    assert r["support"] == 0.5                 # 2/4
    assert abs(r["confidence"] - 2 / 3) < 1e-6
    assert abs(r["lift"] - (2 / 3) / (3 / 4)) < 1e-6
    # direction matters in confidence: c -> a is 2/2
    assert out[("c", "a")]["confidence"] == 1.0


# --------------------------------------------------- attribution

def test_last_touch_attribution_hand_values(spark):
    from datetime import datetime

    from flink_rag_spark.operators.sequences import last_touch_attribution
    rows = [
        # u1: view -> click -> purchase(10): credit click
        (0, datetime(2024, 1, 1, 0, 0), 1, "view", 0.0),
        (1, datetime(2024, 1, 1, 0, 1), 1, "click", 0.0),
        (2, datetime(2024, 1, 1, 0, 2), 1, "purchase", 10.0),
        # u1 again: purchase(5) with no NEW touch: still last click
        (3, datetime(2024, 1, 1, 0, 3), 1, "purchase", 5.0),
        # u2: view -> purchase(20): credit view
        (4, datetime(2024, 1, 1, 0, 0), 2, "view", 0.0),
        (5, datetime(2024, 1, 1, 0, 1), 2, "purchase", 20.0),
        # u3: purchase(7) with no prior touch -> unattributed
        (6, datetime(2024, 1, 1, 0, 0), 3, "purchase", 7.0),
        # u4: same-ts touch then purchase, seq breaks the tie
        (7, datetime(2024, 1, 1, 0, 0), 4, "click", 0.0),
        (8, datetime(2024, 1, 1, 0, 0), 4, "purchase", 8.0),
    ]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    out = {r["touch_type"]: r for r in last_touch_attribution(
        e, ["view", "click"], "purchase").collect()}
    assert out["click"]["n_conversions"] == 3      # u1 twice + u4
    assert out["click"]["attributed_value"] == 23.0
    assert out["view"]["attributed_value"] == 20.0
    assert out[None]["attributed_value"] == 7.0    # unattributed bucket
    total = 50.0
    assert out["click"]["value_share"] == round(23.0 / total, 6)
    assert sum(r["value_share"] for r in out.values()) == 1.0


# ------------------------------------------ sessionize / FK audit

def test_sessionize_and_stats_hand_values(spark):
    from datetime import datetime

    from flink_rag_spark.operators.sequences import (session_stats,
                                                     sessionize)
    rows = [
        (0, datetime(2024, 1, 1, 0, 0, 0), 1),
        (1, datetime(2024, 1, 1, 0, 10, 0), 1),   # 600s gap: same session
        (2, datetime(2024, 1, 1, 0, 40, 0), 1),   # exactly 1800s: SAME
        (3, datetime(2024, 1, 1, 1, 10, 1), 1),   # 1801s: new session
        (4, datetime(2024, 1, 1, 5, 0, 0), 2),    # other key
    ]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint")
    s = {r["event_id"]: r["session_id"] for r in
         sessionize(e, 1800).collect()}
    assert s == {0: 1, 1: 1, 2: 1, 3: 2, 4: 1}
    st = {(r["user_id"], r["session_id"]): r for r in
          session_stats(e, 1800).collect()}
    assert st[(1, 1)]["n_events"] == 3
    assert st[(1, 1)]["duration_s"] == 2400.0
    assert st[(1, 2)]["n_events"] == 1 and st[(1, 2)]["duration_s"] == 0.0


def test_fk_integrity_audit_hand_values(spark):
    from flink_rag_spark.operators.validation import fk_integrity_audit
    facts = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id bigint, fk bigint")
    dims = spark.createDataFrame([(10,), (20,)], "k bigint")
    out = {r["relation"]: r for r in fk_integrity_audit(
        [("f_d", facts, "fk", dims, "k")]).collect()}
    r = out["f_d"]
    assert r["n_rows"] == 4
    assert r["n_null_keys"] == 1          # NULL is missing, not orphan
    assert r["n_orphans"] == 1            # fk=99
    assert r["orphan_rate"] == 0.25


# --------------------------------------------- index observability

def test_ivf_cell_stats(spark, tmp_path):
    from flink_rag_spark.operators.index import (build_ivf_index,
                                                 ivf_cell_stats,
                                                 stage_pending)
    emb = _clustered(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, emb.filter("vec_id < 24"), idx, n_centroids=4)
    stage_pending(spark, emb.filter("vec_id >= 24"), idx)
    st = ivf_cell_stats(spark, idx)
    assert st["n_cells"] == 4
    assert st["n_vectors"] == 24
    assert st["tail_rows"] == 6
    assert st["min_cell"] >= 1
    assert abs(st["mean_cell"] - 6.0) < 1e-9
    assert st["imbalance"] == round(st["max_cell"] / 6.0, 3)


def test_forget_in_ivf_index_purges_ivfpq_pending_tail(spark, tmp_path):
    """A forgotten doc must not keep serving through
    ivfpq_topk(tail=...) nor be re-encoded by the next flush."""
    from flink_rag_spark.operators.index import (flush_pending,
                                                 load_ivf_tail,
                                                 stage_pending)
    from flink_rag_spark.operators.maintenance import forget_in_ivf_index
    from flink_rag_spark.operators.pq import build_ivfpq_index

    emb = _clustered(spark)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, emb.filter("vec_id < 20"), idx,
                      n_centroids=4, m=4, kc=4, iters=3)
    stage_pending(spark, emb.filter(F.col("vec_id").isin(25, 26)), idx)
    removed = forget_in_ivf_index(spark, idx, [25])
    assert removed == 1                       # tail row only
    assert {r["vec_id"] for r in
            load_ivf_tail(spark, idx).collect()} == {26}
    assert flush_pending(spark, idx) == 1
    ids = {r["vec_id"] for r in
           spark.read.parquet(f"{idx}/cells").collect()}
    assert 25 not in ids and 26 in ids


def test_forget_retry_after_store_delete_falls_back_to_find_scan(
        spark, tmp_path):
    """A retried forget whose store delete already removed the rows
    fetches NO vectors — the index pass must fall back to the find
    scan instead of silently under-deleting (empty probe set)."""
    from flink_rag_spark.operators.index import build_ivf_index
    from flink_rag_spark.operators.maintenance import forget_documents
    from flink_rag_spark.operators.pq import build_ivfpq_index
    from flink_rag_spark.streaming.ingest import STORE_BUCKETS

    emb = _clustered(spark)
    store = str(tmp_path / "store")
    (emb.withColumn("bucket", F.pmod(F.col("vec_id"),
                                     F.lit(STORE_BUCKETS)).cast("int"))
     .repartition("bucket").write.partitionBy("bucket").parquet(store))
    ivf, ivfpq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    build_ivf_index(spark, emb, ivf, n_centroids=4)
    build_ivfpq_index(spark, emb, ivfpq, n_centroids=4, m=4, kc=4,
                      iters=3)
    # first pass: store only (simulates a crash before the index passes)
    out1 = forget_documents(spark, [3, 17], store_path=store)
    assert out1 == {"store_rows": 2}
    # retry: store yields no vectors for the ids — find-scan fallback
    out2 = forget_documents(spark, [3, 17], store_path=store,
                            ivf_index_path=ivf, ivfpq_index_path=ivfpq)
    assert out2["store_rows"] == 0
    assert out2["ivf_rows"] == 2 and out2["ivfpq_rows"] == 2
    for path in (ivf, ivfpq):
        ids = {r["vec_id"] for r in
               spark.read.parquet(f"{path}/cells").collect()}
        assert not ({3, 17} & ids)


# ------------------------------------------------ IVM fact upsert

def test_upsert_facts_moves_rows_and_cleans_emptied_partitions(
        spark, tmp_path):
    import os
    from datetime import date

    from flink_rag_spark.operators.ivm import (build_join_view,
                                               read_join_view,
                                               upsert_facts)
    facts = spark.createDataFrame(
        [(1, 10, date(2024, 1, 5), 100.0),
         (2, 10, date(2024, 1, 9), 200.0),
         (3, 20, date(2024, 2, 1), 300.0)],
        "pk bigint, fk bigint, d date, v double")
    dims = spark.createDataFrame([(10, "A"), (20, "B"), (30, "C")],
                                 "k bigint, attr string")
    path = str(tmp_path / "view")
    build_join_view(spark, facts, dims, path, "fk", "k", "d")

    # pk 3 moves Feb -> Mar (2024-02 empties), pk 1 updates in place,
    # pk 4 is a brand-new key joining dim 30
    batch = spark.createDataFrame(
        [(3, 20, date(2024, 3, 2), 333.0),
         (1, 10, date(2024, 1, 5), 111.0),
         (4, 30, date(2024, 1, 20), 400.0)],
        "pk bigint, fk bigint, d date, v double")
    touched = upsert_facts(spark, batch, dims, path, "pk", "fk", "k", "d")
    assert sorted(touched) == ["2024-01", "2024-02", "2024-03"]
    got = {r["pk"]: (r["v"], r["attr"], r["pmonth"]) for r in
           read_join_view(spark, path).collect()}
    assert got == {1: (111.0, "A", "2024-01"),
                   2: (200.0, "A", "2024-01"),
                   3: (333.0, "B", "2024-03"),
                   4: (400.0, "C", "2024-01")}
    assert not os.path.exists(os.path.join(path, "pmonth=2024-02"))

    # keyed idempotency: the replay rewrites to the identical state
    upsert_facts(spark, batch, dims, path, "pk", "fk", "k", "d")
    again = {r["pk"]: (r["v"], r["attr"], r["pmonth"]) for r in
             read_join_view(spark, path).collect()}
    assert again == got


def test_upsert_facts_is_the_dim_insert_route(spark, tmp_path):
    """A fact whose dim key was missing at build time (inner join
    dropped it) is restored by replaying it through upsert_facts with
    the updated dims — the module's documented dim-insert contract."""
    from datetime import date

    from flink_rag_spark.operators.ivm import (build_join_view,
                                               read_join_view,
                                               upsert_facts)
    facts = spark.createDataFrame(
        [(1, 10, date(2024, 1, 5), 100.0),
         (2, 99, date(2024, 1, 9), 200.0)],     # dim 99 missing at build
        "pk bigint, fk bigint, d date, v double")
    dims0 = spark.createDataFrame([(10, "A")], "k bigint, attr string")
    path = str(tmp_path / "view")
    build_join_view(spark, facts, dims0, path, "fk", "k", "d")
    assert read_join_view(spark, path).count() == 1
    dims1 = spark.createDataFrame([(10, "A"), (99, "Z")],
                                  "k bigint, attr string")
    upsert_facts(spark, facts.filter("pk = 2"), dims1, path,
                 "pk", "fk", "k", "d")
    got = {r["pk"]: r["attr"] for r in
           read_join_view(spark, path).collect()}
    assert got == {1: "A", 2: "Z"}


# ------------------------------------------ batch IVF-PQ serving

def test_ivfpq_knn_join_matches_single_query_path(spark, tmp_path):
    """The batch join must produce, per query, exactly what the
    single-query ivfpq_topk produces (same probes, same ADC algebra,
    same rerank budget and tie-break)."""
    import numpy as np

    from flink_rag_spark.operators.pq import (build_ivfpq_index,
                                              ivfpq_knn_join, ivfpq_topk)
    emb = _clustered(spark)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, emb, idx, n_centroids=4, m=4, kc=4, iters=3)
    qvecs = {r["vec_id"]: list(r["embedding"]) for r in
             emb.filter(F.col("vec_id").isin(4, 21)).collect()}
    qids = sorted(qvecs)
    Q = np.asarray([qvecs[i] for i in qids])
    batch = {(r["query_id"], r["rank"]): (r["vec_id"], r["score"])
             for r in ivfpq_knn_join(spark, idx, (qids, Q), emb, k=5,
                                     n_probe=2).collect()}
    for qid in qids:
        single = {r["rank"]: (r["vec_id"], r["score"]) for r in
                  ivfpq_topk(spark, idx, qvecs[qid], emb, k=5,
                             n_probe=2).collect()}
        for rank, want in single.items():
            assert batch[(qid, rank)] == want, (qid, rank)


def test_rag_answer_ivfpq_tier(spark, tmp_path, sf_oracle):
    """rag_answer(retrieval='ann') on an IVF-PQ index path: the serving
    tier answers a question batch through the persisted IVF-PQ index and
    stays consistent with the exact tier's top answer context shape."""
    from flink_rag_spark.operators.pq import build_ivfpq_index
    from flink_rag_spark.plans.rag import rag_answer
    from flink_rag_spark.sources.tables import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    idx = str(tmp_path / "ivfpq")
    # embeddings are 7-dim at this SF: m must divide d — pad via m=7
    dim = len(emb.first()["embedding"])
    m = 7 if dim == 7 else (4 if dim % 4 == 0 else 1)
    build_ivfpq_index(spark, emb, idx, n_centroids=4, m=m, kc=4, iters=3)
    qs = ["What do I do if it is dark?", "How do I sort a big table?"]
    out = rag_answer(spark, sf_oracle, questions=qs, retrieval="ann",
                     ann_index=idx).collect()
    assert len(out) == 2
    assert all(r["answer"] for r in out)
    # the directory picks the layout; an unknown tier fails before any job
    with pytest.raises(ValueError, match="'exact', 'ann' or 'hybrid'"):
        rag_answer(spark, sf_oracle, questions=qs, retrieval="ivfpq",
                   ann_index=idx)


# -------------------------------------------------- composition

def test_forget_documents_spans_vector_indexes(spark, tmp_path):
    """One forget_documents call wipes the store AND both vector
    indexes; the store's vectors are fetched before its delete so the
    index passes run cell-pruned."""
    from flink_rag_spark.operators.index import build_ivf_index
    from flink_rag_spark.operators.maintenance import forget_documents
    from flink_rag_spark.operators.pq import build_ivfpq_index, ivfpq_topk
    from flink_rag_spark.operators.similarity import ivf_knn_join
    from flink_rag_spark.streaming.ingest import STORE_BUCKETS

    emb = _clustered(spark)
    store = str(tmp_path / "store")
    (emb.withColumn("text", F.concat(F.lit("doc "), F.col("vec_id")))
     .withColumn("bucket", F.pmod(F.col("vec_id"), F.lit(STORE_BUCKETS))
                 .cast("int"))
     .repartition("bucket").write.partitionBy("bucket").parquet(store))
    ivf, ivfpq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    build_ivf_index(spark, emb, ivf, n_centroids=4)
    build_ivfpq_index(spark, emb, ivfpq, n_centroids=4, m=4, kc=4,
                      iters=3)

    out = forget_documents(spark, [3, 17], store_path=store,
                           ivf_index_path=ivf, ivfpq_index_path=ivfpq)
    assert out == {"store_rows": 2, "ivf_rows": 2, "ivfpq_rows": 2}

    left = {r["vec_id"] for r in spark.read.parquet(store).collect()}
    assert left == set(range(30)) - {3, 17}
    for path in (ivf, ivfpq):
        ids = {r["vec_id"] for r in
               spark.read.parquet(f"{path}/cells").collect()}
        assert ids == set(range(30)) - {3, 17}

    # serving paths come back clean
    qv = [r["embedding"] for r in
          emb.filter(F.col("vec_id") == 4).collect()][0]
    q = spark.createDataFrame([(0, qv)],
                              "query_id bigint, query_vec array<double>")
    import json
    cents = json.load(open(f"{ivf}/centroids.json"))
    cells = spark.read.parquet(f"{ivf}/cells")
    got_ivf = {r["vec_id"] for r in ivf_knn_join(
        q, None, k=10, centroids=cents, cells=cells).collect()}
    rerank = spark.read.parquet(store).select("vec_id", "embedding")
    got_pq = {r["vec_id"] for r in ivfpq_topk(
        spark, ivfpq, qv, rerank, k=10, n_probe=2).collect()}
    assert not ({3, 17} & (got_ivf | got_pq))
