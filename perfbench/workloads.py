"""The two streaming workloads, measured against the engine's public entry
points (``streaming.answer.run_answer_stream``, ``streaming.ingest.
run_ingest``) on a ``local[nproc]`` session.

Each workload runs:

1. set-up: session start once, the input and index builds
   ``SETUP_REPS`` times, then a warm-up; ``setup_s`` is start + the
   median build + warm-up;
2. phase 1: a backlog written before the query starts is drained;
3. phase 2: an open-loop generator sends items on a fixed schedule for
   ``--seconds``;
4. output checks (untimed);
5. traced run only: each recorded micro-batch is replayed through the
   layer functions one call at a time, timed as spans; on ask, the
   catalog queries are timed and checked too.

The corpus is the sf0.1 ``documents`` and ``embeddings`` tables
(``gen.CORPUS_DIR``).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import gen
import harness
import stats
from trace import Tracer, parse_event_log

SETUP_REPS = 3
TICK_S = 0.1


@dataclass
class AskParams:
    backlog: int = 120       # phase-1 questions, written as 10 files
    rate: float = 10.0       # phase-2 questions per second


@dataclass
class IngestParams:
    ivf_cells: int = 16
    backlog: int = 120       # phase-1 fact lines, written as 10 files
    replay_share: float = 0.1
    rate: float = 12.0       # phase-2 fact lines per second
    read_rate: float = 10.0  # concurrent questions per second


@dataclass
class Result:
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    info: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.problems.append(f"{what}: {n}")


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    """State shared by both workloads: work dirs, session, tracer."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 traced: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = os.path.join(root, "perfbench", ".work", workload)
        self.last = os.path.join(root, "perfbench", ".last")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.event_log = os.path.join(self.work, "eventlog") if traced else None
        self.tracer = Tracer(workload, traced)
        self.cores = harness.nproc()
        self.res = Result()
        self.spark = None
        self.provider = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ------------------------------------------------------------ set-up

    def start_session(self) -> float:
        harness.configure_env(self.work, self.event_log)
        t = time.perf_counter()
        with self.tracer.span("session.start"):
            from flink_rag_spark.session import get_spark, ship_package
            self.spark = get_spark(f"perfbench-{self.workload}",
                                   cpus=self.cores)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.conf.set(
                "spark.sql.streaming.numRecentProgressUpdates", "100000")
            ship_package(self.spark)
            if self.traced:
                from counting import CountingProvider
                from flink_rag_spark.config import DEFAULT_CONFIG as cfg
                self.spark.sparkContext.addPyFile(os.path.join(
                    self.root, "perfbench", "counting.py"))
                self.provider = CountingProvider(
                    self.spark.sparkContext, cfg.embedding_dims, cfg.seed)
        start_s = time.perf_counter() - t
        self.layer("session.start_s", start_s, "s")
        return start_s

    def set_up(self, build, stream_once) -> tuple[float, object]:
        """The set-up after session start. ``build(dir)`` makes the inputs
        and indexes ``SETUP_REPS`` times in fresh dirs; the first build
        also warms the build code paths, and the median leaves it out.
        Then the warm-up, once: ``stream_once(dir, built)`` runs the
        workload's streaming entry points to completion
        (``available_now``) over two throwaway items and a 50-document
        slice of the corpus in ``dir/data``, so the timed drain does not
        pay for JVM code paths, the Python worker pool or the workload's
        first streaming plans. Returns the median build + warm-up, and
        the last build's result."""
        builds, out = [], None
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            with self.tracer.span("setup.inputs"):
                out = build(self.path(f"setup{i}"))
            builds.append(time.perf_counter() - t)
        self.layer("setup.inputs_s", statistics.median(builds), "s")
        w = self.path("warm")
        t = time.perf_counter()
        with self.tracer.span("session.warmup"):
            for sub in ("in", "staging"):
                os.makedirs(os.path.join(w, sub))
            gen.copy_corpus(os.path.join(w, "data"), n_rows=50)
            stream_once(w, out)
        warm_s = time.perf_counter() - t
        self.layer("session.warmup_s", warm_s, "s")
        return statistics.median(builds) + warm_s, out

    # ------------------------------------------------------------ helpers

    def metric(self, name: str, value: float, unit: str) -> None:
        self.res.metrics[name] = (value, unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.res.layers[name] = (value, unit)

    def info(self, name: str, value: float, unit: str) -> None:
        self.res.info[name] = (value, unit)

    def stream_layers(self, batches: list[dict], t_start: float,
                      t_end: float, sent: list[float],
                      committed: list[float], lag: float) -> None:
        trig = [b["trigger_s"] for b in batches]
        busy = sum(trig)
        self.layer("streaming.batches", len(batches), "count")
        self.layer("streaming.batch_p50_s", stats.percentile(trig, 50), "s")
        self.layer("streaming.batch_max_s", max(trig), "s")
        self.layer("streaming.trigger_overhead_s",
                   sum(b["trigger_s"] - b["add_batch_s"] for b in batches), "s")
        self.layer("streaming.idle_frac",
                   max(0.0, 1.0 - busy / (t_end - t_start)), "ratio")
        self.layer("streaming.backlog_max",
                   stats.backlog_max(sent, committed), "count")
        self.layer("streaming.generator_lag_max_s", lag, "s")

    def batch_spans(self, batches: list[dict], name: str,
                    phases: list[int | None]) -> None:
        """Micro-batch spans from progress reports, each under the phase
        span it started in (``phases=[None]`` leaves them as roots)."""
        if not self.traced:
            return
        spans = [self.tracer.spans[p] for p in phases if p is not None]
        for b in batches:
            parent = next((s.id for s in spans
                           if s.start <= b["start"] < s.end),
                          spans[-1].id if spans else None)
            self.tracer.add(name, b["start"], b["end"], parent, b["batch"])

    def provider_layers(self) -> None:
        c = self.provider.counts() if self.provider else {}
        for k in ("embed_calls", "embed_rows", "chat_calls", "chat_rows"):
            self.layer(f"providers.{k}", c.get(k, 0), "count")
        for k in ("embed", "chat"):
            self.layer(f"providers.{k}_busy_s",
                       c.get(f"{k}_busy_us", 0) / 1e6, "s")

    def scan_layer(self, data_dir: str) -> None:
        from flink_rag_spark.sources.tables import load_table
        with self.tracer.span("sources.scan"):
            for name in ("documents", "embeddings"):
                force(load_table(self.spark, data_dir, name))
        self.layer("sources.scan_s", self.tracer.total("sources.scan"), "s")

    def rag_replay(self, data_dir: str, batches: dict[int, list[str]],
                   store: str | None) -> None:
        """Replay recorded question micro-batches one layer call at a time:
        embed, k-NN on the pre-embedded vectors, the chat-free RAG plan
        (embed + retrieve + assemble), chat on the assembled prompts and
        the parquet append."""
        import pyspark.sql.functions as F
        from flink_rag_spark.config import DEFAULT_CONFIG as cfg
        from flink_rag_spark.functions.providers import chat_col, embed_text_col
        from flink_rag_spark.operators.similarity import knn_join
        from flink_rag_spark.plans.rag import rag_answer
        from flink_rag_spark.sources.tables import load_table

        spark, tr = self.spark, self.tracer
        corpus = load_table(spark, data_dir, "embeddings").select(
            "vec_id", "embedding")
        if store:
            corpus = corpus.unionByName(
                spark.read.parquet(store).select("vec_id", "embedding"))
        sink = self.path("replay", "answers")
        for b, qs in sorted(batches.items()):
            qdf = spark.createDataFrame(list(enumerate(qs)),
                                        "question_id long, question string")
            with tr.span("rag.embed", batch=b):
                emb = qdf.withColumn("query_vec", embed_text_col(
                    self.provider)(F.col("question"))).persist()
                force(emb)
            with tr.span("similarity.knn", batch=b):
                force(knn_join(emb.select("question_id", "query_vec"), corpus,
                               k=cfg.retrieval_k, query_id="question_id",
                               min_score=cfg.min_score))
            emb.unpersist()
            with tr.span("rag.plan", batch=b):
                prompts = rag_answer(spark, data_dir, questions=qdf,
                                     provider=self.provider, with_chat=False,
                                     extra_store_path=store).collect()
            pdf = spark.createDataFrame(
                [(r["question_id"], r["question"], r["prompt"])
                 for r in prompts],
                "question_id long, question string, prompt string")
            with tr.span("rag.chat", batch=b):
                answered = pdf.withColumn("answer", chat_col(self.provider)(
                    F.col("prompt"))).persist()
                force(answered)
            with tr.span("rag.sink", batch=b):
                answered.write.mode("append").parquet(sink)
            answered.unpersist()
        embed, knn = tr.total("rag.embed"), tr.total("similarity.knn")
        self.layer("rag.embed_s", embed, "s")
        self.layer("similarity.knn_s", knn, "s")
        # the chat-free plan re-runs embed and k-NN: its own share is the rest
        self.layer("rag.assembly_s",
                   max(0.0, tr.total("rag.plan") - embed - knn), "s")
        self.layer("rag.chat_s", tr.total("rag.chat"), "s")
        self.layer("rag.sink_s", tr.total("rag.sink"), "s")

    def spark_layers(self, t0: float, t1: float, n_batches: int) -> None:
        """Event-log counters for jobs submitted during the timed phases."""
        (log,) = os.listdir(self.event_log)
        ev = parse_event_log(os.path.join(self.event_log, log),
                             t0 * 1e3, t1 * 1e3)
        for k in ("jobs", "stages", "tasks"):
            self.layer(f"spark.{k}", ev[k], "count")
        self.layer("spark.jobs_per_batch",
                   ev["streaming_jobs"] / max(1, n_batches), "count")
        for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            self.layer(f"spark.{k}", ev[k], "bytes")
        self.layer("spark.task_cpu_s", ev["task_cpu_s"], "s")
        self.layer("spark.gc_s", ev["gc_s"], "s")
        self.layer("spark.core_busy_frac",
                   ev["task_run_s"] / (self.cores * (t1 - t0)), "ratio")

    def catalog_layer(self) -> None:
        """Each catalog query timed as its query-function call and its
        noop force, then checked against its DuckDB oracle on the same
        tables; the dependencies its operators persisted are released
        after the check, outside the timed spans."""
        import analytics
        from flink_rag_spark.operators.util import unpersist_cached_deps
        from flink_rag_spark.plans.catalog import oracle_sqls, query_fns

        fns, oracles, tables = query_fns(), oracle_sqls(), gen.TABLES_DIR
        tr = self.tracer
        for name in analytics.QUERIES:
            with tr.span(f"catalog.{name}.build"):
                df = fns[name](self.spark, tables)
            with tr.span(f"catalog.{name}.exec"):
                force(df)
            with tr.span("catalog.check"):
                got = analytics.value_hash(df.toPandas())
                want = analytics.value_hash(
                    analytics.oracle_frame(oracles[name], tables))
            unpersist_cached_deps(df)
            self.res.attempted += 1
            self.res.fail(int(got != want),
                          f"{name} differs from its DuckDB oracle")
            for part in ("build", "exec"):
                self.layer(f"catalog.{name}.{part}_s",
                           tr.total(f"catalog.{name}.{part}"), "s")

    def finish(self, setup_s: float, lat: list[float],
               read_lat: list[float], drain_per_s: float,
               phases_s: float) -> None:
        """E2E metrics of an untraced run; a traced run reports its own
        latency and timed-phase wall time as layers, to be compared with
        untraced runs of the same seeds (``spread.py --traced-runs``)."""
        peak_rss = harness.tree_peak_rss_bytes()
        p50, p90 = stats.percentile(lat, 50), stats.percentile(lat, 90)
        if not self.traced:
            self.metric("latency_p50_s", p50, "s")
            self.metric("latency_p90_s", p90, "s")
            self.metric("read_latency_p50_s",
                        stats.percentile(read_lat, 50), "s")
            self.metric("read_latency_p90_s",
                        stats.percentile(read_lat, 90), "s")
            self.metric("setup_s", setup_s, "s")
            self.metric("peak_rss_mb", peak_rss / 2**20, "MB")
        else:
            self.layer("trace.latency_p50_s", p50, "s")
            self.layer("trace.phases_s", phases_s, "s")
        # printed, not bounded: drain_per_s rests on one or two drain
        # batches, and its run-to-run spread has gone past the largest bound
        # a metric may have
        self.info("drain_per_s", drain_per_s, "items/s")
        self.info("phases_s", phases_s, "s")
        self.info("latency_samples", len(lat), "count")
        self.info("read_latency_samples", len(read_lat), "count")
        self.info("failed_frac",
                  self.res.failed / max(1, self.res.attempted), "ratio")

    def close(self) -> None:
        """Stop the streams, the session and the JVM; idempotent."""
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
            harness.stop_jvm()


def _write_backlog(staging: str, target: str, lines: list[str]
                   ) -> dict[str, list[str]]:
    """The phase-1 backlog as 10 files, all in place before the query
    starts; returns file name -> lines."""
    per = len(lines) // 10
    files = {f"backlog-{i:02d}.txt": lines[i * per:(i + 1) * per]
             for i in range(10)}
    for name, ls in files.items():
        harness.drop_file(staging, target, name, ls)
    return files


def _phase2(b: Bench, sends: list[gen.Send], dirs: dict[str, str],
            staging: str) -> harness.Generator:
    g = harness.Generator(sends, dirs, staging, time.time() + 0.2)
    g.start()
    g.join(timeout=b.seconds + 60)
    g.stop()
    if g.is_alive() or g.error:
        raise RuntimeError(f"generator failed: {g.error!r}")
    return g


# ======================================================================
# ask: the read path
# ======================================================================

def run_ask(b: Bench, p: AskParams = AskParams()) -> Result:
    from flink_rag_spark.plans.rag import rag_answer
    from flink_rag_spark.sources.streams import file_string_source
    from flink_rag_spark.streaming.answer import run_answer_stream

    tr, seed = b.tracer, b.seed
    n2 = int(round(b.seconds * p.rate))

    def build(d: str):
        data = os.path.join(d, "data")
        gen.copy_corpus(data)
        return data, gen.questions(seed, gen.corpus_texts(data),
                                   p.backlog + n2, "qa")

    with tr.span("run"):
        start_s = b.start_session()

        def ask_once(w: str, _built) -> None:
            harness.drop_file(os.path.join(w, "staging"), os.path.join(w, "in"),
                              "warm.txt", ["warm up one", "warm up two"])
            run_answer_stream(b.spark, file_string_source(
                b.spark, os.path.join(w, "in")), os.path.join(w, "data"),
                os.path.join(w, "out"), os.path.join(w, "ck"),
                provider=b.provider, available_now=True).awaitTermination()

        setup_rep_s, (data, qs) = b.set_up(build, ask_once)
        setup_s = start_s + setup_rep_s

        qdir, staging = b.path("questions"), b.path("staging")
        os.makedirs(qdir)
        os.makedirs(staging)
        backlog, live = qs[:p.backlog], qs[p.backlog:]
        _write_backlog(staging, qdir, backlog)
        t_backlog = time.time()
        out, ck = b.path("answers"), b.path("ck")

        t_start = time.time()
        with tr.span("phase.drain") as ph1:
            q = run_answer_stream(b.spark, file_string_source(b.spark, qdir),
                                  data, out, ck, provider=b.provider)
            q.processAllAvailable()
        sends = gen.open_loop("qa", live, p.rate, TICK_S)
        with tr.span("phase.open_loop") as ph2:
            g = _phase2(b, sends, {"qa": qdir}, staging)
            q.processAllAvailable()
        t_end = time.time()
        batches = harness.progress_batches(q)
        q.stop()
        if q.exception():
            raise RuntimeError(f"answer stream failed: {q.exception()}")
        b.batch_spans(batches, "streaming.batch", [ph1, ph2])

        # ---- outputs -> commit times -> latency
        commits = harness.commit_times(ck)
        rows = b.spark.read.parquet(out).select(
            "question", "answer", "epoch_id").collect()
        epoch_of = {r["question"]: r["epoch_id"] for r in rows}
        backlog_end = max(commits[epoch_of[x]] for x in backlog
                          if x in epoch_of)
        drain_per_s = p.backlog / (backlog_end - t_start)
        due = {x: g.t0 + s.due for s in sends for x in s.lines}
        committed = {x: commits[epoch_of[x]] for x in due if x in epoch_of}
        lat = stats.latencies(due, committed)

        # ---- checks: answered exactly once, equal to one batch rag_answer
        with tr.span("check"):
            b.res.attempted = len(qs)
            seen = Counter(r["question"] for r in rows)
            b.res.fail(sum(1 for x in qs if seen[x] == 0), "unanswered")
            b.res.fail(sum(n - 1 for n in seen.values() if n > 1),
                       "answered twice")
            b.res.fail(len(set(seen) - set(qs)), "answers to unsent questions")
            ref = {r["question"]: r["answer"] for r in rag_answer(
                b.spark, data, questions=qs).select(
                    "question", "answer").collect()}
            b.res.fail(sum(1 for r in rows
                           if ref.get(r["question"]) != r["answer"]),
                       "answers differ from batch rag_answer")
        # on ask the questions are the reads
        b.finish(setup_s, lat, lat, drain_per_s, t_end - t_start)

        if b.traced:
            sent = ([t_backlog] * len(backlog)
                    + [g.sent_at[s.name] for s in sends for _ in s.lines])
            b.stream_layers(batches, t_start, t_end, sent,
                            [commits[epoch_of[x]] for x in qs
                             if x in epoch_of], g.lag_max())
            b.layer("reader.latency_p50_s", stats.percentile(lat, 50), "s")
            b.layer("reader.latency_p90_s", stats.percentile(lat, 90), "s")
            b.provider_layers()
            by_batch: dict[int, list[str]] = {}
            for x in qs:
                by_batch.setdefault(epoch_of[x], []).append(x)
            with tr.span("replay"):
                b.rag_replay(data, by_batch, None)
                b.scan_layer(data)
            with tr.span("catalog"):
                b.catalog_layer()
            _no_ingest_layers(b)
            b.close()
            b.spark_layers(t_start, t_end, len(batches))
    return b.res


def _no_catalog_layers(b: Bench) -> None:
    """The catalog queries are timed on ask only."""
    import analytics
    for name in analytics.QUERIES:
        for part in ("build", "exec"):
            b.layer(f"catalog.{name}.{part}_s", 0.0, "s")


def _no_ingest_layers(b: Bench) -> None:
    """The ask workload writes nothing: its write-path layers did no work."""
    for k in ("ingest.embed_s", "ingest.upsert_s", "ranking.text_maintain_s",
              "index.stage_s", "index.flush_s"):
        b.layer(k, 0.0, "s")
    b.layer("ingest.store_files", 0, "count")
    b.layer("ingest.replays_dropped_frac", 1.0, "ratio")


# ======================================================================
# ingest: the write path, with questions read beside it
# ======================================================================

def _count_ivf(spark, path: str) -> int:
    from flink_rag_spark.operators.index import load_ivf_tail
    n = spark.read.parquet(os.path.join(path, "cells")).count()
    tail = load_ivf_tail(spark, path)
    return n + (tail.count() if tail is not None else 0)


def _text_docs(path: str) -> int:
    with open(os.path.join(path, "stats.json")) as f:
        return int(json.load(f)["n_docs"])


def run_ingest(b: Bench, p: IngestParams = IngestParams()) -> Result:
    import pyspark.sql.functions as F
    from flink_rag_spark.operators.index import build_ivf_index
    from flink_rag_spark.operators.ranking import build_text_index
    from flink_rag_spark.sources.streams import file_string_source
    from flink_rag_spark.sources.tables import load_table
    from flink_rag_spark.streaming.answer import run_answer_stream
    from flink_rag_spark.streaming.ingest import run_ingest as ingest_stream

    tr, seed, spark = b.tracer, b.seed, None
    n2 = int(round(b.seconds * p.rate))
    n_read = int(round(b.seconds * p.read_rate))

    def build(d: str):
        data = os.path.join(d, "data")
        gen.copy_corpus(data)
        texts = gen.corpus_texts(data)
        build_ivf_index(spark, load_table(spark, data, "embeddings").select(
            "vec_id", "embedding"), os.path.join(d, "ivf"),
            n_centroids=p.ivf_cells)
        build_text_index(spark, load_table(spark, data, "documents").select(
            "doc_id", "text"), os.path.join(d, "txt"))
        lines = gen.facts(seed, texts, p.backlog + n2, p.replay_share)
        reads = gen.questions(seed, texts, n_read, "rq")
        return d, lines, reads

    with tr.span("run"):
        start_s = b.start_session()
        spark = b.spark

        def ingest_once(w: str, built) -> None:
            """Both streams of the workload, over copies of the built
            indexes."""
            data_w = os.path.join(w, "data")
            ivf_w, txt_w = os.path.join(w, "ivf"), os.path.join(w, "txt")
            shutil.copytree(os.path.join(built[0], "ivf"), ivf_w)
            shutil.copytree(os.path.join(built[0], "txt"), txt_w)
            stage, src = os.path.join(w, "staging"), os.path.join(w, "in")
            harness.drop_file(stage, src, "warm.txt",
                              ["warm fact one", "warm fact two", "warm fact one"])
            ingest_stream(spark, file_string_source(spark, src),
                          os.path.join(w, "store"), os.path.join(w, "ck"),
                          provider=b.provider, ivf_index=ivf_w,
                          text_index=txt_w,
                          available_now=True).awaitTermination()
            qs = os.path.join(w, "qs")
            os.makedirs(qs)
            harness.drop_file(stage, qs, "warm.txt", ["warm fact question"])
            run_answer_stream(spark, file_string_source(spark, qs), data_w,
                              os.path.join(w, "out"), os.path.join(w, "ck_q"),
                              provider=b.provider,
                              store_path=os.path.join(w, "store"),
                              available_now=True).awaitTermination()

        setup_rep_s, (d, lines, reads) = b.set_up(build, ingest_once)
        data = os.path.join(d, "data")
        setup_s = start_s + setup_rep_s
        # live indexes start from copies so the replay can start from the
        # same state
        ivf, txt = b.path("ivf"), b.path("txt")
        shutil.copytree(os.path.join(d, "ivf"), ivf)
        shutil.copytree(os.path.join(d, "txt"), txt)

        fdir, rdir, staging = b.path("facts"), b.path("reads"), b.path("staging")
        for x in (fdir, rdir, staging):
            os.makedirs(x)
        backlog, live = lines[:p.backlog], lines[p.backlog:]
        file_lines = _write_backlog(staging, fdir, backlog)
        t_backlog = time.time()
        store, ck, rout, rck = (b.path("store"), b.path("ck"),
                                b.path("answers"), b.path("ck_read"))

        t_start = time.time()
        with tr.span("phase.drain") as ph1:
            qi = ingest_stream(spark, file_string_source(spark, fdir), store,
                               ck, provider=b.provider, ivf_index=ivf,
                               text_index=txt)
            qi.processAllAvailable()
        drain_end = max(harness.commit_times(ck).values())
        drain_per_s = p.backlog / (drain_end - t_start)

        sends = (gen.open_loop("fb", live, p.rate, TICK_S)
                 + gen.open_loop("rq", reads, p.read_rate, TICK_S))
        with tr.span("phase.open_loop") as ph2:
            # the reader starts on the live store just before the open
            # loop; its code paths were warmed in set-up
            qr = run_answer_stream(spark, file_string_source(spark, rdir),
                                   data, rout, rck, provider=b.provider,
                                   store_path=store)
            g = _phase2(b, sends, {"fb": fdir, "rq": rdir}, staging)
            qi.processAllAvailable()
            qr.processAllAvailable()
        t_end = time.time()
        batches, rbatches = (harness.progress_batches(qi),
                             harness.progress_batches(qr))
        for q in (qi, qr):
            q.stop()
            if q.exception():
                raise RuntimeError(f"stream failed: {q.exception()}")
        b.batch_spans(batches, "streaming.batch", [ph1, ph2])
        # the reader runs beside the write path, off its blocking path
        b.batch_spans(rbatches, "streaming.read_batch", [None])

        # ---- freshness: scheduled send -> commit of the batch holding it
        commits = harness.commit_times(ck)
        batch_of = harness.file_batches(ck)
        fact_sends = [s for s in sends if s.stream == "fb"]
        seen_before = {gen.line_id(x) for x in backlog}
        due = {k: g.t0 + t for k, t in gen.item_due(fact_sends).items()
               if k not in seen_before}
        first_file: dict[str, str] = {}
        for s in fact_sends:
            file_lines[s.name] = s.lines
            for x in s.lines:
                first_file.setdefault(gen.line_id(x), s.name)
        committed = {k: commits[batch_of[first_file[k]]] for k in due
                     if first_file[k] in batch_of}
        lat = stats.latencies(due, committed)

        rcommits = harness.commit_times(rck)
        rrows = spark.read.parquet(rout).select("question", "epoch_id").collect()
        repoch = {r["question"]: r["epoch_id"] for r in rrows}
        rsends = [s for s in sends if s.stream == "rq"]
        rdue = {x: g.t0 + s.due for s in rsends for x in s.lines}
        rlat = stats.latencies(rdue, {x: rcommits[repoch[x]] for x in rdue
                                      if x in repoch})

        # ---- checks: store, text index and IVF hold each distinct fact once
        with tr.span("check"):
            distinct = set(lines)
            b.res.attempted = len(lines) + len(reads)
            st = spark.read.parquet(store)
            n_rows = st.count()
            stored = {r["text"] for r in st.select("text").collect()}
            b.res.fail(len(distinct - stored), "facts missing from store")
            b.res.fail(len(stored - distinct), "unsent texts in store")
            b.res.fail(n_rows - len(stored), "duplicate store rows")
            n_ids = st.select(F.countDistinct("vec_id")).first()[0]
            b.res.fail(abs(n_ids - len(distinct)),
                       "distinct vec_id count differs")
            rows0 = gen.corpus_rows(data)
            b.res.fail(abs(_text_docs(txt)
                           - (rows0["documents"] + len(distinct))),
                       "text index doc count off")
            b.res.fail(abs(_count_ivf(spark, ivf)
                           - (rows0["embeddings"] + len(distinct))),
                       "IVF cells+tail row count off")
            seen = Counter(r["question"] for r in rrows)
            b.res.fail(sum(1 for x in reads if seen[x] == 0),
                       "questions unanswered")
            b.res.fail(sum(n - 1 for n in seen.values() if n > 1),
                       "questions answered twice")
        replays = len(lines) - len(distinct)
        dropped_frac = (len(lines) - n_rows) / replays if replays else 1.0
        b.finish(setup_s, lat, rlat, drain_per_s, t_end - t_start)

        if b.traced:
            sent = ([t_backlog] * len(backlog)
                    + [g.sent_at[s.name] for s in fact_sends
                       for _ in s.lines])
            done = [commits[batch_of[n]] for n, ls in file_lines.items()
                    if n in batch_of for _ in ls]
            b.stream_layers(batches, t_start, t_end, sent, done, g.lag_max())
            b.layer("reader.latency_p50_s", stats.percentile(rlat, 50), "s")
            b.layer("reader.latency_p90_s", stats.percentile(rlat, 90), "s")
            b.provider_layers()
            b.layer("ingest.store_files", sum(
                1 for _, _, fs in os.walk(store) for f in fs
                if f.endswith(".parquet")), "count")
            b.layer("ingest.replays_dropped_frac", dropped_frac, "ratio")
            fact_batches: dict[int, list[str]] = {}
            for n, ls in sorted(file_lines.items()):
                fact_batches.setdefault(batch_of[n], []).extend(ls)
            read_batches: dict[int, list[str]] = {}
            for x in reads:
                read_batches.setdefault(repoch[x], []).append(x)
            with tr.span("replay"):
                _ingest_replay(b, d, fact_batches)
                b.rag_replay(data, read_batches, store)
                b.scan_layer(data)
            _no_catalog_layers(b)
            b.close()
            b.spark_layers(t_start, t_end, len(batches) + len(rbatches))
    return b.res


def _ingest_replay(b: Bench, setup_dir: str,
                   batches: dict[int, list[str]]) -> None:
    """Replay each recorded fact micro-batch through the write path's
    layer functions in run_ingest's order, against fresh copies of the
    set-up indexes: embed, upsert (text-index maintenance runs inside it
    through ``on_new``), IVF staging and flush."""
    import pyspark.sql.functions as F
    from flink_rag_spark.operators.index import flush_pending, stage_pending
    from flink_rag_spark.operators.ranking import maintain_text_index
    from flink_rag_spark.streaming.ingest import embed_stream, upsert_batch

    spark, tr = b.spark, b.tracer
    ivf, txt = b.path("replay", "ivf"), b.path("replay", "txt")
    store = b.path("replay", "store")
    shutil.copytree(os.path.join(setup_dir, "ivf"), ivf)
    shutil.copytree(os.path.join(setup_dir, "txt"), txt)
    for bid, ls in sorted(batches.items()):
        src = spark.createDataFrame([(x,) for x in ls], "value string")
        with tr.span("ingest.embed", batch=bid):
            emb = embed_stream(src, b.provider).persist()
            force(emb)

        def hook(new_rows, _bid=bid):
            with tr.span("ranking.text_maintain", batch=_bid):
                maintain_text_index(spark, new_rows.select(
                    F.col("vec_id").alias("doc_id"), "text"), txt,
                    batch_id=_bid, stream_id="replay")

        with tr.span("ingest.upsert", batch=bid):
            upsert_batch(emb, store, on_new=hook)
        with tr.span("index.stage", batch=bid):
            stage_pending(spark, emb.select("vec_id", "embedding"), ivf)
        with tr.span("index.flush", batch=bid):
            flush_pending(spark, ivf)
        emb.unpersist()
    self_t = tr.self_times()
    b.layer("ingest.embed_s", tr.total("ingest.embed"), "s")
    b.layer("ingest.upsert_s", self_t.get("ingest.upsert", 0.0), "s")
    b.layer("ranking.text_maintain_s", tr.total("ranking.text_maintain"), "s")
    b.layer("index.stage_s", tr.total("index.stage"), "s")
    b.layer("index.flush_s", tr.total("index.flush"), "s")


WORKLOADS = {"ask": run_ask, "ingest": run_ingest}
