#!/usr/bin/env python3
"""Self-tests for the benchmark's own tooling (no Spark session needed):

    python3 perfbench/selftest.py

Covers generator determinism, the percentile and open-loop latency math on
a synthetic schedule, span self times, the RSS tree sum, the checkpoint
batch join and the event-log parser on a tiny recorded log.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness  # noqa: E402
import stats  # noqa: E402
from trace import Tracer, parse_event_log  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_corpus_is_the_sf01_tables(self):
        self.assertEqual(gen.corpus_rows(),
                         {"documents": 5000, "embeddings": 2000})
        with tempfile.TemporaryDirectory() as d:
            gen.copy_corpus(d, n_rows=50)
            self.assertEqual(gen.corpus_rows(d),
                             {"documents": 50, "embeddings": 50})
            self.assertEqual(gen.corpus_texts(d), gen.corpus_texts()[:50])

    def test_same_seed_same_inputs(self):
        texts = gen.corpus_texts()
        self.assertEqual(gen.questions(7, texts, 50, "qa"),
                         gen.questions(7, texts, 50, "qa"))
        self.assertEqual(gen.facts(7, texts, 80, 0.2),
                         gen.facts(7, texts, 80, 0.2))

    def test_other_seed_other_inputs(self):
        texts = gen.corpus_texts()
        self.assertNotEqual(gen.questions(7, texts, 20, "qa"),
                            gen.questions(8, texts, 20, "qa"))
        self.assertNotEqual(gen.facts(7, texts, 20, 0.2),
                            gen.facts(8, texts, 20, 0.2))

    def test_ids_unique_and_replays_exact(self):
        texts = gen.corpus_texts()
        qs = gen.questions(3, texts, 200, "qa")
        self.assertEqual(len({gen.line_id(q) for q in qs}), 200)
        # a question is its id plus a window of one document's words
        self.assertTrue(all(len(q.split()) <= 9 for q in qs))
        fs = gen.facts(3, texts, 400, 0.25)
        ids = [gen.line_id(f) for f in fs]
        replays = len(fs) - len(set(fs))
        self.assertGreater(replays, 50)
        # a replay repeats a whole earlier line, never only its id
        self.assertEqual(len(set(ids)), len(set(fs)))
        self.assertTrue(all(f.split(" ", 1)[1] in set(texts) for f in fs))

    def test_open_loop_schedule(self):
        sends = gen.open_loop("qa", [f"q{i}" for i in range(25)], 10.0, 0.1)
        self.assertEqual(len(sends), 25)
        self.assertAlmostEqual(sends[7].due, 0.7)
        sends = gen.open_loop("fb", [f"f{i}" for i in range(40)], 20.0, 0.1)
        self.assertEqual([len(s.lines) for s in sends], [2] * 20)
        self.assertEqual(len({s.name for s in sends}), 20)
        due = gen.item_due(sends + [gen.Send(9.0, "fb", "r", ["f3 again"])])
        self.assertEqual(due["f3"], sends[1].due)  # replay keeps first send


class StatsTest(unittest.TestCase):
    def test_percentile(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertAlmostEqual(stats.percentile([1, 2, 3, 4], 90), 3.7)
        self.assertEqual(stats.percentile([2.5], 99), 2.5)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_open_loop_latency_on_synthetic_schedule(self):
        # items due every 0.5 s; batches commit at 1.2 s and 2.4 s
        due = {"a": 0.0, "b": 0.5, "c": 1.0, "d": 1.5, "lost": 2.0}
        committed = {"a": 1.2, "b": 1.2, "c": 1.2, "d": 2.4}
        lat = stats.latencies(due, committed)
        self.assertEqual([round(x, 6) for x in lat], [1.2, 0.7, 0.2, 0.9])
        self.assertAlmostEqual(stats.percentile(lat, 50), 0.8)
        self.assertEqual(stats.backlog_max([0.0, 0.5, 1.0, 1.5],
                                           [1.2, 1.2, 1.2, 2.4]), 3)

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([10] * 5), 0.0)
        self.assertGreater(stats.quartile_spread([8, 9, 10, 11, 12]), 0.2)


class TraceTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        tr = Tracer("w", True)
        root = tr.add("run", 0.0, 10.0, None)
        tr.add("a", 1.0, 3.0, root)
        tr.add("a", 2.0, 4.0, root)      # overlaps its sibling
        tr.add("b", 6.0, 7.0, root)
        tr.add("side", 0.0, 5.0, None)   # a root: not under "run"
        under_run = tr.self_times(("run",))
        self.assertAlmostEqual(under_run["run"], 6.0)
        self.assertNotIn("side", under_run)
        self.assertAlmostEqual(tr.self_times()["side"], 5.0)

    def test_self_times_under_several_roots_add_up_to_their_wall(self):
        tr = Tracer("w", True)
        d = tr.add("phase.drain", 0.0, 4.0, None)
        o = tr.add("phase.open_loop", 4.0, 10.0, None)
        tr.add("batch", 0.5, 3.5, d)
        tr.add("batch", 5.0, 6.0, o)
        tr.add("batch", 8.0, 9.5, o)
        tr.add("replay", 10.0, 12.0, None)
        selfs = tr.self_times(("phase.drain", "phase.open_loop"))
        self.assertAlmostEqual(selfs["batch"], 5.5)
        self.assertAlmostEqual(sum(selfs.values()), 10.0)
        self.assertNotIn("replay", selfs)

    def test_disabled_tracer_records_nothing(self):
        tr = Tracer("w", False)
        with tr.span("x") as sid:
            self.assertIsNone(sid)
        self.assertEqual(tr.spans, [])

    def test_parser_on_recorded_log(self):
        log = os.path.join(HERE, "testdata", "tiny_eventlog.json")
        ev = parse_event_log(log)
        self.assertEqual((ev["jobs"], ev["streaming_jobs"], ev["stages"],
                          ev["tasks"]), (2, 1, 3, 6))
        self.assertEqual(ev["shuffle_write_bytes"], 184)
        self.assertAlmostEqual(ev["task_cpu_s"], 0.109390439)
        self.assertAlmostEqual(ev["task_run_s"], 0.551)
        self.assertAlmostEqual(ev["gc_s"], 0.009)
        # the time window keeps only the streaming job and its tasks
        ev = parse_event_log(log, 1792176376145, 1792176380000)
        self.assertEqual((ev["jobs"], ev["streaming_jobs"], ev["stages"],
                          ev["tasks"]), (1, 1, 2, 5))

    def test_parser_on_rolling_log_directory(self):
        with open(os.path.join(HERE, "testdata", "tiny_eventlog.json")) as f:
            lines = f.readlines()
        half = len(lines) // 2
        with tempfile.TemporaryDirectory() as d:
            # events_10 sorts before events_2 as text, after it as a number
            for name, part in (("events_2_app", lines[:half]),
                               ("events_10_app", lines[half:])):
                with open(os.path.join(d, name), "w") as f:
                    f.writelines(part)
            with open(os.path.join(d, "appstatus_app"), "w"):
                pass
            self.assertEqual(parse_event_log(d), parse_event_log(
                os.path.join(HERE, "testdata", "tiny_eventlog.json")))


class RssTest(unittest.TestCase):
    def test_spawn_helpers_are_not_counted_twice(self):
        exe = {1: "python3.11", 2: "java", 3: "java", 4: "jspawnhelper",
               5: "python3.11", 6: "python3.11", 7: "chmod"}.get
        parent = {2: 1, 3: 2, 4: 2, 5: 2, 6: 5, 7: 4}
        self.assertEqual([p for p in parent
                          if not harness._spawning(p, parent[p], exe)],
                         [2, 5, 6, 7])


class CheckpointTest(unittest.TestCase):
    def test_file_batches_join_source_and_offset_logs(self):
        with tempfile.TemporaryDirectory() as ck:
            src = os.path.join(ck, "sources", "0")
            off = os.path.join(ck, "offsets")
            os.makedirs(src)
            os.makedirs(off)
            entries = {0: ["a.txt", "b.txt"], 1: ["c.txt"], 2: ["d.txt"]}
            for sb, names in entries.items():
                with open(os.path.join(src, str(sb)), "w") as f:
                    f.write("v1\n" + "\n".join(json.dumps(
                        {"path": f"file:///x/{n}", "timestamp": 0,
                         "batchId": sb}) for n in names))
            # query batch 0 read source batch 0; batch 1 read source 1..2
            for qb, lo in ((0, 0), (1, 2)):
                with open(os.path.join(off, str(qb)), "w") as f:
                    f.write('v1\n{"batchWatermarkMs":0}\n'
                            + json.dumps({"logOffset": lo}))
            self.assertEqual(harness.file_batches(ck),
                             {"a.txt": 0, "b.txt": 0, "c.txt": 1, "d.txt": 1})


if __name__ == "__main__":
    unittest.main()
