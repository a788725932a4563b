"""Tests of the benchmark's own code.

Run: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import check  # noqa: E402
import duckdb  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from metrics import (Attribution, in_pass, scheduler_metrics,  # noqa: E402
                     self_times, tail_percentile)

SMALL = {
    "dump_tfidf": {"docs": 40, "mean_tokens": 30},
    "curate_corpus": {"docs": 60, "mean_tokens": 100},
}


def shingles(text, n=3):
    """The engine's `Dedup.shingles`: distinct space-joined word n-grams."""
    t = text.split(" ")
    return {" ".join(t[i:i + n]) for i in range(max(len(t) - (n - 1), 1))}


def jaccard(a, b):
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload, size in SMALL.items():
            with tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.generate(workload, 7, a, size)
                gen.generate(workload, 7, b, size)
                gen.generate(workload, 8, c, size)
                self.assertTrue(same_tree(a, b), workload)
                self.assertFalse(same_tree(a, c), workload)

    def test_near_dup_stays_above_threshold(self):
        rng = gen.rng_for(0, 0)
        words = gen.vocabulary(rng, 2000)
        zipf = gen.zipf_sampler(rng, len(words))
        for _ in range(50):
            text = gen._text(rng, words, zipf, gen.NEAR_DUP_MIN_TOKENS,
                             "en", 0.2)
            dup = gen.near_dup(rng, text, words, zipf)
            self.assertGreaterEqual(
                jaccard(shingles(text), shingles(dup)), 0.85)


class OracleTest(unittest.TestCase):
    def test_twin_compare_flags_a_mismatch(self):
        with tempfile.TemporaryDirectory() as t:
            sf, out = os.path.join(t, "sf"), os.path.join(t, "check")
            for d in (sf, os.path.join(out, "good"), os.path.join(out, "bad")):
                os.makedirs(d)
            con = duckdb.connect()
            con.execute("COPY (SELECT * FROM (VALUES (1, 'a b'), (2, 'c')) "
                        f"v(doc_id, text)) TO '{sf}/documents.parquet'")
            for name, expr in (("good", "doc_id"), ("bad", "doc_id + 1")):
                con.execute(f"COPY (SELECT {expr} AS doc_id FROM "
                            f"'{sf}/documents.parquet') TO "
                            f"'{out}/{name}/part-0.parquet'")
            twin = "SELECT doc_id FROM documents"
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"good": twin, "bad": twin}, f)
            ok, notes = check.oracle(ROOT, sf, out)
            self.assertEqual(ok, {"good": True, "bad": False}, notes)


class PercentileTest(unittest.TestCase):
    def test_median_of_twenty_has_ten_beyond(self):
        values = list(range(20, 0, -1))
        pct, v = tail_percentile(values)
        self.assertEqual(pct, 50.0)
        self.assertEqual(sum(x > v for x in values), 10)

    def test_more_samples_reach_a_higher_percentile(self):
        self.assertEqual(tail_percentile(list(range(100))), (90.0, 89))

    def test_too_few_samples(self):
        self.assertIsNone(tail_percentile(list(range(10))))


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "name": name, "pass": 0}


class SelfTimeTest(unittest.TestCase):
    def test_parent_minus_children(self):
        s = self_times([span("a", "", 0, 10), span("b", "a", 2, 5),
                        span("c", "b", 3, 4)])
        self.assertEqual(s, {"a": 7, "b": 2, "c": 1})

    def test_overlapping_children_count_once(self):
        s = self_times([span("a", "", 0, 10), span("b", "a", 1, 6),
                        span("c", "a", 4, 8), span("d", "a", 7, 7.5)])
        self.assertEqual(s["a"], 3)

    def test_child_outside_parent_is_clipped(self):
        s = self_times([span("a", "", 0, 10), span("b", "a", 8, 12)])
        self.assertEqual(s["a"], 8)


def task(stage, run_ms, shuffle=0, peak=0):
    return {"ev": "task", "stage": stage, "run_ms": run_ms,
            "cpu_ns": run_ms * 500_000, "gc_ms": 1,
            "shuffle_write_bytes": shuffle, "spill_bytes": 0,
            "peak_mem_bytes": peak}


class AttributionTest(unittest.TestCase):
    EVENTS = [
        {"ev": "job_start", "job": 0, "t": 100, "group": "p0/1",
         "stages": [0, 1]},
        {"ev": "job_end", "job": 0, "t": 200},
        # job 1 lists stage 1 again (a reused shuffle): its tasks stay
        # with job 0's group
        {"ev": "job_start", "job": 1, "t": 250, "group": "p0/2",
         "stages": [1, 2]},
        {"ev": "job_end", "job": 1, "t": 300},
        {"ev": "job_start", "job": 2, "t": 310, "group": "p1",
         "stages": [3]},
        {"ev": "job_end", "job": 2, "t": 400},
        task(0, 10, shuffle=5, peak=7), task(1, 20), task(2, 40, peak=3),
        task(3, 80, shuffle=11),
    ]

    def test_tasks_follow_their_stage_s_first_job(self):
        att = Attribution(self.EVENTS)
        a = att.totals("p0/1")
        self.assertEqual((a["jobs"], a["tasks"], a["shuffle_write_bytes"],
                          a["peak_mem_bytes"]), (1, 2, 5, 7))
        self.assertAlmostEqual(a["run_s"], 0.03)
        self.assertAlmostEqual(a["cpu_s"], 0.015)
        b = att.totals("p0/2")
        self.assertEqual((b["jobs"], b["tasks"]), (1, 1))

    def test_pass_predicate_gathers_its_spans(self):
        att = Attribution(self.EVENTS)
        t = att.totals(in_pass(0))
        self.assertEqual((t["jobs"], t["tasks"]), (2, 3))
        m = scheduler_metrics(
            att, {"pass": 0, "start": 100, "end": 400}, cores=1)
        self.assertEqual(m["spark.tasks"], 3)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.15)
        self.assertAlmostEqual(m["spark.core_busy_frac"], 0.07 / 0.3)

    def test_identical_shuffle_writes_count_as_recomputed(self):
        stage = {"ev": "stage", "tasks": 4, "shuffle_write_bytes": 9,
                 "shuffle_write_records": 3, "input_records": 5,
                 "output_records": 0, "attempt": 0}
        events = self.EVENTS + [dict(stage, stage=0), dict(stage, stage=1),
                                dict(stage, stage=3)]
        att = Attribution(events)
        self.assertEqual(att.recomputed_stages(in_pass(0)), 1)


class BuildSettingsTest(unittest.TestCase):
    def test_jvm_options_come_from_build_sbt(self):
        version, _, jvm = build.sbt_settings()
        self.assertTrue(version.startswith("2.13."))
        self.assertIn("--add-opens=java.base/sun.nio.ch=ALL-UNNAMED", jvm)
        self.assertIn("-Dspark.sql.session.timeZone=UTC", jvm)
        self.assertFalse([o for o in jvm if o.startswith("-Xmx")])


class BenchmarkJsonTest(unittest.TestCase):
    def test_matches_the_code(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({w["name"] for w in bench["workloads"]},
                         set(gen.SIZES))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual(
            {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]},
            {k: v[:2] for k, v in run.LAYER_METRICS.items()})


if __name__ == "__main__":
    unittest.main()
