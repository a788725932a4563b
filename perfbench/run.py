#!/usr/bin/env python3
"""Benchmark of the graft engine: two seeded workloads, timed from
outside through the engine's public functions, outputs checked.

Usage (from the repo root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (`gen.SIZES` holds their input sizes; each input is split
into four files, one per core):
- dump_tfidf: the paper's Task 3 (parse -> TF -> IDF -> TF-IDF ->
  ", "-CSV) and Task 1 (dictionary) over a generated wikiextractor dump.
  All its work is in WikiText/TfIdfOps/CompatIo; it never touches Dedup.
- curate_corpus: Curate.curate (TextStats signals,
  Dedup.assignCanonical's MinHash/LSH/verify/union-find, Sampling's hash
  sample) over a generated en/de/es/fr corpus of mixed quality with
  planted clones and near-dups. No parse, TF-IDF or CSV.

A run builds the engine if needed (`build.py`), generates the inputs from
the seed, runs the JVM harness (`src/Main.scala`: set-up three times,
each a session start and an untimed pass, then passes over the input
until --seconds have gone), checks every output (`check.py`) and
prints, as its last line, one JSON object: `correct`, `attempted`,
`failed` (outputs checked and wrong) and `metrics`: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it is an annotation: the load probes taken before and after the
passes, the advisory wall-clock `docs_per_s`, and per pass its wall
time, task CPU time and JIT compile time.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
from metrics import (MB, Attribution, in_pass,  # noqa: E402
                     scheduler_metrics, self_times, tail_percentile)

CORES = 4
JVM_TIMEOUT_S = 150

# Gated end-to-end metrics: set-up time, and the costs of a pass that
# external load moves least (ROADMAP aim 1): the CPU time its tasks
# spend, its job count and its shuffle bytes. Wall-clock `docs_per_s` is
# reported in the annotation line, advisory: on a shared 4-core machine
# external load moves it between runs. Peak task memory is a per-layer
# metric: on curate_corpus it is 49 or 67 MB from run to run, as racing
# subtrees change the jobs a pass runs (30 or 31).
END_TO_END = {  # name -> unit
    "setup_s": "s", "task_cpu_s_per_pass": "s", "jobs_per_pass": "count",
    "shuffle_mb": "MB"}

# Per-layer metric -> (unit, better, the end-to-end metric and workload
# it should move). Every traced run prints them all, so a layer a
# workload does not run reads 0 there; so do TfIdfOps.tf.spill_mb (the
# inputs fit in execution memory) and spark.recomputed_stages (no
# subtree runs twice at this commit), which show a change only if one
# makes them non-zero.
RATE_DUMP = "task_cpu_s_per_pass on dump_tfidf (and docs_per_s, advisory)"
RATE_CURATE = ("task_cpu_s_per_pass on curate_corpus "
               "(and docs_per_s, advisory)")
LAYER_METRICS = {
    "WikiText.parse.self_s": ("s", "lower", RATE_DUMP),
    "WikiText.tokens.self_s": ("s", "lower", RATE_DUMP),
    "WikiText.tokens.keep_ratio": ("fraction", "higher", RATE_DUMP),
    "TfIdfOps.tf.self_s": ("s", "lower", RATE_DUMP),
    "TfIdfOps.tf.shuffle_mb": ("MB", "lower", "shuffle_mb on dump_tfidf"),
    "TfIdfOps.tf.spill_mb": ("MB", "lower",
                             "spark.peak_task_mem_mb on dump_tfidf"),
    "TfIdfOps.idf.self_s": ("s", "lower", RATE_DUMP),
    "TfIdfOps.tfIdf.self_s": ("s", "lower", RATE_DUMP),
    "TfIdfOps.dictionary.self_s": ("s", "lower", RATE_DUMP),
    "TfIdfOps.dictionary.shuffle_mb": ("MB", "lower",
                                       "shuffle_mb on dump_tfidf"),
    "CompatIo.writeRefCsv.self_s": ("s", "lower", RATE_DUMP),
    "CompatIo.writeRefCsv.bytes_written": ("bytes", "lower", RATE_DUMP),
    "CompatIo.writeRefCsv.files_written": ("count", "lower", RATE_DUMP),
    "TextStats.signals.self_s": ("s", "lower", RATE_CURATE),
    "Dedup.assignCanonical.self_s": ("s", "lower", RATE_CURATE),
    "Dedup.assignCanonical.shuffle_mb": ("MB", "lower",
                                         "shuffle_mb on curate_corpus"),
    "Dedup.assignCanonical.survivor_ratio": ("fraction", "higher",
                                             "none: a property of the input"),
    "Sampling.hashSample.self_s": ("s", "lower",
                                   "none: a control on curate_corpus, near 0"),
    "spark.tasks": ("count", "lower", "jobs_per_pass on both workloads"),
    "spark.peak_task_mem_mb": ("MB", "lower",
                               "none gated: max task peakExecutionMemory"),
    "spark.driver_gap_s": ("s", "lower",
                           "docs_per_s (advisory) on curate_corpus"),
    "spark.core_busy_frac": ("fraction", "higher",
                             "docs_per_s (advisory) on both workloads"),
    "spark.gc_s": ("s", "lower", "docs_per_s (advisory) on both workloads"),
    "spark.recomputed_stages": ("count", "lower",
                                "jobs_per_pass and shuffle_mb on both"),
    "trace_overhead_s": ("s", "lower", "none: the cost of tracing"),
    "trace.coverage": ("fraction", "higher",
                       "none: share of the traced pass the spans explain"),
}


def wall_s(p):
    return (p["end"] - p["start"]) / 1000.0


def docs_per_s(res, truth):
    return median([truth["docs"] / wall_s(p) for p in res["passes"]
                   if not p["traced"]])


def end_to_end(res, att):
    passes = res["passes"]
    # every job of an untraced pass runs under its pass group
    per_pass = [att.totals(f"p{p['pass']}") for p in passes]
    return {
        "setup_s": median(res["setup_s"]),
        "task_cpu_s_per_pass": median([t["cpu_s"] for t in per_pass]),
        "jobs_per_pass": median([t["jobs"] for t in per_pass]),
        "shuffle_mb": median([t["shuffle_write_bytes"] / MB
                              for t in per_pass]),
    }


def traced_layers(p, spans, att):
    """Per-layer numbers of one traced pass."""
    own = [s for s in spans if s["pass"] == p["pass"]]
    selfs = self_times(own)
    m = {}
    for s in own:
        key = f"{s['name']}.self_s"
        m[key] = m.get(key, 0.0) + selfs[s["id"]] / 1000.0
        t = att.totals(f"p{p['pass']}/{s['id']}")
        for name, field in (("shuffle_mb", "shuffle_write_bytes"),
                            ("spill_mb", "spill_bytes")):
            key = f"{s['name']}.{name}"
            m[key] = m.get(key, 0.0) + t[field] / MB
    m["trace.coverage"] = sum(selfs.values()) / 1000.0 / wall_s(p)
    for k, v in p["counts"].items():
        m[k] = v
    return m


def per_layer(res, att, spans):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    samples = [traced_layers(p, spans, att) for p in traced]
    samples += [scheduler_metrics(att, p, res["cores"]) for p in plain]
    out = {}
    for name in LAYER_METRICS:
        values = [s[name] for s in samples if name in s]
        out[name] = median(values) if values else res["ratios"].get(name, 0.0)
    out["trace_overhead_s"] = (median([wall_s(p) for p in traced]) -
                               median([wall_s(p) for p in plain]))
    return out


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def run_jvm(classpath, args, cwd):
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"] +
           build.jvm_options() +
           [f"-Dspark.local.dir={tmp}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(cwd, 'warehouse')}",
            "-cp", classpath, "perfbench.Main"] + args)
    with open(os.path.join(cwd, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("perfbench: the JVM harness timed out")
    if code != 0:
        with open(os.path.join(cwd, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: the JVM harness exited with {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.ensure_built()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    inp, out = os.path.join(work, "in"), os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out)
    try:
        gen.generate(a.workload, a.seed, inp)
        run_jvm(classpath, ["--workload", a.workload, "--input", inp,
                            "--out", out, "--seconds", str(a.seconds),
                            "--trace", str(a.trace), "--cores", str(CORES)],
                out)
        with open(os.path.join(out, "results.json")) as f:
            res = json.load(f)
        with open(os.path.join(inp, "truth.json")) as f:
            truth = json.load(f)
        attempted, failed, notes = check.check(a.workload, build.ROOT, inp,
                                               out, res)
        if failed:
            sys.stderr.write(notes)
        att = Attribution(read_jsonl(os.path.join(out, "events.jsonl")))
        if a.trace:
            values = per_layer(res, att,
                               read_jsonl(os.path.join(out, "spans.jsonl")))
            units = {k: v[0] for k, v in LAYER_METRICS.items()}
        else:
            values = end_to_end(res, att)
            units = END_TO_END
        # tasks of the timed passes (job groups p<i> and p<i>/<span>)
        task_s = [t["run_ms"] / 1000.0 for t in att.tasks
                  if att.stage_group.get(t["stage"], "").startswith("p")]
        print(json.dumps({"annotation": {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "load_probe_before_s": res["probe_before_s"],
            "load_probe_after_s": res["probe_after_s"],
            "setup_samples_s": res["setup_s"],
            "docs_per_s": docs_per_s(res, truth),
            "pass_s": [wall_s(p) for p in res["passes"]],
            "pass_task_cpu_s": [att.totals(in_pass(p["pass"]))["cpu_s"]
                                for p in res["passes"]],
            "pass_jit_s": [p["jit_ms"] / 1000.0 for p in res["passes"]],
            "task_run_s_tail": tail_percentile(task_s),
            "task_samples": len(task_s),
            "error_rate": failed / attempted}}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]}
                        for k in units}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
