"""Arithmetic over one run's raw event log.

The JVM side writes what happened (passes, spans, listener events); this
module turns it into metrics: job-group attribution, span self time,
driver gaps and percentiles.
"""
import math

MB = 1e6


def tail_percentile(values, min_beyond=10):
    """The highest nearest-rank percentile that still has `min_beyond`
    samples above it, as (percentile, value); None when there are too
    few samples. Twenty samples give the median, with ten beyond it."""
    n = len(values)
    k = n - min_beyond  # 1-based rank of the reported sample
    if k < 1:
        return None
    return 100.0 * k / n, sorted(values)[k - 1]


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals`, each clipped to [lo, hi]."""
    total, end = 0.0, -math.inf
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    its direct children cover (children may overlap one another)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]
                        - union_length(kids, s["start"], s["end"]))
    return out


class Attribution:
    """Jobs, stages and tasks of a run, keyed by the job group they ran
    under. A stage belongs to the first job that lists it: a later job
    lists a stage it reuses, but its tasks ran once, under the first."""

    def __init__(self, events):
        self.jobs = {}  # job id -> {"group", "start", "end"}
        stage_job = {}
        for e in events:
            if e["ev"] == "job_start":
                self.jobs[e["job"]] = {"group": e["group"], "start": e["t"],
                                       "end": e["t"]}
                for s in e["stages"]:
                    stage_job.setdefault(s, e["job"])
        for e in events:
            if e["ev"] == "job_end" and e["job"] in self.jobs:
                self.jobs[e["job"]]["end"] = e["t"]
        self.stage_group = {s: self.jobs[j]["group"]
                            for s, j in stage_job.items()}
        self.tasks = [e for e in events if e["ev"] == "task"]
        self.stages = [e for e in events if e["ev"] == "stage"]

    def _match(self, group, pred):
        return pred(group) if callable(pred) else group == pred

    def totals(self, pred):
        """Sums over the tasks of every group matching `pred` (a group
        name or a predicate on it)."""
        t = {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "peak_mem_bytes": 0}
        t["jobs"] = sum(1 for j in self.jobs.values()
                        if self._match(j["group"], pred))
        for x in self.tasks:
            if not self._match(self.stage_group.get(x["stage"], ""), pred):
                continue
            t["tasks"] += 1
            t["run_s"] += x["run_ms"] / 1000.0
            t["cpu_s"] += x["cpu_ns"] / 1e9
            t["gc_s"] += x["gc_ms"] / 1000.0
            t["shuffle_write_bytes"] += x["shuffle_write_bytes"]
            t["spill_bytes"] += x["spill_bytes"]
            t["peak_mem_bytes"] = max(t["peak_mem_bytes"], x["peak_mem_bytes"])
        return t

    def job_intervals(self, pred):
        return [(j["start"], j["end"]) for j in self.jobs.values()
                if self._match(j["group"], pred)]

    def recomputed_stages(self, pred):
        """Stages that wrote a shuffle identical (tasks, bytes, records,
        input and output records) to one an earlier stage of the same
        groups wrote: one subtree evaluated twice."""
        seen, dup = set(), 0
        for s in sorted(self.stages, key=lambda s: s["stage"]):
            if (s["shuffle_write_records"] == 0 or not self._match(
                    self.stage_group.get(s["stage"], ""), pred)):
                continue
            sig = (s["tasks"], s["shuffle_write_bytes"],
                   s["shuffle_write_records"], s["input_records"],
                   s["output_records"])
            dup += sig in seen
            seen.add(sig)
        return dup


def in_pass(i):
    """Predicate: the job group belongs to pass i (`p<i>` or a span of
    it, `p<i>/<span id>`)."""
    return lambda g: g == f"p{i}" or g.startswith(f"p{i}/")


def scheduler_metrics(att, p, cores):
    """The Spark scheduler's per-layer metrics for one pass `p`."""
    pred = in_pass(p["pass"])
    t = att.totals(pred)
    wall_ms = p["end"] - p["start"]
    covered = union_length(att.job_intervals(pred), p["start"], p["end"])
    return {
        "spark.tasks": t["tasks"],
        "spark.peak_task_mem_mb": t["peak_mem_bytes"] / MB,
        "spark.driver_gap_s": (wall_ms - covered) / 1000.0,
        "spark.core_busy_frac": t["run_s"] / (wall_ms / 1000.0 * cores),
        "spark.gc_s": t["gc_s"],
        "spark.recomputed_stages": att.recomputed_stages(pred),
    }
