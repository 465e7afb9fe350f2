"""Per-layer tracing for the benchmark's traced run.

Each layer call made by the benchmark runs inside `Tracer.span(layer)`,
which tags every Spark job it starts with the layer's job group and keeps
a span (name, start, end) in memory. After the session stops, the Spark
event log (uncompressed, non-rolling, enabled only in the traced run) is
parsed offline and joined to the spans by job group:

  wall_s      span duration (summed over the layer's calls)
  driver_s    wall time not covered by any of the layer's Spark jobs:
              planning, collects, driver-side loops and launch gaps
  jobs        job ids the status tracker lists for the group
  tasks       tasks run by the group's stages (skipped stages run none)
  cpu_s       executor CPU time of those tasks
  shuffle_mb  shuffle bytes written
  python_mb   bytes sent to plus bytes returned from Python workers
  rows_out    rows of the layer's output (counted outside the span)
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "blocking.census", "blocking.keys", "blocking.blocks", "pairs.candidates",
    "scoring.score", "cc.components", "linking.channels", "linking.rank",
    "ivf.fit", "ivf.topk", "dedup.semdedup", "lm.fit", "curation.curate",
)
LAYER_FIELDS = ("wall_s", "driver_s", "jobs", "tasks", "cpu_s", "shuffle_mb",
                "python_mb", "rows_out")
LAYER_UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
               "cpu_s": "s", "shuffle_mb": "MB", "python_mb": "MB",
               "rows_out": "count"}
COUNTS = {  # name -> unit; filled by the workload's staged decomposition
    "blocking.suppressed_shingles": "count",
    "pairs.hot_blocks": "count",
    "pairs.max_block": "count",
    "scoring.prescreen_survivor_frac": "ratio",
    "scoring.jw_frac": "ratio",
    "scoring.match_frac": "ratio",
    "linking.candidates_per_mention": "count",
    "linking.candidate_recall": "ratio",
    "dedup.kept_frac": "ratio",
    "curation.keep_frac": "ratio",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """Spans and counts of one traced run, kept in memory."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.rows_out: dict[str, int] = defaultdict(int)

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append({"name": name, "start": start, "end": time.time()})
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def untimed(self):
        """Jobs the trace itself adds (output counts, ratios): their own
        group, so no layer is charged for them."""
        self.sc.setJobGroup("stats", "stats")
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def dump(self, path: str, groups: dict) -> None:
        """Write the spans, counts and parsed job-group totals as JSON."""
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts,
                       "rows_out": dict(self.rows_out), "groups": groups},
                      f, indent=1)


def parse_event_log(path: str) -> dict[str, dict]:
    """Spark event log -> per job group totals.

    Returns group -> {jobs: {job_id: (submit_s, complete_s)}, tasks,
    failed_tasks, cpu_s, shuffle_bytes, python_bytes}. Stages are mapped
    to groups through the properties of their StageSubmitted event, jobs
    through JobStart; events without a group land under ''.
    """
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": {}, "tasks": 0, "failed_tasks": 0, "cpu_s": 0.0,
        "shuffle_bytes": 0, "python_bytes": 0})
    stage_group: dict[tuple[int, int], str] = {}
    job_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[e["Job ID"]] = g
                groups[g]["jobs"][e["Job ID"]] = (e["Submission Time"] / 1000.0, None)
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(e["Job ID"], "")
                start, _ = groups[g]["jobs"].get(e["Job ID"], (None, None))
                groups[g]["jobs"][e["Job ID"]] = (start, e["Completion Time"] / 1000.0)
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]), "")
                acc = groups[g]
                acc["tasks"] += 1
                if e["Task End Reason"]["Reason"] != "Success":
                    acc["failed_tasks"] += 1
                m = e.get("Task Metrics") or {}
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                for a in e["Task Info"].get("Accumulables", []):
                    if a.get("Name") in PYTHON_BYTES:
                        acc["python_bytes"] += int(a.get("Update") or 0)
    return dict(groups)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_metrics(tracer: Tracer, groups: dict[str, dict],
                  job_counts: dict[str, int]) -> dict[str, float]:
    """Per-layer metrics for every layer (zeros for layers not run)."""
    out = {}
    for layer in LAYERS:
        g = groups.get(layer, {"jobs": {}, "tasks": 0, "cpu_s": 0.0,
                               "shuffle_bytes": 0, "python_bytes": 0})
        spans = [s for s in tracer.spans if s["name"] == layer]
        jobs = [(a, b) for a, b in g["jobs"].values() if a is not None and b is not None]
        wall = sum(s["end"] - s["start"] for s in spans)
        busy = sum(covered(jobs, s["start"], s["end"]) for s in spans)
        out.update({
            f"{layer}.wall_s": wall,
            f"{layer}.driver_s": wall - busy,
            f"{layer}.jobs": job_counts.get(layer, 0),
            f"{layer}.tasks": g["tasks"],
            f"{layer}.cpu_s": g["cpu_s"],
            f"{layer}.shuffle_mb": g["shuffle_bytes"] / 1e6,
            f"{layer}.python_mb": g["python_bytes"] / 1e6,
            f"{layer}.rows_out": tracer.rows_out.get(layer, 0),
        })
    return out


def per_layer_names() -> list[str]:
    return [f"{l}.{f}" for l in LAYERS for f in LAYER_FIELDS] + list(COUNTS)


def per_layer_unit(name: str) -> str:
    if name in COUNTS:
        return COUNTS[name]
    return LAYER_UNITS[name.rsplit(".", 1)[1]]
