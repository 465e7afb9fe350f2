"""Fast checks of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _frames(make, seed):
    out = make(seed)
    return out if isinstance(out, tuple) else (out,)


@pytest.mark.parametrize("make", [
    lambda s: gen.er_rows(300, s, replica_frac=0.5, n_families=2, family_size=30),
    lambda s: gen.el_inputs(300, 100, s),
    lambda s: gen.curate_docs(300, s, n_bench=20, n_ref=50),
], ids=["er_rows", "el_inputs", "curate_docs"])
def test_generators_are_seeded(make):
    a, b, c = _frames(make, 7), _frames(make, 7), _frames(make, 8)
    for x, y in zip(a, b):
        assert x.astype(str).equals(y.astype(str))
    assert any(not x.astype(str).equals(z.astype(str)) for x, z in zip(a, c))


def test_er_rows_plants_replicas_and_families():
    rows = gen.er_rows(600, 3, replica_frac=0.5, n_families=2, family_size=40)
    assert len(rows) == 600 + 300 + 80 and rows["row_id"].is_unique
    replicas = rows[rows["row_id"].str.startswith("x")]
    originals = rows.drop(replicas.index).drop_duplicates("content").set_index("content")
    assert (replicas["truth"].to_numpy()
            == originals.loc[replicas["content"], "truth"].to_numpy()).all()
    fam = rows[rows["row_id"].str.startswith("f")]
    assert fam.groupby(fam["path"].str.rsplit("/", n=1).str[1]).size().tolist() == [40, 40]


def test_curate_docs_plants_flaggable_rows():
    docs, bench, _ = gen.curate_docs(400, 5, n_bench=20, n_ref=50)
    first = docs.drop_duplicates("text")["doc_id"]
    dups = docs[docs["planted"] == "dup"]
    assert not dups["doc_id"].isin(first).any()       # the copy is never the min id
    for text in docs.loc[docs["planted"] == "overlap", "text"]:
        assert any(b in text for b in bench["text"])


def test_pair_f1():
    truth = pd.Series({"a": 1, "b": 1, "c": 1, "d": 2})
    assert workloads.pair_f1(truth, truth) == 1.0
    pred = truth.copy()
    pred["c"] = 3                       # finds 1 of the 3 true pairs
    assert workloads.pair_f1(truth, pred) == pytest.approx(2 * 1 / (3 + 1))


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_parse_event_log_known_numbers(tmp_path):
    g = {"spark.jobGroup.id": "layer.a"}
    acc = [{"Name": "data sent to Python workers", "Update": "100"},
           {"Name": "data returned from Python workers", "Update": "50"},
           {"Name": "number of output rows", "Update": "9"}]

    def task(stage, cpu_ns, shuffle, ok=True):
        return _event("SparkListenerTaskEnd", **{
            "Stage ID": stage, "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {"Executor CPU Time": cpu_ns,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}})

    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
                                           "Stage IDs": [0, 1], "Properties": g}),
        _event("SparkListenerStageSubmitted", **{
            "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}, "Properties": g}),
        task(0, 2_000_000_000, 300), task(0, 1_000_000_000, 200, ok=False),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 3500}),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 4000,
                                           "Stage IDs": [2], "Properties": {}}),
        _event("SparkListenerStageSubmitted", **{
            "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0}, "Properties": {}}),
        task(2, 5, 0),
        _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 4100}),
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(lines) + "\n")
    got = tracing.parse_event_log(str(path))
    a = got["layer.a"]
    assert a["jobs"] == {0: (1.0, 3.5)}
    assert (a["tasks"], a["failed_tasks"]) == (2, 1)
    assert a["cpu_s"] == pytest.approx(3.0)
    assert (a["shuffle_bytes"], a["python_bytes"]) == (500, 300)
    assert got[""]["tasks"] == 1 and got[""]["jobs"] == {1: (4.0, 4.1)}


def test_covered_unions_and_clips():
    assert tracing.covered([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(4)
    assert tracing.covered([(1, 3), (2, 4), (6, 7)], 2.5, 6.5) == pytest.approx(2)
    assert tracing.covered([], 0, 1) == 0


def test_parse_event_log_matches_status_tracker(tmp_path):
    """A tiny real job: the parser's jobs and tasks agree with the status
    tracker, and the Arrow UDF's Python bytes and the shuffle show up."""
    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{tmp_path}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    try:
        @F.pandas_udf("long")
        def plus(s: pd.Series) -> pd.Series:
            return s + 1

        sc.setJobGroup("tiny", "tiny")
        spark.range(0, 1000, 1, 4).select(plus("id").alias("x")) \
            .groupBy((F.col("x") % 7).alias("k")).count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        jobs = sorted(st.getJobIdsForGroup("tiny"))
        ran = sum(st.getStageInfo(s).numCompletedTasks
                  for j in jobs for s in set(st.getJobInfo(j).stageIds))
    finally:
        spark.stop()
    (log,) = [p for p in tmp_path.iterdir()]
    got = tracing.parse_event_log(str(log))["tiny"]
    assert sorted(got["jobs"]) == jobs
    assert got["tasks"] == ran >= 4
    assert got["python_bytes"] > 0 and got["shuffle_bytes"] > 0 and got["cpu_s"] > 0


def _spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_benchmark_metric_is_emitted():
    spec = _spec()
    e2e = run.end_to_end([2.0, 1.0, 3.0], 5.0, 100.0, 10, [{"pairwise_f1": 1.0}])
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        {k: v["unit"] for k, v in e2e.items()}

    class NoTrace:
        spans, counts, rows_out = [], {}, {}

    layered = run.per_layer(NoTrace(), {}, {}, 1.0)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        {k: v["unit"] for k, v in layered.items()}
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
