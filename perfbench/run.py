"""Benchmark entry point.

    python3 perfbench/run.py --workload er_large --seed 1 --seconds 10 --trace 0

Runs one workload as a closed loop (one client, one pass at a time) on
local[<usable cores>] in this single driver process:

  1. generate the seeded inputs, or reuse the parquet cached for that
     seed under .perfbench_cache/ (generation time is excluded from every
     metric);
  2. set up: Spark session (with the workload's JVM class archive once
     a first run has written it), read the cached inputs and the planted
     truth, one untimed warm-up pass on those inputs (el_curate runs its
     two halves concurrently there);
  3. time passes until the next one would overrun --seconds (at least
     one), checking each pass's output against the planted truth;
  4. with --trace 1, run the same work once more as one traced call per
     layer (Spark event log on, for this run only) and report per-layer
     metrics instead of end-to-end ones.

The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time
import traceback


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports count as set-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
QUALITY = ("pairwise_f1", "link_accuracy", "dense_recall_at_10", "curate_flag_recall")
E2E_UNITS = {"wall_s": "s", "records_per_s": "1/s", "setup_s": "s",
             "driver_peak_rss_mb": "MB", **{q: "ratio" for q in QUALITY}}


def start_spark(event_log: str | None, archive: str):
    """Session with the library's own settings; every file Spark, the JVM
    and the Python workers write goes under the cache directory.

    `archive` names the JVM's class-data-sharing archive for this workload
    (`<cache>/<archive>.jsa`): the first run in a checkout writes it when
    its JVM exits, later runs map the archived classes instead of loading
    and verifying them from the jars again (measured on a 4-vCPU VM:
    session start ~10 s -> ~5 s, first action ~6 s -> ~3 s). Returns
    (spark, path the JVM dumps its archive to on exit, or None)."""
    from entitylinking_spark.session import get_spark

    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher too): temp files in the cache, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # an empty conf directory: the JVM cannot archive classes with a
    # non-empty directory on its class path, and Spark's own conf directory
    # holds only *.template files, which Spark ignores
    conf_dir = os.path.join(CACHE, "conf")
    os.makedirs(conf_dir, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = conf_dir
    jsa = os.path.join(CACHE, f"{archive}.jsa")
    dump = None
    if os.path.exists(jsa):
        cds = f"-XX:SharedArchiveFile={jsa}"
    else:
        dump = jsa + ".tmp"
        cds = f"-XX:ArchiveClassesAtExit={dump}"
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # a fixed-size, pre-touched driver heap: a heap that grows into fresh
    # pages kept the first passes of a run up to 30 % slower than later ones
    conf = {"spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -XX:+AlwaysPreTouch {cds} -Xlog:cds=off -Xlog:cds+dynamic=off",
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse")}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=len(os.sched_getaffinity(0)),
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dump


def stop_spark(spark, dump: str | None = None) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM. A
    class archive the JVM wrote on a clean exit is moved into place."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    clean = False
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            clean = proc.wait(timeout=120) == 0
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    if dump and os.path.exists(dump):
        if clean:
            os.replace(dump, dump[:-len(".tmp")])
        else:
            os.remove(dump)


def end_to_end(walls, setup_s, rss_mb, records, quality) -> dict:
    """The end-to-end metrics. Quality metrics of a capability the
    workload does not run are reported as 1.0 (no output, no error)."""
    wall = statistics.median(walls)
    values = {"wall_s": wall, "records_per_s": records / wall, "setup_s": setup_s,
              "driver_peak_rss_mb": rss_mb}
    for q in QUALITY:
        got = [p[q] for p in quality if q in p]
        values[q] = statistics.median(got) if got else 1.0
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def per_layer(tracer, groups, job_counts, untraced_wall) -> dict:
    import tracing as tr

    values = tr.layer_metrics(tracer, groups, job_counts)
    values.update({k: tracer.counts.get(k, 0) for k in tr.COUNTS})
    values["spark.failed_tasks"] = sum(g["failed_tasks"] for g in groups.values())
    values["trace.overhead_s"] = (
        sum(values[f"{l}.wall_s"] for l in tr.LAYERS) - untraced_wall)
    return {k: {"value": values[k], "unit": tr.per_layer_unit(k)}
            for k in tr.per_layer_names()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    import pandas as pd

    import gen
    import tracing as tr
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    t_gen = time.time()
    paths = gen.materialize(CACHE, f"{wl.name}-{args.seed}",
                            lambda: wl.build(args.seed))
    gen_s = time.time() - t_gen

    event_dir = None
    if args.trace:
        event_dir = os.path.join(CACHE, "eventlog", f"{wl.name}-{args.seed}-{os.getpid()}")
    spark, dump = start_spark(event_dir, wl.name)
    try:
        truth = {k: pd.read_parquet(p) for k, p in paths.items()}
        print("inputs:", json.dumps(wl.props(truth)), flush=True)
        (wl.warm or wl.run)(spark, paths)
        setup_s = _process_age_s() - gen_s

        walls, quality, result = [], [], None
        attempted = failed = 0
        t_loop = time.time()
        while True:
            attempted += 1
            t0 = time.time()
            try:
                result = wl.run(spark, paths)
                dt = time.time() - t0
                ok, q = wl.check(result, truth)
            except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
                traceback.print_exc()
                dt, ok = time.time() - t0, False
            if ok:
                walls.append(dt)
                quality.append(q)
            else:
                failed += 1
            typical = statistics.median(walls) if walls else dt
            if time.time() - t_loop + typical > args.seconds:
                break
        if not walls:
            walls = [dt]
        print("setup_s:", round(setup_s, 2), "pass_s:", json.dumps([round(w, 3) for w in walls]),
              flush=True)

        if args.trace:
            tracer = tr.Tracer(spark.sparkContext)
            staged = None
            try:
                staged = wl.traced(tracer, spark, paths, truth)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
            same = staged is not None and result is not None and wl.same(staged, result)
            if not same:
                print("traced decomposition differs from the pass output", file=sys.stderr)
                failed += 1
            attempted += 1
            job_counts = {l: len(tracer.job_ids(l)) for l in tr.LAYERS}
        rss_mb = _peak_rss_mb()
    finally:
        stop_spark(spark, dump)

    if args.trace:
        (log,) = glob.glob(os.path.join(event_dir, "*"))
        groups = tr.parse_event_log(log)
        metrics = per_layer(tracer, groups, job_counts, statistics.median(walls))
        tracer.dump(os.path.join(event_dir, "trace.json"), groups)
        os.remove(log)  # tens of MB; trace.json keeps the per-group totals
    else:
        metrics = end_to_end(walls, setup_s, rss_mb, wl.records(truth), quality)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
