#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload flagship|pipeline|queries \
        --seed N --seconds S --trace 0|1

Run from the repository root. One process starts one Spark session at
local[nproc], builds the workload's inputs from the seed, runs untimed
warm-up repetitions and then repeats the workload's batch job (a closed
loop, one client) until S seconds have passed. Every repetition's output is
checked. With --trace 1 the run then continues with tracing on: a Spark
event log, labelled jobs and spans around each layer call (see README.md).

Prints one human-readable report line, then, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. The metrics are
the end_to_end metrics of BENCHMARK.json (--trace 0) or its per_layer
metrics (--trace 1).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PR_SET_CHILD_SUBREAPER = 36


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def fit_box(work: str) -> None:
    """Session environment for this host: all cores, a driver heap that
    fits physical memory, and every scratch directory inside `work`."""
    from perfbench.host import host_snapshot

    snap = host_snapshot()
    os.environ["SPARK_GRAFT_CPUS"] = str(snap["nproc"])
    # the session factory's default heap (48g) can exceed physical memory
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(2048, snap['mem_total_mb'] // 4)}m")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts: temp files under `work`, and no
    # hsperfdata file, which HotSpot would otherwise write under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    ).strip()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    for d in ("spark-local", "tmp", "eventlog", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


def shutdown_jvm() -> None:
    """Stop the active session and the driver JVM it runs in."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def outputs_differ(ref: dict, res: dict) -> list[str]:
    return [k for k in ref if res.get(k) != ref[k]]


def measure(args, work: str) -> dict:
    from gtfs_conflation_pipeline_spark.session import get_spark
    from perfbench.host import RssSampler, host_snapshot, steal_pct
    from perfbench.trace import EventLog, EventLogRecorder, Tracer
    from perfbench.workloads import WORKLOADS

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    r = {"workload": args.workload, "seed": args.seed, "host_start": host_snapshot()}
    attempted = failed = 0
    failures: list[str] = []
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=session_conf(work))
        spark.range(1).collect()
        r["session_start_s"] = time.perf_counter() - t0
        tracer = Tracer(spark, run_id, enabled=False)
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, tracer)
        t1 = time.perf_counter()
        wl.setup()
        r["inputs_s"] = time.perf_counter() - t1
        t1 = time.perf_counter()
        # warm-up: JIT, Python workers, per-process caches
        warm = [wl.warmup(i) for i in range(wl.warmup_reps)]
        ref = warm[-1]
        attempted += len(ref)
        for i, res in enumerate(warm[:-1]):
            bad = [k for k in res if res[k] != ref.get(k)]
            attempted += len(res)
            failed += len(bad)
            failures += [f"warm-up {i + 1}: {k} differs from the last" for k in bad]
        r["warmup_s"] = time.perf_counter() - t1
        r["setup_s"] = time.perf_counter() - t0

        times, resumes = [], []
        t_start = time.perf_counter()
        while True:
            t = time.perf_counter()
            try:
                res = wl.rep()
            except Exception:  # noqa: BLE001 - a failed repetition is counted, not fatal
                traceback.print_exc()
                res = {}
            times.append(time.perf_counter() - t)
            bad = outputs_differ(ref, res)
            attempted += len(ref)
            failed += len(bad)
            failures += [f"rep {len(times)}: {k} differs from the warm-up" for k in bad]
            resumes.append(getattr(wl, "resume_s", 0.0))
            if time.perf_counter() - t_start >= args.seconds:
                break
        t1 = time.perf_counter()
        n_checks, bad = wl.checks(ref)
        r["checks_s"] = time.perf_counter() - t1
        attempted += n_checks
        failed += len(bad)
        failures += bad
    r.update({
        "reps": len(times),
        "rep_s": times,
        "job_s": statistics.median(times),
        "peak_rss_mb": rss.peak_mb,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "failures": failures,
    })
    r["setup_layers"] = wl.layer
    if hasattr(wl, "query_s"):
        r["last_rep_query_s"] = wl.query_s
    if wl.n_images:
        r["images_per_s"] = wl.n_images / r["job_s"]
    if args.workload == "pipeline":
        r["resume_s"] = statistics.median(resumes)

    if args.trace:
        log_dir = os.path.join(work, "eventlog")
        with EventLogRecorder(spark, log_dir):
            wl.tracer = Tracer(spark, run_id, enabled=True)
            layer = {**wl.layer, **wl.traced()}
        for i, res in enumerate(wl.traced_outputs):
            bad = outputs_differ(ref, res)
            r["attempted"] += len(ref)
            r["failed"] += len(bad)
            r["failures"] += [f"traced rep {i + 1}: {k} differs from the warm-up" for k in bad]
        r["error_rate"] = r["failed"] / r["attempted"]
        layer.update(wl.from_log(EventLog(log_dir)))
        layer["session.start_s"] = r["session_start_s"]
        layer["trace.overhead_s"] = layer["trace.job_s"] - r["job_s"]
        r["layers"] = layer
        os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
        wl.tracer.write(os.path.join(HERE, "_work", f"spans-{run_id}.jsonl"))
    r["host_end"] = host_snapshot()
    r["steal_pct"] = steal_pct(r["host_start"], r["host_end"])
    return r


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["flagship", "pipeline", "queries"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seed < 0:
        fail("--seed must be >= 0")
    if not os.path.isfile(os.path.join(ROOT, "gtfs_conflation_pipeline_spark", "__init__.py")):
        fail(f"engine package not found under {ROOT}; run from a repository checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)

    # orphaned grandchildren (Spark's Python worker daemon) re-parent to this
    # process, so every process the run starts can be waited for
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    work = os.path.join(HERE, "_work", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    fit_box(work)

    from perfbench.host import reap_children

    try:
        r = measure(args, work)
    finally:
        try:
            shutdown_jvm()
        finally:
            reap_children()
            shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"report": r}))
    if args.trace:
        wanted = spec["per_layer"]
        values = {m["name"]: r["layers"].get(m["name"], 0.0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = {m["name"]: r[m["name"]] for m in wanted}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }), flush=True)


if __name__ == "__main__":
    main()
