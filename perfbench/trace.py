"""Tracing for the per-layer run: spans recorded around calls into the
engine, Spark job labels, and a reader for the Spark event log.

Spans live in memory and are written once, when the run ends. Each span
names the layer call it wraps, and while it is open the Spark job
description is set to its name, so every Spark job, stage and task in the
event log can be charged to the innermost span that caused it.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metric names of PySpark's Python-evaluating plan nodes (PythonSQLMetrics
# in Spark 4.1); the timing metrics are accumulated in milliseconds
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class Tracer:
    """In-memory span recorder. `span()` nests: the enclosing open span is
    the parent of the new one. A disabled tracer records nothing and leaves
    job descriptions alone, so untraced runs pay no tracing cost."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["name"] if self._stack else None
            sc.setJobDescription(parent)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


class EventLogRecorder:
    """Writes a Spark event log for the jobs run inside the `with` block,
    by attaching Spark's own event-log listener to the running context, so
    the traced part of a run shares the session (and its warm JVM and
    Python workers) with the untraced part that precedes it."""

    def __init__(self, spark, log_dir: str):
        self.sc = spark.sparkContext
        self.log_dir = log_dir

    def __enter__(self) -> EventLogRecorder:
        jvm, jsc = self.sc._jvm, self.sc._jsc.sc()
        conf = jsc.conf().clone()
        conf.set("spark.eventLog.rolling.enabled", "false")
        conf.set("spark.eventLog.compress", "false")
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            jsc.applicationId(),
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + self.log_dir),
            conf,
            jsc.hadoopConfiguration(),
        )
        self.listener.start()
        jsc.addSparkListener(self.listener)
        return self

    def __exit__(self, *exc) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self.listener)
        self.listener.stop()


def noop(df) -> float:
    """Materialise a DataFrame through the no-op sink (every row computed,
    nothing written); returns the wall time."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class EventLog:
    """Task, stage and SQL-metric totals from one Spark event log, grouped
    by the job description (span name) in force when each job started."""

    def __init__(self, log_dir: str):
        files = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        self.stage_label: dict[int, str | None] = {}
        self.stage_wall: dict[int, float] = {}
        self.tasks: list[dict] = []
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev["Stage IDs"]:
                        self.stage_label.setdefault(sid, label)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if info.get("Submission Time") and info.get("Completion Time"):
                        self.stage_wall[info["Stage ID"]] = (
                            info["Completion Time"] - info["Submission Time"]
                        ) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(self._task(ev))

    @staticmethod
    def _task(ev: dict) -> dict:
        info = ev["Task Info"]
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        acc = defaultdict(float)
        for a in info.get("Accumulables", []):
            if a.get("Name") in (PY_RUN, PY_BOOT, PY_SENT, PY_RECV):
                acc[a["Name"]] += float(a.get("Update") or 0)
        return {
            "stage": ev["Stage ID"],
            "failed": bool(info.get("Failed")) or ev["Task End Reason"]["Reason"] != "Success",
            "duration_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
            "run_s": m.get("Executor Run Time", 0) / 1e3,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
            "shuffle_read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
            "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "python_s": acc[PY_RUN] / 1e3,
            "python_boot_s": acc[PY_BOOT] / 1e3,
            "python_io_b": acc[PY_SENT] + acc[PY_RECV],
        }

    def totals(self, *labels: str) -> dict:
        """Summed task metrics over the tasks of jobs started under any of
        `labels`."""
        ts = [t for t in self.tasks if self.stage_label.get(t["stage"]) in labels]
        keys = ("run_s", "cpu_s", "gc_s", "fetch_wait_s", "python_s", "python_boot_s")
        out = {k: sum(t[k] for t in ts) for k in keys}
        for k in ("shuffle_read_b", "shuffle_write_b", "spill_b", "python_io_b"):
            out[k.replace("_b", "_mb")] = sum(t[k] for t in ts) / (1 << 20)
        out["tasks"] = len(ts)
        out["failed_tasks"] = sum(t["failed"] for t in ts)
        return out

    def task_skew(self, *labels: str) -> float:
        """Slowest task over median task duration, in the stage with the
        longest wall time among the stages of jobs started under `labels`."""
        walls = {s: w for s, w in self.stage_wall.items() if self.stage_label.get(s) in labels}
        if not walls:
            return 0.0
        sid = max(walls, key=walls.get)
        durs = [t["duration_s"] for t in self.tasks if t["stage"] == sid]
        med = statistics.median(durs) if durs else 0.0
        return max(durs) / med if med > 0 else 1.0

    def spark_metrics(self, labels: list[str]) -> dict:
        """The spark.* metrics over the jobs started under `labels`: the
        workload's traced repetition, not the other measurements that share
        the event log."""
        t = self.totals(*labels)
        return {
            "spark.tasks": t["tasks"],
            "spark.failed_tasks": t["failed_tasks"],
            "spark.executor_run_s": t["run_s"],
            "spark.executor_cpu_s": t["cpu_s"],
            "spark.fetch_wait_s": t["fetch_wait_s"],
            "spark.python_boot_s": t["python_boot_s"],
            "spark.shuffle_write_mb": t["shuffle_write_mb"],
            "spark.shuffle_read_mb": t["shuffle_read_mb"],
            "spark.spill_mb": t["spill_mb"],
            "spark.gc_s": t["gc_s"],
            "spark.task_skew": self.task_skew(*labels),
        }
