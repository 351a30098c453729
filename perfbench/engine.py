"""Session, actions and observation shared by every workload.

Everything here reads the engine from outside: the session comes from
``session.get_spark_session`` with its defaults, job counts from the
status tracker, per-stage work from Spark's own event log, memory from
``/proc``. The only Spark conf the benchmark adds is the event log, and
only in the traced run.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

from spans import Tracer


def median(xs):
    return statistics.median(xs) if xs else 0.0


def iqm(xs):
    """Interquartile mean: the mean of the middle half of ``xs``."""
    xs = sorted(xs)
    k = len(xs) // 4
    return statistics.fmean(xs[k:len(xs) - k]) if xs else 0.0


def host_probes() -> dict:
    """Parallel efficiency (N concurrent busy-spins: spin time / wall) and
    memory bandwidth (one write + one read pass over 256 MB), probed the
    way the repo's bench.py does it. A box below 0.7 efficiency or
    1.5 GB/s is labelled degraded rather than silently pooled."""
    n = min(os.cpu_count() or 4, 16)
    spin = 0.25
    code = f"import time\nt0=time.perf_counter()\nwhile time.perf_counter()-t0<{spin}: pass\n"
    t0 = time.perf_counter()
    procs = [
        subprocess.Popen([sys.executable, "-c", code],
                         stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        for _ in range(n)
    ]
    for p in procs:
        p.wait(timeout=30)
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    subprocess.run([sys.executable, "-c", "pass"], check=False, timeout=30)
    busy = wall - (time.perf_counter() - t1)
    par = min(spin / busy, 1.0) if busy > 0 else 0.0

    import numpy as np

    words = 32 * 1024 * 1024
    t0 = time.perf_counter()
    arr = np.ones(words)
    arr.sum()
    bw = words * 8 * 2 / (time.perf_counter() - t0) / 1e9
    del arr
    return {
        "parallel_efficiency": round(par, 3),
        "membw_gbps": round(bw, 2),
        "degraded": par < 0.7 or bw < 1.5,
    }


class Engine:
    def __init__(self, work_dir: str, tracer: Tracer, event_log: bool):
        self.work_dir = work_dir
        self.tracer = tracer
        self.event_log_dir = os.path.join(work_dir, "eventlog") if event_log else None
        self.spark = None
        self.session_s = 0.0
        self._jvm_proc = None
        self._gid = 0

    # ---- lifecycle -------------------------------------------------------
    def start(self):
        from pyspark import SparkContext

        from data_iceberg_sandbox_spark import session

        extra = None
        if self.event_log_dir:
            shutil.rmtree(self.event_log_dir, ignore_errors=True)
            os.makedirs(self.event_log_dir)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
            }
        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark_session", "session"):
            self.spark = session.get_spark_session(
                app_name="perfbench", master=f"local[{cpus}]", extra_conf=extra
            )
        self.session_s = time.perf_counter() - t0
        self._jvm_proc = getattr(SparkContext._gateway, "proc", None)
        self.sc = self.spark.sparkContext
        self.tracker = self.sc.statusTracker()
        return self.spark

    def stop(self) -> None:
        """Stop the session, shut the py4j gateway and wait for the JVM."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._jvm_proc is not None:
            try:
                self._jvm_proc.stdin.close()
            except OSError:
                pass
            try:
                self._jvm_proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._jvm_proc.kill()
                self._jvm_proc.wait()
        self.spark = None

    def stamp(self) -> dict:
        conf = self.spark.conf
        return {
            "master": self.sc.master,
            "defaultParallelism": self.sc.defaultParallelism,
            "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
            "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
        }

    # ---- actions ---------------------------------------------------------
    def new_group(self, desc: str) -> str:
        """Tag the following Spark jobs with a fresh job group."""
        self._gid += 1
        gid = f"perfbench-{self._gid}"
        self.sc.setJobGroup(gid, desc)
        return gid

    def jobs(self, gid: str) -> int:
        return len(self.tracker.getJobIdsForGroup(gid))

    def noop(self, df) -> None:
        """Execute the full plan and materialize every row, no transfer."""
        with self.tracer.span("spark.noop", "spark"):
            df.write.format("noop").mode("overwrite").save()

    def floor_s(self, n: int = 11) -> float:
        """Per-action floor: median wall of a 1-row noop action."""
        self.new_group("floor probe")
        samples = []
        for _ in range(n):
            t0 = time.perf_counter()
            self.spark.range(1).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        return median(samples)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this Python process."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        if self._jvm_proc is not None:
            with open(f"/proc/{self._jvm_proc.pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    # ---- event log -------------------------------------------------------
    def read_event_log(self) -> dict:
        """Per-job and per-stage work from the finished event log:
        {"jobs": {id: {...}}, "stages": [{...}]}; call after ``stop``.
        Spark writes the log as a directory of rolled ``events_<n>_*``
        files; they are read in order."""
        if not self.event_log_dir:
            return {"jobs": {}, "stages": []}
        (app,) = os.listdir(self.event_log_dir)
        app_dir = os.path.join(self.event_log_dir, app)
        parts = sorted(
            (f for f in os.listdir(app_dir) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        return parse_event_log([os.path.join(app_dir, f) for f in parts])


def _events(paths):
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            yield from fh


def parse_event_log(paths: list[str]) -> dict:
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    for line in _events(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit_ms": ev["Submission Time"],
                "end_ms": None,
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit_ms": info.get("Submission Time"),
                "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            }
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            m = ev.get("Task Metrics")
            if st is None or not m:
                continue
            rd = m.get("Shuffle Read Metrics", {})
            st["tasks"] += 1
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            st["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return {
        "jobs": jobs,
        "stages": [{"stage": k[0], "attempt": k[1], **v} for k, v in sorted(stages.items())],
    }
