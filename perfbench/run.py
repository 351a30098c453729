"""Lakehouse benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. The run generates its
inputs from ``--seed`` (``datagen.py``), starts the engine's own session
(``session.get_spark_session`` with its defaults, master
``local[<cores>]``), warms up, measures whole passes for ``--seconds``
and checks every output against DuckDB, untimed.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (spans around
the engine's public calls plus Spark's event log). The line before it is
the full record: host state (degraded or not), the resolved session, the
per-query / per-commit / per-batch detail and the layer map. Spans, the
parsed stage table and the record are also written under
``.perfbench_work/results/``.

``--sf`` and ``--corrupt`` serve ``smoke.py``: a small scale, and one
deliberately wrong expected result that must show up as a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["olap_sql", "llm_text", "lake_dml", "stream_mv"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--corrupt", action="store_true")
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file the run writes inside the checkout, and hand the
    engine its defaults: no inherited SPARK_GRAFT_* overrides."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _intervals_s(spans) -> float:
    """Total length of the union of [start, end] intervals."""
    total, reach = 0.0, None
    for a, b in sorted(spans):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total


def layer_metrics(run, res: dict, events: dict, floor_s: float, cores: int,
                  rss: float, pass_s: float) -> dict:
    """Per-layer figures of the traced run, over its measured window."""
    from engine import median

    lo, hi = (t * 1000 for t in run.window)
    jobs = [j for j in events["jobs"].values()
            if lo <= j["submit_ms"] <= hi and j["end_ms"] is not None]
    stages = [s for s in events["stages"] if s["submit_ms"] and lo <= s["submit_ms"] <= hi]
    wall = (hi - lo) / 1000
    n = max(1, len(res["ops"]))
    job_s = _intervals_s((j["submit_ms"] / 1000, j["end_ms"] / 1000) for j in jobs)
    tot = {k: sum(s[k] for s in stages) for k in (
        "tasks", "run_ms", "cpu_ns", "gc_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
    selfs = run.tracer.self_by("layer")
    passes = res["passes"]
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    uncovered = [run.tracer.self_by("name", within=p["span"]).get("bench.pass", 0.0)
                 / (p["span"]["end"] - p["span"]["start"]) for p in traced]
    # where one traced pass spent its wall time, by layer self time
    run.record["traced_pass_self_s"] = run.tracer.self_by("layer", within=traced[0]["span"])
    run.record["traced_pass_wall_s"] = traced[0]["span"]["end"] - traced[0]["span"]["start"]
    return {
        "session.start_s": (run.engine.session_s, "s"),
        "sources.self_s": (selfs.get("sources", 0.0), "s"),
        "spark.floor_s": (floor_s, "s"),
        "spark.floor_share": (floor_s * len(jobs) / wall, "ratio"),
        "spark.outside_jobs_s": ((wall - job_s) / n, "s"),
        "spark.jobs_per_op": (len(jobs) / n, "count"),
        "spark.stages_per_op": (len(stages) / n, "count"),
        "spark.tasks_per_op": (tot["tasks"] / n, "count"),
        "spark.core_busy_share": (tot["run_ms"] / 1000 / (wall * cores), "ratio"),
        "spark.executor_run_s": (tot["run_ms"] / 1000 / n, "s"),
        "spark.executor_cpu_s": (tot["cpu_ns"] / 1e9 / n, "s"),
        "spark.gc_s": (tot["gc_ms"] / 1000 / n, "s"),
        "spark.shuffle_write_bytes": (tot["shuffle_write_bytes"] / n, "B"),
        "spark.shuffle_read_bytes": (tot["shuffle_read_bytes"] / n, "B"),
        "spark.spill_bytes": (tot["spill_bytes"] / n, "B"),
        "duckdb.pass_s": (res["duckdb_pass_s"], "s"),
        "duckdb.ratio": (pass_s / res["duckdb_pass_s"], "ratio"),
        "session.peak_rss_mb": (rss, "MB"),
        "trace.overhead_s": (median([p["wall_s"] for p in traced]) - median(untraced), "s"),
        "trace.uncovered_share": (median(uncovered), "ratio"),
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "data_iceberg_sandbox_spark"))):
        print("perfbench: run from a checkout of the engine "
              "(no __spark_entry__.py / data_iceberg_sandbox_spark next to perfbench/)",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    _isolate(work)
    sys.path.insert(0, ROOT)

    import datagen
    from engine import host_probes, iqm, median
    from workloads import TABLES, WORKLOADS, Run

    host = host_probes()
    sf_dir = os.path.join(work, "data", args.workload)
    shutil.rmtree(sf_dir, ignore_errors=True)
    if TABLES[args.workload]:
        datagen.write_tables(sf_dir, args.seed, args.sf, TABLES[args.workload])
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.sf,
              sf_dir, work, args.corrupt)
    try:
        res = WORKLOADS[args.workload](run)
        eng = run.engine
        floor = res.get("floor_s") or eng.floor_s()
        stamp = eng.stamp()
        cores = eng.sc.defaultParallelism
        rss = eng.peak_rss_mb()
    finally:
        run.engine.stop()
        run.tracer.unwrap_all()

    ops = sorted(res["ops"])
    pass_s = median([p["wall_s"] for p in res["passes"]])
    if args.trace:
        events = run.engine.read_event_log()
        metrics = layer_metrics(run, res, events, floor, cores, rss, pass_s)
    else:
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "op_iqm_s": (iqm(ops), "s"),
            "pass_s": (pass_s, "s"),
        }
    record = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "trace": args.trace, "host": host, "session": stamp,
        "op_samples": len(ops), "op_p50_s": median(ops),
        "op_p90_s": ops[int(0.9 * (len(ops) - 1))],
        "passes": len(res["passes"]),
        "pass_wall_s": [p["wall_s"] for p in res["passes"]],
        "duckdb_pass_s": res["duckdb_pass_s"],
        "duckdb_ratio": pass_s / res["duckdb_pass_s"], "peak_rss_mb": rss,
        "errors": run.errors, **run.record,
    }
    out_dir = os.path.join(work, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".record.json", "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        run.tracer.write(stem + ".spans.jsonl")
        with open(stem + ".stages.json", "w", encoding="utf-8") as fh:
            json.dump(events["stages"], fh)
    shutil.rmtree(sf_dir, ignore_errors=True)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
