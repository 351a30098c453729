"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

The session is the one the engine ships: ``get_spark_session()`` with
its defaults (AQE on, shuffle partitions = cores, Spark's FIFO
scheduler), and the base tables are pinned by ``pin_balanced`` — the
session and pin perfbench/ and the tools time as well.
bench.py sets no Spark conf of its own (protocol 4; the payload stamps
the resolved AQE flag and shuffle width).

Each query is timed end-to-end (plan + execute + materialize every
result row into the ``noop`` sink — the standard Spark benchmark action;
``count()`` would add a 2-stage aggregation exchange of its own, ~65 ms
of pure harness overhead per query on this box). A warmup pass on
sf0.001 first touches the JVM/codegen paths so per-query numbers
reflect steady state.

Medians protocol (r14): each query runs SPARK_GRAFT_BENCH_RUNS times
(default 5, min 3; a malformed value falls back to 5) and the headline
``value`` is the sum of per-query MEDIANS; the full run arrays (Spark
and DuckDB) plus a suite-level [sum-of-min, sum-of-max] spread band
ship in the payload so a round-over-round ratio claim is only
meaningful when it exceeds the recorded spread. BENCH_r01-r13's
``value`` was sum-of-best-of-3; the best-of view is kept under
``value_best_of_runs`` for continuity. Each timed run also prints
``[run i] <query>: <sec>`` to stderr.

The timing protocol lives in module-level functions that ``main()``
composes and tools/ab_interleaved.py imports: ``time_run`` (the
registry's between-run reset ``reset_caches``, then one cache-cold
build + execute), ``time_duckdb`` (the same-SQL DuckDB timing) and
``env_count`` (fail-closed run counts).

Subset, scale and repeat count: ``SPARK_GRAFT_BENCH_QUERIES=a,b``,
``SPARK_GRAFT_SF_DIR=<dir>``, ``SPARK_GRAFT_BENCH_RUNS=<n>``. Only a full
HEADLINE run writes ``BENCH_LOCAL_last.json``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_iceberg_sandbox_spark.session import _cpus, codegen_compiles, get_spark_session
from data_iceberg_sandbox_spark.sources.registry import TABLES, pin_balanced, reset_caches

HEADLINE = [
    "flagship_fraud_enriched",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q7_volume_shipping",
    "a4_tumble_agg",
    "w_rank_topk",
    "sessionize_events",
    "asof_latest_order",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality_score",
    "corpus_token_stats",
]


def _host_probes() -> tuple[float | None, float | None]:
    """Cheap host-state probes (~0.6 s total; see payload comment).

    parallel_efficiency = spin_time / wall for N concurrent busy-spins
    (N = min(advertised cores, 16)); ~1.0 on a quiet box, ~0.5 in the
    degraded-core window r14 documented. membw_gbps = one write + one
    reduce pass over a 256 MB numpy buffer — catches the
    large-allocation page-fault pathology this sandbox exhibited in the
    r14 continuation (0.3 GB/s on multi-GB temporaries vs ~2 GB/s
    healthy)."""
    par = bw = None
    try:
        # plain subprocess spinners, NOT multiprocessing: forking a
        # driver that hosts a JVM (py4j threads, sockets) is the
        # classic rare-hang, and a hung probe would stall the whole
        # bench — no payload field is worth that. Fresh `python -c`
        # children import nothing heavy; the measured window is the
        # spin duration reported by each child, so startup skew only
        # shows up in the wall term (which is the point).
        import subprocess

        n_workers = min(_cpus(), 16)
        spin = 0.25
        code = (
            "import time; t0=time.perf_counter()\n"
            f"while time.perf_counter()-t0 < {spin}: pass\n"
        )
        t0 = time.perf_counter()
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", code],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            )
            for _ in range(n_workers)
        ]
        for p in procs:
            p.wait(timeout=30)
        wall = time.perf_counter() - t0
        # subtract one measured interpreter startup so the ratio
        # reflects contention, not exec overhead
        t1 = time.perf_counter()
        subprocess.run(
            [sys.executable, "-c", "pass"],
            check=False,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            timeout=30,
        )
        startup = time.perf_counter() - t1
        busy = wall - startup
        if busy > 0:
            par = round(min(spin / busy, 1.0), 3)
    except Exception:  # noqa: BLE001 — probes must never fail the bench
        pass
    try:
        import numpy as np

        n = 32 * 1024 * 1024  # 256 MB of float64
        t0 = time.perf_counter()
        arr = np.ones(n)
        arr.sum()
        dt = time.perf_counter() - t0
        if dt > 0:
            bw = round((n * 8 * 2 / dt) / 1e9, 2)  # write + read pass
        del arr
    except Exception:  # noqa: BLE001
        pass
    return par, bw


def scale_factor(sf_dir: str) -> float:
    """The SF named by ``sf_dir`` (``.../sf0.1`` -> 0.1; 0.0 if none).
    Anchored float pattern (r13 review: [0-9.]+ admitted 'sf.cache' /
    'sf1.0.bak' whose group crashed float() before any timing)."""
    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)", sf_dir)
    return float(m.group(1)) if m else 0.0


def env_count(name: str, default: int) -> int:
    """``$name`` as a positive count. Fails closed like
    ``session._cpus()``: unset, empty, malformed or non-positive values
    give ``default``."""
    try:
        n = int(os.environ.get(name, ""))
    except ValueError:
        n = 0
    return n if n >= 1 else default


def materialize(df) -> None:
    """The timing action: the noop sink executes the full plan and
    materializes every result row without a driver transfer or the
    extra count-agg stage ``count()`` would add."""
    df.write.format("noop").mode("overwrite").save()


def time_run(spark, build, sf_dir: str, group: str) -> tuple[float, int, int]:
    """One timed run: ``reset_caches`` (untimed), then ``build(spark,
    sf_dir)`` + noop write under Spark job group ``group``. Returns
    (seconds, jobs this run scheduled in ``group``, codegen compiles it
    paid). The group and its description are cleared afterwards, so
    later untimed jobs are not labelled with this run."""
    reset_caches(spark, sf_dir)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        jobs_before = len(tracker.getJobIdsForGroup(group))
        compiles_before = codegen_compiles(spark)
        t0 = time.perf_counter()
        materialize(build(spark, sf_dir))
        dt = time.perf_counter() - t0
        jobs = len(tracker.getJobIdsForGroup(group)) - jobs_before
        return dt, jobs, codegen_compiles(spark) - compiles_before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def time_duckdb(
    sf_dir: str, sqls: dict[str, str], n_runs: int
) -> dict[str, list[float]]:
    """DuckDB on the same SQL over the same parquet: one warm execution
    (page cache/JIT), then ``n_runs`` timed ones per query. A query whose
    SQL errors is left out, so one broken oracle cannot kill the ratio."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    runs: dict[str, list[float]] = {}
    for n, sql in sqls.items():
        try:
            con.execute(sql).fetchall()
            samples = []
            for _ in range(n_runs):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                samples.append(time.perf_counter() - t0)
            runs[n] = samples
        except Exception:  # noqa: BLE001
            pass
    return runs


def stream_throughput(spark, sf_dir: str) -> tuple[float | None, str | None]:
    """Streaming throughput sanity (reference-derived target: >=10k
    events/s through the tumble+sum+having MV pipeline, BASELINE.md):
    ``(events/s, None)``, or ``(None, "<type>: <message>")`` when the
    drain raises, so a broken stream reports why it has no number.

    The backlog is staged once, untimed (a broker already holds its
    topic), and both timed drains replay it into one table root, so
    each drain's staging call is a memo hit. The memo is off for a
    pinned ``events``, so ``main()`` measures this before it pins."""
    try:
        from data_iceberg_sandbox_spark.sources.registry import load_table
        from data_iceberg_sandbox_spark.streaming import fraud_stream

        n_events = load_table(spark, sf_dir, "events").count()
        root = os.path.join(fraud_stream.SCRATCH, "bench_mv")
        fraud_stream.stage_event_files(spark, sf_dir, os.path.basename(root), 8)
        # best-of-2 like the batch timings: a single stream run on a
        # shared box swings ±30% (micro-batch scheduling vs GC pauses)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fraud_stream.run_fraud_alerts_stream(spark, sf_dir, root, 100.0, 8, 2)
            best = min(best, time.perf_counter() - t0)
        return round(n_events / best, 1), None
    except Exception as e:
        return None, f"{type(e).__name__}: {e}"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = scale_factor(sf_dir)
    n_runs = max(3, env_count("SPARK_GRAFT_BENCH_RUNS", 5))

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    headline = HEADLINE
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset:  # comma-separated override for quick/partial runs
        headline = [n.strip() for n in subset.split(",") if n.strip()]
        unknown = [n for n in headline if n not in queries]
        if unknown:
            # fail LOUD (r13 review): a typo'd override used to bench
            # nothing and exit 0 with a vacuously green record
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_QUERIES names not in the registry: "
                f"{unknown}"
            )
    names = [n for n in headline if n in queries]
    if "--self-test-broken" in sys.argv:
        # prove fault isolation end-to-end: a query that always raises
        # must show up under "errors" while the rest still get timed
        def _broken(spark, sf_dir):
            raise RuntimeError("bench self-test: deliberately broken query")

        queries["__broken__"] = _broken
        names.append("__broken__")
    # only a full headline run is the record (a subset or self-test run
    # must not replace it)
    is_record = names == HEADLINE

    spark = get_spark_session(app_name="bench")
    # warmup: run each headline once at the smallest SF to JIT/codegen
    for n in names:
        try:
            queries[n](spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass
    # streaming first: a pinned events table turns the staging memo off
    stream_eps, stream_error = stream_throughput(spark, sf_dir)
    # Buffer pool: the base tables pinned in memory, balanced and keyed
    # (registry.pin_balanced) — the resident-engine shape perfbench and
    # the tools time as well.
    pin_balanced(spark, sf_dir)

    # Fixed-floor probe: Spark charges a per-action scheduling/driver
    # round-trip cost even for a 1-row noop write. Median of 10 is the
    # box's floor; multiplied by each query's job count below it bounds
    # how much of the sequential total is irreducible harness latency
    # rather than plan work (VERDICT r3/r4 ask).
    floor_samples = []
    for _ in range(10):
        t0 = time.perf_counter()
        materialize(spark.range(1))
        floor_samples.append(time.perf_counter() - t0)
    floor_sec = round(sorted(floor_samples)[len(floor_samples) // 2], 4)

    # Medians protocol (VERDICT r13 #3): N runs per query (default 5),
    # report the MEDIAN and keep the full run array in the payload so
    # round-over-round ratio claims can be checked against the recorded
    # spread instead of single-shot noise. The min ("best") is still
    # recorded for continuity with BENCH_r01-r13, whose `value` was
    # sum-of-best-of-3. Per-query try/except: one broken query must
    # never abort the suite (BENCH_r04 lost ALL signal to a single
    # erroring query).
    times: dict[str, float] = {}
    times_best: dict[str, float] = {}
    runs_per_query: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    jobs_per_query: dict[str, int] = {}
    compiles_per_query: dict[str, list[int]] = {}

    for n in names:
        group = f"bench:{n}"
        try:
            # warm pass AT THE TARGET SF (r14): the sf0.001 warmup above
            # compiles the small-SF plan, but the first sf0.1 execution
            # still pays C2-JIT/codegen on the real-volume loops (run 0
            # of every query was 2-20x slower than runs 1-4 without it)
            time_run(spark, queries[n], sf_dir, group)
            samples: list[float] = []
            compiles: list[int] = []
            for run in range(n_runs):
                # every timed run is cache-cold: build + execute
                dt, jobs, n_compiles = time_run(spark, queries[n], sf_dir, group)
                print(f"  [run {run}] {n}: {dt:.3f}", file=sys.stderr)
                samples.append(dt)
                compiles.append(n_compiles)
            runs_per_query[n] = [round(x, 4) for x in samples]
            compiles_per_query[n] = compiles
            times[n] = round(statistics.median(samples), 4)
            times_best[n] = round(min(samples), 4)
            # steady-state job count = the LAST timed run's (run 1 can
            # schedule extra one-time jobs); floor_decomposition_sec is
            # a load-bearing number in the 2x-gate argument
            jobs_per_query[n] = jobs
        except Exception as e:  # noqa: BLE001 — isolate, report, continue
            errors[n] = f"{type(e).__name__}: {e}"[:300]
    sequential_total = round(sum(times.values()), 4)
    sequential_best = round(sum(times_best.values()), 4)
    # Conservative suite-level spread bound: sum of per-query minima /
    # maxima. Any two captures of the same code should land inside it.
    suite_min = round(sum(min(r) for r in runs_per_query.values()), 4)
    suite_max = round(sum(max(r) for r in runs_per_query.values()), 4)
    total_jobs = sum(jobs_per_query.values())
    floor_total = round(floor_sec * total_jobs, 4)
    names = [n for n in names if n not in errors]

    # Throughput view: the suite issued concurrently (one SparkSession,
    # its default FIFO scheduler) — the realistic multi-tenant shape;
    # wall-clock amortizes Spark's fixed per-query scheduling latency
    # across the fleet of cores.
    # Best-of-2: a single concurrent wall on a shared box swings ±50%.
    # Concurrent-phase failures go to their OWN dict: a query that timed
    # fine sequentially but failed under concurrency would otherwise sit
    # in both `queries` and `errors`, leaving the JSON ambiguous about
    # whether its sequential number is trustworthy (it is).
    concurrent_errors: dict[str, str] = {}

    def _run_isolated(n: str) -> None:
        try:
            materialize(queries[n](spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — isolate, report, continue
            concurrent_errors.setdefault(n, f"{type(e).__name__}: {e}"[:300])

    concurrent_wall = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=min(8, len(names) or 1)) as ex:
            list(ex.map(_run_isolated, names))
        concurrent_wall = min(concurrent_wall, time.perf_counter() - t0)
    concurrent_wall = round(concurrent_wall, 4)

    # Transparency: time DuckDB on the IDENTICAL oracle SQL immediately
    # after the Spark batch phase (same process, same box state — NOT
    # after the streaming/load phases have churned all cores), so the
    # spark/duckdb ratio is same-conditions. If every oracle errors the
    # totals stay None rather than publish a 0.0 s "total" that reads as
    # an infinite Spark slowdown (r14 sweep).
    duckdb_runs: dict[str, list[float]] = {}
    try:
        oracles = entry_mod.oracle_sql()
        duckdb_runs = time_duckdb(
            sf_dir, {n: oracles[n] for n in names if n in oracles}, n_runs
        )
    except Exception:  # noqa: BLE001
        pass
    duckdb_queries = {
        n: round(statistics.median(r), 4) for n, r in duckdb_runs.items()
    }
    duckdb_sequential = (
        round(sum(statistics.median(r) for r in duckdb_runs.values()), 4)
        if duckdb_runs
        else None
    )
    duckdb_runs = {n: [round(x, 4) for x in r] for n, r in duckdb_runs.items()}
    duckdb_spread = (
        [round(sum(f(r) for r in duckdb_runs.values()), 4) for f in (min, max)]
        if duckdb_runs
        else None
    )

    # batch-load throughput: the reference's 200k-row ETL load
    # (create_table.py + infra/README.md:81-82) as generate → partitioned
    # lakehouse create, end to end
    load_rows_per_sec = None
    try:
        import shutil

        from data_iceberg_sandbox_spark.sources.datagen import generate_clients
        from data_iceberg_sandbox_spark.tables.laketable import LakeTable

        root = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), ".scratch", "bench_load"
        )
        if os.path.isdir(root):
            shutil.rmtree(root)
        t0 = time.perf_counter()
        LakeTable(spark, root).create(
            generate_clients(spark, 0, 200_000),
            partition_by=["category"],
        )
        load_rows_per_sec = round(200_000 / (time.perf_counter() - t0), 1)
    except Exception:
        pass

    host_parallel_efficiency, host_membw_gbps = _host_probes()

    payload = {
        "metric": (
            "headline_suite_sec (sequential sum of per-query medians of "
            f"{n_runs} runs; concurrent wall in extras)"
        ),
        "value": sequential_total,
        "unit": "sec",
        # Protocol version (r15, VERDICT #9): 1 = sum of best-of-3
        # (BENCH_r01–r13), 2 = sum of per-query medians of 5 with
        # cache-cold timed runs (r14+; r14 lacked this field and the
        # between-run cache reset), 3 = as 2, but every timed run builds
        # the query's plan fresh, so a run is build + execute, 4 = as 3,
        # on the engine's shipping session (AQE on) with the default
        # pin (docs/BENCH_NOTES.md maps the statistics). PERF consumers
        # must not compare `value` across protocol versions;
        # `value_best_of_runs` is the v1-comparable statistic.
        "protocol_version": 4,
        # CPU-scaling contract (r15, VERDICT #1): the RESOLVED runtime
        # master and parallelism, so the driver's lower-core-count run
        # can verify $SPARK_GRAFT_CPUS is honored instead of suspecting.
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "queries": times,
        "runs_per_query_count": n_runs,
        "query_runs": runs_per_query,
        "queries_best": times_best,
        "value_best_of_runs": sequential_best,
        "suite_spread_sec": [suite_min, suite_max],
        "sf": sf,
        "concurrent_wall_sec": concurrent_wall,
        "concurrency": min(8, len(names) or 1),
        "n_queries": len(names),
        "errors": errors or None,
        "concurrent_errors": concurrent_errors or None,
        "floor_sec_per_action": floor_sec,
        "jobs_per_query": jobs_per_query,
        # Janino compiles each timed run paid (codegen cache misses)
        "codegen_compiles": compiles_per_query,
        "total_jobs": total_jobs,
        "floor_decomposition_sec": floor_total,
        "streaming_events_per_sec": stream_eps,
        "streaming_error": stream_error,
        "batch_load_rows_per_sec": load_rows_per_sec,
        "duckdb_sequential_sec_same_sql": duckdb_sequential,
        "duckdb_queries": duckdb_queries or None,
        "duckdb_query_runs": duckdb_runs or None,
        "duckdb_suite_spread_sec": duckdb_spread,
        # Methodology (timing action, concurrent-wall rationale, floor
        # decomposition, DuckDB comparison protocol): docs/BENCH_NOTES.md.
        "notes": "methodology: docs/BENCH_NOTES.md",
        # Host-state probes (ADD-only fields, r14 ledger item 6): the
        # r14 sessions hit a degraded box twice (see ENGINEERING_NOTES
        # "Benchmarking protocol findings" and the OPTIMIZATION_r14
        # box-state section) — these two numbers let a reader judge
        # whether a capture's absolutes are comparable across rounds.
        # parallel_efficiency: 1.0 = the advertised cores deliver; the
        # degraded r14 window measured ~0.5. membw_gbps: sequential
        # touch+reduce bandwidth over a 256 MB buffer; the r14b window
        # measured large-allocation page-fault pathology (~0.3 GB/s on
        # >1 GB temporaries) that inflated Arrow kernels 10x.
        "host_parallel_efficiency": host_parallel_efficiency,
        "host_membw_gbps": host_membw_gbps,
    }
    line = json.dumps(payload)
    # Durable copy: the driver captures stdout and has truncated this line
    # before (BENCH_r06.json parsed:null) — the in-repo file is the record.
    if is_record:
        try:
            out = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL_last.json"
            )
            with open(out, "w") as fh:
                fh.write(line + "\n")
        except OSError:
            pass
    print(line)


if __name__ == "__main__":
    main()
