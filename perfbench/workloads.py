"""The four workloads. Each is one process, one client, closed loop: the
next operation starts when the previous one has returned.

BENCHMARK.json lists olap_sql and stream_mv: between them they cover
every layer (session, sources, operators, spark, tables, streaming), and
a run of each fits the benchmark's time budget. llm_text (~75 s a run at
sf0.1) and lake_dml run on request and in ``smoke.py``.

Every workload returns the same end-to-end figures, defined per workload:

=========  ==========================  =====================  ======================
workload   operation (``op_iqm_s``)    pass (``pass_s``)      DuckDB twin of a pass
=========  ==========================  =====================  ======================
olap_sql   one query execution         the 11-query set       the oracle SQL set
llm_text   one query execution         the 6-query set        the oracle SQL set
lake_dml   one DML commit              one DML cycle + scan   the cycle on a table
stream_mv  one micro-batch             one backlog drain      the one-shot MV SQL
=========  ==========================  =====================  ======================

``pass_s`` is the median pass wall time. ``op_iqm_s`` is the
interquartile mean of the operation latencies (the mean of their middle
half): per-query latencies cluster by query, and a plain median that
falls between two clusters swings with them. The median and the 90th
percentile are kept in the record.

The engine is driven only through its public calls; the measured
window starts after warm-up and runs whole passes until ``--seconds``
have elapsed (at least two passes). Outputs are checked untimed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import threading
import time

from checks import duckdb_conn, mismatch
from engine import Engine, median
from spans import Tracer

OLAP_SQL = [
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
]
LLM_TEXT = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_incremental_lsh",
    "ann_cosine_topk",
    "text_quality_score",
    "corpus_token_stats",
]
# tables each workload reads; only these are generated and pinned
TABLES = {
    "olap_sql": ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events"),
    "llm_text": ("documents", "embeddings"),
    "lake_dml": (),
    "stream_mv": ("events", "customer", "nation"),
}


class Run:
    """One benchmark run: its inputs, engine, spans, checks and record."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 sf: float, sf_dir: str, work_dir: str, corrupt: bool):
        self.workload = workload
        self.sf = sf
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.corrupt = corrupt
        self.tracer = Tracer(enabled=trace)
        self.engine = Engine(work_dir, self.tracer, event_log=trace)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.record: dict = {}
        self.window: list[float] = []  # epoch seconds of the measured window
        self.t0 = time.perf_counter()

    # ---- operation accounting --------------------------------------------
    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what[:300])

    def log(self, msg: str) -> None:
        print(f"[{time.perf_counter() - self.t0:7.1f}s] {self.workload}: {msg}",
              file=sys.stderr, flush=True)

    def check(self, what: str, actual, expected) -> None:
        """Compare two pandas results; with ``corrupt`` the first expected
        result loses a row, which must register as a failure."""
        if self.corrupt and len(expected):
            expected = expected.iloc[1:]
            self.corrupt = False
        msg = mismatch(actual, expected)
        self.outcome(msg is None, f"{what}: {msg}")

    # ---- measured window -------------------------------------------------
    def measure(self, one_pass) -> list[dict]:
        """Whole passes until ``seconds`` have elapsed, at least two. The
        traced run alternates passes with spans off and on, at least two
        of each, so traced minus untraced pass time is the tracing
        overhead."""
        passes = []
        self.window = [time.time()]
        t0 = time.perf_counter()
        least = 4 if self.trace else 2
        while len(passes) < least or time.perf_counter() - t0 < self.seconds:
            # off, on, on, off: a warm-up drift cancels out of on minus off
            traced = self.trace and len(passes) % 4 in (1, 2)
            self.tracer.enabled = traced
            with self.tracer.span("bench.pass", "bench") as sp:
                ps = time.perf_counter()
                out = one_pass(len(passes))
                out.setdefault("wall_s", time.perf_counter() - ps)
            out["traced"] = traced
            out["span"] = sp
            passes.append(out)
        self.tracer.enabled = self.trace
        self.window.append(time.time())
        return passes


def _timed_median(fn, reps: int = 3) -> float:
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return median(samples)


# ---------------------------------------------------------------------------
# olap_sql, llm_text: headline queries, fresh plan per execution
# ---------------------------------------------------------------------------


class Pins:
    """The base-table pin (``registry.pin_balanced``) and the release of
    whatever an execution caches or checkpoints on top of it."""

    def __init__(self, run: Run, tables):
        from pyspark.sql.classic.dataframe import DataFrame

        from data_iceberg_sandbox_spark.sources import registry

        self.run = run
        self.registry = registry
        self.tables = tables
        self.spark = run.engine.spark
        self.frames: list = []
        self.restores = 0
        self.recording = False
        # record every frame the program caches or persists, so that the
        # next fresh build of the same plan cannot hit the old entry
        self._originals = {a: getattr(DataFrame, a) for a in ("cache", "persist")}
        for attr, orig in self._originals.items():

            def hooked(df, *a, _orig=orig, **kw):
                if self.recording:
                    self.frames.append(df)
                return _orig(df, *a, **kw)

            setattr(DataFrame, attr, hooked)

    def close(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        for attr, orig in self._originals.items():
            setattr(DataFrame, attr, orig)

    def _persistent_ids(self) -> set[int]:
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        return {int(i) for i in jmap.keySet().toArray()}

    def pin(self) -> float:
        t0 = time.perf_counter()
        self.pinned = self.registry.pin_balanced(self.spark, self.run.sf_dir)
        dt = time.perf_counter() - t0
        self.base_ids = self._persistent_ids()
        return dt

    def release(self) -> int:
        """Drop the caches and checkpoints the last execution registered;
        returns how many it had registered (0 = not self-caching)."""
        registered = len(self.frames)
        for df in self.frames:
            df.unpersist(blocking=True)
        self.frames = []
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in self._persistent_ids() - self.base_ids:
            jmap.get(rid).unpersist(True)
            registered += 1
        return registered

    def verify_or_restore(self) -> None:
        ok = all(
            self.registry.is_pinned(self.spark, self.run.sf_dir, t) for t in self.tables
        ) and all(df.storageLevel.useMemory for df in self.pinned)
        ok = ok and self.base_ids <= self._persistent_ids()
        if not ok:
            self.restores += 1
            self.spark.catalog.clearCache()
            self.pin()


def query_workload(run: Run, names: list[str]) -> dict:
    import __spark_entry__ as entry
    from data_iceberg_sandbox_spark.sources import registry

    eng, tracer = run.engine, run.tracer
    tracer.wrap(registry, "pin_balanced", "sources")
    spark = eng.start()
    tables = TABLES[run.workload]
    pins = Pins(run, tables)
    pin_s = pins.pin()
    setup_s = eng.session_s + pin_s
    run.log(f"session {eng.session_s:.2f}s, pin {pin_s:.2f}s")

    registered = entry.queries()
    builders = {n: getattr(registered[n], "__wrapped__", registered[n]) for n in names}
    oracles = entry.oracle_sql()
    con = duckdb_conn(run.sf_dir, tables)
    sf_dir = run.sf_dir
    first_jobs: dict[str, int] = {}
    per_query: dict[str, dict] = {n: {"latency_s": [], "build_s": [], "jobs": []} for n in names}

    def execute(name: str, sink):
        """Fresh plan through the spec's builder, then ``sink``; returns
        (latency, build, jobs, self_caching, sink result)."""
        gid = eng.new_group(name)
        pins.recording = True
        try:
            with tracer.span(f"operators.{name}", "bench", query=name, group=gid):
                t0 = time.perf_counter()
                with tracer.span(f"operators.{name}.build", "operators"):
                    df = builders[name](spark, sf_dir)
                t1 = time.perf_counter()
                out = sink(df)
                t2 = time.perf_counter()
        finally:
            pins.recording = False
        jobs = eng.jobs(gid)
        self_caching = pins.release() > 0
        pins.verify_or_restore()
        return t2 - t0, t1 - t0, jobs, self_caching, out

    def oracle(name: str):
        t0 = time.perf_counter()
        out = con.execute(oracles[name]).fetchdf()
        duck.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    # check pass: every result against its DuckDB oracle
    duck: dict[str, list[float]] = {}
    for name in names:
        try:
            _, _, _, _, pdf = execute(name, lambda df: df.toPandas())
        except Exception as e:  # noqa: BLE001 — a failed query is a data point
            run.outcome(False, f"{name}: {type(e).__name__}: {e}")
            continue
        run.check(name, pdf, oracle(name))

    run.log("check pass done")

    def one_pass(i: int) -> dict:
        """One execution of every query, in a seeded order; pass -1 is the
        warm-up and records nothing."""
        order = list(names)
        random.Random(run.seed * 1000 + i).shuffle(order)
        lat = {}
        for name in order:
            try:
                dt, build, jobs, self_caching, _ = execute(name, eng.noop)
            except Exception as e:  # noqa: BLE001
                run.outcome(False, f"{name}: {type(e).__name__}: {e}")
                continue
            lat[name] = dt
            if i < 0:
                continue
            q = per_query[name]
            q["latency_s"].append(dt)
            q["build_s"].append(build)
            q["jobs"].append(jobs)
            # a self-caching spec must schedule the same jobs every time:
            # a different count means a cache-hit or no-cache plan ran
            ok = not self_caching or first_jobs.setdefault(name, jobs) == jobs
            run.outcome(ok, f"{name}: {jobs} jobs, first timed run had {first_jobs.get(name)}")
        return {"ops": list(lat.values()), "wall_s": sum(lat.values())}

    # warm-up: the check pass above plus one noop pass (timings still fall
    # by ~20% from the first noop pass to the second)
    warm = one_pass(-1)["wall_s"]
    run.log(f"warm-up pass {warm:.2f}s")
    floor = eng.floor_s()
    passes = run.measure(one_pass)
    pins.close()
    run.log(f"measured {len(passes)} passes")

    medians = {n: median(q["latency_s"]) for n, q in per_query.items()}
    if run.trace:  # duckdb.* are per-layer figures: two more samples each
        for _ in range(2):
            for n in names:
                oracle(n)
    duck_pass = sum(median(v) for v in duck.values())
    ops = [x for p in passes for x in p["ops"]]
    run.record.update({
        "pin_s": pin_s,
        "warmup_pass_s": warm,
        "pin_restores": pins.restores,
        "floor_s": floor,
        "operators": {
            n: {
                "latency_s": medians[n],
                "samples_s": q["latency_s"],
                "build_s": median(q["build_s"]),
                "jobs": median(q["jobs"]),
                "duckdb_s": median(duck.get(n, [])),
            }
            for n, q in per_query.items()
        },
    })
    return {
        "setup_s": setup_s,
        "ops": ops,
        "duckdb_pass_s": duck_pass,
        "passes": passes,
        "floor_s": floor,
    }


# ---------------------------------------------------------------------------
# lake_dml: the tables layer, writes beside reads
# ---------------------------------------------------------------------------

# rows per sf: sf0.1 loads 200k rows and changes 10k per DML step
LOAD_ROWS_PER_SF = 2_000_000
_MODEL_COLS = ["id", "name", "age", "category", "birth"]


class LakeModel:
    """The seeded DML sequence applied to a DuckDB table: the expected
    contents of the LakeTable, and the reference engine's time for it."""

    def __init__(self, base):
        import duckdb

        self.con = duckdb.connect()
        self.con.register("base", base)
        self.con.execute(
            "CREATE TABLE clients (id BIGINT PRIMARY KEY, name VARCHAR, age INTEGER,"
            " category VARCHAR, birth INTEGER)"
        )
        self.con.execute(f"INSERT INTO clients SELECT {', '.join(_MODEL_COLS)} FROM base")

    def apply(self, cycle: dict) -> float:
        cols = ", ".join(_MODEL_COLS)
        t0 = time.perf_counter()
        for src in ("merge", "upsert"):
            self.con.register("src", cycle[src])
            self.con.execute(f"INSERT OR REPLACE INTO clients SELECT {cols} FROM src")
        self.con.execute(f"DELETE FROM clients WHERE id % 100 = {cycle['delete_mod']}")
        self.con.register("src", cycle["append"])
        self.con.execute(f"INSERT INTO clients SELECT {cols} FROM src")
        self.scan_summary()
        return time.perf_counter() - t0

    def scan_summary(self) -> tuple:
        return self.con.execute(
            "SELECT count(*), sum(id), sum(age), sum(length(name)) FROM clients"
        ).fetchone()

    def rows(self):
        return self.con.execute(f"SELECT {', '.join(_MODEL_COLS)} FROM clients").fetchdf()


def lake_dml(run: Run) -> dict:
    from pyspark.sql import functions as F

    from data_iceberg_sandbox_spark.sources import datagen
    from data_iceberg_sandbox_spark.tables.laketable import LakeTable

    eng, tracer = run.engine, run.tracer
    tracer.wrap(datagen, "generate_clients", "sources")
    for m in ("create", "merge", "upsert_keys_mor", "delete_where", "append", "read", "compact"):
        tracer.wrap(LakeTable, m, "tables")
    spark = eng.start()
    setup_s = eng.session_s
    load_rows = int(LOAD_ROWS_PER_SF * run.sf)
    change_rows = load_rows // 20

    def changes(n_ids: int, c: int, salt: int, tag: str):
        """~change_rows seeded ids of [0, n_ids), renamed by cycle tag."""
        every = max(1, n_ids // change_rows)
        h = F.abs(F.xxhash64("id", F.lit(run.seed), F.lit(c), F.lit(salt)))
        return (
            datagen.generate_clients(spark, 0, n_ids)
            .where(h % every == 0)
            .withColumn("name", F.concat("name", F.lit(f"~{tag}{c}")))
        )

    def cycle_inputs(c: int, top: int) -> dict:
        inp = {
            "merge": changes(top, c, 1, "m"),
            "upsert": changes(top, c, 2, "u"),
            "append": datagen.generate_clients(spark, top, top + change_rows),
            "delete_mod": (run.seed + 37 * c) % 100,
        }
        # the model's copy, taken untimed (audit timestamps excluded)
        inp["pdf"] = {k: inp[k].select(*_MODEL_COLS).toPandas()
                      for k in ("merge", "upsert", "append")}
        return inp

    def apply_cycle(table, inp: dict, scan: bool) -> dict:
        commits = {}
        steps = (
            ("merge", lambda: table.merge(inp["merge"], on=["id"],
                                          update_exclude=("created_at",))),
            ("upsert_mor", lambda: table.upsert_keys_mor(inp["upsert"], ["id"])),
            ("delete", lambda: table.delete_where(F.col("id") % 100 == inp["delete_mod"])),
            ("append", lambda: table.append(inp["append"])),
        )
        for step, fn in steps:
            eng.new_group(f"lake {step}")
            t0 = time.perf_counter()
            fn()
            commits[step] = time.perf_counter() - t0
        out = {"commits": commits}
        if scan:
            eng.new_group("lake scan")
            t0 = time.perf_counter()
            with tracer.span("tables.scan", "bench"):
                eng.noop(table.read())
            out["scan_s"] = time.perf_counter() - t0
        return out

    # warm-up: one small table through create + one cycle, untimed
    warm_root = os.path.join(run.work_dir, "lake", "warm")
    shutil.rmtree(warm_root, ignore_errors=True)
    warm = LakeTable(spark, warm_root)
    warm.create(datagen.generate_clients(spark, 0, load_rows // 10))
    apply_cycle(warm, cycle_inputs(-1, load_rows // 10), scan=True)

    root = os.path.join(run.work_dir, "lake", "clients")
    shutil.rmtree(root, ignore_errors=True)
    table = LakeTable(spark, root)
    base = datagen.generate_clients(spark, 0, load_rows)
    model = LakeModel(base.select(*_MODEL_COLS).toPandas())
    eng.new_group("lake create")
    t0 = time.perf_counter()
    # unpartitioned: a category-partitioned LakeTable fails its scan with
    # CONFLICTING_DIRECTORY_STRUCTURES once an append lands beside a
    # rewritten commit directory that carries no delete sidecar
    table.create(base)
    load_s = time.perf_counter() - t0
    run.outcome(True, "create")
    run.log(f"session {eng.session_s:.2f}s, load {load_s:.2f}s")

    inputs: list[dict] = []
    top = [load_rows]

    def one_pass(c: int) -> dict:
        inp = cycle_inputs(c, top[0])
        top[0] += change_rows
        inputs.append(inp)
        t0 = time.perf_counter()
        try:
            out = apply_cycle(table, inp, scan=True)
        except Exception as e:  # noqa: BLE001
            run.outcome(False, f"cycle {c}: {type(e).__name__}: {e}")
            return {"ops": []}
        wall = time.perf_counter() - t0
        for step in out["commits"]:
            run.outcome(True, step)
        model.apply({**inp["pdf"], "delete_mod": inp["delete_mod"]})
        # MoR scan against the model, untimed
        got = table.read().agg(
            F.count("*"), F.sum("id"), F.sum("age"), F.sum(F.length("name"))
        ).first()
        want = model.scan_summary()
        if run.corrupt:
            want, run.corrupt = (want[0] + 1,) + tuple(want[1:]), False
        run.outcome(tuple(got) == tuple(want), f"MoR scan {c}: {tuple(got)} != {want}")
        return {"ops": list(out["commits"].values()), "wall_s": wall,
                "scan_s": out["scan_s"], "commits": out["commits"]}

    passes = run.measure(one_pass)
    run.log(f"measured {len(passes)} cycles")

    man = table.manifest()
    stored = sum(os.path.getsize(os.path.join(root, f)) for f in man.files)
    for rel in man.delete_files:
        for dirpath, _, files in os.walk(os.path.join(root, rel)):
            stored += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    live_rows = model.scan_summary()[0]
    eng.new_group("lake compact")
    t0 = time.perf_counter()
    table.compact()
    compact_s = time.perf_counter() - t0
    run.check("final table", table.read().select(*_MODEL_COLS).toPandas(), model.rows())

    # the reference engine on the same sequence, median of three replays
    replays = []
    for _ in range(3):
        twin = LakeModel(base.select(*_MODEL_COLS).toPandas())
        replays.append([twin.apply({**i["pdf"], "delete_mod": i["delete_mod"]}) for i in inputs])
    duck_cycle = median([median(r) for r in replays])

    commits = {s: [p["commits"][s] for p in passes if "commits" in p]
               for s in ("merge", "upsert_mor", "delete", "append")}
    run.record.update({
        "load_s": load_s,
        "load_rows_per_s": load_rows / load_s,
        "commit_s": {s: median(v) for s, v in commits.items()},
        "mor_scan_s": median([p["scan_s"] for p in passes if "scan_s" in p]),
        "stored_bytes_per_row": stored / live_rows,
        "live_files": len(man.files),
        "delete_sidecars": len(man.delete_files),
        "compact_s": compact_s,
    })
    ops = [x for p in passes for x in p["ops"]]
    return {
        "setup_s": setup_s,
        "ops": ops,
        "duckdb_pass_s": duck_cycle,
        "passes": passes,
    }


# ---------------------------------------------------------------------------
# stream_mv: the streaming materialized view
# ---------------------------------------------------------------------------

STREAM_FILES = 8
FILES_PER_TRIGGER = 2


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []
            self.done = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.batches.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.set()

    return Progress()


def stream_mv(run: Run) -> dict:
    from data_iceberg_sandbox_spark.operators.fraud import fraud_alerts_oracle_sql
    from data_iceberg_sandbox_spark.streaming import fraud_stream
    from data_iceberg_sandbox_spark.tables.laketable import LakeTable

    eng, tracer = run.engine, run.tracer
    tracer.wrap(fraud_stream, "stage_event_files", "sources")
    tracer.wrap(fraud_stream, "run_fraud_alerts_stream", "streaming")
    for m in ("create", "merge", "read"):
        tracer.wrap(LakeTable, m, "tables")
    spark = eng.start()
    root = os.path.join(run.work_dir, "stream", "fraud_mv")
    t0 = time.perf_counter()
    fraud_stream.stage_event_files(spark, run.sf_dir, os.path.basename(root), STREAM_FILES)
    stage_s = time.perf_counter() - t0
    setup_s = eng.session_s + stage_s

    con = duckdb_conn(run.sf_dir, TABLES["stream_mv"])
    sql = fraud_alerts_oracle_sql()
    expected = con.execute(sql).fetchdf()
    duck_s = _timed_median(lambda: con.execute(sql).fetchall(), reps=5)
    n_events = con.execute("SELECT count(*) FROM events").fetchone()[0]
    listener = _progress_listener()
    spark.streams.addListener(listener)

    def drain(i: int) -> dict:
        listener.batches, listener.done = [], threading.Event()
        t0 = time.perf_counter()
        mv = fraud_stream.run_fraud_alerts_stream(
            spark, run.sf_dir, root, n_files=STREAM_FILES, files_per_trigger=FILES_PER_TRIGGER
        )
        wall = time.perf_counter() - t0
        listener.done.wait(timeout=30)
        run.check(f"drain {i}", mv.read().toPandas(), expected)
        batches = [b for b in listener.batches if b.get("numInputRows", 0) > 0]
        return {
            "ops": [b["durationMs"]["triggerExecution"] / 1000 for b in batches],
            "wall_s": wall,
            "batches": batches,
        }

    run.log(f"session {eng.session_s:.2f}s, stage {stage_s:.2f}s")
    drain(-1)  # warm-up, checked but untimed
    run.log("warm-up drain done")
    passes = run.measure(drain)
    run.log(f"measured {len(passes)} drains")
    spark.streams.removeListener(listener)

    batches = [b for p in passes for b in p["batches"]]
    parts = ("addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets",
             "latestOffset", "triggerExecution")
    breakdown = {k: median([b["durationMs"].get(k, 0) / 1000 for b in batches]) for k in parts}
    state = [b["stateOperators"][0] for b in batches if b.get("stateOperators")]
    drains = [p["wall_s"] for p in passes]
    run.record.update({
        "stage_s": stage_s,
        "stream_events_per_s": n_events / median(drains),
        "batches_per_drain": len(batches) / len(passes),
        "duration_ms_breakdown_s": breakdown,
        "sink_share": breakdown["addBatch"] / breakdown["triggerExecution"],
        "state_rows": median([s.get("numRowsTotal", 0) for s in state]),
        "state_bytes": median([s.get("memoryUsedBytes", 0) for s in state]),
    })
    ops = [x for p in passes for x in p["ops"]]
    return {
        "setup_s": setup_s,
        "ops": ops,
        "duckdb_pass_s": duck_s,
        "passes": passes,
    }


WORKLOADS = {
    "olap_sql": lambda run: query_workload(run, OLAP_SQL),
    "llm_text": lambda run: query_workload(run, LLM_TEXT),
    "lake_dml": lake_dml,
    "stream_mv": stream_mv,
}
