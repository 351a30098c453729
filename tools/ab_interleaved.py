"""Interleaved A/B timing of plan variants — the measurement protocol for
a box with episodic multi-second interference: variants alternate
A,B,B,A,… in ONE session so interference windows and position effects
hit every arm alike, and the MIN over reps is reported beside the
median as the interference-robust capability statistic.

The session and pin are bench.py's: the engine's shipping session
(``get_spark_session()`` with its defaults: AQE on, shuffle partitions =
cores) and ``pin_balanced``. Every rep is bench.py's
``time_run`` with the variant's builder: a cache-cold build + execute
into the ``noop`` sink, the same run the headline times. Per variant the
payload carries the run times, their min and median, the Spark jobs
each run launched, and an order-independent result fingerprint (row
count, sum and xor of per-row xxhash64); the ``rows_equal`` flag
compares it with the first variant of the same query. A host stamp
(parallel efficiency, memory bandwidth — bench.py's probes) is taken
before and after the reps.

Usage: python tools/ab_interleaved.py out.json <variants_module>
  <variants_module> is a python file defining VARIANTS: dict[str, fn]
  where fn(spark, sf_dir) -> DataFrame. Names of the form
  ``query:arm`` group arms of one query; a name without ``:`` belongs
  to the single unnamed query. A variant that changes a runtime SQL
  conf sets every conf it depends on when it builds: the session is
  shared, so a conf one arm sets is still set when the next arm runs.
Env: SPARK_GRAFT_SF_DIR (default: bench.py's sf0.1 test data), REPS
(default 7; a malformed or non-positive value falls back to 7).
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _host_probes, env_count, time_run  # noqa: E402
from data_iceberg_sandbox_spark.session import get_spark_session  # noqa: E402
from data_iceberg_sandbox_spark.sources.registry import pin_balanced  # noqa: E402


def _fingerprint(df) -> list:
    from pyspark.sql import functions as F

    h = F.xxhash64(*df.columns)
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(h.cast("decimal(38,0)")).cast("string"),
        F.bit_xor(h),
    ).first()
    return list(row)


def _query(name: str) -> str:
    return name.partition(":")[0] if ":" in name else ""


def _host() -> dict:
    par, bw = _host_probes()
    return {"parallel_efficiency": par, "membw_gbps": bw}


def main() -> None:
    out_path, mod_path = sys.argv[1], sys.argv[2]
    reps = env_count("REPS", 7)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spec = importlib.util.spec_from_file_location("ab_variants", mod_path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    variants = mod.VARIANTS

    host_before = _host()
    spark = get_spark_session(app_name="ab_interleaved")
    sc = spark.sparkContext
    pin_balanced(spark, sf_dir)

    for name, build in variants.items():  # warm every plan (JIT/codegen)
        time_run(spark, build, sf_dir, f"warm:{name}")

    runs: dict[str, list[float]] = {name: [] for name in variants}
    jobs: dict[str, list[int]] = {name: [] for name in variants}
    for rep in range(reps):
        # ABBA: odd reps run the arms in reverse, so no arm always
        # follows the same neighbour
        order = list(variants.items())
        for name, build in order[::-1] if rep % 2 else order:
            dt, n_jobs, _ = time_run(spark, build, sf_dir, f"rep{rep}:{name}")
            runs[name].append(round(dt, 3))
            jobs[name].append(n_jobs)
            print(f"rep{rep} {name}: {dt:.3f} ({n_jobs} jobs)", flush=True)
    prints = {name: _fingerprint(fn(spark, sf_dir)) for name, fn in variants.items()}
    first_of: dict[str, str] = {}
    for name in variants:
        first_of.setdefault(_query(name), name)

    payload = {
        "sf_dir": sf_dir,
        "reps": reps,
        "protocol": (
            "interleaved same-session, each rep bench.time_run (cache-cold "
            "build + execute); min is interference-robust"
        ),
        "session": {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        },
        "host": {"before": host_before, "after": _host()},
        "variants": {
            name: {
                "runs": rs,
                "min": min(rs),
                "median": round(statistics.median(rs), 3),
                "jobs_per_run": jobs[name],
                "fingerprint": prints[name],
                "rows_equal": prints[name] == prints[first_of[_query(name)]],
            }
            for name, rs in runs.items()
        },
    }
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps(payload["variants"], indent=1))


if __name__ == "__main__":
    main()
