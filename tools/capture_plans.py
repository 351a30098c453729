"""Capture `.explain("formatted")` output for named queries into text
files (the r14 optimization deliverable: plans/r14/<query>_{before,after}.txt).

Usage:
  python tools/capture_plans.py <out_dir> <suffix> <query1> [query2 ...]
  python tools/capture_plans.py plans/r14 after tpch_q3_shipping_priority ...

Runs against $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data, as in
bench.py) in bench.py's session with its base-table pin: the engine's
shipping session (``get_spark_session()``, with its defaults) and
``pin_balanced``. Pinned tables change scan statistics, and with them
join strategy choices, so the captured plan is the plan the bench
times. Plan construction only — nothing is executed beyond the pin and
the small collects some plan builders do (dim folds). Under AQE (on in
the shipping session) the captured plan is the INITIAL adaptive plan
(``AdaptiveSparkPlan isFinalPlan=false``): the join strategies and
partition counts AQE picks at run time from stage statistics are not
in it.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_iceberg_sandbox_spark.plans.inspect import formatted_plan  # noqa: E402
from data_iceberg_sandbox_spark.session import get_spark_session  # noqa: E402
from data_iceberg_sandbox_spark.sources.registry import pin_balanced  # noqa: E402


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"not in the registry: {unknown}")

    spark = get_spark_session(app_name="capture_plans")
    pin_balanced(spark, sf_dir)

    for n in names:
        df = queries[n](spark, sf_dir)
        text = formatted_plan(df)
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"== {n} ({suffix}) sf_dir={sf_dir} [bench session, pinned] ==\n")
            fh.write(text)
            if not text.endswith("\n"):
                fh.write("\n")
        print(f"{path}: {len(text.splitlines())} plan lines", flush=True)


if __name__ == "__main__":
    main()
