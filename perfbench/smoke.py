"""Smoke test of the benchmark itself, at sf0.001.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: all four) it runs ``run.py`` twice: once
clean, where every output check must pass (``failed == 0``), and once
with ``--corrupt``, where one expected result is deliberately wrong and
the run must report ``failed > 0``. Exits non-zero if either fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["olap_sql", "llm_text", "lake_dml", "stream_mv"]


def result(workload: str, corrupt: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", "0", "--sf", "0.001"]
    if corrupt:
        cmd.append("--corrupt")
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=600)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    bad = 0
    for w in sys.argv[1:] or WORKLOADS:
        clean, corrupt = result(w, False), result(w, True)
        ok = clean["failed"] == 0 and clean["correct"] and corrupt["failed"] > 0
        bad += not ok
        print(f"{w}: clean {clean['failed']}/{clean['attempted']} failed, "
              f"corrupt {corrupt['failed']}/{corrupt['attempted']} failed -> "
              f"{'ok' if ok else 'FAIL'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
