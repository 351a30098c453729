"""bench.py contract (VERDICT r4 item 2): the driver's only perf signal
is one JSON line on stdout — a broken query must degrade to an `errors`
entry, never abort the suite (round 4 lost its entire bench signal to a
single erroring query). Runs the real script in a subprocess on a
two-query subset at the smallest SF. tools/ab_interleaved.py, which
times through bench.py's ``time_run``, is run the same way; both must
time the engine's shipping session (AQE on, shuffle partitions =
cores)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from bench import env_count, stream_throughput
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_full_json_despite_broken_query():
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_BENCH_QUERIES": "dedup_exact,w_rank_topk",
        # CPU-scaling contract (r15, VERDICT r14 #1): a non-default core
        # count must show up in the payload's resolved master/sizing
        "SPARK_GRAFT_CPUS": "6",
    }
    env.pop("SPARK_GRAFT_MASTER", None)
    record = Path(REPO, "BENCH_LOCAL_last.json")
    record_before = record.read_bytes() if record.exists() else None
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--self-test-broken"],
        env=env,
        capture_output=True,
        text=True,
        timeout=480,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # a subset run is not the headline record and must not replace it
    assert (record.read_bytes() if record.exists() else None) == record_before
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    d = json.loads(line)
    assert d["errors"] == {
        "__broken__": "RuntimeError: bench self-test: deliberately broken query"
    }
    assert set(d["queries"]) == {"dedup_exact", "w_rank_topk"}
    assert all(v > 0 for v in d["queries"].values())
    assert d["value"] > 0 and d["unit"] == "sec"
    assert d["floor_sec_per_action"] > 0
    assert d["streaming_error"] is None and d["streaming_events_per_sec"] > 0
    # streaming is measured before the pin: only an unpinned staging
    # leaves its memo marker (a pinned one removes it)
    staged = Path(REPO, ".scratch", "streaming", "staged_bench_mv_sf0.001.staged")
    assert staged.exists()
    assert d["total_jobs"] >= 2
    # medians protocol (VERDICT r13 #3): run arrays recorded, headline
    # value = sum of per-query medians, spread band brackets it
    n_runs = d["runs_per_query_count"]
    assert n_runs >= 3
    for q, runs in d["query_runs"].items():
        assert len(runs) == n_runs
        s = sorted(runs)
        med = s[n_runs // 2] if n_runs % 2 else (s[n_runs // 2 - 1] + s[n_runs // 2]) / 2
        assert abs(d["queries"][q] - med) < 1e-3
        assert d["queries_best"][q] == min(runs)
        # the Janino compiles each timed run paid
        assert len(d["codegen_compiles"][q]) == n_runs
        assert all(c >= 0 for c in d["codegen_compiles"][q])
    lo, hi = d["suite_spread_sec"]
    assert lo <= d["value"] <= hi + 1e-6
    assert abs(d["value_best_of_runs"] - lo) < 1e-3
    # CPU-scaling contract + protocol version (r15, VERDICT r14 #1/#9):
    # the payload carries the RUNTIME master/parallelism so the driver's
    # lower-core-count run can verify $SPARK_GRAFT_CPUS is honored, and
    # the statistic is versioned so PERF never again compares
    # best-of-3 against median-of-5
    assert d["protocol_version"] == 4
    assert d["master"] == "local[6]"
    assert d["default_parallelism"] == 6
    # one session: the shipping conf, no bench overrides
    assert d["aqe"] == "true"
    assert d["shuffle_partitions"] == 6


def test_ab_interleaved_runs_cache_cold_reps_on_the_core(tmp_path):
    """Two arms of a self-caching query through tools/ab_interleaved.py:
    every rep is a cache-cold build + execute, so each arm schedules the
    same jobs in every rep, and both arms fingerprint the same rows."""
    variants = tmp_path / "variants.py"
    variants.write_text(
        "import __spark_entry__ as entry_mod\n"
        "build = entry_mod.queries()['dedup_incremental_lsh']\n"
        "VARIANTS = {'dedup_incremental_lsh:a': build,"
        " 'dedup_incremental_lsh:b': build}\n"
    )
    out = tmp_path / "ab.json"
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": SF_SMOKE,
        "REPS": "2",
        "SPARK_GRAFT_CPUS": "2",
    }
    env.pop("SPARK_GRAFT_MASTER", None)
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "ab_interleaved.py"),
            str(out),
            str(variants),
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=480,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    d = json.loads(out.read_text())
    # the same session bench.py times: shipping AQE value and width
    assert d["session"]["aqe"] == "true"
    assert int(d["session"]["shuffle_partitions"]) == 2
    arms = d["variants"]
    assert set(arms) == {"dedup_incremental_lsh:a", "dedup_incremental_lsh:b"}
    for arm in arms.values():
        assert arm["rows_equal"] is True
        assert len(arm["runs"]) == 2
        assert len(set(arm["jobs_per_run"])) == 1, arm["jobs_per_run"]
    for stamp in (d["host"]["before"], d["host"]["after"]):
        assert set(stamp) == {"parallel_efficiency", "membw_gbps"}
        assert stamp["parallel_efficiency"] is not None


@pytest.mark.parametrize(
    "raw, want", [("abc", 5), ("", 5), ("0", 5), ("-1", 5), ("7", 7)]
)
def test_run_counts_fail_closed(monkeypatch, raw, want):
    """A malformed, empty or non-positive run count falls back to the
    default instead of crashing the harness after its warmup and pin
    (bench.py's SPARK_GRAFT_BENCH_RUNS, ab_interleaved's REPS)."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", raw)
    assert env_count("SPARK_GRAFT_BENCH_RUNS", 5) == want


def test_broken_stream_reports_its_error(spark, monkeypatch):
    """A drain that raises leaves no throughput number, and the payload
    says why (type and message) instead of a bare null."""
    from data_iceberg_sandbox_spark.streaming import fraud_stream

    def broken(*_a, **_kw):
        raise RuntimeError("drain broke")

    monkeypatch.setattr(fraud_stream, "run_fraud_alerts_stream", broken)
    assert stream_throughput(spark, SF_SMOKE) == (None, "RuntimeError: drain broke")


def test_stream_throughput_stages_outside_timed_reps(spark, tmp_path, monkeypatch):
    """The events backlog is staged once, before the timed drains: no
    staging write happens inside a timed rep."""
    from data_iceberg_sandbox_spark.streaming import fraud_stream

    # a fresh copy of the source (new mtime), so no staging memo matches
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), tmp_path)
    writes, in_rep = [], [False]
    stage_once = fraud_stream.stage_once
    run = fraud_stream.run_fraud_alerts_stream

    def spy_stage_once(spark, sf_dir, table, out, params, write):
        def spied(path):
            writes.append(in_rep[0])
            write(path)

        return stage_once(spark, sf_dir, table, out, params, spied)

    def timed_rep(*a, **kw):
        in_rep[0] = True
        try:
            return run(*a, **kw)
        finally:
            in_rep[0] = False

    monkeypatch.setattr(fraud_stream, "stage_once", spy_stage_once)
    monkeypatch.setattr(fraud_stream, "run_fraud_alerts_stream", timed_rep)
    eps, err = stream_throughput(spark, str(tmp_path))
    assert err is None and eps > 0
    assert writes == [False]
