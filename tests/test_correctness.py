"""t2-style correctness: every queries() entry vs its DuckDB oracle at
sf0.01 (the driver's gate, run locally at the same SF), plus the
comparison harness's own pairing contract."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_harness import compare, duckdb_conn

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_every_oracle_key_has_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF_ORACLE)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, con, name):
    df = QUERIES[name](spark, SF_ORACLE)
    compare(df, con, ORACLES[name], name)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    # > 0, not >= 0 (r14 sweep): the old assert was vacuously true for
    # any frame — a rows-only query that silently produced nothing would
    # pass. The set is empty today (every query has an oracle); this
    # guards the first future rows-only op against the green-on-empty
    # class. A legitimately-empty-at-smoke-SF op must allowlist itself
    # here with a reason, like EMPTY_OK in oracle_harness.
    assert df.count() > 0, f"{name}: rows-only query returned 0 rows"


def test_canon_pairing_is_permutation_invariant():
    """The harness sorts both frames by stringified values before the
    cell-wise compare; a permuted frame with duplicate rows and float
    columns must compare equal to itself (deterministic pairing)."""
    from tests.oracle_harness import compare

    class FakeSparkDF:
        def __init__(self, pdf):
            self._pdf = pdf

        def toPandas(self):
            return self._pdf

    pdf = pd.DataFrame(
        {"k": [1, 1, 2, 2, 3], "v": [10.0, 10.0, 9.5, -0.5, float("nan")]}
    )
    con = duckdb.connect()
    con.register("t", pdf.sample(frac=1.0, random_state=7))
    compare(FakeSparkDF(pdf), con, "SELECT k, v FROM t", "perm_invariance")


def test_canon_mismatch_still_fails():
    from tests.oracle_harness import compare

    class FakeSparkDF:
        def __init__(self, pdf):
            self._pdf = pdf

        def toPandas(self):
            return self._pdf

    pdf = pd.DataFrame({"k": [1, 2], "v": [10.0, 9.5]})
    con = duckdb.connect()
    con.register("t", pdf)
    with pytest.raises(AssertionError):
        compare(
            FakeSparkDF(pd.DataFrame({"k": [1, 2], "v": [10.0, 9.6]})),
            con,
            "SELECT k, v FROM t",
            "mismatch",
        )
