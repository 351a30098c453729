"""t2-style correctness: every queries() entry vs its DuckDB oracle at
sf0.01 (the driver's gate, run locally at the same SF), the comparison
harness's own pairing contract, and the operators rewritten for speed
(packed keys, bitmap splits, fixed-point sums) against their native or
decimal form on the edge domains their encodings touch."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import Row, functions as F

import __spark_entry__ as entry_mod
from data_iceberg_sandbox_spark.sources.registry import pin_table
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


def _cube_multiset(df):
    rows = [
        (r["l_returnflag"], r["l_linestatus"], r["n"], r["sum_qty"])
        for r in df.collect()
    ]
    return sorted(rows, key=str)


def _native_cube_multiset(li):
    return _cube_multiset(
        li.cube("l_returnflag", "l_linestatus").agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


def test_cube_packed_key_roundtrips_unicode_and_empty(spark, tmp_path):
    """The r14 packed-codepoint group key must round-trip every
    SINGLE-codepoint value exactly — including non-ASCII (codepoint >
    255, where a byte-packed key would collide across column halves)
    and the empty string (ascii('')==0 would alias chr(0)) — and keep
    NULL its own group. Multiset equals native .cube on such a domain."""
    from data_iceberg_sandbox_spark.operators.advanced import cube_counts

    sf_fake = str(tmp_path / "sf_cube_uni")
    os.makedirs(sf_fake, exist_ok=True)
    li = spark.createDataFrame(
        [
            Row(l_returnflag="é", l_linestatus="F", l_quantity=1.0),
            Row(l_returnflag="€", l_linestatus="", l_quantity=2.0),
            Row(l_returnflag="", l_linestatus="€", l_quantity=4.0),
            Row(l_returnflag=None, l_linestatus="é", l_quantity=8.0),
            Row(l_returnflag="\x00", l_linestatus=None, l_quantity=16.0),
            Row(l_returnflag="é", l_linestatus="F", l_quantity=32.0),
        ],
        "l_returnflag string, l_linestatus string, l_quantity double",
    )
    pin_table(spark, sf_fake, "lineitem", li)
    assert _cube_multiset(cube_counts(spark, sf_fake)) == _native_cube_multiset(li)


def test_cube_counts_null_domain_matches_native(spark, tmp_path):
    """Genuine NULL grouping values must survive the one-shuffle rewrite
    as their own groups — output multiset equals native .cube."""
    from data_iceberg_sandbox_spark.operators.advanced import cube_counts

    sf_fake = str(tmp_path / "sf_cube_null")
    os.makedirs(sf_fake, exist_ok=True)
    li = spark.createDataFrame(
        [
            Row(l_returnflag="A", l_linestatus="F", l_quantity=1.0),
            Row(l_returnflag="A", l_linestatus=None, l_quantity=2.0),
            Row(l_returnflag=None, l_linestatus="F", l_quantity=4.0),
            Row(l_returnflag=None, l_linestatus=None, l_quantity=8.0),
            Row(l_returnflag="R", l_linestatus="O", l_quantity=16.0),
        ],
        "l_returnflag string, l_linestatus string, l_quantity double",
    )
    pin_table(spark, sf_fake, "lineitem", li)
    assert _cube_multiset(cube_counts(spark, sf_fake)) == _native_cube_multiset(li)


def test_cube_counts_empty_input_matches_native(spark, tmp_path):
    """Empty input → one grand-total row with n=0, the SQL-standard /
    DuckDB-oracle shape, not (NULL, NULL, NULL, NULL). (Spark's native
    .cube returns ZERO rows on empty input — a known divergence from
    the standard; the oracle is the gate, so we match DuckDB.)"""
    from data_iceberg_sandbox_spark.operators.advanced import cube_counts

    sf_fake = str(tmp_path / "sf_cube_empty")
    os.makedirs(sf_fake, exist_ok=True)
    li = spark.createDataFrame(
        [], "l_returnflag string, l_linestatus string, l_quantity double"
    )
    pin_table(spark, sf_fake, "lineitem", li)
    got = cube_counts(spark, sf_fake).collect()
    assert len(got) == 1
    r = got[0]
    assert (
        r["l_returnflag"] is None
        and r["l_linestatus"] is None
        and r["n"] == 0
        and r["sum_qty"] is None
    )



def test_multi_distinct_bitmap_split_matches_expand_form(spark, tmp_path):
    """The r14 bitmap-split rewrite of multi_distinct_agg must equal
    the native Expand form on the domains its encoding touches:
    negative keys, keys straddling the 32768-bucket boundary, NULL keys
    (COUNT(DISTINCT) excludes them), a NULL flag group (the eqNullSafe
    rejoin must keep it), and NULL quantities."""
    from data_iceberg_sandbox_spark.operators.advanced import (
        multi_distinct_agg,
    )

    sf_fake = str(tmp_path / "sf_mdist")
    os.makedirs(sf_fake, exist_ok=True)
    li = spark.createDataFrame(
        [
            # flag, partkey, suppkey, orderkey, quantity
            ("A", -5, 1, 32767, 1.0),
            ("A", -5, 2, 32768, 2.5),
            ("A", 32768, None, 32769, None),
            ("A", 0, 1, None, 4.0),
            (None, 7, 7, 7, 8.0),
            (None, 7, 8, 7, 16.0),
            ("B", None, None, None, 0.0),
        ],
        "l_returnflag string, l_partkey long, l_suppkey long,"
        " l_orderkey long, l_quantity double",
    )
    pin_table(spark, sf_fake, "lineitem", li)
    expand = sorted(
        (
            tuple(r)
            for r in li.groupBy("l_returnflag")
            .agg(
                F.countDistinct("l_partkey").alias("n_parts"),
                F.countDistinct("l_suppkey").alias("n_supps"),
                F.countDistinct("l_orderkey").alias("n_orders"),
                F.sum(F.col("l_quantity").cast("decimal(18,4)"))
                .cast("double")
                .alias("sum_qty"),
            )
            .collect()
        ),
        key=str,
    )
    got = sorted(
        (tuple(r) for r in multi_distinct_agg(spark, sf_fake).collect()),
        key=str,
    )
    assert got == expand


def test_q20_fixed_point_matches_decimal_form(spark, tmp_path):
    """q20's r14 fixed-point BIGINT aggregate must reproduce the
    decimal formulation bit-for-bit on cents-exact quantities,
    including values whose double representation sits just under the
    true cent (12.34*100 == 1233.9999...) and shares at the 0.15
    boundary."""
    from data_iceberg_sandbox_spark.operators.tpch2 import (
        q20_volume_share_suppliers,
    )
    from pyspark.sql import Window as W

    sf_fake = str(tmp_path / "sf_q20")
    os.makedirs(sf_fake, exist_ok=True)
    li = spark.createDataFrame(
        [
            # part 1: supplier 1 exactly 15% (excluded by >), 2 the rest
            (1, 1, 1.5),
            (1, 2, 8.5),
            # part 2: fractional cents-exact quantities, two rows per
            # (pk,sk) so the group sum matters
            (2, 1, 12.34),
            (2, 1, 0.01),
            (2, 2, 3.3),
            (2, 3, 0.05),
            # part 3: single supplier owns 100%
            (3, 9, 49.99),
        ],
        "l_partkey long, l_suppkey long, l_quantity double",
    )
    sup = spark.createDataFrame(
        [(1, "s1"), (2, "s2"), (3, "s3"), (9, "s9")],
        "s_suppkey long, s_name string",
    )
    pin_table(spark, sf_fake, "lineitem", li)
    pin_table(spark, sf_fake, "supplier", sup)

    vol = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty"))
    )
    total = F.sum("qty").over(W.partitionBy("l_partkey"))
    share = F.col("qty").cast("double") / total.cast("double")
    big = vol.withColumn("share", F.round(share, 6)).filter(
        F.col("share") > 0.15
    )
    old = big.join(sup, big.l_suppkey == sup.s_suppkey).select(
        F.col("l_partkey").alias("p_partkey"),
        "s_suppkey",
        "s_name",
        F.col("qty").cast("double").alias("qty"),
        "share",
    )
    expect = sorted((tuple(r) for r in old.collect()), key=str)
    got = sorted(
        (
            tuple(r)
            for r in q20_volume_share_suppliers(spark, sf_fake).collect()
        ),
        key=str,
    )
    assert got == expect
    assert len(got) == 4  # 15%-boundary supplier excluded, others in


def test_weighted_median_packed_key_roundtrips_flag_domain(spark, tmp_path):
    """The r14 packed-key weighted median must equal the ORACLE's
    window-only formulation on the flag domains the packing encodes:
    non-ASCII codepoints, the empty string, \\x00 and NULL flags
    (NULL-price rows are the documented sentinel bet and excluded
    here, as in percentile_prices). The reference below mirrors the
    DuckDB oracle (cum and tot both as windows, NO join) — the packing
    rework also FIXED a latent NULL-flag drop: the previous two-column
    form attached totals with a USING join on l_returnflag, which
    silently dropped a NULL-flag group the oracle keeps (never fired
    on TPC-H data; the packed _fk join key has no NULLs by
    construction)."""
    from data_iceberg_sandbox_spark.operators.advanced import (
        weighted_median_price,
    )
    from data_iceberg_sandbox_spark.functions.money import fixed
    from pyspark.sql import Window as W

    sf_fake = str(tmp_path / "sf_wmed")
    os.makedirs(sf_fake, exist_ok=True)
    li = spark.createDataFrame(
        [
            ("é", 10.00, 3.0),
            ("é", 20.00, 1.0),
            ("€", 5.50, 2.0),
            ("", 7.25, 4.0),
            (None, 1.00, 1.0),
            ("\x00", 2.00, 5.0),
            ("é", 10.00, 2.0),
        ],
        "l_returnflag string, l_extendedprice double, l_quantity double",
    )
    pin_table(spark, sf_fake, "lineitem", li)

    hist = (
        li.select(
            "l_returnflag",
            fixed("l_extendedprice").alias("pfp"),
            fixed("l_quantity", 0).alias("qty"),
        )
        .groupBy("l_returnflag", "pfp")
        .agg(F.sum("qty").alias("w"))
    )
    win = W.partitionBy("l_returnflag").orderBy("pfp")
    cum = hist.withColumn("cum", F.sum("w").over(win)).withColumn(
        "tot", F.sum("w").over(W.partitionBy("l_returnflag"))
    )
    twocol = (
        cum.groupBy("l_returnflag")
        .agg(
            F.max("tot").alias("total_weight"),
            (
                F.min(
                    F.when(F.col("cum") * 2 >= F.col("tot"), F.col("pfp"))
                ).cast("double")
                / F.lit(100.0)
            ).alias("wmedian_price"),
        )
        .orderBy("l_returnflag")
    )
    expect = sorted((tuple(r) for r in twocol.collect()), key=str)
    got = sorted(
        (tuple(r) for r in weighted_median_price(spark, sf_fake).collect()),
        key=str,
    )
    assert got == expect


def test_q17_fixed_point_window_matches_decimal_form(spark, tmp_path):
    """q17's r14 fixed-point window sums must reproduce the decimal
    formulation bit-for-bit on cents-exact quantities/prices, including
    rows exactly AT the 0.5*avg boundary (excluded by <) and doubles
    whose cents product sits just under the true integer."""
    from data_iceberg_sandbox_spark.operators.tpch2 import (
        q17_small_quantity,
    )
    from pyspark.sql import Window as W

    sf_fake = str(tmp_path / "sf_q17")
    os.makedirs(sf_fake, exist_ok=True)
    li = spark.createDataFrame(
        [
            # part 1: avg qty = 2.0 -> boundary row qty=1.0 == 0.5*avg
            # is EXCLUDED by the strict <; qty=0.99 is included
            (1, 1.00, 100.10),
            (1, 3.00, 200.20),
            (1, 0.99, 12.34),
            (1, 3.01, 5.00),
            # part 2: fractional quantities whose double*100 sits just
            # under the integer (12.34*100 = 1233.9999...)
            (2, 12.34, 999.99),
            (2, 0.01, 0.01),
        ],
        "l_partkey long, l_quantity double, l_extendedprice double",
    )
    pin_table(spark, sf_fake, "lineitem", li)

    w = W.partitionBy("l_partkey")
    avg_qty = F.sum(F.col("l_quantity").cast("decimal(12,2)")).over(w).cast(
        "double"
    ) / F.count(F.lit(1)).over(w)
    old = (
        li.select("l_quantity", "l_extendedprice", avg_qty.alias("avg_qty"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast(
                    "double"
                )
                / 7.0,
                4,
            ).alias("avg_yearly")
        )
    )
    expect = [tuple(r) for r in old.collect()]
    got = [tuple(r) for r in q17_small_quantity(spark, sf_fake).collect()]
    assert got == expect
    # the boundary row must have been excluded: surviving revenue is
    # part 1's qty=0.99 row (price 12.34) + part 2's qty=0.01 row
    # (price 0.01)
    assert got[0][0] == round((12.34 + 0.01) / 7.0, 4)


def test_fraud_threshold_grid_aligned_decimal(spark, tmp_path):
    """thr quantization must floor the DECIMAL rendering, not the float
    product: at threshold=0.0003 (float*1e4 = 2.9999…) a group summing
    exactly 0.0003 must be EXCLUDED (strict >), matching the oracle's
    `> 0.0003` decimal literal; 0.0004 must be included. The streaming
    MV drained from the same pinned events agrees with the batch at
    both thresholds."""
    from datetime import datetime

    from data_iceberg_sandbox_spark.operators.fraud import fraud_alerts
    from data_iceberg_sandbox_spark.streaming.fraud_stream import (
        run_fraud_alerts_stream,
    )

    sf_fake = str(tmp_path / "sf_fraud_grid")
    os.makedirs(sf_fake, exist_ok=True)
    ts = datetime(2026, 1, 1, 0, 0, 30)
    ev = spark.createDataFrame(
        [
            Row(ts=ts, user_id=1, value=0.0003),  # == threshold: excluded
            Row(ts=ts, user_id=2, value=0.0004),  # > threshold: included
        ],
        "ts timestamp, user_id bigint, value double",
    )
    pin_table(spark, sf_fake, "events", ev)
    # off-grid 0.00025 still floors down (r12 behavior preserved)
    for thr, want in ((0.0003, {2}), (0.00025, {1, 2})):
        got = {r["user_id"] for r in fraud_alerts(spark, sf_fake, thr).collect()}
        assert got == want
        mv = run_fraud_alerts_stream(
            spark, sf_fake, str(tmp_path / f"mv_{thr}"), thr, n_files=2
        )
        assert {r["user_id"] for r in mv.read().collect()} == want


def test_per_flag_distinct_bitmap_exact(spark):
    """The bitmap form of the shared exact-distinct helper: exact on
    negative/boundary keys, and an unexpected flag value shows up as
    its own row (loud) instead of requiring a closed domain."""
    from data_iceberg_sandbox_spark.functions.distinct import (
        per_flag_distinct,
    )

    rows = [
        ("A", -70000), ("A", -32769), ("A", -32768), ("A", -1), ("A", -1),
        ("A", 0), ("A", 32768), ("N", 0), ("N", 0), ("N", 7),
        ("ZZ", 1), ("ZZ", 1), ("ZZ", 2),
    ]
    df = spark.createDataFrame(rows, "flag string, k long")
    got = {
        r["flag"]: r["n"]
        for r in per_flag_distinct(df, "flag", "k", ("A", "N"), out="n").collect()
    }
    want = {
        r["flag"]: r["n"]
        for r in df.groupBy("flag")
        .agg(F.countDistinct("k").alias("n"))
        .collect()
    }
    assert got == want == {"A": 6, "N": 2, "ZZ": 2}


def test_agg_approx_band_is_a_real_instrument(spark):
    """The mean±sd band that grades the median sketch must actually be able to FAIL — a garbage 'median' value
    outside the band yields False (the replaced same-sketch IQR check
    was monotone-by-construction and could never fire)."""
    from data_iceberg_sandbox_spark.sources.registry import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    pd_ = F.col("l_extendedprice").cast("double")
    m = li.groupBy("l_returnflag").agg(
        (F.sum(pd_) / F.count(pd_)).alias("mean_p"),
        F.sqrt(
            F.greatest(
                F.sum(pd_ * pd_) / F.count(pd_)
                - (F.sum(pd_) / F.count(pd_)) * (F.sum(pd_) / F.count(pd_)),
                F.lit(0.0),
            )
        ).alias("sd_p"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("ap50"),
    )
    rows = m.collect()
    assert rows
    for r in rows:
        lo, hi = r["mean_p"] - r["sd_p"], r["mean_p"] + r["sd_p"]
        assert lo <= r["ap50"] <= hi  # real sketch passes
        assert not (lo <= 0.0 <= hi)  # garbage value fails
        assert not (lo <= 10 * r["mean_p"] <= hi)


def test_pca_degenerate_corpora(spark, tmp_path):
    """Empty corpus → zero rows (oracle parity); all-zero
    corpus → 64 NULL loadings (the oracle's 0/0 normalization is NULL),
    not ZeroDivisionError."""
    from data_iceberg_sandbox_spark.operators.similarity import (
        DIM,
        embedding_pca_power_iteration,
    )

    sf_a = str(tmp_path / "pca_empty")
    os.makedirs(sf_a, exist_ok=True)
    pin_table(
        spark, sf_a, "embeddings",
        spark.createDataFrame([], "vec_id bigint, embedding array<float>"),
    )
    assert embedding_pca_power_iteration(spark, sf_a).count() == 0

    sf_b = str(tmp_path / "pca_zero")
    os.makedirs(sf_b, exist_ok=True)
    pin_table(
        spark, sf_b, "embeddings",
        spark.createDataFrame(
            [Row(vec_id=i, embedding=[0.0] * DIM) for i in range(3)],
            "vec_id bigint, embedding array<float>",
        ),
    )
    rows = embedding_pca_power_iteration(spark, sf_b).collect()
    assert len(rows) == DIM
    assert all(r["loading"] is None for r in rows)


def test_interval_tiers_cover_values_past_old_cap(spark, tmp_path):
    """Values >= 500 (real data reaches 560.21) were
    silently dropped from every tier on BOTH engines; the top tier is
    now open-ended and the fact bucket clamps into it."""
    from datetime import datetime

    from data_iceberg_sandbox_spark.operators.timeseries import (
        interval_join_value_tiers,
    )

    sf_fake = str(tmp_path / "tiers_sf")
    os.makedirs(sf_fake, exist_ok=True)
    ts = datetime(2026, 1, 1)
    ev = spark.createDataFrame(
        [
            Row(event_id=1, ts=ts, user_id=1, event_type="click", value=10.0, props="{}"),
            Row(event_id=2, ts=ts, user_id=2, event_type="click", value=499.99, props="{}"),
            Row(event_id=3, ts=ts, user_id=3, event_type="click", value=560.21, props="{}"),
            Row(event_id=4, ts=ts, user_id=4, event_type="click", value=1e6, props="{}"),
        ]
    )
    pin_table(spark, sf_fake, "events", ev)
    got = {r["tier"]: r["n_events"] for r in interval_join_value_tiers(spark, sf_fake).collect()}
    assert got.get("whale") == 3  # 499.99, 560.21, 1e6 all counted
    assert got.get("micro") == 1
    assert sum(got.values()) == 4  # exhaustive: nothing silently dropped
