"""TPC-H-style analytical queries over the driver testdata.

The reference's interactive-SQL surface (Trino/spark-sql/PyIceberg,
SURVEY §3.3) is exercised here with the classic analytical shapes the
testdata's star schema supports — these are also the bench headliners.

Determinism: revenue expressions are exact fixed-point BIGINT sums
(functions/money.py — cents × milli-rates, whole-stage-codegen long
arithmetic; Spark's decimal-product sum leaves the primitive fast path
and measured ~2× slower). The DuckDB oracles keep the equivalent
bounded-precision DECIMAL formulation — price → DECIMAL(12,2),
discount/tax → DECIMAL(4,3) — and every query is hash-checked
bit-equal against it; the final cast to DOUBLE is the single lossy
step and is identical on both sides (exactness bounds in money.py).
q1's two-rate ``charge`` product would exceed the scale-5 BIGINT
headroom, so it pre-aggregates by the ~9 distinct tax classes in
BIGINT and combines the 54 per-class sums in DECIMAL — unbounded
headroom, negligible cost.

Scale notes: q1 is a 6-group hash agg → pure map-side combine; q3/q5/q10
join filtered fact partitions against dims. The reference-fixed
nation/region dims fold into literals (`_inline_nations`); every
data-scaled join carries no hint, so Spark picks its strategy — a
static broadcast under ``autoBroadcastJoinThreshold``, and above it AQE
re-plans from the shuffle sizes it observes at runtime. Top-k uses
TakeOrderedAndProject, never a full sort.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.money import fixed, unscale
from ..sources.registry import load_table
from .spec import QuerySpec

PRICE = "decimal(12,2)"
RATE = "decimal(4,3)"


def _disc_price_fixed():
    """Per-row revenue in exact scale-5 fixed point: cents × (1000 −
    discount-milli). BIGINT throughout → codegen long math; bounds in
    functions/money.py."""
    return fixed(F.col("l_extendedprice"), 2) * (
        F.lit(1000) - fixed(F.col("l_discount"), 3)
    )


def _sum_rev(alias: str):
    """Σ disc_price as the bit-identical DOUBLE of the decimal oracle."""
    return unscale(F.sum(_disc_price_fixed()), 5).alias(alias)


def q1_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    li = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    # Two-level exact agg: the heavy pass groups by (flag, status, tax
    # class) — ~54 groups — with all sums in BIGINT fixed point; the
    # final pass applies the per-class (1000 + tax_milli) charge factor
    # in DECIMAL over those 54 rows (exact, unbounded headroom) and
    # recombines. charge = Σ_t (1000+t)·Σ_rows[t] cents·(1000−d) at
    # scale 8; the DECIMAL multiply-by-1e-8 shifts scale without
    # rounding, so the DOUBLE emit is the same single rounding as the
    # one-level decimal formulation the oracle runs.
    # Group the heavy 6M-row pass on ONE packed BIGINT key instead of
    # the two CHAR(1) strings: Spark's whole-stage-codegen fast hash map
    # (vectorized two-level map) only engages for primitive key types —
    # string keys fall back to the UnsafeRow hash map, measured 1.7×
    # slower on this exact shape at sf1 (0.234 s vs 0.139 s for the
    # minimal groupBy-sum). l_returnflag/l_linestatus are CHAR(1) by
    # TPC-H spec (flag ∈ {A,N,R}, status ∈ {F,O}); the 54-row regroup
    # reconstructs the strings with char(). A corpus that violated
    # CHAR(1) would merge/rename groups and hash-mismatch the oracle —
    # loud at the driver gate, never silent.
    pre = (
        li.groupBy(
            (F.ascii("l_returnflag") * 256 + F.ascii("l_linestatus")).alias("_fs"),
            fixed(F.col("l_tax"), 3).alias("_tm"),
        )
        .agg(
            F.sum(fixed(F.col("l_quantity"), 2)).alias("_sq"),
            F.sum(fixed(F.col("l_extendedprice"), 2)).alias("_sp"),
            F.sum(_disc_price_fixed()).alias("_sd"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    # Exact integer sum at scale 8, then cast-to-double + ONE division
    # by an exactly-representable 1e8 (the spec.py determinism
    # convention). The previous (× DECIMAL 1e-8).cast(double) emit
    # matched DuckDB at sf≤0.1 but drifted 1 ulp on one group at sf1:
    # decimal-scaled→double conversion paths differ between engines,
    # while integer→double is correctly rounded in both.
    charge_dec = F.sum(
        F.col("_sd").cast("decimal(28,0)") * (F.lit(1000) + F.col("_tm"))
    ).cast("double") / F.lit(1e8)
    return (
        pre.groupBy("_fs")
        .agg(
            unscale(F.sum("_sq"), 2).alias("sum_qty"),
            unscale(F.sum("_sp"), 2).alias("sum_base_price"),
            unscale(F.sum("_sd"), 5).alias("sum_disc_price"),
            charge_dec.alias("sum_charge"),
            (unscale(F.sum("_sq"), 2) / F.sum("_n")).alias("avg_qty"),
            (unscale(F.sum("_sp"), 2) / F.sum("_n")).alias("avg_price"),
            F.sum("_n").alias("count_order"),
        )
        .select(
            F.char(F.col("_fs") / 256).alias("l_returnflag"),
            F.char(F.col("_fs") % 256).alias("l_linestatus"),
            "sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
            "avg_qty", "avg_price", "count_order",
        )
    )


Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3)))) AS DOUBLE)
    AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3)))
        * (CAST(1 AS DECIMAL(4,3)) + CAST(l_tax AS DECIMAL(4,3)))) AS DOUBLE)
    AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    # Join the segment-filtered customer dim into orders BEFORE the
    # orderkey shuffle: the exchange then carries ~1/5 of orders (and
    # only the three columns the agg needs) instead of the whole table.
    o_f = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    # Group by l_orderkey ALONE: o_orderdate/o_orderpriority are
    # functionally dependent on it (order attributes), which Catalyst
    # cannot prove from a 3-column key — carried via first() instead,
    # the aggregate's required distribution is satisfied by the join's
    # orderkey partitioning and the per-group agg exchange disappears.
    # The fact-fact join stays unhinted: it rides the pin's orderkey
    # co-partitioning as a sort-merge join, one job fewer than
    # broadcasting the orders subset. A broadcast hint still measured
    # faster at sf0.1/sf1 on 4 cores (plans/ab_ladder_vs_aqe.json), but
    # nothing bounds its build at scale; AQE's runtime sizing does.
    return (
        li.join(o_f, li.l_orderkey == o_f.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.first("o_orderdate").alias("o_orderdate"),
            F.first("o_orderpriority").alias("o_orderpriority"),
            _sum_rev("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


Q3_ORACLE = """
SELECT l_orderkey,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3)))) AS DOUBLE)
    AS revenue,
  o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def _inline_nations(spark, sf_dir, region_name: str | None = None):
    """Reference-fixed dims inlined at plan build: ``nation`` (25 rows)
    and ``region`` (5 rows) keep those cardinalities at EVERY scale
    factor (TPC-H spec; the driver's datagen mirrors it), so collecting
    them once per plan build and folding them into a literal IN-list
    plus a literal nationkey→name lookup map is scale-safe by
    construction.
    This is the map-side dimension join without its broadcast-build job:
    the bench floor decomposition showed each build is a whole
    per-action floor payment (~40-60 ms local) for a ≤25-row dim.
    Returns ``fold_nations`` of the (region-filtered) nation table."""
    n = load_table(spark, sf_dir, "nation")
    if region_name is not None:
        r = load_table(spark, sf_dir, "region").filter(
            F.col("r_name") == region_name
        )
        n = n.join(r, n.n_regionkey == r.r_regionkey)
    return fold_nations(n)


def fold_nations(n):
    """Collect the ``nation`` frame ``n`` (at most 25 rows) and fold it:
    (sorted nationkeys, name dict, literal nationkey→name map column)."""
    rows = sorted(
        n.select("n_nationkey", "n_name").collect(),
        key=lambda row: row["n_nationkey"],
    )
    keys = [row["n_nationkey"] for row in rows]
    names = {row["n_nationkey"]: row["n_name"] for row in rows}
    nmap = F.create_map(
        *[F.lit(x) for row in rows for x in (row["n_nationkey"], row["n_name"])]
    )
    return keys, names, nmap


def q5_local_supplier_volume(spark, sf_dir):
    """Revenue per nation where customer and supplier share the nation.
    nation⋈region fold into literal predicates (`_inline_nations`):
    6 jobs → 4, same bit-exact result vs the join-form oracle."""
    keys, _, nmap = _inline_nations(spark, sf_dir, region_name="ASIA")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(keys)
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey").isin(keys)
    )
    # Same scale lever as q7: join the pruned dims into their facts
    # FIRST (orders is already date-filtered; the region's customers cut
    # it to a few %, the region's suppliers cut lineitem to ~1/5), THEN
    # shuffle-join the two reduced facts on orderkey with the
    # same-nation predicate riding on the join. Inner equi-joins
    # commute, so the result is unchanged; the orderkey exchange moves
    # ~10x fewer bytes.
    li_f = li.join(s, li.l_suppkey == s.s_suppkey).select(
        "l_orderkey", "l_extendedprice", "l_discount", "s_nationkey"
    )
    o_f = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_nationkey")
    return (
        # Measured-and-rejected alternative (r13): joining on orderkey
        # ALONE with the same-nation equality as a post-join filter —
        # meant to let the pin's orderkey co-partitioning skip the
        # exchange — ran 1.9 s vs 1.3 s pinned at sf10: the exchange
        # was not eliminated either way, and the single-key join's
        # larger pre-filter output (~3.6M rows) made it strictly worse.
        # The two-key form below stands; its floor is the reduced-fact
        # orderkey SMJ itself.
        li_f.join(
            o_f,
            (li_f.l_orderkey == o_f.o_orderkey)
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("c_nationkey")
        .agg(
            _sum_rev("revenue")
        )
        .select(F.element_at(nmap, F.col("c_nationkey")).alias("nation"), "revenue")
    )


Q5_ORACLE = """
SELECT n_name AS nation,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3)))) AS DOUBLE)
    AS revenue
FROM customer JOIN orders   ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              JOIN nation   ON c_nationkey = n_nationkey
              JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q6_forecast_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            unscale(
                F.sum(
                    fixed(F.col("l_extendedprice"), 2)
                    * fixed(F.col("l_discount"), 3)
                ),
                5,
            ).alias("revenue")
        )
    )


Q6_ORACLE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(l_discount AS DECIMAL(4,3))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
"""


def q10_returned_items(spark, sf_dir):
    """Top-20 customers by revenue lost to returns (l_returnflag='R').
    The nation name lookup folds to a literal map (`_inline_nations`):
    grouping moves to c_nationkey (1:1 with n_name), one fewer
    broadcast-build job, bit-exact vs the join-form oracle."""
    _, _, nmap = _inline_nations(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    # Top-k pushdown: the grouping keys (c_custkey, c_name, c_nationkey)
    # are 1:1 with o_custkey, so aggregate revenue by o_custkey and take
    # the top 20 (same tiebreak) BEFORE touching the customer table —
    # the name/nation lookup then joins 20 rows by broadcast instead of
    # dragging every customer's name through the shuffle and agg.
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(_sum_rev("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_custkey"))
        .limit(20)
    )
    return (
        c.join(F.broadcast(rev), rev.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.element_at(nmap, F.col("c_nationkey")).alias("nation"),
            "revenue",
        )
    )


Q10_ORACLE = """
SELECT c_custkey, c_name, n_name AS nation,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3)))) AS DOUBLE)
    AS revenue
FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


SPECS: list[QuerySpec] = [
    QuerySpec("tpch_q1_pricing_summary", q1_pricing_summary, Q1_ORACLE),
    QuerySpec("tpch_q3_shipping_priority", q3_shipping_priority, Q3_ORACLE),
    QuerySpec("tpch_q5_local_supplier", q5_local_supplier_volume, Q5_ORACLE),
    QuerySpec("tpch_q6_forecast_revenue", q6_forecast_revenue, Q6_ORACLE),
    QuerySpec("tpch_q10_returned_items", q10_returned_items, Q10_ORACLE),
]
