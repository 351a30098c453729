"""Second batch of TPC-H-style shapes, adapted to the driver schema
(no partsupp / shipmode / container columns — substitutions noted per
query). Exercises correlated scalar subqueries, windowed top-1 over an
aggregate, cross-nation join constellations and anti-join + scalar-
subquery combinations through the same decimal-exact conventions.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.money import fixed, unscale
from ..sources.registry import load_table
from .spec import QuerySpec

PRICE = "decimal(12,2)"
RATE = "decimal(4,3)"


def _rev(price, disc):
    return price.cast(PRICE) * (F.lit(1).cast(RATE) - disc.cast(RATE))


def q7_volume_shipping(spark, sf_dir):
    """Q7 shape: revenue by (supplier nation, customer nation, year) for
    two nations' bilateral trade. The two nation-role joins fold into
    literal key predicates + a literal name map (tpch._inline_nations —
    nation is reference-fixed at 25 rows for every SF): the bilateral
    pair filter pushes onto the customer/supplier scans as key IN-lists,
    two broadcast-build jobs disappear, result bit-exact vs the
    join-form oracle."""
    from .tpch import _inline_nations, _sum_rev

    _, names, nmap = _inline_nations(spark, sf_dir)
    key_of = {v: k for k, v in names.items()}
    k1, k2 = key_of["NATION_1"], key_of["NATION_2"]
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin([k1, k2])
    )
    s = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey").isin([k1, k2])
    )
    pair = ((F.col("s_nationkey") == k1) & (F.col("c_nationkey") == k2)) | (
        (F.col("s_nationkey") == k2) & (F.col("c_nationkey") == k1)
    )
    # Join order is the scale lever here: join the nation-pruned dims
    # into their facts FIRST (each fact drops to ~2/25 of its
    # rows), THEN shuffle-join the two reduced facts on orderkey —
    # ~12x less shuffle volume than lineitem><orders-first, and the
    # width of the exchange is trimmed to the five columns the agg
    # needs. Inner equi-joins commute, so the result is unchanged.
    # Every join is unhinted: Spark broadcasts the dims while they sit
    # under autoBroadcastJoinThreshold and AQE re-plans the larger ones
    # from runtime shuffle sizes.
    li_f = li.join(s, li.l_suppkey == s.s_suppkey).select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount",
        "s_nationkey",
    )
    o_f = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_nationkey")
    return (
        li_f.join(o_f, li_f.l_orderkey == o_f.o_orderkey)
        .filter(pair)
        .groupBy(
            "s_nationkey", "c_nationkey", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            # exact fixed-point sum (tpch._sum_rev — one definition of
            # the scale-5 revenue algebra; headline-hot, bit-equal to
            # the decimal oracle, ~2× faster agg)
            _sum_rev("revenue")
        )
        .select(
            F.element_at(nmap, F.col("s_nationkey")).alias("supp_nation"),
            F.element_at(nmap, F.col("c_nationkey")).alias("cust_nation"),
            "l_year",
            "revenue",
        )
    )


Q7_ORACLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3)))) AS DOUBLE)
         AS revenue
FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def q8_market_share(spark, sf_dir):
    """Q8 shape: a nation's share of revenue within its region's market,
    by year (p_retailprice band substitutes the part-type filter).

    Scale shape (reworked r11 — the naive left-deep chain measured
    17.7 s / 33× DuckDB at sf10 in the AQE-off bench regime): the q5/q7
    lever applied to a 6-table join. Every selective dim joins into its
    fact FIRST — the ASIA customers (region's ≤1/5, key column only)
    prune orders before the big join; the part band (one key column)
    and the supplier→nation literal map (25-entry `element_at`, no
    nation join at all) prune/annotate lineitem. The joins carry no
    hint: Spark broadcasts the dims while they are small and AQE
    re-plans them from runtime sizes past that. Only then do the two
    reduced facts meet on the ONE orderkey shuffle — which the keyed
    buffer-pool pin already co-partitions, so steady-state reads skip
    even that exchange.
    Inner equi-joins commute; bit-identical to the join-form oracle."""
    from .tpch import _inline_nations

    asia_keys, _, _ = _inline_nations(spark, sf_dir, region_name="ASIA")
    _, _, nmap_all = _inline_nations(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_retailprice") > 950)

    c_f = c.filter(F.col("c_nationkey").isin(asia_keys)).select("c_custkey")
    o_f = o.join(c_f, o.o_custkey == c_f.c_custkey).select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    s_map = s.select(
        "s_suppkey", F.element_at(nmap_all, F.col("s_nationkey")).alias("supp_nation")
    )
    # r14 optimization round: volume as the scale-5 fixed-point BIGINT
    # (tpch._disc_price_fixed, the q1/q3/q5/q7 path) instead of the
    # decimal product — the long rides the orderkey shuffle and sums in
    # codegen long math. Interleaved A/B at sf10 (/tmp/ab_q8_q17.json →
    # OPTIMIZATION_r14.md): min-of-7 2.004 → 1.302 s (−35%), 7/7
    # adjacent pairs. unscale emits the identical single-rounded DOUBLE
    # (bounds in functions/money.py); oracle unchanged.
    from .tpch import _disc_price_fixed

    li_f = (
        li.join(p.select("p_partkey"), li.l_partkey == p.p_partkey)
        .join(s_map, li.l_suppkey == s_map.s_suppkey)
        .select(
            "l_orderkey",
            _disc_price_fixed().alias("volume"),
            "supp_nation",
        )
    )
    vol = li_f.join(o_f, li_f.l_orderkey == o_f.o_orderkey)
    num = unscale(
        F.sum(
            F.when(
                F.col("supp_nation") == "NATION_3", F.col("volume")
            ).otherwise(F.lit(0).cast("bigint"))
        ),
        5,
    )
    den = unscale(F.sum("volume"), 5)
    return vol.groupBy("o_year").agg(
        F.round(num / den, 6).alias("mkt_share")
    )


Q8_ORACLE = """
WITH vol AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3))) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem JOIN part     ON l_partkey = p_partkey
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n1 ON c_nationkey = n1.n_nationkey
                JOIN nation n2 ON s_nationkey = n2.n_nationkey
                JOIN region   ON n1.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA' AND p_retailprice > 950)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,5)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM vol GROUP BY o_year
"""


def q15_top_supplier(spark, sf_dir):
    """Q15 shape: supplier(s) with maximum revenue over a quarter —
    the view + max() correlation expressed as a rank-1 window."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(_rev(F.col("l_extendedprice"), F.col("l_discount"))).alias("_r")
        )
    )
    # total-order top-1 via orderBy+limit (TakeOrderedAndProject — a
    # partition-parallel partial top-k): identical to the old
    # un-partitioned row_number window, which funneled the whole
    # supplier-grain frame through ONE sort task (r12 review)
    top = rev.orderBy(F.col("_r").desc(), F.col("l_suppkey")).limit(1)
    return top.join(s, top.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", F.col("_r").cast("double").alias("total_revenue")
    )


Q15_ORACLE = """
WITH rev AS (
  SELECT l_suppkey, sum(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3)))) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey),
top AS (SELECT *, row_number() OVER (ORDER BY r DESC, l_suppkey) AS rk FROM rev)
SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
FROM top JOIN supplier ON l_suppkey = s_suppkey WHERE rk = 1
"""


def q17_small_quantity(spark, sf_dir):
    """Q17 shape: revenue impact of small-quantity orders — lineitems
    below 50% of their part's average quantity.

    The correlated scalar subquery is a whole-partition WINDOW, not an
    agg+self-join (reworked r11: the join form paid the 60M-row partkey
    exchange TWICE — once into the aggregate, once to join it back —
    and measured 16 s / 20× DuckDB at sf10 with AQE off). `avg` over
    `partitionBy(l_partkey)` computes the per-part mean and leaves it
    ON the row: ONE exchange + one partition-local sort, and the
    arithmetic stays the oracle's — exact DECIMAL sum, one IEEE
    division. The avg never concentrates: parts are ~30 rows at every
    scale factor, so the window runs in bounded per-group state.

    Residual (r12, measured 2.8 s at sf10 vs DuckDB 0.84 s): the cost
    IS the single narrow fact exchange + partition sort — the
    agg-then-broadcast-join alternative re-pays the same 60M-row
    exchange to build the per-part averages (partkey partial agg
    cannot reduce: ~30 rows/key spread across 32 partitions leaves ~1
    row per key per partition) and adds a data-scaled 2M-row
    broadcast. Single-exchange window is the floor of this shape.

    r14 optimization round: both the window's per-part quantity sum
    and the final revenue sum move to fixed-point BIGINT (money.py) —
    interleaved A/B at sf10 (/tmp/ab_q17.json → OPTIMIZATION_r14.md):
    min-of-7 3.376 → 2.314 s (−31%), 5/7 adjacent pairs. Same plan
    shape (one exchange + one sort); the decimal window state was a
    third of the query."""
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_partkey")
    avg_qty = unscale(F.sum(fixed(F.col("l_quantity"), 2)).over(w), 2) / (
        F.count(F.lit(1)).over(w)
    )
    return (
        li.select("l_quantity", "l_extendedprice", avg_qty.alias("avg_qty"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(
                unscale(F.sum(fixed(F.col("l_extendedprice"), 2)), 2) / 7.0,
                4,
            ).alias("avg_yearly")
        )
    )


Q17_ORACLE = """
WITH a AS (
  SELECT l_partkey AS pk,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 4)
         AS avg_yearly
FROM lineitem JOIN a ON l_partkey = pk
WHERE l_quantity < 0.5 * avg_qty
"""


def q22_global_sales_opportunity(spark, sf_dir):
    """Q22 shape: acct-positive customers with no 1997 orders, grouped by
    nation bucket — anti join + scalar-subquery average. (Year-scoped:
    the testdata gives every customer *some* order, so the classic
    no-orders-ever predicate is vacuous at all SFs.)"""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast(PRICE)).cast("double") / F.count(F.lit(1))
        ).alias("ab")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    # r14 optimization pass: both anti-join rewrites MEASURED AND
    # REJECTED at sf10 (interleaved A/B, /tmp→OPTIMIZATION_r14.md):
    # broadcast of the projected 1997-order keys lost
    # 0.774 → 1.166 s min (rebuilding a 2.3M-key broadcast relation per
    # action costs more than the small SMJ it replaces — the
    # cohort_ltv r10 lesson reconfirmed); SHUFFLE_HASH on the key side
    # was a wash (0.818 vs 0.831 s min, old ahead 6/9 pairs). The
    # unhinted join stands: both inputs are narrow
    # single-year/above-average slices, and AQE picks the strategy at
    # real scale.
    no_orders = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return no_orders.groupBy((F.col("c_nationkey") % 5).alias("cntry_bucket")).agg(
        F.count("*").alias("numcust"),
        F.sum(F.col("c_acctbal").cast(PRICE)).cast("double").alias("totacctbal"),
    )


Q22_ORACLE = """
WITH ab AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS ab
  FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey % 5 AS cntry_bucket,
       count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer, ab
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1997-01-01'
                    AND o_orderdate <  TIMESTAMP '1998-01-01')
GROUP BY 1
"""


def q9_product_profit(spark, sf_dir):
    """Q9 shape: profit by supplier-nation and year. No partsupp table in
    this schema — supply cost is modeled as 60% of p_retailprice.

    The name filter uses a word from the generator's color vocabulary
    ("red" selects ~13% of parts); the TPC-H spec's '%green%' pattern is
    the same shape. A digit pattern like '%1%' matches ZERO parts in this
    word-based vocabulary and would make the query vacuously green."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    # Exact scale-5 BIGINT fixed point (functions/money.py): the decimal
    # product form (precision >= 11) sums on the BigDecimal slow path for
    # every surviving lineitem row — measured ~2x q9's whole agg at sf10.
    # l_quantity is integer-valued and retail/extprice are cents-exact
    # (asserted by the oracle hash match), so cents x milli-rate BIGINT
    # is the same exact rational the oracle's decimal sum carries.
    # Headroom: <=1.1e10/row -> ~8e8 rows per (nation, year) group.
    profit_fp = fixed("l_extendedprice", 2) * (
        F.lit(1000) - fixed("l_discount", 3)
    ) - fixed("p_retailprice", 2) * F.lit(600) * F.col("l_quantity").cast(
        "bigint"
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg(unscale(F.sum(profit_fp), 5).alias("sum_profit"))
    )


Q9_ORACLE = """
SELECT n_name AS nation, year(l_shipdate) AS o_year,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
         * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3)))
       - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.6 AS DECIMAL(4,3))
         * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
FROM lineitem JOIN part ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def q12_priority_shipping(spark, sf_dir):
    """Q12 shape: late-shipment counts split by high/low order priority
    over a year (l_shipmode absent — the priority split carries the
    conditional-aggregation shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy(
        F.year("l_shipdate").alias("ship_year")
    ).agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
    )


Q12_ORACLE = """
SELECT year(l_shipdate) AS ship_year,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
       AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
       AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY 1
"""


def q19_disjunctive_revenue(spark, sf_dir):
    """Q19 shape: revenue under an OR-of-ANDs predicate (brand ×
    quantity bands) — the disjunctive-pushdown stress test.

    r14: Catalyst cannot push any part of the OR to either side (every
    disjunct references both tables), so the single-side IMPLIED
    predicates are derived by hand — any surviving row has p_brand IN
    the three brands (p: ~2% of parts survive, small enough for Spark
    to broadcast instead of a fact-wide SMJ) and l_quantity BETWEEN the
    union bounds 1..30 (lineitem pre-filtered before the join; both
    predicates now reach the parquet scans as PushedFilters). The exact OR is still
    applied after the join, so the result set is unchanged — the
    pre-filters are implied by it. Measured sf10 (interleaved min-of-7,
    new ahead in 7/7 adjacent pairs): 5.453 s → 1.348 s (−75%, plan
    SortMergeJoin → BroadcastHashJoin; sf10 rows identical, sf0.01
    oracle hash-exact)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    joined = li.join(p, li.l_partkey == p.p_partkey)
    pred = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("l_quantity").between(20, 30)))
    )
    return joined.filter(pred).agg(
        F.sum(_rev(F.col("l_extendedprice"), F.col("l_discount")))
        .cast("double")
        .alias("revenue")
    )


Q19_ORACLE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
         * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3)))) AS DOUBLE)
         AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)
"""


def q2_cheapest_supplier(spark, sf_dir):
    """Q2 shape: per part, the supplier offering its minimum observed
    price (correlated MIN subquery → per-part min join; lineitem stands
    in for partsupp). Tie-break on s_suppkey."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    # ONE explicit partkey exchange feeds everything downstream
    # (reworked r11: the agg→agg→join-back chain re-shuffled the
    # near-fact-sized (partkey,suppkey) offers frame three more times
    # and measured 11.6 s at sf10). hashpartitioning(partkey) satisfies
    # the (partkey,suppkey) grouping (subset rule), the per-part MIN
    # window, and the final per-part argmin group — all partition-local
    # after this single shuffle. Supplier names ride a broadcast.
    offers = (
        li.repartition(F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice").cast(PRICE)).alias("best_price"))
    )
    min_price = F.min("best_price").over(W.partitionBy("l_partkey"))
    best = (
        offers.withColumn("min_price", min_price)
        .filter(F.col("best_price") == F.col("min_price"))
        .groupBy("l_partkey")
        .agg(
            F.min("l_suppkey").alias("l_suppkey"),
            F.min("min_price").cast("double").alias("min_price"),
        )
    )
    return best.join(s, best.l_suppkey == s.s_suppkey).select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("s_suppkey"),
        "s_name",
        "min_price",
    )


Q2_ORACLE = """
WITH offers AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(l_extendedprice AS DECIMAL(12,2))) AS best_price
  FROM lineitem GROUP BY l_partkey, l_suppkey),
part_min AS (
  SELECT l_partkey AS pk, min(best_price) AS min_price FROM offers GROUP BY 1),
best AS (
  SELECT o.l_partkey, min(o.l_suppkey) AS l_suppkey,
         CAST(min(p.min_price) AS DOUBLE) AS min_price
  FROM offers o JOIN part_min p
    ON o.l_partkey = p.pk AND o.best_price = p.min_price
  GROUP BY o.l_partkey)
SELECT l_partkey AS p_partkey, s_suppkey, s_name, min_price
FROM best JOIN supplier ON l_suppkey = s_suppkey
"""


def q20_volume_share_suppliers(spark, sf_dir):
    """Q20 shape: suppliers carrying an outsized share (>15%) of a
    part's shipped volume (threshold 15% — calibrated so the result is
    non-empty at every SF) — per-group share via a windowed total.

    Residual note (r12, then r14 optimization round): (partkey,
    suppkey) is nearly a key of lineitem (59.1M groups from 60M rows),
    so `vol` is FACT-SIZED by construction — the one partkey exchange
    plus the per-part window over it is everything. Alternatives
    measured worse in r12: broadcast per-part totals to skip the
    window sort = 8.3 s (the totals agg re-pays the 60M-row exchange
    because column pruning specializes each branch's scan and defeats
    ReusedExchange; forcing identical projections with a dummy agg
    still didn't match subplans, 9.0 s).

    r14 optimization round (interleaved A/B at sf10, /tmp/ab_q20.json
    → OPTIMIZATION_r14.md): the DECIMAL sum state across 59M resident
    groups was 40% of the query — switching the aggregate and window
    to scale-2 fixed-point BIGINT (money.py; decode at emit) took
    min-of-7 8.22 → 4.95 s, medians 9.96 → 5.93, 6/7 adjacent pairs.
    Two structural rewrites measured WORSE same-session and are
    rejected: (a) no-hash-agg form — one sort feeding three stacked
    windows (group sum / part total / row_number dedup) min 6.24 s:
    the 59M-group hash agg with LONG state beats sort+triple-window;
    (b) vol→totals re-agg attached by SHUFFLE_HASH join on the shared
    partitioning min 7.13 s: the second 59M-row agg pass costs more
    than the window it replaces."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    # one explicit partkey exchange serves both the (partkey,suppkey)
    # grouping and the per-part total window — the q2 subset-rule
    # rework (was: two near-fact-sized shuffles, 9.8 s at sf10)
    vol = (
        li.repartition(F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(fixed(F.col("l_quantity"), 2)).alias("qc"))
    )
    total = F.sum("qc").over(W.partitionBy("l_partkey"))
    share = unscale(F.col("qc"), 2) / unscale(total, 2)
    big = (
        vol.withColumn("share", F.round(share, 6))
        .filter(F.col("share") > 0.15)
        .withColumn("qty", unscale(F.col("qc"), 2))
    )
    return big.join(s, big.l_suppkey == s.s_suppkey).select(
        F.col("l_partkey").alias("p_partkey"),
        "s_suppkey",
        "s_name",
        F.col("qty").cast("double").alias("qty"),
        "share",
    )


Q20_ORACLE = """
WITH vol AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty
  FROM lineitem GROUP BY 1, 2),
shares AS (
  SELECT l_partkey, l_suppkey, qty,
         round(CAST(qty AS DOUBLE) /
               CAST(sum(qty) OVER (PARTITION BY l_partkey) AS DOUBLE), 6) AS share
  FROM vol)
SELECT l_partkey AS p_partkey, s_suppkey, s_name,
       CAST(qty AS DOUBLE) AS qty, share
FROM shares JOIN supplier ON l_suppkey = s_suppkey
WHERE share > 0.15
"""


def q13_customer_distribution(spark, sf_dir):
    """Q13 shape: distribution of per-customer order counts, including
    zero-order customers (o_orderpriority <> '1-URGENT' substitutes the
    reference schema's missing o_comment NOT LIKE filter).

    Scale shape: NO customer join at all. Orders aggregate to
    (custkey, count) in the one fact shuffle; the distribution is a
    rollup over that frame whose grand-total row counts the ACTIVE
    customers, and the zero-order bucket is pure arithmetic —
    |customer| − |active| (every o_custkey is a customer; FK holds) —
    so the classic left join that manufactures the zero bucket, two
    customer-cardinality exchanges wide, becomes a 1-row broadcast of
    the customer count. A real c_count=0 group cannot occur (groupBy
    only emits counts ≥1), so the rollup NULL marker is unambiguous."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    cnts = o.groupBy("o_custkey").agg(F.count("*").alias("c_count"))
    rolled = cnts.rollup("c_count").agg(F.count(F.lit(1)).alias("cd"))
    n_cust = c.agg(F.count(F.lit(1)).alias("n_cust"))
    return rolled.crossJoin(F.broadcast(n_cust)).select(
        F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"),
        F.when(
            F.col("c_count").isNull(), F.col("n_cust") - F.col("cd")
        )
        .otherwise(F.col("cd"))
        .alias("custdist"),
    ).filter(
        # if every customer is active the zero bucket is empty, not a
        # (0, 0) row — match the oracle's GROUP BY, which never emits
        # empty groups
        F.col("custdist") > 0
    )


Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) t
GROUP BY c_count
"""


def q11_important_stock(spark, sf_dir):
    """Q11 shape: parts whose stocked value through one region's
    suppliers exceeds a fixed fraction of the region total. No partsupp
    in this schema — "stocked value" is the lineitem revenue routed via
    EUROPE suppliers (region-scoped: a single nation is empty at the
    smallest SFs). nation⋈region folds into a literal suppkey IN-list
    (`tpch._inline_nations` — both dims are reference-fixed).

    Scale shape: the filtered fact is pared down to (partkey, value)
    before its ONE shuffle (the per-part groupBy); the global
    (total, part-count) pair is a scalar agg over the same reduced
    projection and joins back as a broadcast single row. The threshold
    is SCALE-INVARIANT — value > 1.5 × the mean per-part value — the
    same fix classic Q11 makes by dividing its fraction by SF: a fixed
    fraction of the total empties as the part count grows 100×
    (measured: 1/1000 of total qualifies 97 parts at sf0.01 and ZERO at
    sf10; 1.5× mean qualifies 331 and 292 200). The compare stays in
    exact integer fixed-point (val_fp × np × 2 > 3 × tot_fp), so the
    HAVING gate is bit-deterministic on both engines."""
    from .tpch import _inline_nations

    from .tpch import _disc_price_fixed

    keys, _, _ = _inline_nations(spark, sf_dir, region_name="EUROPE")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey").isin(keys)
    )
    f = li.join(s, li.l_suppkey == s.s_suppkey).select(
        "l_partkey", _disc_price_fixed().alias("v")
    )
    per_part = f.groupBy("l_partkey").agg(F.sum("v").alias("val_fp"))
    # derive (total, part count) from the grouped frame, not the fact:
    # a scalar countDistinct over the fact plans an Expand and a wider
    # shuffle; this shape re-aggregates the partially-aggregated
    # (partkey, sum) rows — both passes stay on the 2-column projection
    # and the exchanges carry group-level rows only (measured 2.5×
    # faster at sf10: 4.1 s → 1.6 s, DuckDB 0.88 s)
    # the TABLE-level total re-sums every per-part BIGINT sum, so the
    # money.py per-group overflow headroom (~9.2e18 ≈ sf750 of
    # EUROPE-routed revenue) doesn't cover it — sum as decimal(38,0)
    # (the per-part val_fp stays BIGINT; only the scalar widens)
    stats = per_part.agg(
        F.sum(F.col("val_fp").cast("decimal(38,0)")).alias("tot_fp"),
        F.count(F.lit(1)).alias("np"),
    )
    return (
        per_part.join(F.broadcast(stats))
        .filter(
            F.col("val_fp").cast("decimal(38,0)") * F.col("np") * F.lit(2)
            > F.lit(3).cast("decimal(38,0)") * F.col("tot_fp")
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            unscale(F.col("val_fp"), 5).alias("value"),
        )
    )


Q11_ORACLE = """
WITH f AS (
  SELECT l_partkey,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3))) AS v
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation   ON s_nationkey = n_nationkey
                JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
g AS (SELECT l_partkey AS partkey, sum(v) AS val FROM f GROUP BY 1),
t AS (SELECT sum(v) AS tot, count(DISTINCT l_partkey) AS np FROM f)
SELECT partkey, CAST(val AS DOUBLE) AS value
FROM g, t WHERE val * np * 2 > 3 * tot
"""


def q16_supplier_part_counts(spark, sf_dir):
    """Q16 shape: distinct-supplier counts per (brand, type, size) group
    for a size IN-list, excluding excluded-brand/type parts and
    "complaint" suppliers (no s_comment in this schema — negative
    account balance substitutes; no partsupp — the part↔supplier
    relation is the distinct lineitem pairing, as in q20).

    Scale shape: the part dim is filtered to 8/50 sizes BEFORE the fact
    join (AQE sizes the build side) and the excluded-supplier anti join
    is a broadcast of one bigint column. The (brand, type, size) group
    key is PACKED INTO ONE LONG on the part dim before the join — the
    (brand, type) vocabulary is bounded (TPC-H fixes both), so the codes
    come from one plan-time distinct collect over the dim, like
    `_inline_nations`. The fact-side distinct aggregate
    then hashes (long, long) instead of (string, string, int, long);
    the 885-row decode join back to the labels is a broadcast. Measured
    at sf10 (60M lineitem rows, local[32]): 2.03 s → 1.38 s best-of-3
    (DuckDB same SQL 0.28 s → ratio 4.9×, was 7–12×); bitmap_*-aggregate
    and single-long-distinct variants measured SLOWER (1.50 / 1.56 s) —
    the residual is the broadcast-join probe + partial-agg row decode,
    not the distinct exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin([1, 5, 9, 14, 19, 23, 36, 45])
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    combos = sorted(
        (r["p_brand"], r["p_type"])
        for r in p.select("p_brand", "p_type").distinct().collect()
    )
    brands = sorted({b for b, _ in combos})
    types = sorted({t for _, t in combos})
    bmap = F.create_map(
        *[F.lit(x) for i, b in enumerate(brands) for x in (b, i)]
    )
    tmap = F.create_map(
        *[F.lit(x) for i, t in enumerate(types) for x in (t, i)]
    )
    # sizes are <100 by the IN-list filter; brand/type codes are dense
    # small ints, so the pack is collision-free by construction
    gk = (
        bmap[F.col("p_brand")] * 10000
        + tmap[F.col("p_type")] * 100
        + F.col("p_size")
    ).alias("gk")
    p_packed = p.select("p_partkey", gk)
    gdim = p.select("p_brand", "p_type", "p_size").distinct().select(
        gk, "p_brand", "p_type", "p_size"
    )
    return (
        li.join(p_packed, li.l_partkey == p_packed.p_partkey)
        .select("gk", "l_suppkey")
        .join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("gk")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .join(F.broadcast(gdim), "gk")
        .select("p_brand", "p_type", "p_size", "supplier_cnt")
    )


Q16_ORACLE = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#2' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def q21_suppliers_who_kept_waiting(spark, sf_dir):
    """Q21 shape: suppliers whose line was the ONLY late one in a
    multi-supplier finalized order (no l_commitdate/l_receiptdate in
    this schema — "late" is l_shipdate > o_orderdate + 60 days). The
    classic EXISTS / NOT EXISTS pair is re-expressed as a per-order
    aggregate: n_suppliers ≥ 2 (the EXISTS) and exactly one distinct
    late supplier (the NOT EXISTS); numwait counts that supplier's late
    lines, matching the classic per-l1-row count.

    Scale shape: one orderkey shuffle total. The fact⋈orders join
    partitions on orderkey; both the (orderkey, suppkey) and the
    per-order aggregates are satisfied by that same partitioning
    (HashPartitioning(orderkey) clusters every superset key), so the
    three-level reduction inserts no further exchange. The final
    per-supplier count runs over qualifying orders only (tiny), and the
    supplier name join broadcasts under AQE. TakeOrdered(100) replaces
    a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("int")
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey", late.alias("late"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("is_late"), F.sum("late").alias("late_lines"))
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").alias("n_late_supp"),
        F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias("w_supp"),
        F.max(F.when(F.col("is_late") == 1, F.col("late_lines"))).alias("w_cnt"),
    )
    waits = (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .groupBy("w_supp")
        .agg(F.sum("w_cnt").alias("numwait"))
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        waits.join(s, waits.w_supp == s.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(100)
    )


Q21_ORACLE = """
WITH l1 AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
SELECT s_suppkey, s_name, count(*) AS numwait
FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1
                  FROM lineitem l3 JOIN orders o3
                    ON l3.l_orderkey = o3.o_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY 1, 2
ORDER BY numwait DESC, s_suppkey LIMIT 100
"""


def q4_order_priority(spark, sf_dir):
    """Q4 shape: order counts per priority for a quarter, restricted to
    orders with at least one late line (EXISTS correlated subquery →
    semi-join). No l_commitdate/l_receiptdate in this schema — the q12
    lateness substitute (l_shipdate > o_orderdate + 30 days) carries the
    correlated-predicate shape.

    Scale shape: the quarter filter cuts orders ~24× BEFORE the fact
    join, the lateness predicate needs o_orderdate so the semi-join is
    expressed as join→filter→distinct-on-(key,prio) — one orderkey
    shuffle plus a 5-row aggregate, no row explosion survives the
    distinct. EXISTS never duplicates: distinct on the ORDER key, not
    the line."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY 1
"""


def q14_promotion_effect(spark, sf_dir):
    """Q14 shape: promotion revenue share for one ship-month. p_type is
    a flat 6-value vocabulary here (no 'PROMO ANODIZED TIN' composites),
    so the LIKE 'PROMO%' prefix becomes equality on 'PROMO' (~1/6 of
    parts at every SF — scale-invariant, non-vacuous).

    Scale shape: month filter prunes lineitem first; part joins as a
    2-column broadcast-eligible dim; both sums come out of ONE partial
    aggregate (conditional sum, not two passes). Exact decimal sums;
    the share is two casts + one multiply + one divide, the identical
    IEEE sequence on both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _rev(F.col("l_extendedprice"), F.col("l_discount"))
    agg = (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev)).alias("_promo"),
            F.sum(rev).alias("_total"),
        )
    )
    return agg.select(
        F.col("_promo").cast("double").alias("promo_revenue"),
        F.col("_total").cast("double").alias("total_revenue"),
        (
            F.lit(100.0) * F.col("_promo").cast("double")
            / F.col("_total").cast("double")
        ).alias("promo_pct"),
    )


Q14_ORACLE = """
SELECT CAST(promo AS DOUBLE) AS promo_revenue,
       CAST(total AS DOUBLE) AS total_revenue,
       100.0 * CAST(promo AS DOUBLE) / CAST(total AS DOUBLE) AS promo_pct
FROM (
  SELECT
    sum(CASE WHEN p_type = 'PROMO'
        THEN CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3)))
        END) AS promo,
    sum(CAST(l_extendedprice AS DECIMAL(12,2))
        * (CAST(1 AS DECIMAL(4,3)) - CAST(l_discount AS DECIMAL(4,3))))
      AS total
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
    AND l_shipdate <  TIMESTAMP '1997-10-01'
)
"""


def q18_large_volume_customers(spark, sf_dir):
    """Q18 shape: customers whose order totals more than 230 units
    across its lines (sum-HAVING subquery → pre-aggregated fact), top
    100 by order value. 230 ≈ the 97th percentile of per-order quantity
    at every SF (measured 0.001/0.01/0.1 — scale-invariant ~3%
    survivor rate, never vacuous).

    Scale shape: lineitem pre-aggregates to (orderkey, sum_qty) with
    map-side combine BEFORE any join — the HAVING filter then drops
    ~97% of orders, so the orders join probes with the small side and
    the customer join receives only survivors. Exact decimal quantity
    sum (double sum order-dependence would flip borderline orders
    between engines). TakeOrderedAndProject carries the top-100 with a
    unique o_orderkey tie-break — no global sort materializes."""
    # Quantity sums ride BIGINT hundredths, not DECIMAL(12,2): the
    # decimal sum's precision-22 buffer falls off HashAggregate's
    # primitive fast path into per-row BigDecimal allocation — measured
    # as a GC storm at sf10 (first post-pin run 103 s; the corr
    # operator documents the same 8× decimal-state pathology). The
    # cents filter >23000 is the exact integer twin of >230.00, and
    # cents/100.0 emits the identical correctly-rounded double the
    # oracle's decimal→double cast produces.
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(fixed("l_quantity")).alias("_sum_qty_c"))
        .filter(F.col("_sum_qty_c") > F.lit(23000))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            (F.col("_sum_qty_c").cast("double") / F.lit(100.0)).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


Q18_ORACLE = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sum_qty_d AS DOUBLE) AS sum_qty
FROM (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty_d
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 230
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


SPECS: list[QuerySpec] = [
    QuerySpec("tpch_q4_order_priority", q4_order_priority, Q4_ORACLE),
    QuerySpec("tpch_q14_promotion_effect", q14_promotion_effect, Q14_ORACLE),
    QuerySpec(
        "tpch_q18_large_volume_customers",
        q18_large_volume_customers,
        Q18_ORACLE,
    ),
    QuerySpec("tpch_q2_cheapest_supplier", q2_cheapest_supplier, Q2_ORACLE),
    QuerySpec("tpch_q20_volume_share", q20_volume_share_suppliers, Q20_ORACLE),
    QuerySpec("tpch_q9_product_profit", q9_product_profit, Q9_ORACLE),
    QuerySpec("tpch_q12_priority_shipping", q12_priority_shipping, Q12_ORACLE),
    QuerySpec("tpch_q19_disjunctive_revenue", q19_disjunctive_revenue, Q19_ORACLE),
    QuerySpec("tpch_q7_volume_shipping", q7_volume_shipping, Q7_ORACLE),
    QuerySpec("tpch_q8_market_share", q8_market_share, Q8_ORACLE),
    QuerySpec("tpch_q15_top_supplier", q15_top_supplier, Q15_ORACLE),
    QuerySpec("tpch_q17_small_quantity", q17_small_quantity, Q17_ORACLE),
    QuerySpec("tpch_q22_sales_opportunity", q22_global_sales_opportunity, Q22_ORACLE),
    QuerySpec("tpch_q13_customer_distribution", q13_customer_distribution, Q13_ORACLE),
    QuerySpec("tpch_q11_important_stock", q11_important_stock, Q11_ORACLE),
    QuerySpec("tpch_q16_supplier_part_counts", q16_supplier_part_counts, Q16_ORACLE),
    QuerySpec("tpch_q21_waiting_suppliers", q21_suppliers_who_kept_waiting, Q21_ORACLE),
]
