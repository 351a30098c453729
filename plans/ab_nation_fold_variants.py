"""Variants for plans/ab_nation_fold.json: the four headline queries that
fold nation (and region) into literals at plan build
(``tpch._inline_nations``), against the same plans with plain joins:

- ``fold``: the query as the engine ships it. Plan build collects
  nation (joined to region for q5) and folds it into key IN-lists and a
  literal ``create_map`` name lookup;
- ``join``: no plan-time collect. The region and nation-pair filters
  are ``left_semi`` joins of customer and supplier with the filtered
  nation rows, and nation names join in after the aggregate (a left
  join for the flagship's LEFT JOIN semantics). Joins carry no hint, as
  in the shipped plans, so Spark broadcasts the small dims itself.

Each query's block opens and closes with a ``pad`` arm (the shipped
plan) whose times are not compared; see ``ab_aqe_rules_variants.py``
for why the first run after another query's block needs one.

    REPS=10 python tools/ab_interleaved.py plans/ab_nation_fold.json \\
        plans/ab_nation_fold_variants.py

(sf0.1, the default; set ``SPARK_GRAFT_SF_DIR`` for another scale).
"""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from data_iceberg_sandbox_spark.operators.fraud import fraud_alerts
from data_iceberg_sandbox_spark.operators.tpch import _sum_rev
from data_iceberg_sandbox_spark.sources.registry import load_table


def _nations(spark, sf_dir, names=None, region=None):
    """nation rows, optionally only ``names`` or one region's."""
    n = load_table(spark, sf_dir, "nation")
    if names is not None:
        n = n.filter(F.col("n_name").isin(names))
    if region is not None:
        r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == region)
        n = n.join(r, n.n_regionkey == r.r_regionkey, "left_semi")
    return n.select("n_nationkey", "n_name")


def flagship_join(spark, sf_dir):
    alerts = fraud_alerts(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    nation = _nations(spark, sf_dir)
    return (
        alerts.join(customer, alerts.user_id == customer.c_custkey, "left")
        .join(nation, F.col("c_nationkey") == nation.n_nationkey, "left")
        .select(
            F.col("c_custkey").alias("client_id"),
            F.col("c_name").alias("client_name"),
            F.col("n_name").alias("client_nation"),
            "user_id",
            "window_start",
            "window_end",
            "total_amount",
        )
    )


def q5_join(spark, sf_dir):
    asia = _nations(spark, sf_dir, region="ASIA")
    c = load_table(spark, sf_dir, "customer")
    c = c.join(asia, c.c_nationkey == asia.n_nationkey, "left_semi")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    s = s.join(asia, s.s_nationkey == asia.n_nationkey, "left_semi")
    li_f = li.join(s, li.l_suppkey == s.s_suppkey).select(
        "l_orderkey", "l_extendedprice", "l_discount", "s_nationkey"
    )
    o_f = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_nationkey")
    rev = (
        li_f.join(
            o_f,
            (li_f.l_orderkey == o_f.o_orderkey)
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("c_nationkey")
        .agg(_sum_rev("revenue"))
    )
    return rev.join(asia, rev.c_nationkey == asia.n_nationkey).select(
        F.col("n_name").alias("nation"), "revenue"
    )


def q10_join(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _nations(spark, sf_dir)
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(_sum_rev("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_custkey"))
        .limit(20)
    )
    return (
        c.join(F.broadcast(rev), rev.o_custkey == c.c_custkey)
        .join(nation, F.col("c_nationkey") == nation.n_nationkey)
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"), "revenue")
    )


def q7_join(spark, sf_dir):
    pair = _nations(spark, sf_dir, names=["NATION_1", "NATION_2"])
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    c = c.join(pair, c.c_nationkey == pair.n_nationkey, "left_semi")
    s = load_table(spark, sf_dir, "supplier")
    s = s.join(pair, s.s_nationkey == pair.n_nationkey, "left_semi")
    li_f = li.join(s, li.l_suppkey == s.s_suppkey).select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount",
        "s_nationkey",
    )
    o_f = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_nationkey")
    rev = (
        li_f.join(o_f, li_f.l_orderkey == o_f.o_orderkey)
        .groupBy(
            "s_nationkey", "c_nationkey", F.year("l_shipdate").alias("l_year")
        )
        .agg(_sum_rev("revenue"))
    )
    n1 = pair.toDF("k1", "supp_nation")
    n2 = pair.toDF("k2", "cust_nation")
    named = rev.join(n1, rev.s_nationkey == n1.k1).join(n2, rev.c_nationkey == n2.k2)
    # both nations are in the pair, so "bilateral" is "not the same one"
    return named.filter(F.col("supp_nation") != F.col("cust_nation")).select(
        "supp_nation", "cust_nation", "l_year", "revenue"
    )


_QUERIES = entry_mod.queries()
_JOIN = {
    "flagship_fraud_enriched": flagship_join,
    "tpch_q5_local_supplier": q5_join,
    "tpch_q10_returned_items": q10_join,
    "tpch_q7_volume_shipping": q7_join,
}
VARIANTS = {
    f"{name}:{arm}": build
    for name, join in _JOIN.items()
    for arm, build in (
        ("pad_head", _QUERIES[name]),
        ("fold", _QUERIES[name]),
        ("join", join),
        ("pad_tail", _QUERIES[name]),
    )
}
