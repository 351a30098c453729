"""Variants for plans/ab_ladder_vs_aqe.json: every spec that carried the
size-probed join-hint ladder (``_bcast_if_small`` / ``_shj_if_medium``)
built twice — ``ladder`` as shipped, ``nohint`` with both helpers
replaced by the identity while the plan is built, so Spark (AQE on)
picks each join strategy itself. ``basket_brand_lift:map`` is the
literal brand→bit lookup that replaced its ``brand_bits`` join.

Targets the tree that still has the ladder (commit b512278), timed by
the current harness (tools/ab_interleaved.py and the bench.py whose
``time_run`` it calls), copied over that tree:
    git archive b512278 | tar -x -C <dir>
    cp bench.py <dir>/ && cp tools/ab_interleaved.py <dir>/tools/
    cd <dir> && SPARK_GRAFT_SF_DIR=<sf dir> REPS=10 \\
        python tools/ab_interleaved.py out.json <this file>
plans/ab_ladder_vs_aqe.json predates ``time_run``: its reps reused
each variant's prebuilt frame.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_iceberg_sandbox_spark.operators import (
    insights,
    lifecycle,
    tpch,
    tpch2,
)
from data_iceberg_sandbox_spark.sources.registry import load_table

SPECS = {
    "q2": tpch2.q2_cheapest_supplier,
    "q3": tpch.q3_shipping_priority,
    "q5": tpch.q5_local_supplier_volume,
    "q7": tpch2.q7_volume_shipping,
    "q8": tpch2.q8_market_share,
    "q9": tpch2.q9_product_profit,
    "q11": tpch2.q11_important_stock,
    "q16": tpch2.q16_supplier_part_counts,
    "q19": tpch2.q19_disjunctive_revenue,
    "q20": tpch2.q20_volume_share_suppliers,
    "basket_brand_lift": insights.basket_brand_lift,
    "d_scd2_asof_lookup": lifecycle.d_scd2_asof_lookup,
}


def _unhinted(fn):
    def build(spark, sf_dir):
        saved = {
            (m, n): getattr(m, n)
            for m in (tpch, tpch2)
            for n in ("_bcast_if_small", "_shj_if_medium")
        }
        try:
            for m, n in saved:
                setattr(m, n, lambda df, *a, **k: df)
            return fn(spark, sf_dir)
        finally:
            for (m, n), f in saved.items():
                setattr(m, n, f)

    return build


def _basket_map(spark, sf_dir):
    """basket_brand_lift with the bit lookup folded into a literal map;
    everything after ``masks`` is the shipped plan unchanged."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part")
    names = sorted(r[0] for r in part.select("p_brand").distinct().collect())
    bit_of = {b: 1 << i for i, b in enumerate(names)}
    bit_map = F.create_map(*[F.lit(x) for kv in bit_of.items() for x in kv])
    p = part.select(
        "p_partkey", F.element_at(bit_map, F.col("p_brand")).cast("bigint").alias("bit")
    )
    masks = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.expr("bit_or(bit)").alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = spark.createDataFrame(
        [
            (a, b, bit_of[a], bit_of[b])
            for i, a in enumerate(names)
            for b in names[i + 1 :]
        ],
        "brand_a string, brand_b string, bit_a long, bit_b long",
    )
    in_a = (F.col("mask").bitwiseAND(F.col("bit_a")) > 0).cast("bigint")
    in_b = (F.col("mask").bitwiseAND(F.col("bit_b")) > 0).cast("bigint")
    agg = (
        masks.crossJoin(F.broadcast(pairs))
        .groupBy("brand_a", "brand_b")
        .agg(
            F.sum(in_a * in_b * F.col("n")).alias("n_ab"),
            F.sum(in_a * F.col("n")).alias("n_a"),
            F.sum(in_b * F.col("n")).alias("n_b"),
        )
        .filter(F.col("n_ab") > 0)
    )
    n_orders = masks.agg(F.sum("n").alias("n_orders"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return agg.crossJoin(F.broadcast(n_orders)).select(
        "brand_a",
        "brand_b",
        "n_ab",
        "n_a",
        "n_b",
        F.round(d("n_ab") / d("n_orders"), 9).alias("support"),
        F.round(d("n_ab") / d("n_a"), 9).alias("confidence"),
        F.round((d("n_ab") * d("n_orders")) / (d("n_a") * d("n_b")), 9).alias("lift"),
    )


VARIANTS = {}
for _name, _fn in SPECS.items():
    VARIANTS[f"{_name}:ladder"] = _fn
    VARIANTS[f"{_name}:nohint"] = _unhinted(_fn)
VARIANTS["basket_brand_lift:map"] = _basket_map
