"""Plan-quality gates: the properties that make these operators survive a
100× scale-up, asserted on the actual physical plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_iceberg_sandbox_spark.operators import relational, tpch
from data_iceberg_sandbox_spark.operators.fraud import (
    enrich_alerts,
    fraud_alerts,
    fraud_alerts_enriched,
)
from data_iceberg_sandbox_spark.plans.inspect import (
    codegen_stage_count,
    exchange_count,
    has_broadcast_join,
    has_take_ordered,
    pushed_filters,
    read_schemas,
)
from data_iceberg_sandbox_spark.sources.registry import load_table
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_filter_pushed_to_scan(spark):
    df = relational.p7_filter_eq(spark, SF_ORACLE)
    pf = pushed_filters(df)
    assert any("event_type" in f for f in pf), pf


def test_column_pruning_reaches_scan(spark):
    df = relational.p1_project_alias(spark, SF_ORACLE)
    schemas = read_schemas(df)
    assert schemas and all("c_acctbal" not in s for s in schemas), schemas
    # 3 of 5 customer columns read, not all
    assert any("c_custkey" in s and "c_mktsegment" in s for s in schemas)


def test_q6_filters_pushed_and_single_stage(spark):
    df = tpch.q6_forecast_revenue(spark, SF_ORACLE)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), pf
    assert any("l_discount" in f for f in pf), pf
    assert exchange_count(df) <= 1  # partial agg → single final exchange


def test_flagship_broadcasts_small_dims(spark):
    df = fraud_alerts_enriched(spark, SF_ORACLE)
    assert has_broadcast_join(df)


def test_enriched_micro_batch_folds_nation(spark):
    """The enrichment the stream sink applies to each micro-batch (a
    LogicalRDD, as a foreachBatch frame is) reads no nation table at run
    time: nation is a literal map, not a broadcast join side."""
    batch = fraud_alerts(spark, SF_ORACLE).localCheckpoint()
    df = enrich_alerts(
        batch,
        load_table(spark, SF_ORACLE, "customer"),
        load_table(spark, SF_ORACLE, "nation"),
    )
    schemas = " ".join(read_schemas(df))
    assert "c_nationkey" in schemas and "n_name:" not in schemas, schemas


def test_q3_topk_is_take_ordered(spark):
    df = tpch.q3_shipping_priority(spark, SF_ORACLE)
    assert has_take_ordered(df), "ORDER BY+LIMIT must not global-sort"


def test_q5_inlines_fixed_dims_and_broadcasts_facts(spark):
    """q5 after dimension inlining: the fact-side joins still broadcast,
    but nation/region never appear as execution-time scans — their 30
    reference-fixed rows fold into literal predicates + a lookup map at
    plan build (tpch._inline_nations), dropping two broadcast-build
    jobs per run."""
    df = tpch.q5_local_supplier_volume(spark, SF_ORACLE)
    assert has_broadcast_join(df)
    schemas = " ".join(read_schemas(df))
    assert "n_regionkey" not in schemas and "r_name" not in schemas, schemas


def test_agg_has_partial_combine(spark):
    df = relational.a1_grouped_sum(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan or "HashAggregate" in plan
    assert exchange_count(df) == 1  # one shuffle on the group key


def test_whole_stage_codegen_active(spark):
    # AQE wraps the plan and reports 0 codegen subtrees until execution;
    # disable it for the static inspection only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = tpch.q1_pricing_summary(spark, SF_ORACLE)
        assert codegen_stage_count(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_no_forced_broadcast_of_unbounded_aggregates(spark):
    """A broadcast *hint* on a data-dependent aggregate (one row per
    fact-side key) OOMs at scale; only AQE may choose to broadcast such
    a side after sizing it at runtime. Gate: q17's logical plan carries
    no user hint, and — sweeping the whole query surface — every
    UnresolvedHint/ResolvedHint in a logical plan wraps either a base
    relation, a bounded-key dimension aggregate, or a global (grouping-
    free) aggregate, never a per-fact-key aggregate."""
    from data_iceberg_sandbox_spark.operators import tpch2

    df = tpch2.q17_small_quantity(spark, SF_ORACLE)
    logical = df._jdf.queryExecution().logical().toString()
    assert "Hint" not in logical, logical


def test_minhash_signatures_are_zero_shuffle(spark):
    """The 100 TB contract for signature extraction: a pure projection —
    no exchange anywhere in the plan (shingles, hashes, and 64
    array_min folds all ride the scan stage)."""
    from data_iceberg_sandbox_spark.operators.dedup import (
        minhash_signatures,
    )

    df = minhash_signatures(spark, SF_ORACLE)
    assert exchange_count(df) == 0, physical_plan_excerpt(df)


def test_shingles_are_zero_shuffle(spark):
    from data_iceberg_sandbox_spark.operators.dedup import _doc_shingles

    df = _doc_shingles(spark, SF_ORACLE, 5, distinct=False)
    assert exchange_count(df) == 0, physical_plan_excerpt(df)


def test_repetition_score_zero_shuffle(spark):
    """Gopher-style repetition signals are one stateless projection —
    higher-order array functions, no explode/groupBy, zero exchanges."""
    from data_iceberg_sandbox_spark.operators.textstats import (
        text_repetition_score,
    )

    df = text_repetition_score(spark, SF_ORACLE)
    assert exchange_count(df) == 0, physical_plan_excerpt(df)


def test_ann_bruteforce_single_scan_no_shuffle_before_topk(spark):
    """Brute-force ANN: candidates stream once; query vectors AND their
    norms ride inside the kernel (no broadcast join, no broadcast-build
    job since r5), and the per-query top-k window ranks the pruned
    ~batches × n_q × k rows on the one coalesced partition, so the query
    plans no exchange at all."""
    from data_iceberg_sandbox_spark.operators.similarity import (
        ann_cosine_topk,
    )

    df = ann_cosine_topk(spark, SF_ORACLE)
    assert not has_broadcast_join(df), physical_plan_excerpt(df)
    assert exchange_count(df) == 0, physical_plan_excerpt(df)


def physical_plan_excerpt(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan[:2000]


def test_no_cartesian_product_in_any_pure_query(spark):
    """Sweep gate: no read-only query may compile to a
    CartesianProduct — the one physical operator that cannot survive a
    100× scale-up. Bounded broadcast nested-loop joins (tiny dim/query
    sets, e.g. IVF centroid argmax) are allowed; an unbounded cartesian
    is a plan bug wherever it appears. Side-effectful specs (lifecycle
    table builds in operators/lifecycle.py, streaming runs in
    streaming/) are excluded: building their frame executes the side
    effect."""
    import __spark_entry__ as entry_mod
    from data_iceberg_sandbox_spark.operators import lifecycle
    from data_iceberg_sandbox_spark.streaming import specs as streaming_specs

    side_effectful = {s.name for s in lifecycle.SPECS + streaming_specs.SPECS}
    offenders = []
    for spec in entry_mod._all_specs():
        if spec.name in side_effectful:
            continue
        df = spec.fn(spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(spec.name)
    assert not offenders, offenders


def test_partition_pruning_on_laketable(spark, scratch):
    import os

    from data_iceberg_sandbox_spark.tables.laketable import LakeTable

    t = LakeTable(spark, os.path.join(scratch, "pruning"))
    t.create(
        load_table(spark, SF_ORACLE, "customer"), partition_by=["c_mktsegment"]
    )
    df = t.read().filter(F.col("c_mktsegment") == "BUILDING")
    from data_iceberg_sandbox_spark.plans.inspect import partition_filters

    assert partition_filters(df), "partition filter must prune directories"


def test_doc_chunking_is_zero_shuffle(spark):
    """Chunking is a pure flatMap (sequence + posexplode) — any exchange
    here would shuffle the full corpus text at 100 TB."""
    from data_iceberg_sandbox_spark.operators.retrieval import (
        doc_chunk_sliding,
    )

    df = doc_chunk_sliding(spark, SF_ORACLE)
    assert exchange_count(df) == 0, physical_plan_excerpt(df)


def test_bm25_broadcasts_stats_and_prunes_terms(spark):
    """BM25: df/corpus-stats sides broadcast (never shuffled against the
    postings), the term filter reaches the scan side of the explode, and
    the final top-k is TakeOrdered."""
    from data_iceberg_sandbox_spark.operators.retrieval import bm25_rank

    df = bm25_rank(spark, SF_ORACLE)
    assert has_broadcast_join(df)
    assert has_take_ordered(df), "BM25 top-k must not global-sort"


def test_rfm_and_pareto_have_no_ntile(spark):
    """Regression lock on the round-9 histogram-rank rework: the
    customer-grain frames must never pass through ntile() (a global
    single-partition sort). The only no-partition windows allowed are
    the bounded cell-histogram scans."""
    from data_iceberg_sandbox_spark.operators.advanced import (
        customer_rfm_segments,
        pareto_revenue_deciles,
    )
    from data_iceberg_sandbox_spark.plans.inspect import physical_plan

    for fn in (customer_rfm_segments, pareto_revenue_deciles):
        plan = physical_plan(fn(spark, SF_ORACLE))
        assert "ntile" not in plan.lower(), f"{fn.__name__} regressed to ntile"


def test_shard_manifest_prefix_sum_shape(spark):
    """corpus_shard_manifest: the global prefix sum must come from the
    histogram decomposition — a broadcast join for cell offsets, and no
    row_number/global sort over the document frame."""
    from data_iceberg_sandbox_spark.operators.pipeline import (
        corpus_shard_manifest,
    )
    from data_iceberg_sandbox_spark.plans.inspect import (
        has_broadcast_join,
        physical_plan,
    )

    df = corpus_shard_manifest(spark, SF_ORACLE)
    assert has_broadcast_join(df)
    assert "ntile" not in physical_plan(df).lower()


def test_ivf_assignment_is_arrow_kernel_not_nested_loop(spark):
    """r11 semdedup scale fix lock: nearest-cell assignment must run
    through the Arrow kernel (MapInArrow) — never a JVM crossJoin
    (BroadcastNestedLoopJoin) whose n×k product was the sf10 timeout."""
    from data_iceberg_sandbox_spark.operators.similarity import ivf_assign

    assigned, _ = ivf_assign(spark, SF_ORACLE)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_partkey_correlates_are_single_exchange(spark):
    """The r11 reworks: q17's correlated avg, q2's per-part argmin and
    q20's per-part share all ride ONE fact exchange on l_partkey — the
    partitioning subset rule lets the (partkey,suppkey) grouping, the
    per-part window and the final per-part agg share it. A second
    hashpartitioning exchange here is the 2×-fact-shuffle regression
    the sf10 sweep caught at 10-16 s."""
    from data_iceberg_sandbox_spark.operators import tpch2

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for fn in (
            tpch2.q17_small_quantity,
            tpch2.q2_cheapest_supplier,
            tpch2.q20_volume_share_suppliers,
        ):
            df = fn(spark, SF_ORACLE)
            # exactly one FACT-scaled (hash) exchange; a scalar
            # subquery's bounded SinglePartition exchange is fine, a
            # range exchange (global sort) is not (r13: exchange_count
            # now counts every shuffle kind, so this contract names
            # the kinds it means)
            from data_iceberg_sandbox_spark.plans.inspect import (
                hash_exchange_count,
                physical_plan,
            )

            assert hash_exchange_count(df) == 1, fn.__name__
            assert "rangepartitioning" not in physical_plan(df), fn.__name__
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_range_followup_is_window_not_self_join(spark):
    """range_followup_counts must stay the RANGE-framed window form:
    one user_id exchange, no join operator anywhere (the self-join form
    measured 152 s at sf10)."""
    from data_iceberg_sandbox_spark.operators import advanced

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = advanced.range_followup_counts(spark, SF_ORACLE)
        assert exchange_count(df) == 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan[:800]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_percentiles_never_buffer_groups(spark):
    """percentile_prices / agg_approx: no `percentile(` exact aggregate
    in the physical plan — the buffering form stalled the sf10 sweep;
    the value-histogram formulation is the locked shape
    (percentile_approx, a bounded sketch, remains allowed)."""
    from data_iceberg_sandbox_spark.operators import advanced

    for fn in (advanced.percentile_prices, advanced.agg_approx):
        df = fn(spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "percentile(" not in plan, fn.__name__


@pytest.mark.parametrize(
    "qname",
    [
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
    ],
)
def test_data_scaled_joins_carry_no_hint(spark, qname):
    """Spark picks every data-scaled join strategy itself (a static
    broadcast under autoBroadcastJoinThreshold, AQE's runtime re-plan
    above it), so the analyzed plans of these TPC-H queries carry no
    hint node at any scale. Bounded literal folds (_inline_nations maps)
    are not hint nodes; q9's 25-row nation join keeps its hint."""
    import __spark_entry__ as m

    plan = m.queries()[qname](spark, SF_SMOKE)._jdf.queryExecution().analyzed().toString()
    allowed = 1 if qname == "tpch_q9_product_profit" else 0
    got = plan.count("ResolvedHint")
    assert got <= allowed, f"{qname}: {got} hints in the plan\n{plan}"
