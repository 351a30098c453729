"""Distributed nonparametric tests and distribution-drift operators.

The reference's analytics surface stops at grouped aggregates; a data
engine feeding experimentation / drift monitoring at 100 TB needs the
rank- and distribution-level statistics computed WITHOUT materializing
either sample on one node. Each operator here reduces the fact table to
value-grain (or cell-grain) integer sufficient statistics first — the
only shuffle touches the fact once — and finishes the closed form on
the tiny reduced frame:

- two-sample Kolmogorov–Smirnov: D = max |F1 − F2| computed as a pure
  INTEGER maximum (|c1·N2 − c2·N1|), so the statistic is exact and
  bit-identical across engines, no float ECDF anywhere;
- Mann–Whitney U / ROC-AUC: the rank-sum restated as the value-grain
  sum n1(v)·(2·c2<(v) + n2(v)) — 2U is exact BIGINT; AUC and the
  tie-corrected normal approximation finish in one deterministic IEEE
  sequence;
- per-segment KL-divergence drift: each event type's hour-of-day
  profile against the corpus profile, with ln quantized to 1e-6 nats
  BEFORE the weighted sum (the `text_word_entropy` convention — float
  Σ p·ln is summation-order-dependent and can never hash-match).

Determinism conventions as everywhere (operators/spec.py): scale-2
BIGINT fixed point for values, integer/decimal accumulation, one final
IEEE division sequence, identical aliases both sides.

The value-grain reduction is the 100 TB argument: `value` is 2-decimal
money bounded to ≤~50k distinct fixed points, so the post-shuffle frame
is O(domain), not O(rows), and the single-partition cumulative window
runs on ≤50k rows at ANY scale factor (same bound `quantile_stats_exact`
relies on). Integer headroom: c1·N2 ≤ N1·N2 needs both samples ≤ ~3e9
rows to stay inside int64 — stated per operator.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.money import fixed
from ..sources.registry import load_table
from .spec import QuerySpec


def _value_grain_counts(spark, sf_dir, type_a: str, type_b: str):
    """Fact → value-grain (v_fp, n1, n2): the one fact-wide shuffle both
    rank tests share. Map-side combine collapses each partition to its
    distinct fixed points before the exchange."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(type_a, type_b)
    )
    return (
        ev.select(
            fixed("value").alias("v_fp"),
            F.when(F.col("event_type") == type_a, 1).otherwise(0).alias("t1"),
        )
        .groupBy("v_fp")
        .agg(
            F.sum("t1").alias("n1"),
            (F.count(F.lit(1)) - F.sum("t1")).alias("n2"),
        )
    )


def ks_test_value_dist(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov test: does the `purchase` value
    distribution differ from the `click` value distribution?

    D = max_v |F1(v) − F2(v)| over the pooled support. With c1/c2 the
    cumulative counts and N1/N2 the totals, D = max |c1·N2 − c2·N1| /
    (N1·N2): the maximum is found in EXACT integer arithmetic and only
    the final statistic performs divisions. The scaled statistic
    sqrt(N1·N2/(N1+N2))·D is compared against the α=0.05 asymptotic
    critical value c = 1.358 (Smirnov's K∞; public tables).

    Scale shape: one fact shuffle to value grain (≤~50k rows — 2-decimal
    money domain), then a single-partition cumulative window over the
    value grain (bounded by the DOMAIN, not the data; the same bound
    quantile_stats_exact documents), then a 1-row reduce. Integer
    headroom: c1·N2 ≤ N1·N2 < 2^63 for samples up to ~3e9 rows each."""
    g = _value_grain_counts(spark, sf_dir, "purchase", "click")
    cum = W.orderBy("v_fp").rowsBetween(W.unboundedPreceding, W.currentRow)
    # totals ride the SAME single-partition window pass as an
    # unbounded frame (r13 review): the old totals branch re-aggregated
    # g through a crossJoin, instantiating the fact-wide value-grain
    # subtree twice in the plan — the duplicate-subtree-across-crossJoin
    # pattern AQE exchange reuse does not reliably merge
    full = W.orderBy("v_fp").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    joined = g.select(
        F.sum("n1").over(cum).alias("c1"),
        F.sum("n2").over(cum).alias("c2"),
        F.sum("n1").over(full).alias("n1_total"),
        F.sum("n2").over(full).alias("n2_total"),
    )
    row = joined.agg(
        F.max("n1_total").alias("n1_total"),
        F.max("n2_total").alias("n2_total"),
        F.max(
            F.abs(
                F.col("c1") * F.col("n2_total")
                - F.col("c2") * F.col("n1_total")
            )
        ).alias("d_num"),
    )
    n1d = F.col("n1_total").cast("double")
    n2d = F.col("n2_total").cast("double")
    d = F.col("d_num").cast("double") / (n1d * n2d)
    scaled = F.round(d * F.sqrt(n1d * n2d / (n1d + n2d)), 6)
    return row.select(
        "n1_total",
        "n2_total",
        "d_num",
        F.round(d, 9).alias("d_stat"),
        scaled.alias("ks_scaled"),
        (scaled > F.lit(1.358)).alias("reject_05"),
    )


KS_TEST_ORACLE = """
WITH s AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v_fp,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS t1
  FROM events WHERE event_type IN ('purchase', 'click')),
g AS (
  SELECT v_fp, sum(t1) AS n1, count(*) - sum(t1) AS n2
  FROM s GROUP BY 1),
c AS (
  SELECT sum(n1) OVER w AS c1, sum(n2) OVER w AS c2
  FROM g WINDOW w AS (ORDER BY v_fp ROWS UNBOUNDED PRECEDING)),
t AS (SELECT sum(n1) AS n1_total, sum(n2) AS n2_total FROM g),
r AS (
  SELECT CAST(max(n1_total) AS BIGINT) AS n1_total,
         CAST(max(n2_total) AS BIGINT) AS n2_total,
         CAST(max(abs(c1 * n2_total - c2 * n1_total)) AS BIGINT) AS d_num
  FROM c, t)
SELECT n1_total, n2_total, d_num,
       round(CAST(d_num AS DOUBLE)
             / (CAST(n1_total AS DOUBLE) * CAST(n2_total AS DOUBLE)), 9)
         AS d_stat,
       round(CAST(d_num AS DOUBLE)
             / (CAST(n1_total AS DOUBLE) * CAST(n2_total AS DOUBLE))
             * sqrt(CAST(n1_total AS DOUBLE) * CAST(n2_total AS DOUBLE)
                    / (CAST(n1_total AS DOUBLE) + CAST(n2_total AS DOUBLE))),
             6) AS ks_scaled,
       round(CAST(d_num AS DOUBLE)
             / (CAST(n1_total AS DOUBLE) * CAST(n2_total AS DOUBLE))
             * sqrt(CAST(n1_total AS DOUBLE) * CAST(n2_total AS DOUBLE)
                    / (CAST(n1_total AS DOUBLE) + CAST(n2_total AS DOUBLE))),
             6) > 1.358 AS reject_05
FROM r
"""


def mwu_auc_value_dist(spark, sf_dir):
    """Mann–Whitney U test / ROC-AUC between the `purchase` and `click`
    value samples. U1 counts (pairwise) how often a purchase value
    exceeds a click value, ties at ½ — identically the AUC numerator,
    so AUC = U1/(N1·N2) falls out of the same statistic.

    Value-grain restatement (exact, no per-row ranks): with c2<(v) the
    click count strictly below v, 2·U1 = Σ_v n1(v)·(2·c2<(v) + n2(v))
    — pure BIGINT. The normal approximation uses the tie-corrected
    variance σ² = (N1·N2/12)·((N+1) − Σ(t³−t)/(N·(N−1))) with t the
    pooled tie-group sizes; t³ accumulates in decimal(38,0) on the
    ≤50k-row value grain (bigint t³ would overflow past t≈2e6), and
    z = (2U1 − N1·N2) / (2σ) finishes in one deterministic IEEE
    sequence.

    Scale shape: identical to ks_test_value_dist — one fact shuffle to
    the bounded value grain, one single-partition window over ≤50k
    rows, one 1-row reduce. 2U1 ≤ 2·N1·N2 < 2^63 for samples up to
    ~2e9 rows each."""
    g = _value_grain_counts(spark, sf_dir, "purchase", "click")
    cum = W.orderBy("v_fp").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = g.select(
        "n1",
        "n2",
        (F.sum("n2").over(cum) - F.col("n2")).alias("c2_less"),
    )
    row = c.agg(
        F.sum("n1").alias("n1_total"),
        F.sum("n2").alias("n2_total"),
        F.sum(
            F.col("n1") * (F.lit(2) * F.col("c2_less") + F.col("n2"))
        ).alias("u1_x2"),
        F.sum(
            (
                (F.col("n1") + F.col("n2")).cast("decimal(38,0)")
                * (F.col("n1") + F.col("n2")).cast("decimal(38,0)")
                * (F.col("n1") + F.col("n2")).cast("decimal(38,0)")
                - (F.col("n1") + F.col("n2")).cast("decimal(38,0)")
            )
        ).alias("tie_cubes"),
    )
    n1d = F.col("n1_total").cast("double")
    n2d = F.col("n2_total").cast("double")
    nd = n1d + n2d
    var = (
        n1d
        * n2d
        / F.lit(12.0)
        * (
            (nd + F.lit(1.0))
            - F.col("tie_cubes").cast("double") / (nd * (nd - F.lit(1.0)))
        )
    )
    z = (F.col("u1_x2").cast("double") - n1d * n2d) / (
        F.lit(2.0) * F.sqrt(var)
    )
    return row.select(
        "n1_total",
        "n2_total",
        "u1_x2",
        F.round(
            F.col("u1_x2").cast("double") / (F.lit(2.0) * n1d * n2d), 9
        ).alias("auc"),
        F.round(z, 6).alias("z_score"),
    )


MWU_AUC_ORACLE = """
WITH s AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v_fp,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS t1
  FROM events WHERE event_type IN ('purchase', 'click')),
g AS (
  SELECT v_fp, sum(t1) AS n1, count(*) - sum(t1) AS n2
  FROM s GROUP BY 1),
c AS (
  SELECT n1, n2, sum(n2) OVER w - n2 AS c2_less
  FROM g WINDOW w AS (ORDER BY v_fp ROWS UNBOUNDED PRECEDING)),
r AS (
  SELECT CAST(sum(n1) AS BIGINT) AS n1_total,
         CAST(sum(n2) AS BIGINT) AS n2_total,
         CAST(sum(n1 * (2 * c2_less + n2)) AS BIGINT) AS u1_x2,
         sum(CAST(n1 + n2 AS DECIMAL(38,0)) * CAST(n1 + n2 AS DECIMAL(38,0))
             * CAST(n1 + n2 AS DECIMAL(38,0))
             - CAST(n1 + n2 AS DECIMAL(38,0))) AS tie_cubes
  FROM c)
SELECT n1_total, n2_total, u1_x2,
       round(CAST(u1_x2 AS DOUBLE)
             / (2.0 * CAST(n1_total AS DOUBLE) * CAST(n2_total AS DOUBLE)),
             9) AS auc,
       round((CAST(u1_x2 AS DOUBLE)
              - CAST(n1_total AS DOUBLE) * CAST(n2_total AS DOUBLE))
             / (2.0 * sqrt(CAST(n1_total AS DOUBLE) * CAST(n2_total AS DOUBLE)
                           / 12.0
                           * ((CAST(n1_total AS DOUBLE)
                               + CAST(n2_total AS DOUBLE) + 1.0)
                              - CAST(tie_cubes AS DOUBLE)
                                / ((CAST(n1_total AS DOUBLE)
                                    + CAST(n2_total AS DOUBLE))
                                   * (CAST(n1_total AS DOUBLE)
                                      + CAST(n2_total AS DOUBLE) - 1.0))))),
             6) AS z_score
FROM r
"""


def kl_hourly_drift(spark, sf_dir):
    """Per-event-type distribution drift: KL(type's hour-of-day profile
    ‖ corpus hour-of-day profile) in nats — the standard monitoring
    statistic for "does this segment's temporal behavior diverge from
    the fleet" (drift detectors threshold exactly this quantity).

    KL_t = Σ_h (c_th/n_t)·ln((c_th·N)/(n_t·g_h)). The log's argument is
    a ratio of exact counts; ln is quantized to 1e-6 nats FIRST
    (round(1e6·ln·) as BIGINT — the `text_word_entropy` convention) so
    the weighted sum Σ c_th·Q runs in exact integer arithmetic,
    order-free across engines; the ≤1e-6-nat quantization error is
    absorbed by the round-6 emit. Zero cells contribute zero (KL's
    0·ln 0 limit) and g_h > 0 wherever any c_th > 0, so the log is
    always finite.

    Scale shape: ONE fact shuffle to (event_type, hour) grain — 120
    cells regardless of data size; the corpus profile, totals, and the
    quantized fold all run on that 120-row frame (window partitions
    over hour/type grains, no second fact pass)."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type", F.hour("ts").alias("h")
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    by_type = W.partitionBy("event_type")
    by_hour = W.partitionBy("h")
    whole = W.partitionBy()
    enriched = cells.select(
        "event_type",
        "c",
        F.sum("c").over(by_type).alias("n_t"),
        F.sum("c").over(by_hour).alias("g_h"),
        F.sum("c").over(whole).alias("n_all"),
    )
    q = F.round(
        F.lit(1000000.0)
        * F.log(
            (F.col("c").cast("double") * F.col("n_all").cast("double"))
            / (F.col("n_t").cast("double") * F.col("g_h").cast("double"))
        )
    ).cast("bigint")
    return (
        enriched.groupBy("event_type")
        .agg(
            F.max("n_t").alias("n_events"),
            F.sum(F.col("c") * q).alias("s"),
        )
        .select(
            "event_type",
            "n_events",
            F.round(
                F.col("s").cast("double")
                / (F.col("n_events").cast("double") * F.lit(1000000.0)),
                6,
            ).alias("kl_nats"),
        )
    )


KL_DRIFT_ORACLE = """
WITH cells AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS h, count(*) AS c
  FROM events GROUP BY 1, 2),
e AS (
  SELECT event_type, c,
         sum(c) OVER (PARTITION BY event_type) AS n_t,
         sum(c) OVER (PARTITION BY h) AS g_h,
         sum(c) OVER () AS n_all
  FROM cells)
SELECT event_type, CAST(max(n_t) AS BIGINT) AS n_events,
       round(CAST(sum(c * CAST(round(1000000.0
                  * ln((CAST(c AS DOUBLE) * CAST(n_all AS DOUBLE))
                       / (CAST(n_t AS DOUBLE) * CAST(g_h AS DOUBLE))))
                  AS BIGINT)) AS DOUBLE)
             / (CAST(max(n_t) AS DOUBLE) * 1000000.0), 6) AS kl_nats
FROM e GROUP BY 1
"""


def lm_perplexity_score(spark, sf_dir):
    """Unigram language-model perplexity per document — the CCNet-style
    quality signal (Wenzek et al., "CCNet: Extracting High Quality
    Monolingual Datasets", 2020 — public): documents whose tokens are
    improbable under the corpus-wide unigram model score a high
    perplexity and sit in the filter tail. The corpus itself is the
    model (MLE unigram probabilities cf/T), so no external artifact is
    needed and the oracle is exact.

    Per document: H_d = −(1/n_d)·Σ_term c_dt·ln(cf_term/T), and
    ppl_d = exp(H_d). Each term's ln(cf/T) is quantized to 1e-6 nats
    (round(1e6·ln·) as BIGINT — the `text_word_entropy` convention), so
    the per-doc weighted sum is exact integer arithmetic, order-free;
    one final IEEE division + exp, with the round-6/round-2 emits
    absorbing sub-ulp libm differences.

    Scale shape: (1) one (doc, term) shuffle builds per-doc term
    histograms with map-side combine; (2) term-grain corpus counts
    reduce from that histogram (vocabulary-sized, NOT token-sized);
    (3) the histogram joins the quantized log-prob table on term —
    term-keyed shuffle join (the vocab side is vocabulary-sized; no
    broadcast assumption, so it scales past any driver limit); (4) one
    doc-keyed fold. Memory is bounded by per-doc distinct terms and
    the vocab partition, never the corpus."""
    from .tokenbase import token_frame

    tc = (
        token_frame(spark, sf_dir)
        .select("doc_id", F.explode("arr").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cf = tc.groupBy("term").agg(F.sum("c").alias("cf"))
    total = cf.agg(F.sum("cf").alias("t_total"))
    lp = cf.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(
            F.lit(1000000.0)
            * F.log(
                F.col("cf").cast("double") / F.col("t_total").cast("double")
            )
        )
        .cast("bigint")
        .alias("lp"),
    )
    per_doc = (
        tc.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("lp")).alias("s"),
        )
    )
    xent = -F.col("s").cast("double") / (
        F.col("n_tokens").cast("double") * F.lit(1000000.0)
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(xent, 6).alias("xent_nats"),
        F.round(F.exp(xent), 2).alias("ppl"),
    )


LM_PERPLEXITY_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents),
tc AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
cf AS (SELECT term, sum(c) AS cf FROM tc GROUP BY 1),
t AS (SELECT sum(cf) AS t_total FROM cf),
lp AS (
  SELECT term,
         CAST(round(1000000.0 * ln(CAST(cf AS DOUBLE)
                                   / CAST(t_total AS DOUBLE))) AS BIGINT)
           AS lp
  FROM cf, t),
per_doc AS (
  SELECT tc.doc_id, sum(tc.c) AS n_tokens, sum(tc.c * lp.lp) AS s
  FROM tc JOIN lp ON tc.term = lp.term
  GROUP BY 1)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(-CAST(s AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000.0), 6)
         AS xent_nats,
       round(exp(-CAST(s AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * 1000000.0)), 2) AS ppl
FROM per_doc
"""


def events_percentile_rank(spark, sf_dir):
    """Percentile feature transform: every event annotated with its
    exact within-type cumulative distribution position (cume_dist) and
    percent_rank — the rank-based feature encoding ML pipelines apply
    to heavy-tailed value columns before training.

    The naive formulation is a window sort over the whole fact
    (`percent_rank() OVER (PARTITION BY type ORDER BY value)` — a
    per-type global sort that does not scale). Here ranks come from the
    value HISTOGRAM instead: one map-side-combined shuffle reduces the
    fact to ≤~250k (type, v_fp) cells (2-decimal money domain × 5
    types), the cumulative scan runs per type over that bounded grain,
    and the fact picks up its ranks by a BROADCAST join on
    (type, v_fp) — the fact itself is never sorted and never shuffled
    wider than the histogram reduction. Identical integer ratios both
    engines: cume_dist = c/N_t, percent_rank = (c−n)/(N_t−1).

    100 TB posture: broadcast is bounded by the value DOMAIN, not the
    row count; a wider domain (e.g. float values) would first quantize
    to the feature resolution — the transform is defined on quantized
    values either way."""
    ev = load_table(spark, sf_dir, "events")
    vfp = fixed("value")
    vg = (
        ev.select("event_type", vfp.alias("v_fp"))
        .groupBy("event_type", "v_fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cum = (
        W.partitionBy("event_type")
        .orderBy("v_fp")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    whole = W.partitionBy("event_type")
    h = vg.select(
        "event_type",
        "v_fp",
        F.round(
            F.sum("n").over(cum).cast("double")
            / F.sum("n").over(whole).cast("double"),
            9,
        ).alias("cume_dist"),
        F.round(
            F.when(
                F.sum("n").over(whole) > 1,
                (F.sum("n").over(cum) - F.col("n")).cast("double")
                / (F.sum("n").over(whole) - F.lit(1)).cast("double"),
            ).otherwise(F.lit(0.0)),  # singleton type: Spark NULL vs DuckDB
            # IEEE NaN on 0/0 would diverge — both engines pin to 0.0
            9,
        ).alias("pct_rank"),
    )
    return ev.select("event_id", "event_type", vfp.alias("v_fp")).join(
        F.broadcast(h), ["event_type", "v_fp"]
    ).select("event_id", "event_type", "cume_dist", "pct_rank")


PERCENTILE_RANK_ORACLE = """
WITH vg AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_fp,
         count(*) AS n
  FROM events GROUP BY 1, 2),
h AS (
  SELECT event_type, v_fp,
         round(CAST(sum(n) OVER w AS DOUBLE)
               / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 9)
           AS cume_dist,
         round(CASE WHEN sum(n) OVER (PARTITION BY event_type) > 1
                    THEN CAST(sum(n) OVER w - n AS DOUBLE)
                         / CAST(sum(n) OVER (PARTITION BY event_type) - 1
                                AS DOUBLE)
                    ELSE 0.0 END,
               9) AS pct_rank
  FROM vg
  WINDOW w AS (PARTITION BY event_type ORDER BY v_fp
               ROWS UNBOUNDED PRECEDING))
SELECT e.event_id, e.event_type, h.cume_dist, h.pct_rank
FROM events e
JOIN h ON e.event_type = h.event_type
      AND CAST(round(e.value * 100) AS BIGINT) = h.v_fp
"""


def lm_bigram_perplexity(spark, sf_dir):
    """Bigram conditional-LM perplexity per document — the second-order
    companion to `lm_perplexity_score`: H_d = −(1/m_d)·Σ c_d(w1,w2)·
    ln(c(w1,w2)/c(w1·)) with m_d the document's bigram count and c(w1·)
    the corpus count of w1 as a left context (MLE conditional — the
    corpus is its own model, so the oracle is exact; documents with
    fewer than two tokens drop out on both engines).

    Bigrams form as a pure projection — arrays_zip of two slices of the
    token array, no positional self-join (joining tokens on (doc,
    pos+1) would shuffle the corpus at token grain twice). ln quantized
    to 1e-6 nats before the weighted sum (the word-entropy convention);
    the context totals derive from the BIGRAM vocabulary frame, never a
    second corpus pass.

    Scale shape: one (doc, bigram) histogram shuffle with map-side
    combine, vocabulary-grain reductions, one bigram-keyed join back
    (no broadcast assumption on the bigram vocab), one doc fold —
    the lm_perplexity_score shape one order higher."""
    from .tokenbase import token_frame

    # Guard size >= 2 BEFORE the slices: F.slice with a negative length
    # (empty/NULL text → size 0 or −1) throws at runtime, and the
    # oracle's `WHERE len(arr) >= 2` would otherwise be asymmetric.
    tc = (
        token_frame(spark, sf_dir)
        .select("doc_id", "arr")
        .filter(F.size("arr") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("arr", 1, F.size("arr") - 1).alias("w1"),
                    F.slice("arr", 2, F.size("arr") - 1).alias("w2"),
                )
            ).alias("z"),
        )
        .select("doc_id", "z.w1", "z.w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cb = tc.groupBy("w1", "w2").agg(F.sum("c").alias("cb"))
    cw = cb.groupBy("w1").agg(F.sum("cb").alias("cw"))
    lp = cb.join(cw, "w1").select(
        "w1",
        "w2",
        F.round(
            F.lit(1000000.0)
            * F.log(F.col("cb").cast("double") / F.col("cw").cast("double"))
        )
        .cast("bigint")
        .alias("lp"),
    )
    per_doc = (
        tc.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("lp")).alias("s"),
        )
    )
    xent = -F.col("s").cast("double") / (
        F.col("n_bigrams").cast("double") * F.lit(1000000.0)
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(xent, 6).alias("xent_nats"),
        F.round(F.exp(xent), 2).alias("ppl"),
    )


LM_BIGRAM_ORACLE = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS arr
  FROM documents),
bg AS (
  SELECT doc_id,
         unnest(arr[1:len(arr)-1]) AS w1,
         unnest(arr[2:len(arr)]) AS w2
  FROM t WHERE len(arr) >= 2),
tc AS (SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
cb AS (SELECT w1, w2, sum(c) AS cb FROM tc GROUP BY 1, 2),
cw AS (SELECT w1, sum(cb) AS cw FROM cb GROUP BY 1),
lp AS (
  SELECT cb.w1, cb.w2,
         CAST(round(1000000.0 * ln(CAST(cb AS DOUBLE)
                                   / CAST(cw AS DOUBLE))) AS BIGINT) AS lp
  FROM cb JOIN cw ON cb.w1 = cw.w1),
per_doc AS (
  SELECT tc.doc_id, CAST(sum(tc.c) AS BIGINT) AS n_bigrams,
         sum(tc.c * lp.lp) AS s
  FROM tc JOIN lp ON tc.w1 = lp.w1 AND tc.w2 = lp.w2
  GROUP BY 1)
SELECT doc_id, n_bigrams,
       round(-CAST(s AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1000000.0), 6)
         AS xent_nats,
       round(exp(-CAST(s AS DOUBLE)
                 / (CAST(n_bigrams AS DOUBLE) * 1000000.0)), 2) AS ppl
FROM per_doc
"""


def lm_kneser_ney_bigrams(spark, sf_dir):
    """Interpolated Kneser–Ney bigram probabilities over the corpus —
    the smoothing every n-gram LM pipeline actually ships (Kneser &
    Ney 1995; Chen & Goodman 1999 public formulation), emitted for
    every observed bigram:

        P(w2|w1) = (c(w1w2) − D)/c(w1·)
                 + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··),   D = 0.75

    The discount D = 3/4 is EXACT in quarters, so the whole expression
    collapses to one integer ratio:
        P = ((4c − 3)·N1all + 3·N1w1·N1w2) / (4·c(w1·)·N1all)
    — numerator/denominator accumulate in DECIMAL(38,0) (the cross
    products pass int64 around 1e9-token corpora) and ONE IEEE division
    emits. No float ever enters the statistic itself.

    Scale shape: one (w1,w2)-keyed corpus histogram shuffle (map-side
    combined, output = bigram vocabulary); the four sufficient
    statistics (c(w1·), N1+(w1·), N1+(·w2), N1+(··)) are vocabulary-
    grain reductions of THAT frame — the corpus is never re-scanned —
    joined back on w1/w2 at bigram-vocabulary grain."""
    from .tokenbase import token_frame

    # the shared corpus token frame (tokenbase) — re-running the
    # tokenizing regex here re-paid the LM family's dominant measured
    # cost per call (r12 review)
    cb = (
        token_frame(spark, sf_dir)
        .select("arr")
        .filter(F.size("arr") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("arr", 1, F.size("arr") - 1).alias("w1"),
                    F.slice("arr", 2, F.size("arr") - 1).alias("w2"),
                )
            ).alias("z")
        )
        .select("z.w1", "z.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cw1 = cb.groupBy("w1").agg(
        F.sum("c").alias("ct"), F.count(F.lit(1)).alias("n1w1")
    )
    cw2 = cb.groupBy("w2").agg(F.count(F.lit(1)).alias("n1w2"))
    n1all = cb.agg(F.count(F.lit(1)).alias("n1all"))
    j = cb.join(cw1, "w1").join(cw2, "w2").crossJoin(F.broadcast(n1all))
    d38 = "decimal(38,0)"
    # operands cast to decimal BEFORE the cross products: (4c−3)·N1all in
    # int64 would overflow near 1e9-bigram corpora; decimal keeps 1e38
    num = (
        (F.lit(4) * F.col("c") - F.lit(3)).cast(d38)
        * F.col("n1all").cast(d38)
        + F.lit(3).cast(d38) * F.col("n1w1").cast(d38) * F.col("n1w2").cast(d38)
    )
    den = F.lit(4).cast(d38) * F.col("ct").cast(d38) * F.col("n1all").cast(d38)
    return j.select(
        "w1",
        "w2",
        "c",
        F.round(num.cast("double") / den.cast("double"), 6).alias("p_kn"),
    )


LM_KNESER_NEY_ORACLE = """
WITH t AS (
  SELECT regexp_extract_all(lower(text), '[a-z]+') AS arr FROM documents),
bg AS (
  SELECT unnest(arr[1:len(arr)-1]) AS w1, unnest(arr[2:len(arr)]) AS w2
  FROM t WHERE len(arr) >= 2),
cb AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
cw1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS ct, count(*) AS n1w1
        FROM cb GROUP BY 1),
cw2 AS (SELECT w2, count(*) AS n1w2 FROM cb GROUP BY 1),
n1 AS (SELECT count(*) AS n1all FROM cb)
SELECT cb.w1, cb.w2, cb.c,
       round(CAST((4 * CAST(cb.c AS HUGEINT) - 3) * n1all
                  + 3 * CAST(n1w1 AS HUGEINT) * n1w2 AS DOUBLE)
             / CAST(4 * CAST(ct AS HUGEINT) * n1all AS DOUBLE), 6) AS p_kn
FROM cb JOIN cw1 USING (w1) JOIN cw2 USING (w2) CROSS JOIN n1
"""
# ^ HUGEINT mirrors the Spark side's decimal(38,0) operands: at the
# ~1e9-bigram scale the decimal cast defends, DuckDB's overflow-checked
# BIGINT products would raise while Spark succeeded (r12 review)


def events_user_fano_dispersion(spark, sf_dir):
    """Per-user burstiness via the Fano factor (variance-to-mean ratio
    of daily event counts over the table's full day span): D ≈ 1 is
    Poisson-like human traffic, D ≫ 1 is bursty (campaign/incident
    spikes), D ≪ 1 with high volume is suspiciously metronomic — the
    classic bot signal.

    No dense per-user grid is materialized: inactive days contribute 0
    to both Σc and Σc², so with the span length n as a broadcast
    constant, var/mean = (n·Σc² − S²)/(n·S) is EXACT integer algebra
    over only the user's ACTIVE days — the operator is O(active cells),
    not O(users × days) (the seasonal-anomaly grid trick inverted).
    One (user, day) shuffle with map-side combine, one user fold."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        (
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1
        ).alias("n_days")
    )
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    per = daily.groupBy("user_id").agg(
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
        F.count(F.lit(1)).alias("active_days"),
    )
    j = per.crossJoin(F.broadcast(span))
    fano = (F.col("n_days") * F.col("q") - F.col("s") * F.col("s")).cast(
        "double"
    ) / (F.col("n_days") * F.col("s")).cast("double")
    return j.select(
        "user_id",
        "active_days",
        "s",
        F.round(fano, 6).alias("fano"),
        (fano > 2.0).alias("is_bursty"),
        ((fano < 0.5) & (F.col("s") >= 30)).alias("is_metronomic"),
    )


USER_FANO_ORACLE = """
WITH span AS (
  SELECT datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1
           AS n_days
  FROM events),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2),
per AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS q,
         count(*) AS active_days
  FROM daily GROUP BY 1)
SELECT user_id, active_days, s,
       round(CAST(n_days * q - s * s AS DOUBLE)
             / CAST(n_days * s AS DOUBLE), 6) AS fano,
       CAST(n_days * q - s * s AS DOUBLE)
         / CAST(n_days * s AS DOUBLE) > 2.0 AS is_bursty,
       (CAST(n_days * q - s * s AS DOUBLE)
          / CAST(n_days * s AS DOUBLE) < 0.5 AND s >= 30) AS is_metronomic
FROM per CROSS JOIN span
"""


SPECS: list[QuerySpec] = [
    QuerySpec("ks_test_value_dist", ks_test_value_dist, KS_TEST_ORACLE),
    QuerySpec(
        "events_user_fano_dispersion",
        events_user_fano_dispersion,
        USER_FANO_ORACLE,
    ),
    QuerySpec(
        "lm_kneser_ney_bigrams", lm_kneser_ney_bigrams, LM_KNESER_NEY_ORACLE
    ),
    QuerySpec("mwu_auc_value_dist", mwu_auc_value_dist, MWU_AUC_ORACLE),
    QuerySpec("kl_hourly_drift", kl_hourly_drift, KL_DRIFT_ORACLE),
    QuerySpec("lm_perplexity_score", lm_perplexity_score, LM_PERPLEXITY_ORACLE),
    QuerySpec(
        "events_percentile_rank",
        events_percentile_rank,
        PERCENTILE_RANK_ORACLE,
    ),
    QuerySpec(
        "lm_bigram_perplexity", lm_bigram_perplexity, LM_BIGRAM_ORACLE
    ),
]
