"""Property tests for the approximate/rows-only EXT operators (the
oracle-checked ones are covered by test_correctness)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from data_iceberg_sandbox_spark.operators.dedup import (
    dedup_incremental_lsh,
    dedup_simhash,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_signatures,
)
from data_iceberg_sandbox_spark.operators.multimodal import (
    decode_features,
    synth_media,
)
from data_iceberg_sandbox_spark.operators.similarity import (
    ann_cosine_topk,
    ann_ivf_topk,
    ann_lsh_bucketed,
    embedding_semdedup,
)
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_semdedup_invariants(spark):
    """Keeper ordering and cell containment: a duplicate always points
    at a LOWER vec_id in the SAME cell, is_dup mirrors dup_of, and an
    impossible threshold (above the corpus's max pairwise cosine) marks
    nothing."""
    df = embedding_semdedup(spark, SF_ORACLE).cache()
    assert df.filter(F.col("is_dup") != F.col("dup_of").isNotNull()).count() == 0
    assert df.filter(F.col("dup_of") >= F.col("vec_id")).count() == 0
    dups = df.filter("is_dup")
    assert dups.count() > 0  # calibrated default must exercise the path
    keeper_cells = df.select(
        F.col("vec_id").alias("dup_of"), F.col("cent_id").alias("keeper_cell")
    )
    cross_cell = (
        dups.join(keeper_cells, "dup_of")
        .filter(F.col("cent_id") != F.col("keeper_cell"))
        .count()
    )
    assert cross_cell == 0
    none_marked = embedding_semdedup(spark, SF_ORACLE, threshold=0.99)
    assert none_marked.filter("is_dup").count() == 0
    df.unpersist()


def _pair_set(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_lsh_recall_covers_exact_jaccard_pairs(spark):
    exact = _pair_set(jaccard_pairs(spark, SF_ORACLE, threshold=0.5))
    cands = _pair_set(lsh_candidate_pairs(minhash_signatures(spark, SF_ORACLE)))
    assert exact, "calibration: exact near-dup pairs must exist at sf0.01"
    missed = exact - cands
    assert not missed, f"LSH missed true pairs: {missed}"


def test_incremental_lsh_is_best_cross_match_of_full_pairs(spark):
    """The incremental probe must agree with the full-corpus exact pair
    set restricted to cross-side pairs: every batch doc (doc_id%10==0)
    that has a >=0.5 match in the index appears exactly once, with the
    best (jaccard, then lowest match_id) partner."""
    inc = {
        r["doc_id"]: (r["match_id"], r["jaccard"])
        for r in dedup_incremental_lsh(spark, SF_ORACLE).collect()
    }
    assert inc, "calibration: incremental near-dups must exist at sf0.01"
    full = jaccard_pairs(spark, SF_ORACLE, threshold=0.5).collect()
    best: dict = {}
    for r in full:
        for b, i in ((r["doc_a"], r["doc_b"]), (r["doc_b"], r["doc_a"])):
            if b % 10 == 0 and i % 10 != 0:
                cur = best.get(b)
                cand = (-r["jaccard"], i)
                if cur is None or cand < cur:
                    best[b] = cand
    expect = {b: (i, -nj) for b, (nj, i) in best.items()}
    assert inc == expect


def test_simhash_flags_known_neardups(spark):
    exact = _pair_set(jaccard_pairs(spark, SF_ORACLE, threshold=0.8))
    sim = _pair_set(dedup_simhash(spark, SF_ORACLE))
    # simhash is a different signal; require substantial overlap w/ jaccard
    assert exact
    assert len(exact & sim) >= len(exact) * 0.5
    # signatures are deterministic
    s1 = {r["doc_id"]: r["simhash"] for r in simhash_signatures(spark, SF_SMOKE).collect()}
    s2 = {r["doc_id"]: r["simhash"] for r in simhash_signatures(spark, SF_SMOKE).collect()}
    assert s1 == s2


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_ivf_full_probe_equals_bruteforce(spark):
    exact = _topk_sets(ann_cosine_topk(spark, SF_SMOKE))
    n_cents = 6  # sf0.001: 500 vecs / mod 97 → 6 centroids
    full = _topk_sets(ann_ivf_topk(spark, SF_SMOKE, nprobe=n_cents))
    assert full == exact


def test_ivf_and_lsh_partial_recall(spark):
    exact = _topk_sets(ann_cosine_topk(spark, SF_SMOKE))
    ivf = _topk_sets(ann_ivf_topk(spark, SF_SMOKE, nprobe=3))
    lsh = _topk_sets(ann_lsh_bucketed(spark, SF_SMOKE))
    for approx, floor in ((ivf, 0.3), (lsh, 0.0)):
        recalls = [
            len(approx.get(q, set()) & exact[q]) / len(exact[q]) for q in exact
        ]
        assert sum(recalls) / len(recalls) >= floor
    # every approximate hit must be a real vector with a valid score
    assert all(len(v) <= 10 for v in ivf.values())


def test_ivf_refined_centroids_improve_objective(spark):
    """Lloyd refinement must improve the spherical-k-means objective
    (mean similarity to the assigned centroid); recall@10 at fixed
    nprobe is noise-dominated at test scale, so it only gets a
    no-material-regression bound vs the raw seeds."""
    from pyspark.sql import functions as F

    from data_iceberg_sandbox_spark.functions.vector import cosine
    from data_iceberg_sandbox_spark.operators.similarity import ivf_assign

    def objective(refine_iters):
        a, c = ivf_assign(spark, SF_ORACLE, refine_iters=refine_iters)
        return (
            a.join(c, "cent_id")
            .agg(F.avg(cosine(F.col("emb"), F.col("cent_emb"))).alias("m"))
            .collect()[0]["m"]
        )

    seed, refined = objective(0), objective(1)
    assert refined > seed + 0.01, (seed, refined)

    exact = _topk_sets(ann_cosine_topk(spark, SF_ORACLE))

    def recall(refine_iters):
        got = _topk_sets(
            ann_ivf_topk(spark, SF_ORACLE, nprobe=3, refine_iters=refine_iters)
        )
        return sum(
            len(got.get(q, set()) & exact[q]) / len(exact[q]) for q in exact
        ) / len(exact)

    assert recall(1) >= recall(0) - 0.1


def test_int8_quantization_roundtrip_error_bound(spark):
    from data_iceberg_sandbox_spark.operators.similarity import (
        embedding_quantize_int8,
    )
    from data_iceberg_sandbox_spark.sources.registry import load_table

    q = {r["vec_id"]: r for r in embedding_quantize_int8(spark, SF_SMOKE).collect()}
    orig = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, SF_SMOKE, "embeddings").limit(50).collect()
    }
    for vid, vec in orig.items():
        row = q[vid]
        recon = [row["scale"] * qi for qi in row["q"]]
        max_abs = max(abs(x) for x in vec)
        for x, r in zip(vec, recon):
            # symmetric quantization error ≤ scale/2 per element
            assert abs(x - r) <= row["scale"] / 2 + 1e-9, (vid, x, r)
        assert all(-127 <= qi <= 127 for qi in row["q"])
        assert abs(row["scale"] * 127 - max_abs) < 1e-6


def test_decode_features_matches_local_computation(spark):
    media = synth_media(spark, SF_SMOKE).filter(F.col("doc_id") < 20)
    feats = {r["doc_id"]: r for r in decode_features(media).collect()}
    rows = media.select("doc_id", "payload").collect()
    assert len(feats) == len(rows) == 20
    for r in rows:
        b = bytes(r["payload"])
        got = feats[r["doc_id"]]
        assert got["n_bytes"] == len(b)
        s, n = sum(b), len(b)
        # integer half-up at 6 dp — the exact arithmetic of the fake
        # (and of the DuckDB oracle that replays it)
        assert got["mean_byte"] == (2 * s * 1_000_000 + n) // (2 * n) / 1e6


def test_real_decode_is_explicitly_stubbed(spark):
    import pytest

    media = synth_media(spark, SF_SMOKE).limit(2)
    with pytest.raises(Exception) as ei:
        decode_features(media, real_decode=True).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_ann_zero_norm_vector_never_corrupts_topk(spark, tmp_path):
    """A zero-norm embedding (cosine undefined → NaN score) must lose,
    not poison the batch: NaN sorts as largest under np.partition, so an
    unsanitized kth==NaN made the prune mask all-False and silently
    dropped every candidate for that query (ADVICE r5)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    n, dim, k = 40, 64, 5
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    vecs[15] = 0.0  # degenerate candidate (not a query: query ids are 0..7)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(n)], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    out = ann_cosine_topk(spark, str(tmp_path), k=k).toPandas()
    assert set(out["query_id"]) == set(range(8))
    # every query keeps a full, finite top-k; the zero vector never appears
    assert (out.groupby("query_id").size() == k).all()
    assert np.isfinite(out["score"]).all()
    assert 15 not in set(out["neighbor_id"])


def test_paragraph_dedup_keeps_exactly_distinct_segments(spark):
    """Corpus-level conservation: every distinct segment survives exactly
    once (first occurrence), so sum(n_kept) == corpus-distinct segment
    count, and the earliest doc keeps exactly its within-doc distinct
    segments (nothing earlier exists to shadow them)."""
    from data_iceberg_sandbox_spark.operators.dedup import (
        _SEG_WORDS,
        dedup_paragraphs,
    )

    out = dedup_paragraphs(spark, SF_ORACLE).cache()
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    segs = docs.selectExpr(
        "doc_id",
        f"explode(transform(sequence(0, (size(split(text,' '))-1) div {_SEG_WORDS}),"
        f" i -> concat_ws(' ', slice(split(text,' '), i*{_SEG_WORDS}+1, {_SEG_WORDS}))))"
        " AS seg",
    ).cache()
    n_distinct = segs.select("seg").distinct().count()
    assert out.agg(F.sum("n_kept")).first()[0] == n_distinct
    first_doc = segs.agg(F.min("doc_id")).first()[0]
    first_distinct = segs.filter(F.col("doc_id") == first_doc).select("seg").distinct().count()
    row = out.filter(F.col("doc_id") == first_doc).first()
    assert row["n_kept"] == first_distinct
    # reassembly preserves word counts: kept words <= original words,
    # and a doc with zero kept segments has empty clean_text
    bad = out.filter((F.col("n_kept") == 0) & (F.col("clean_text") != "")).count()
    assert bad == 0
    out.unpersist()
    segs.unpersist()


def test_fuzzy_pairs_equal_bruteforce(spark):
    """FastSS blocking has perfect recall at distance 1: the operator's
    pair set must EQUAL the O(n^2) brute-force answer at sf0.01 (100
    supplier names)."""
    from data_iceberg_sandbox_spark.operators.dedup import (
        fuzzy_pairs_supplier_names,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    names = {
        r["s_suppkey"]: r["s_name"]
        for r in spark.read.parquet(f"{SF_ORACLE}/supplier.parquet").collect()
    }
    keys = sorted(names)
    expected = {
        (ka, kb)
        for i, ka in enumerate(keys)
        for kb in keys[i + 1 :]
        if lev(names[ka], names[kb]) <= 1
    }
    got = {
        (r["key_a"], r["key_b"])
        for r in fuzzy_pairs_supplier_names(spark, SF_ORACLE).collect()
    }
    assert expected, "calibration: distance-1 name pairs must exist"
    assert got == expected


def test_time_weighted_avg_interval_accounting(spark):
    """Every event except each user's last opens exactly one interval:
    sum(n_intervals) == n_events - n_users; the weighted mean sits
    within the per-type value range."""
    from data_iceberg_sandbox_spark.operators.advanced import (
        events_time_weighted_avg,
    )

    out = events_time_weighted_avg(spark, SF_ORACLE).cache()
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert out.agg(F.sum("n_intervals")).first()[0] == n_events - n_users
    rng = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    viol = (
        out.join(rng, "event_type")
        .filter((F.col("tw_avg") < F.col("lo")) | (F.col("tw_avg") > F.col("hi")))
        .count()
    )
    assert viol == 0
    out.unpersist()


def test_lm_bigram_perplexity_tokenless_docs(spark, tmp_path):
    """Docs whose text yields <2 tokens (empty, numeric-only, NULL) must
    drop out cleanly, not crash F.slice with a negative length — the
    oracle's `WHERE len(arr) >= 2` guard, mirrored Spark-side (r9)."""
    from data_iceberg_sandbox_spark.operators.stats_tests import (
        lm_bigram_perplexity,
    )

    rows = [
        (1, "alpha beta alpha beta", "en", "web", 21),
        (2, "", "en", "web", 0),
        (3, "12345 67890", "en", "web", 11),
        (4, None, "en", "web", None),
        (5, "solo", "en", "web", 4),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = lm_bigram_perplexity(spark, str(tmp_path)).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["n_bigrams"] == 3


def test_histogram_ntile_matches_global_ntile(spark):
    """histogram_ntile must reproduce ntile() OVER (ORDER BY ...) exactly,
    including the uneven-bucket boundaries (first N%n buckets one larger),
    duplicate keys broken by the tie column, and N < n."""
    from pyspark.sql.window import Window as W2

    from data_iceberg_sandbox_spark.functions.ranks import histogram_ntile

    df = (
        spark.range(997)
        .withColumn("k", (F.col("id") * 2654435761) % 101)  # heavy ties
        .withColumn("tid", F.col("id"))
    )
    for n, desc in [(5, False), (10, True), (3, False)]:
        key = (-F.col("k")).cast("long") if desc else F.col("k")
        order = [F.col("k").desc() if desc else F.col("k").asc(), F.col("tid").asc()]
        want = df.select(
            "tid", F.ntile(n).over(W2.orderBy(*order)).alias("b")
        )
        got = histogram_ntile(
            df, key, n, [F.col("tid").asc()], out="b", target_cells=16
        ).select("tid", "b")
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    # tiny frame: fewer rows than buckets
    tiny = spark.range(3).withColumn("k", F.col("id")).withColumn("tid", F.col("id"))
    got = histogram_ntile(tiny, F.col("k"), 7, [F.col("tid").asc()], out="b")
    assert sorted(r["b"] for r in got.collect()) == [1, 2, 3]


def test_attribution_shapley_efficiency_axiom(spark):
    """Shapley efficiency: Σφᵢ over channels must equal v(all)−v(∅) =
    converting users with ≥1 channel touch − 0 (exactly, up to the one
    emit rounding) — the axiom that makes the attribution a proper
    value split rather than a heuristic score."""
    import duckdb

    from data_iceberg_sandbox_spark.operators.insights import (
        attribution_shapley,
    )

    sf = "/root/testdata/sf0.001"
    out = attribution_shapley(spark, sf).collect()
    total_phi = sum(r["shapley_conversions"] for r in out)
    con = duckdb.connect()
    expected = con.execute(
        f"""
        SELECT count(*) FROM (
          SELECT user_id,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) c,
                 max(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) t
          FROM '{sf}/events.parquet' GROUP BY user_id)
        WHERE c = 1 AND t = 1
        """
    ).fetchone()[0]
    assert abs(total_phi - expected) < 1e-3, (total_phi, expected)


def test_histogram_prefix_sum_matches_window(spark):
    """histogram_prefix_sum must equal sum() OVER (ORDER BY ... ROWS
    UNBOUNDED PRECEDING) exactly, including duplicate keys broken by
    the tie column and narrow target_cells forcing multi-key cells."""
    from pyspark.sql.window import Window as W2

    from data_iceberg_sandbox_spark.functions.ranks import (
        histogram_prefix_sum,
    )

    df = (
        spark.range(503)
        .withColumn("k", (F.col("id") * 48271) % 97)  # duplicate keys
        .withColumn("v", (F.col("id") * 7919) % 1000)
        .withColumn("tid", F.col("id"))
    )
    want = df.select(
        "tid",
        F.sum("v")
        .over(
            W2.orderBy(F.col("k").asc(), F.col("tid").asc()).rowsBetween(
                W2.unboundedPreceding, 0
            )
        )
        .alias("p"),
    )
    got = histogram_prefix_sum(
        df, F.col("k"), [F.col("tid").asc()], F.col("v"), out="p", target_cells=8
    ).select("tid", "p")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_attribution_shapley_zero_converters(spark, tmp_path):
    """No converting users: every coalition value is 0, so every channel's
    Shapley value must be exactly 0.0 (the left-join v(S)=0 path)."""
    from data_iceberg_sandbox_spark.operators.insights import (
        attribution_shapley,
    )

    rows = [
        (i, f"2024-01-0{1 + i % 5} 10:00:00", i % 7, t, 1.0, "{}")
        for i, t in enumerate(["view", "click", "signup", "error"] * 6)
    ]
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
        str(tmp_path / "events.parquet")
    )
    out = attribution_shapley(spark, str(tmp_path)).collect()
    assert len(out) == 4
    assert all(r["shapley_conversions"] == 0.0 for r in out)


def test_histogram_prefix_sum_partitioned_matches_window(spark):
    """parts= (r11): per-partition prefix sums must equal
    sum() OVER (PARTITION BY p ORDER BY k, tid)."""
    from pyspark.sql.window import Window as W2

    from data_iceberg_sandbox_spark.functions.ranks import (
        histogram_prefix_sum,
    )

    df = (
        spark.range(401)
        .withColumn("p", F.col("id") % 3)
        .withColumn("k", (F.col("id") * 48271) % 53)
        .withColumn("v", (F.col("id") * 7919) % 500)
        .withColumn("tid", F.col("id"))
    )
    want = df.select(
        "tid",
        F.sum("v")
        .over(
            W2.partitionBy("p")
            .orderBy(F.col("k").asc(), F.col("tid").asc())
            .rowsBetween(W2.unboundedPreceding, 0)
        )
        .alias("x"),
    )
    got = histogram_prefix_sum(
        df, F.col("k"), [F.col("tid").asc()], F.col("v"),
        out="x", target_cells=8, parts=[F.col("p")],
    ).select("tid", "x")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_percentile_histogram_matches_exact_percentile(spark):
    """Cross-implementation guard for percentile_prices (ADVICE r11): the
    shared histogram lo/hi/frac formulation is replayed token-for-token
    on both engines, so its oracle is self-referential — this test pins
    it against Spark's INDEPENDENT exact `percentile` aggregate (the
    same 1-based r = 1 + q·(n−1) linear-interpolation definition as
    DuckDB's quantile_cont) on oracle-SF data, where buffering every
    group is affordable."""
    from data_iceberg_sandbox_spark.operators.advanced import (
        _PCTL_QS,
        percentile_prices,
    )
    from data_iceberg_sandbox_spark.sources.registry import load_table

    got = {
        r["l_returnflag"]: r.asDict()
        for r in percentile_prices(spark, SF_ORACLE).collect()
    }
    li = load_table(spark, SF_ORACLE, "lineitem")
    want_rows = li.groupBy("l_returnflag").agg(
        *[
            F.round(
                F.expr(
                    f"percentile(CAST(l_extendedprice AS DOUBLE), {q})"
                ),
                4,
            ).alias(tag)
            for tag, q in _PCTL_QS
        ]
    ).collect()
    assert len(want_rows) == len(got) > 0
    for r in want_rows:
        for tag, _q in _PCTL_QS:
            assert got[r["l_returnflag"]][tag] == r[tag], (
                r["l_returnflag"],
                tag,
            )


def test_neardup_kernel_degenerate_inputs(spark, tmp_path):
    """r12 Arrow-kernel rework, degenerate paths: a zero-norm vector
    (cosine undefined → -inf in the kernel) never wins a pair, a
    singleton sample yields no pairs, and top_pairs=0 returns empty
    instead of crashing the kernel. Uses pin_table to swap the
    embeddings registry entry for crafted corpora."""
    from pyspark.sql import Row

    from data_iceberg_sandbox_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from data_iceberg_sandbox_spark.sources.registry import pin_table

    sf_fake = str(tmp_path / "fake_sf")
    import os

    os.makedirs(sf_fake, exist_ok=True)

    def pin(rows):
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=v) for i, v in rows],
            "vec_id bigint, embedding array<float>",
        )
        pin_table(spark, sf_fake, "embeddings", df)
        return df

    # zero-norm vector present: it must appear in NO returned pair
    pin([(0, [0.0, 0.0]), (10, [1.0, 0.0]), (20, [1.0, 0.1]), (30, [0.0, 1.0])])
    got = embedding_neardup_pairs(spark, sf_fake, top_pairs=10).collect()
    assert got, "expected pairs from the finite vectors"
    assert all(0 not in (r["vec_a"], r["vec_b"]) for r in got)
    import math

    assert all(math.isfinite(r["score"]) for r in got)
    # singleton sample: no pairs, no crash
    pin([(0, [1.0, 2.0])])
    assert embedding_neardup_pairs(spark, sf_fake, top_pairs=5).count() == 0
    # top_pairs=0: empty result, kernel must not IndexError
    pin([(0, [1.0, 0.0]), (10, [0.0, 1.0])])
    assert embedding_neardup_pairs(spark, sf_fake, top_pairs=0).count() == 0


def test_sessionize_and_range_oracles_parameterized():
    """r12: oracle generators must follow their operator params (same
    guard as test_ann_recall_oracle_parameterized)."""
    from data_iceberg_sandbox_spark.operators.advanced import (
        RANGE_ORACLE,
        SESSIONIZE_ORACLE,
        _range_oracle,
        _sessionize_oracle,
    )

    assert "> 3600" in SESSIONIZE_ORACLE
    assert "> 1800" in _sessionize_oracle(30)
    assert "INTERVAL 5 MINUTE" in RANGE_ORACLE
    assert "INTERVAL 7 MINUTE" in _range_oracle(7)


def test_neardup_kernel_matches_naive_topk(spark):
    """The kernel's top-pair selection matches the naive numpy pairwise
    computation on the real oracle-SF sample."""
    import numpy as np

    from data_iceberg_sandbox_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    df = embedding_neardup_pairs(spark, SF_ORACLE, top_pairs=5)
    rows = df.collect()
    assert len(rows) == 5
    assert all(r["vec_a"] < r["vec_b"] for r in rows)
    assert all(np.isfinite(r["score"]) for r in rows)
    # kernel result equals the naive pairwise max over the same sample
    from data_iceberg_sandbox_spark.functions.vector import as_double
    from data_iceberg_sandbox_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    sub = (
        load_table(spark, SF_ORACLE, "embeddings")
        .filter((F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 200_000))
        .select("vec_id", as_double(F.col("embedding")).alias("emb"))
        .collect()
    )
    V = np.array([r["emb"] for r in sub])
    ids = np.array([r["vec_id"] for r in sub])
    order = np.argsort(ids)
    V, ids = V[order], ids[order]
    S = (V @ V.T) / (
        np.linalg.norm(V, axis=1)[:, None] * np.linalg.norm(V, axis=1)[None, :]
    )
    iu = np.triu_indices(len(ids), k=1)
    flat = np.round(S[iu], 6)
    best = np.sort(flat)[-5:][::-1]
    got = np.array([r["score"] for r in rows])
    assert np.allclose(np.sort(got)[::-1], best, atol=2e-6), (got, best)


def test_ann_recall_oracle_parameterized():
    """ADVICE r11: the recall oracle divisor must follow k."""
    from data_iceberg_sandbox_spark.operators.similarity import (
        ANN_RECALL_ORACLE,
        _ann_recall_oracle,
    )

    assert "/ 10.0" in ANN_RECALL_ORACLE
    assert "/ 5.0" in _ann_recall_oracle(5)


@pytest.mark.parametrize(
    "op", ["embedding_quantize_int8_check", "embedding_quantize_int8"]
)
def test_quantize_scale_stays_a_materialized_column(spark, op):
    """The quantize ops stage the per-vector scale as its own
    projection: array HOFs are interpreted (CodegenFallback) with no CSE
    across the lambda boundary, so inlining the array_max-based scale
    tree into the quantize lambda re-evaluates it PER ELEMENT (O(d²) per
    row — measured 5× slower at sf10, plans/r14/ab_quant_scalecol.json).
    The storage op builds its own lambda, so it is guarded on its own.
    Plan shape: the scale subtree (its array_max) appears exactly once,
    and the quantize lambda divides by the materialized `_s` attribute,
    never by a greatest(array_max(...)) tree (CollapseProject would
    reintroduce the regression silently if `_s` ever became
    collapse-eligible)."""
    from data_iceberg_sandbox_spark.operators import similarity

    df = getattr(similarity, op)(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("array_max") == 1
    q_lambda = re.search(r"round\(\(lambda [^)]*\)", plan)
    assert q_lambda and "_s#" in q_lambda.group(0), q_lambda


def test_repetition_score_splits_text_once(spark):
    """text_repetition_score's r14 rework materializes the word array:
    the plan must contain exactly one split of the text column (the six
    HOF-argument re-splits were ~1.4× the row's whole cost — measured
    −28% at sf10, plans/r14/ab_rep_wcol.json). CollapseProject would
    silently reintroduce the re-splits if `w` ever became
    collapse-eligible."""
    from data_iceberg_sandbox_spark.operators.textstats import (
        text_repetition_score,
    )

    df = text_repetition_score(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(text") == 1, plan.count("split(text")
