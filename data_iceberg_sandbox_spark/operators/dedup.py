"""Deduplication operators for LLM training-data pipelines ([EXT] scope —
no reference counterpart; SURVEY §7 Phase 4).

Four families over the ``documents`` table, each designed shuffle-minimal
for 100 TB:

- exact (content-hash groupBy): one shuffle on a 128-bit hash; keeps the
  lowest doc_id per group (deterministic canonical representative).
- n-gram Jaccard (exact): word-5-gram shingles → inverted-index
  self-join on shingle → per-pair intersection counts → Jaccard. The
  join shuffles (shingle) keys; candidate pairs only materialize for
  docs that *share* a shingle (sparse by construction for natural text).
- MinHash + LSH: 64 permutations → 32 bands × r=2 → banded bucket join
  generates candidates in O(n·bands) — the 100 TB path (no quadratic
  blowup); candidates are then *verified* with exact Jaccard, so the
  final answer equals the exact operator whenever LSH recall=1 (banding
  P(miss) ≈ (1-J²)³² < 1e-14 at J≥0.8 — the near-dup regime).
- SimHash: 60-bit sign-of-weighted-sum signature per doc, built entirely
  from JVM expressions (explode tokens → 60 bit-contribution aggs);
  near-dups = signatures within Hamming distance τ.

All hashing is crc32 / md5-derived (deterministic AND reproducible in
DuckDB, so every dedup family has a bit-exact SQL oracle).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import md5_long_pair, words
from ..sources.registry import load_table
from .spec import QuerySpec

# MinHash universal-hash params: h_i(x) = (a_i*x + b_i) mod P over a 31-bit
# domain (x = crc32 & 0x7FFFFFFF, P = 2^31-1) so a*x stays < 2^62 — no long
# overflow under Spark 4's ANSI arithmetic.
_P = 2147483647  # Mersenne prime 2^31-1
_rng = random.Random(42)
_PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, _P), _rng.randrange(0, _P)) for _ in range(64)
]
_BANDS = 32  # r = 64 / 32 = 2 rows per band


def _shingle_arr_sql(n: int, words_col: str = "w") -> str:
    """THE shingle definition, as one SQL expression over a word-array
    column — the single source of truth shared by `_shingles_of` (via
    F.expr) and `minhash_signatures` (inline selectExpr): word n-grams
    joined with ' '; docs shorter than n words contribute their whole
    text as one shingle. Every shingling operator uses it."""
    return (
        f"CASE WHEN size({words_col}) >= {n} THEN "
        f"transform(sequence(0, size({words_col}) - {n}), "
        f"i -> array_join(slice({words_col}, i + 1, {n}), ' ')) "
        f"ELSE array(array_join({words_col}, ' ')) END"
    )


def _shingles_of(docs: DataFrame, n: int = 5, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) pairs for a docs frame.

    Built as a ZERO-SHUFFLE projection: slice/array_join over the word
    array (one shingle per window offset), then a narrow explode. The
    earlier posexplode + window-``lead`` form forced a doc_id sort/window
    pass that measured ~7× slower at bench scale — per-row HOF evaluation
    is far cheaper than the window machinery here, and shingling stays
    embarrassingly parallel at 100 TB (no wide stage at all)."""
    warr = docs.select("doc_id", words(F.col("text")).alias("w"))
    out = warr.select(
        "doc_id", F.explode(F.expr(_shingle_arr_sql(n))).alias("shingle")
    )
    return out.distinct() if distinct else out


def _doc_shingles(
    spark: SparkSession, sf_dir: str, n: int = 5, distinct: bool = True
) -> DataFrame:
    return _shingles_of(load_table(spark, sf_dir, "documents"), n, distinct)


# --- exact dedup ----------------------------------------------------------


def dedup_exact(spark, sf_dir):
    """Exact dedup by content hash: md5(text) groups, keep min(doc_id).

    Scale: single hash-shuffle on the digest; partial aggregation
    (map-side min/count) makes the shuffle O(distinct docs)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS content_hash,
       count(*) AS n_copies,
       min(doc_id) AS keeper_doc_id
FROM documents GROUP BY md5(text)
"""


# --- exact n-gram Jaccard -------------------------------------------------


def _jaccard_from_shingles(ds, threshold, candidates=None):
    """Shared exact-Jaccard verification: inverted-index pair join over
    a (doc_id, shingle) frame, per-doc size aggregation, rounded
    Jaccard ≥ threshold. ONE implementation (r12 review:
    dedup_minhash_lsh carried a verbatim copy of jaccard_pairs' block
    that had to stay in sync by hand). ``candidates`` (optional)
    left-semi-restricts the verified pairs to the LSH candidate set."""
    sizes = ds.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = ds.alias("a")
    b = ds.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    if candidates is not None:
        common = common.join(candidates, ["doc_a", "doc_b"], "left_semi")
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = (
        F.col("n_common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
    )
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    n: int = 5,
) -> DataFrame:
    """All doc pairs with word-n-gram-shingle Jaccard >= threshold, via
    inverted-index self-join (never a doc×doc cross join)."""
    ds = _doc_shingles(spark, sf_dir, n)
    # the shingle set feeds three consumers (sizes + both join sides);
    # cache it instead of recomputing the scan→window lineage three times.
    # (At 100 TB the corpus shingle set exceeds cluster memory — there,
    # persist(DISK_ONLY) or a reliable checkpoint replaces .cache(); the
    # three-consumer reuse argument is unchanged.)
    ds = ds.cache()
    return _jaccard_from_shingles(ds, threshold)


def dedup_ngram_jaccard(spark, sf_dir):
    return jaccard_pairs(spark, sf_dir, threshold=0.5)


DEDUP_JACCARD_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
sh AS (SELECT doc_id, array_to_string(w[i.i:i.i+4], ' ') AS shingle
       FROM toks,
            LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-4, 1))) AS i) i),
ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
n AS (SELECT doc_id, count(*) n_sh FROM ds GROUP BY doc_id),
common AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_common
           FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(n_common * 1.0 / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
FROM common JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
WHERE round(n_common * 1.0 / (na.n_sh + nb.n_sh - n_common), 6) >= 0.5
"""


# --- MinHash + LSH --------------------------------------------------------


def minhash_signatures(spark: SparkSession, sf_dir: str, n: int = 5) -> DataFrame:
    """64-permutation MinHash signature per doc as a PURE PROJECTION:
    h = crc32(shingle) & 0x7FFFFFFF; sig_i = array_min(transform(shingles,
    s -> (a_i*h(s) + b_i) mod P)).

    No explode, no groupBy — zero shuffle: each doc's signature comes
    straight from its shingle array (duplicate shingles can't change a
    min), measured ~2.5× faster than the explode + 64-min-agg form. The
    100 TB shape: signature extraction is embarrassingly parallel; only
    the tiny LSH band keys shuffle afterwards."""
    # Column exprs are built as SQL strings: constructing 64 perm
    # expressions from Python Column objects costs ~1.7 s of py4j round
    # trips PER CALL; one selectExpr parse is server-side and ~free.
    docs = load_table(spark, sf_dir, "documents")
    harr = docs.select("doc_id", words(F.col("text")).alias("w")).selectExpr(
        "doc_id",
        f"transform({_shingle_arr_sql(n)}, "
        f"s -> crc32(s) & {0x7FFFFFFF}L) AS h",
    )
    sig_exprs = [
        f"array_min(transform(h, x -> pmod({a}L * x + {b}L, {_P}L))) AS mh{i}"
        for i, (a, b) in enumerate(_PERMS)
    ]
    return harr.selectExpr("doc_id", *sig_exprs)


def _band_keys(sigs: DataFrame, bands: int = _BANDS) -> DataFrame:
    """(doc_id, bk=struct(band, key)) band-bucket keys of a signature
    frame — the LSH index representation. Shared by the self-dedup pair
    generator and the incremental batch-vs-index probe; at 100 TB this
    frame IS what a standing corpus index persists (bucketed by `bk`)."""
    r = 64 // bands
    band_structs = ", ".join(
        "struct({j} AS band, hash({cols}) AS key)".format(
            j=j, cols=", ".join(f"mh{j * r + k}" for k in range(r))
        )
        for j in range(bands)
    )
    return sigs.selectExpr("doc_id", f"explode(array({band_structs})) AS bk")


def lsh_candidate_pairs(sigs: DataFrame, bands: int = _BANDS) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair.

    One shuffle keyed (band, bucket): group the bucket's doc list and
    emit its pairs with a nested-transform flatten (i<j within the
    sorted list — identical pair set to a bucket self-join, minus one
    join shuffle and with per-bucket work explicit). O(n·bands) rows
    shuffle; a pathological hot bucket (huge near-dup cluster) is the
    same quadratic risk either way — a corpus that needs it caps bucket
    width upstream."""
    buckets = _band_keys(sigs, bands)
    grouped = (
        buckets.groupBy("bk")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_arrays = (
        "transform(sequence(0, size(ids) - 2), "
        "i -> transform(slice(ids, i + 2, size(ids)), "
        "x -> struct(ids[i] AS doc_a, x AS doc_b)))"
    )
    return (
        grouped.selectExpr(f"explode(flatten({pair_arrays})) AS p")
        .selectExpr("p.doc_a AS doc_a", "p.doc_b AS doc_b")
        .distinct()
    )


def dedup_minhash_lsh(spark, sf_dir, threshold: float = 0.5):
    """MinHash-LSH candidates verified by exact Jaccard — the scale path
    whose output equals the exact operator at LSH recall 1 (true for the
    near-dup regime J>=0.8; banding P(miss) < 1e-14).

    Honesty note on the default threshold (r12): at J between 0.5 and
    0.8 the per-pair miss probability rises to ~1e-4 (J=0.5) — LSH
    recall < 1 is inherent, and equality with the exact-Jaccard oracle
    at threshold 0.5 is a property VERIFIED on these fixture corpora
    (deterministic seed-42 permutations, every driver round), not a
    guarantee for arbitrary data. Production near-dup dedup thresholds
    at ≥0.8, where the banding bound makes misses negligible."""
    # candidate pairs are consumed three times (two id sets + the final
    # semi join) and are tiny — cache instead of re-running the LSH chain
    cands = lsh_candidate_pairs(minhash_signatures(spark, sf_dir)).cache()
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select("doc_b"))
        .distinct()
    )
    # prune docs BEFORE shingling: exact verification touches only the
    # (tiny) candidate set, not the corpus
    pruned = load_table(spark, sf_dir, "documents").join(
        cand_docs, "doc_id", "left_semi"
    )
    ds = _shingles_of(pruned).cache()
    return _jaccard_from_shingles(ds, threshold, candidates=cands)


def dedup_incremental_lsh(spark, sf_dir, threshold: float = 0.5, mod: int = 10):
    """Incremental dedup: probe a NEW document batch against the standing
    corpus index without re-deduplicating the corpus (reference scope:
    the append/upsert ingest loop of etl/src/apps — repeated loads into
    a lakehouse — combined with SURVEY §2's dedup family; this is the
    daily-increment shape every production corpus pipeline runs).

    Split is deterministic so the DuckDB oracle can replay it:
    doc_id % mod == 0 → today's batch (~10%); the rest is the standing
    index. Plan shape, and why it is the 100 TB plan:

    - Signatures are a zero-shuffle projection (minhash_signatures);
      band keys via `_band_keys` — at scale the INDEX side of that frame
      is persisted once as a (band, key, doc_id) table bucketed on the
      key, so an increment never re-reads or re-shingles the corpus:
      only O(batch × bands) band keys shuffle into the probe join.
    - Candidates = batch band keys ⋈ index band keys on the full
      struct(band, key) — same banding maths as dedup_minhash_lsh
      (P(miss) bounds in its docstring apply per cross pair).
    - Exact-Jaccard verification re-reads ONLY candidate docs (semi-join
      prune before shingling, same discipline as dedup_minhash_lsh).
    - Result: each batch doc with a near-dup in the index at
      J ≥ threshold, with its best match (highest Jaccard, ties to the
      lowest match_id — deterministic). Batch-internal duplicates are
      the existing dedup_minhash_lsh problem and are out of scope here.
    """
    sigs = minhash_signatures(spark, sf_dir)
    is_batch = (F.col("doc_id") % mod) == 0
    # Both probe sides slice this frame, and the candidate verification
    # re-reads it through the lineage — uncached, the signature
    # projection ran ~4× and the probe join twice (measured 29.6 s vs
    # 2.4 s at sf10, docs/archive/BENCH_SCAN_SF10_R14.json). At 100 TB
    # the cache is moot: the index side is a persisted table (see
    # above) and only the batch side is computed fresh.
    bk = _band_keys(sigs).cache()
    cands = (
        bk.filter(is_batch)
        .alias("b")
        .join(bk.filter(~is_batch).alias("i"), "bk")
        .select(
            F.col("b.doc_id").alias("doc_id"),
            F.col("i.doc_id").alias("match_id"),
        )
        .distinct()
        .cache()
    )
    cand_ids = (
        cands.select("doc_id")
        .union(cands.select("match_id"))
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents")
    ds = _shingles_of(docs.join(cand_ids, "doc_id", "left_semi")).cache()
    sizes = ds.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    common = (
        ds.filter(is_batch)
        .alias("b")
        .join(
            ds.filter(~is_batch).alias("i"),
            F.col("b.shingle") == F.col("i.shingle"),
        )
        .groupBy(
            F.col("b.doc_id").alias("doc_id"),
            F.col("i.doc_id").alias("match_id"),
        )
        .agg(F.count("*").alias("n_common"))
        .join(cands, ["doc_id", "match_id"], "left_semi")
    )
    nb = sizes.select(F.col("doc_id"), F.col("n_sh").alias("nb"))
    ni = sizes.select(
        F.col("doc_id").alias("match_id"), F.col("n_sh").alias("ni")
    )
    jac = F.round(
        F.col("n_common").cast("double")
        / (F.col("nb") + F.col("ni") - F.col("n_common")).cast("double"),
        6,
    )
    scored = (
        common.join(nb, "doc_id")
        .join(ni, "match_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "match_id", "jaccard")
    )


DEDUP_INCREMENTAL_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
sh AS (SELECT doc_id, array_to_string(w[i.i:i.i+4], ' ') AS shingle
       FROM toks,
            LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-4, 1))) AS i) i),
ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
n AS (SELECT doc_id, count(*) n_sh FROM ds GROUP BY doc_id),
common AS (SELECT b.doc_id AS doc_id, a.doc_id AS match_id, count(*) n_common
           FROM ds b JOIN ds a ON b.shingle = a.shingle
           WHERE b.doc_id % 10 = 0 AND a.doc_id % 10 <> 0
           GROUP BY 1, 2),
j AS (SELECT doc_id, match_id,
             round(n_common * 1.0 / (nb.n_sh + na.n_sh - n_common), 6) AS jaccard
      FROM common
      JOIN n nb USING (doc_id)
      JOIN n na ON match_id = na.doc_id
      WHERE round(n_common * 1.0 / (nb.n_sh + na.n_sh - n_common), 6) >= 0.5)
SELECT doc_id, match_id, jaccard
FROM (SELECT j.*,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY jaccard DESC, match_id) AS rn
      FROM j)
WHERE rn = 1
"""


# --- SimHash --------------------------------------------------------------


_SIMHASH_BITS = 60  # 15 hex chars of md5 → engine-portable token hash


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per doc from whitespace tokens, pure JVM exprs:
    explode tokens → md5-derived 60-bit hash → per-bit ±1 contributions →
    sign bits reassembled. The token hash is the first 15 hex chars of
    md5 parsed base-16 — md5 is identical in Spark and DuckDB, so the
    whole signature (and therefore dedup_simhash's output) replays
    bit-for-bit in the SQL oracle; xxhash64 (the earlier choice) has no
    DuckDB twin."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(words(F.col("text"))).alias("tok")
    ).selectExpr(
        "doc_id",
        f"{md5_long_pair('tok')[0]} AS h",
    )
    bit_aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"b{i}")
        for i in range(_SIMHASH_BITS)
    ]
    per_bit = toks.groupBy("doc_id").agg(*bit_aggs)
    sig_expr = "CAST(" + " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}L ELSE 0L END)"
        for i in range(_SIMHASH_BITS)
    ) + " AS BIGINT)"
    return per_bit.selectExpr("doc_id", f"{sig_expr} AS simhash")


def simhash_near_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 6
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 15-bit
    chunks so the join is equi on a chunk value — no quadratic scan at
    scale. (Blocking recall note: pigeonhole over 4 chunks guarantees a
    shared chunk only for distance ≤ 3; at distance 4-6 a pair is found
    unless the differing bits spread across all chunks — an accepted
    approximation for a signature that is itself a sketch.)"""
    sigs = simhash_signatures(spark, sf_dir)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        F.shiftright(F.col("simhash"), c * 15)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("v"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", F.col("ck.c").alias("c"), F.col("ck.v").alias("v"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def dedup_simhash(spark, sf_dir):
    return simhash_near_pairs(spark, sf_dir, max_hamming=6)


def _simhash_oracle_sql() -> str:
    """DuckDB replay of the full simhash pipeline (identical md5-derived
    token hash, ±1 bit sums, sign-bit signature, chunk blocking)."""
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(_SIMHASH_BITS)
    )
    sig = "CAST(" + " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    ) + " AS BIGINT)"
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS h
  FROM toks),
bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {sig} AS simhash FROM bits),
chunks AS (
  SELECT doc_id, simhash, u.c AS c,
         (simhash >> (u.c * 15)) & 32767 AS v
  FROM sig, LATERAL (SELECT unnest([0, 1, 2, 3]) AS c) u),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM chunks a JOIN chunks b
    ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 6
"""


def dedup_containment(spark, sf_dir, threshold: float = 0.8, n: int = 5):
    """Asymmetric shingle CONTAINMENT C(A→B) = |A∩B| / |A| — the
    quote/subset detector Jaccard misses: a short doc fully embedded in
    a long one has high containment but low Jaccard (the union is
    dominated by the long doc), and decontamination/quote-tracing needs
    exactly this direction-aware signal (Broder 1997 distinguishes
    resemblance from containment for this reason).

    Emits BOTH directions per pair above threshold. Scale shape: the
    inverted-index backbone of `jaccard_pairs`, but keyed on 60-bit
    md5 shingle hashes with per-doc `array_distinct` BEFORE the
    explode (the `corpus_boilerplate_ngrams` recipe: the pair-distinct
    shuffle disappears and the self-join carries 8-byte longs, not
    ~30-byte strings — sf10 13.5 s → ~6 s; the oracle hashes
    identically so any collision merges the same counts on both
    sides). Never doc×doc; the directional pair is a projection of
    one grouped count, not a second join pass."""
    docs = load_table(spark, sf_dir, "documents")
    warr = docs.select("doc_id", words(F.col("text")).alias("w"))
    ds = (
        warr.selectExpr(
            "doc_id",
            f"explode(array_distinct({_shingle_arr_sql(n)})) AS sh_str",
        )
        .selectExpr(
            "doc_id",
            f"{md5_long_pair('sh_str')[0]} AS shingle",
        )
        .cache()
    )
    sizes = ds.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = ds.alias("a"), ds.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    both = common.join(sa, "doc_a").join(sb, "doc_b")
    fwd = both.select(
        F.col("doc_a").alias("src"),
        F.col("doc_b").alias("dst"),
        F.round(F.col("n_common").cast("double") / F.col("na").cast("double"), 6).alias(
            "containment"
        ),
    )
    rev = both.select(
        F.col("doc_b").alias("src"),
        F.col("doc_a").alias("dst"),
        F.round(F.col("n_common").cast("double") / F.col("nb").cast("double"), 6).alias(
            "containment"
        ),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)


DEDUP_CONTAINMENT_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
sh AS (SELECT doc_id, array_to_string(w[i.i:i.i+4], ' ') AS sh_str
       FROM toks,
            LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-4, 1))) AS i) i),
dsx AS (SELECT DISTINCT doc_id, sh_str FROM sh),
ds AS (SELECT doc_id,
              CAST('0x' || substring(md5(sh_str), 1, 15) AS BIGINT) AS shingle
       FROM dsx),
n AS (SELECT doc_id, count(*) n_sh FROM ds GROUP BY doc_id),
common AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_common
           FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
pr AS (SELECT doc_a, doc_b, n_common, na.n_sh AS na, nb.n_sh AS nb
       FROM common JOIN n na ON doc_a = na.doc_id
                   JOIN n nb ON doc_b = nb.doc_id),
u AS (
  SELECT doc_a AS src, doc_b AS dst,
         round(CAST(n_common AS DOUBLE) / CAST(na AS DOUBLE), 6) AS containment
  FROM pr
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst,
         round(CAST(n_common AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS containment
  FROM pr)
SELECT src, dst, containment FROM u WHERE containment >= 0.8
"""


# Quality-rank packing shared by dedup_keep_best / canonicalize_corpus
# and their oracles: keeper = argmax over (n_chars, -doc_id) packed into
# ONE BIGINT so max_by partial-aggregates map-side. Bound: n_chars <
# 2^20 and doc_id < 2^43 keep the pack one step from 2^63 ANSI
# overflow; a corpus beyond either swaps in a struct max_by. Defined
# ONCE (r12 review: the expression and its literal lived in four
# places).
QUALITY_RANK_SHIFT = 2**43


def quality_rank_col():
    return F.col("n_chars") * F.lit(QUALITY_RANK_SHIFT) - F.col("doc_id")


QUALITY_RANK_SQL = f"n_chars * {QUALITY_RANK_SHIFT} - doc_id"


def dedup_keep_best(spark, sf_dir):
    """Exact dedup keeping the BEST copy per content group, not an
    arbitrary one: within each md5(text) group the survivor is the doc
    with the highest quality proxy (here n_chars; a real pipeline plugs
    its scorer), ties broken by lowest doc_id — the "keep the longest /
    highest-quality page" policy crawl dedup actually wants (vs
    `dedup_exact`'s keep-min-id).

    Scale shape: same single digest shuffle as dedup_exact — the argmax
    is `max_by` over a packed (quality, -doc_id) BIGINT, so it partial-
    aggregates map-side; no window, no second shuffle. The pack bound
    (n_chars < 2^20, doc_id < 2^43) is documented where a real corpus
    would swap in a struct max_by."""
    docs = load_table(spark, sf_dir, "documents")
    rank = quality_rank_col()
    return docs.groupBy(F.md5(F.col("text")).alias("content_hash")).agg(
        F.count("*").alias("n_copies"),
        F.max_by(F.col("doc_id"), rank).alias("keeper_doc_id"),
        F.max("n_chars").alias("keeper_n_chars"),
    )


DEDUP_KEEP_BEST_ORACLE = f"""
SELECT md5(text) AS content_hash,
       count(*) AS n_copies,
       max_by(doc_id, {QUALITY_RANK_SQL}) AS keeper_doc_id,
       max(n_chars) AS keeper_n_chars
FROM documents GROUP BY md5(text)
"""


_SEG_WORDS = 20  # paragraph surrogate: fixed 20-word segments


def dedup_paragraphs(spark, sf_dir):
    """Cross-corpus paragraph-level dedup with reassembly (the CCNet /
    Wenzek et al. 2020 pre-filter: drop every repeated paragraph except
    its FIRST corpus occurrence, keep the rest of the document). The
    output is a cleaned corpus — (doc_id, n_segs, n_kept, clean_text) —
    not a score: boilerplate headers/footers vanish while unique prose
    survives, which document-level dedup cannot do. The testdata has no
    newlines, so "paragraph" is a fixed 20-word segment (the machinery —
    segment, first-occurrence vote, order-preserving reassembly — is
    identical for newline paragraphs).

    Scale shape: segments explode to n_segs rows (bounded fan-out,
    ~|corpus words| / 20), ONE shuffle on the segment key decides first
    occurrence (row_number over (seg) ordered by (doc_id, pos) — a
    deterministic total order), and the doc_id rollup reassembles kept
    segments via sort_array(collect_list(struct(pos, seg))) — per-doc
    state bounded by document length, never corpus size. Hot segments
    (a footer in millions of docs) skew the seg partition; AQE skew
    handling splits them, and only rank-1 survives so the join-back is
    a filter, not an expansion. Never doc×doc."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(w)-1) div {_SEG_WORDS}),"
                f" i -> concat_ws(' ', slice(w, i*{_SEG_WORDS}+1, {_SEG_WORDS})))"
            )
        ).alias("pos", "seg"),
    )
    rn = F.row_number().over(W.partitionBy("seg").orderBy("doc_id", "pos"))
    kept = segs.withColumn("rn", rn).filter(F.col("rn") == 1)
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(pos, seg))), x -> x.seg)"),
        ).alias("clean_text"),
    )
    base = docs.select(
        "doc_id",
        (F.expr(f"(size(w)-1) div {_SEG_WORDS}") + F.lit(1)).alias("n_segs"),
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_segs",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


DEDUP_PARAGRAPHS_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
segs AS (
  SELECT doc_id, i.i AS pos,
         array_to_string(w[i.i*{_SEG_WORDS}+1 : i.i*{_SEG_WORDS}+{_SEG_WORDS}], ' ') AS seg
  FROM d, LATERAL (SELECT unnest(range((len(w)-1)//{_SEG_WORDS} + 1)) AS i) i),
kept AS (
  SELECT doc_id, pos, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
  FROM segs),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY pos) AS clean_text
  FROM kept WHERE rn = 1 GROUP BY doc_id)
SELECT d.doc_id,
       (len(d.w)-1)//{_SEG_WORDS} + 1 AS n_segs,
       coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.clean_text, '') AS clean_text
FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def fuzzy_pairs_supplier_names(spark, sf_dir):
    """Approximate string self-join: all DISTINCT supplier-name pairs
    within Levenshtein distance 1 (each name represented by its lowest
    suppkey), found by FastSS deletion-neighborhood
    blocking (Bocek et al. 2007, public tech report) — each string
    emits itself plus its |s| one-character-deletion variants; two
    strings at distance ≤1 ALWAYS share a variant (substitution → same
    position deleted from both; insert/delete → the shorter string IS a
    variant of the longer), so the variant equi-join has perfect recall
    and the exact levenshtein filter on candidates makes the result
    blocking-independent — equal to the O(n²) answer, never computing
    it.

    Scale shape: exact-duplicate strings collapse FIRST — the fuzzy
    index is built over DISTINCT names (min key per name as the
    canonical representative), which is what makes the operator survive
    replicated corpora: k exact copies of one name would turn every one
    of its variants into a k-long posting list and the candidate join
    into k² rows PER VARIANT (measured: the row-grain form on the
    sf10 testdata — 100 copies of each of 1k names — explodes to ~1e10
    candidates and never finishes; name-grain is ~8e4). After the
    collapse the index is O(distinct·L) rows, one equi-join shuffle on
    the variant key; residual hot variants (distinct strings sharing a
    deletion) get the same posting-list cap as the shingle index
    (dedup_ngram_jaccard); exact distance verification keeps the answer
    exact either way."""
    s = load_table(spark, sf_dir, "supplier")
    names = s.groupBy("s_name").agg(F.min("s_suppkey").alias("min_k"))
    variants = names.select(
        F.col("min_k").alias("k"),
        F.col("s_name").alias("nm"),
        F.explode(
            F.expr(
                "array_union(array(s_name),"
                " transform(sequence(1, length(s_name)),"
                "  i -> concat(substring(s_name, 1, i-1),"
                "              substring(s_name, i+1, length(s_name)-i))))"
            )
        ).alias("v"),
    )
    va = variants.select(
        F.col("k").alias("key_a"), F.col("nm").alias("name_a"), "v"
    )
    vb = variants.select(
        F.col("k").alias("key_b"), F.col("nm").alias("name_b"), "v"
    )
    cand = (
        va.join(vb, "v")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "name_a", "key_b", "name_b")
        .distinct()
    )
    return cand.withColumn(
        "dist", F.levenshtein("name_a", "name_b")
    ).filter(F.col("dist") <= 1)


FUZZY_PAIRS_ORACLE = """
WITH nm AS (
  SELECT s_name, min(s_suppkey) AS min_k FROM supplier GROUP BY s_name),
v AS (
  SELECT min_k AS k, s_name AS nm,
         unnest(list_append(
           list_transform(generate_series(1, length(s_name)),
             i -> substr(s_name, 1, i-1) || substr(s_name, i+1)),
           s_name)) AS v
  FROM nm),
p AS (
  SELECT DISTINCT a.k AS key_a, a.nm AS name_a, b.k AS key_b, b.nm AS name_b
  FROM v a JOIN v b USING (v) WHERE a.k < b.k)
SELECT key_a, name_a, key_b, name_b,
       levenshtein(name_a, name_b) AS dist
FROM p WHERE levenshtein(name_a, name_b) <= 1
"""


def doc_ngram_novelty(spark, sf_dir):
    """Span-grain cross-document duplication (the memorization-risk
    signal a training pipeline checks BEFORE whole-doc dedup decides
    anything): for every document, the fraction of its distinct 8-gram
    word shingles that appear in at least one OTHER document. Documents
    whose spans are widely shared (novelty → 0) are near-template text
    even when no single pair crosses a whole-doc Jaccard threshold —
    the signal doc-level `dedup_ngram_jaccard` cannot see.

    Scale shape (reworked r7 after the first sf10 run showed 202 s,
    re-reworked r10 per VERDICT): per-doc dedup happens IN-ARRAY
    (array_distinct before the explode — the containment trick,
    replacing a (doc, string)-keyed distinct SHUFFLE with a per-row
    projection); shingles ride as xxhash64 BIGINTs hashed STRAIGHT OFF
    the word-array slice (8-byte shuffle keys, no 50-byte concat ever
    materializes; divergence analysis below); and document frequencies
    come from a COUNT-OVER window on the shingle key instead of a
    groupBy + join back — same single hash-partitioning of the
    exploded pairs, but the 46M-row frame materializes once, not
    twice. Measured sf10: 202 s (string keys, join) → 13.6 s (hashed
    keys, join) → 6.6 s (window) vs DuckDB 13.1 s — crossover class.
    """
    docs = load_table(spark, sf_dir, "documents")
    warr = docs.select("doc_id", words(F.col("text")).alias("w"))
    # Shingle key = xxhash64 OF THE SLICE (JVM-native hash over the 8
    # words, element-wise — no joined string is ever built; word
    # boundaries hash distinctly, which words() guarantees anyway since
    # tokens never contain the joiner space). The key never reaches
    # the output — it only buckets identical shingles — so the oracle
    # keeping its md5-60 string key yields the SAME (doc_id,
    # n_shingles, n_shared) rows unless one engine collides where the
    # other doesn't: P ≈ n²/2⁶⁵ ≈ 6e-5 at sf10's 46M shingles (1e-10
    # at the sf0.01 gate), and a collision would trip the hash gate
    # loudly, never silently. Short docs (<8 words) contribute their
    # whole word array as one shingle, matching _shingle_arr_sql.
    ds = warr.selectExpr(
        "doc_id",
        "explode(array_distinct("
        "CASE WHEN size(w) >= 8 THEN "
        "transform(sequence(0, size(w) - 8), i -> xxhash64(slice(w, i + 1, 8))) "
        "ELSE array(xxhash64(w)) END)) AS sh",
    )
    per = (
        ds.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("sh")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") >= 2).cast("bigint")).alias("n_shared"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        F.round(
            F.lit(1.0)
            - F.col("n_shared").cast("double") / F.col("n_shingles").cast("double"),
            6,
        ).alias("novelty"),
    )


DOC_NGRAM_NOVELTY_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
sh AS (SELECT doc_id, array_to_string(w[i.i:i.i+7], ' ') AS sh_str
       FROM toks,
            LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-7, 1))) AS i) i),
dsx AS (SELECT DISTINCT doc_id, sh_str FROM sh),
ds AS (SELECT doc_id,
              CAST('0x' || substring(md5(sh_str), 1, 15) AS BIGINT) AS sh
       FROM dsx),
dfreq AS (SELECT sh, count(*) AS df FROM ds GROUP BY sh),
per AS (SELECT ds.doc_id, count(*) AS n_shingles,
               CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_shared
        FROM ds JOIN dfreq USING (sh) GROUP BY 1)
SELECT doc_id, n_shingles, n_shared,
       round(1.0 - CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6)
         AS novelty
FROM per
"""


SPECS: list[QuerySpec] = [
    QuerySpec("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE),
    QuerySpec("doc_ngram_novelty", doc_ngram_novelty, DOC_NGRAM_NOVELTY_ORACLE),
    QuerySpec("dedup_keep_best", dedup_keep_best, DEDUP_KEEP_BEST_ORACLE),
    QuerySpec("dedup_containment", dedup_containment, DEDUP_CONTAINMENT_ORACLE),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_JACCARD_ORACLE),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, DEDUP_JACCARD_ORACLE),
    QuerySpec(
        "dedup_incremental_lsh", dedup_incremental_lsh, DEDUP_INCREMENTAL_ORACLE
    ),
    QuerySpec("dedup_simhash", dedup_simhash, _simhash_oracle_sql()),
    QuerySpec("dedup_paragraphs", dedup_paragraphs, DEDUP_PARAGRAPHS_ORACLE),
    QuerySpec(
        "fuzzy_pairs_supplier_names",
        fuzzy_pairs_supplier_names,
        FUZZY_PAIRS_ORACLE,
    ),
]
