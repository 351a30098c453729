"""Similarity search over embedding columns ([EXT] scope, SURVEY §7
Phase 4): cosine top-k ANN plus scale-path variants.

Embeddings are ``array<float>`` (d=64 in testdata). Scores are computed
in double with order-deterministic folds (functions/vector.py) and
rounded to 6 dp, so Spark and DuckDB agree bit-for-bit; ranking
tie-breaks on vec_id.

Scale design (100 TB of vectors):
- brute-force top-k: query set broadcast (small), candidates streamed —
  one scan, no shuffle except the final per-query top-k (tiny). Linear
  in candidates; the right baseline and the oracle-checkable path.
- IVF (inverted-file): coarse centroids → partition vectors by nearest
  centroid (one broadcast-join pass); queries probe only `nprobe`
  nearest cells — scans shrink by ~n_centroids/nprobe. Approximate →
  rows-only check here; pytest proves nprobe=all degenerates to exact
  brute force.
- hyperplane LSH bucketing for near-dup pairs: sign-bit sketch over
  deterministic pseudo-random hyperplanes; only intra-bucket pairs are
  scored — O(n·2^bits-balanced) instead of O(n²).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vector import as_double, cosine, dot, norm
from ..sources.registry import load_table
from .spec import QuerySpec

DIM = 64


def _with_norm(df: DataFrame, vec: str, out: str) -> DataFrame:
    """Precompute ||v|| once per ROW instead of once per PAIR: the
    pairwise score then needs one fold (the cross dot) instead of three.
    score = dot/(na*nb) is arithmetically the very expression cosine()
    builds, so results stay bit-identical to the per-pair form and to
    the DuckDB oracles (measured ~1.6× on the brute-force ANN)."""
    return df.withColumn(out, norm(F.col(vec)))
_rng = random.Random(7)
# deterministic pseudo-random hyperplanes (box-muller from seeded uniform)
_HYPERPLANES: list[list[float]] = [
    [
        math.sqrt(-2.0 * math.log(_rng.random() or 1e-12))
        * math.cos(2.0 * math.pi * _rng.random())
        for _ in range(DIM)
    ]
    for _ in range(8)
]


def _queries(spark: SparkSession, sf_dir: str, n_queries: int = 8) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("q_emb"),
    )


def ann_cosine_topk(spark, sf_dir, k: int = 10):
    """Brute-force cosine top-k per query vector (the exact baseline).

    Plan: the tiny query set (8×64 doubles) rides into an Arrow-batched
    ``mapInArrow`` kernel over ONE streamed scan of the candidates.
    Emitted (dot, norm) values are accumulated dim-by-dim in float64 so
    every add/multiply happens in exactly the fold order of
    functions/vector.py ``dot`` (bit-identical scores vs the DuckDB
    ``list_inner_product`` oracle; the interpreted JVM higher-order fold
    was ~48k × 64 lambda evaluations, ~3× slower than the Arrow round
    trip). Division + HALF_UP rounding stay JVM-side.

    Python-stage cost engineering (VERDICT r5 item 5 — profiled at sf1:
    ~70% of query time was the JVM→Python transfer, not compute):
    (a) the scan ships raw float32 over ``mapInArrow`` — no JVM-side
    double cast, half the bytes, zero-copy numpy view on the Arrow
    values buffer; widening float32→float64 in numpy is exact, so the
    fold consumes bit-identical inputs; (b) candidate selection uses a
    fast matmul approximation and the exact sequential fold is
    recomputed only for the ~n_q×k kept rows per batch (the fold is
    per-row independent, so the subset recompute is bit-identical to a
    full-batch fold); (c) each batch emits only its per-query top-k
    plus every row within 2e-6 + 1e-9 of the k-th approximate score.
    The margin keeps pruning EXACT: by Cauchy-Schwarz Σ|x_d q_d| <=
    ||x||·||q||, so |s_apx - s_exact| <= ~70·eps ≈ 1.6e-14 per score —
    a row pruned under the widened margin has exact s_r < s_kth - 2e-6,
    and |round6(x) - x| <= 5e-7 then gives round6(s_r) <
    round6(s_kth) - 1e-6: strictly below >= k same-batch rows
    post-rounding, hence never in the global top-k regardless of the
    vec_id tie-break. Extra emitted rows are always safe (the window
    ranks them out); only under-emission would be a correctness bug.
    The window input shrinks from n_candidates × n_q to ~batches×n_q×k.

    The candidates are coalesced to one partition before the kernel, so
    the scan, the kernel and the top-k window run as one task over one
    Python stream: the window's per-query clustering is already met, no
    exchange is planned, and the query runs one job instead of a
    shuffle-map job plus a result job. On a pinned 4-slice corpus the
    exchange cost more than the parallel scoring saved (BENCH_NOTES
    "ann_cosine_topk on one partition")."""
    import numpy as np
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    qrows = sorted(_queries(spark, sf_dir).collect(), key=lambda r: r["query_id"])
    if not qrows:  # empty corpus → no queries, no rows (oracle: empty)
        return emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0.0).alias("score"),
            F.lit(0).alias("rank"),
        ).limit(0)
    qids = np.array([r["query_id"] for r in qrows])
    qmat = np.array([r["q_emb"] for r in qrows])  # nq × d
    qn2 = np.zeros(len(qids))
    for d in range(qmat.shape[1]):  # same fold order as dot(q, q)
        qn2 += qmat[:, d] * qmat[:, d]
    qnrm = np.sqrt(qn2)
    nq = len(qids)

    def score_batches(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            vec_ids = np.asarray(b.column(0))
            flat = b.column(1).flatten()  # offset-aware list flatten
            E = np.asarray(flat).reshape(n, -1).astype(np.float64, copy=False)
            # Approximate scores: BLAS matmul (pairwise summation), only
            # ever used to SELECT candidates, never emitted.
            dot_apx = E @ qmat.T
            nrm = np.sqrt((E * E).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                s = dot_apx / (nrm[:, None] * qnrm[None, :])
            # A zero-norm vector (cosine undefined) yields NaN/inf; NaN
            # sorts as LARGEST under np.partition, so an unsanitized NaN
            # kth would make the >= kth-margin mask all-False and silently
            # drop every candidate in the batch for that query. Map all
            # non-finite scores to -inf: degenerate rows lose, never win.
            s[~np.isfinite(s)] = -np.inf
            s[vec_ids[:, None] == qids[None, :]] = -np.inf  # self rows out
            keep_r, keep_c = [], []
            for j in range(nq):
                col_s = s[:, j]
                if n > k:
                    kth = np.partition(col_s, n - k)[n - k]
                    # `> -inf` guards the degenerate batch with FEWER
                    # than k finite candidates (kth = -inf would
                    # re-admit the masked self/zero-norm rows and
                    # corrupt the top-k — r12 review)
                    idx = np.nonzero(
                        (col_s >= kth - (2e-6 + 1e-9)) & (col_s > -np.inf)
                    )[0]
                else:
                    idx = np.nonzero(col_s > -np.inf)[0]
                keep_r.append(idx)
                keep_c.append(np.full(len(idx), j, dtype=np.int64))
            ri = np.concatenate(keep_r)
            ci = np.concatenate(keep_c)
            # Exact refine: sequential dim-by-dim fold over ONLY the kept
            # rows — per-element accumulation order is row-independent,
            # so these doubles equal a full-batch fold bit for bit.
            kept_rows, inv = np.unique(ri, return_inverse=True)
            Ek = E[kept_rows]
            acc = np.zeros((len(kept_rows), nq))
            nrm2 = np.zeros(len(kept_rows))
            for d in range(qmat.shape[1]):
                col = Ek[:, d]
                acc += col[:, None] * qmat[None, :, d]
                nrm2 += col * col
            nrm_x = np.sqrt(nrm2)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vec_ids[ri], pa.int64()),
                    pa.array(qids[ci], pa.int64()),
                    pa.array(acc[inv, ci], pa.float64()),
                    pa.array(nrm_x[inv], pa.float64()),
                    pa.array(qnrm[ci], pa.float64()),
                ],
                ["vec_id", "query_id", "dotv", "nrm", "qnrm"],
            )

    scored = emb.coalesce(1).mapInArrow(
        score_batches,
        "vec_id bigint, query_id bigint, dotv double, nrm double, qnrm double",
    ).withColumn(
        "score",
        F.round(F.col("dotv") / (F.col("qnrm") * F.col("nrm")), 6),
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "score", "rank")
    )


ANN_TOPK_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_inner_product(q.q_emb, e.emb) /
               (sqrt(list_inner_product(q.q_emb, q.q_emb)) *
                sqrt(list_inner_product(e.emb, e.emb))), 6) AS score
  FROM q JOIN e ON e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored WHERE score IS NOT NULL)
SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


NEARDUP_SAMPLE_CAP = 200_000  # max vec_id admitted to the quadratic sample


def embedding_neardup_pairs(spark, sf_dir, top_pairs: int = 20):
    """Embedding-cosine near-dup: top-N most-similar pairs within a
    deterministic 10% sample (vec_id % 10 = 0). Exact pairwise scoring on
    the sample (oracle-checkable); the LSH-bucketed variant below is the
    full-corpus scale path.

    The sample is HARD-CAPPED at vec_id < NEARDUP_SAMPLE_CAP (≤20k rows
    after the %10 filter) so the O(sample²) scoring stays ≤2×10⁸ pairs
    no matter how large the corpus grows — the quadratic baseline can
    never silently scale with the data.

    Scale shape (r12 — the theta-join with per-pair JVM fold evaluated
    2×10⁸ higher-order `aggregate` calls interpreted, 44.7 s at sf10):
    the ANN Arrow kernel pattern. The capped sample collects once
    (≤10 MB, bounded) and broadcasts; each Arrow batch BLAS-matmuls its
    row block against the sample (approximate scores, used only to
    SELECT candidates), then the top candidates are exact-refined with
    the sequential dim-by-dim fold so the emitted doubles are
    bit-identical to the JVM/DuckDB left-to-right accumulation. Each
    batch emits ~top_pairs rows; the global sort ranks a few hundred
    candidates. Measured 1.0 s at sf10."""
    import numpy as np
    import pyarrow as pa

    sub = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < NEARDUP_SAMPLE_CAP)
        )
        .select("vec_id", as_double(F.col("embedding")).alias("emb"))
    )
    rows = sorted(sub.collect(), key=lambda r: r["vec_id"])
    if not rows:  # empty sample → no pairs (oracle: empty)
        return sub.select(
            F.col("vec_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            F.lit(0.0).alias("score"),
        ).limit(0)
    vids_all = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    M = np.array([r["emb"] for r in rows], dtype=np.float64)
    n2 = np.zeros(len(rows))
    for d in range(M.shape[1]):  # same fold order as dot(e, e)
        n2 += M[:, d] * M[:, d]
    nrm_all = np.sqrt(n2)
    bc = spark.sparkContext.broadcast((vids_all, M, nrm_all))
    npairs = int(top_pairs)

    def score_batches(batches):
        vids, Mat, nrm = bc.value
        for b in batches:
            nb_rows = b.num_rows
            if nb_rows == 0:
                continue
            bvids = np.asarray(b.column(0))
            E = (
                np.asarray(b.column(1).flatten())
                .reshape(nb_rows, -1)
                .astype(np.float64, copy=False)
            )
            # row-chunk so the (chunk × sample) score matrix stays tens
            # of MB regardless of Arrow batch size
            for lo in range(0, nb_rows, 256):
                Ec = E[lo : lo + 256]
                cvids = bvids[lo : lo + 256]
                dot_apx = Ec @ Mat.T
                en2 = np.zeros(len(Ec))
                for d in range(Ec.shape[1]):
                    en2 += Ec[:, d] * Ec[:, d]
                enrm = np.sqrt(en2)
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = dot_apx / (enrm[:, None] * nrm[None, :])
                s[~np.isfinite(s)] = -np.inf
                s[cvids[:, None] >= vids[None, :]] = -np.inf  # a < b only
                flat = s.ravel()
                live = int(np.isfinite(flat).sum())
                take = min(npairs, live)
                if take == 0:  # empty/singleton chunk or top_pairs=0
                    continue
                kth = np.partition(flat, flat.size - take)[flat.size - take]
                idx = np.nonzero(flat >= kth - (2e-6 + 1e-9))[0]
                ri, ci = np.unravel_index(idx, s.shape)
                # exact refine: sequential fold over only the kept pairs
                dotv = np.zeros(len(idx))
                for d in range(Ec.shape[1]):
                    dotv += Ec[ri, d] * Mat[ci, d]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(cvids[ri], pa.int64()),
                        pa.array(vids[ci], pa.int64()),
                        pa.array(dotv, pa.float64()),
                        pa.array(enrm[ri], pa.float64()),
                        pa.array(nrm[ci], pa.float64()),
                    ],
                    ["vec_a", "vec_b", "dotv", "na", "nb"],
                )

    pairs = (
        sub.mapInArrow(
            score_batches,
            "vec_a bigint, vec_b bigint, dotv double, na double, nb double",
        )
        .withColumn(
            "score",
            F.round(F.col("dotv") / (F.col("na") * F.col("nb")), 6),
        )
        .select("vec_a", "vec_b", "score")
        .orderBy(F.col("score").desc(), "vec_a", "vec_b")
        .limit(top_pairs)
    )
    return pairs


def _neardup_pairs_oracle(top_pairs: int = 20) -> str:
    """Oracle generated from the SAME constants the operator filters on
    (r12 review: the cap and limit were duplicated literals — bumping
    NEARDUP_SAMPLE_CAP or the top_pairs default would silently
    desynchronize the two sides)."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb
           FROM embeddings
           WHERE vec_id % 10 = 0 AND vec_id < {NEARDUP_SAMPLE_CAP})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_inner_product(a.emb, b.emb) /
             (sqrt(list_inner_product(a.emb, a.emb)) *
              sqrt(list_inner_product(b.emb, b.emb))), 6) AS score
FROM e a JOIN e b ON a.vec_id < b.vec_id
ORDER BY score DESC, vec_a, vec_b LIMIT {top_pairs}
"""


NEARDUP_PAIRS_ORACLE = _neardup_pairs_oracle()


def _bucket_bits(emb_col) -> "F.Column":
    """Sign-bit sketch over the fixed hyperplanes → int bucket id."""
    bucket = F.lit(0)
    for i, hp in enumerate(_HYPERPLANES):
        proj = dot(emb_col, F.array(*[F.lit(v) for v in hp]))
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def _hp_literal_sql(hp: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in hp) + "]"


def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_inner_product({a}, {b}) / "
        f"(sqrt(list_inner_product({a}, {a})) * "
        f"sqrt(list_inner_product({b}, {b})))"
    )


# DuckDB twin of the LSH bucketing: the hyperplanes are inlined as double
# literals (repr round-trips exactly), the sign-bit bucket and Hamming-1
# multi-probe are replicated verbatim — a full cross-engine replay of the
# approximate operator, not just a rows-count check.
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_inner_product(emb, {_hp_literal_sql(hp)}) > 0 "
    f"THEN {1 << i} ELSE 0 END)"
    for i, hp in enumerate(_HYPERPLANES)
)
_PROBE_SQL = ", ".join(
    ["CAST(qbucket AS BIGINT)"]
    + [f"xor(qbucket, {1 << i})" for i in range(len(_HYPERPLANES))]
)
ANN_LSH_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
b AS (SELECT vec_id, emb, {_BUCKET_SQL} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, emb AS q_emb, bucket AS qbucket
      FROM b WHERE vec_id < 8),
probes AS (SELECT query_id, q_emb, unnest([{_PROBE_SQL}]) AS bucket FROM q),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         round({_cos_sql('p.q_emb', 'c.emb')}, 6) AS score
  FROM probes p JOIN b c ON c.bucket = p.bucket AND c.vec_id <> p.query_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored WHERE score IS NOT NULL)
SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def ann_lsh_bucketed(spark, sf_dir, k: int = 10):
    """LSH-bucketed ANN: candidates restricted to the query's hyperplane
    bucket (plus Hamming-1 probes). Approximate but fully deterministic,
    so the DuckDB twin (ANN_LSH_ORACLE) replays the exact same bucketing
    from inlined hyperplane literals; recall vs the exact operator is
    additionally measured in tests."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    )
    emb = _with_norm(emb.withColumn("bucket", _bucket_bits(F.col("emb"))), "emb", "nrm")
    q = _with_norm(
        _queries(spark, sf_dir).withColumn("qbucket", _bucket_bits(F.col("q_emb"))),
        "q_emb",
        "qnrm",
    )
    # multi-probe: exact bucket + all Hamming-1 neighbors
    probes = q.select(
        "query_id",
        "q_emb",
        "qnrm",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(len(_HYPERPLANES))
                ],
            )
        ).alias("bucket"),
    )
    scored = (
        emb.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.round(
                dot(F.col("q_emb"), F.col("emb"))
                / (F.col("qnrm") * F.col("nrm")),
                6,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "score", "rank")
    )


IVF_MAX_CENTROIDS = 4096  # broadcast stays bounded at any corpus size
SEMDEDUP_TARGET_CELL = 128  # target vectors per cell (power of 2: exact /)


def _assign_cells(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-cell assignment (the r10 sf10 timeout fix — this was a
    crossJoin + row_number window that exchanged the full n×k product,
    412M array-carrying rows at sf10, and timed out inside the centroid
    broadcast build; a JVM per-pair fold re-shape still measured
    ~0.4 µs/pair = ~2 min at n×k=312M, so the n×k product must never be
    JVM-evaluated at all).

    Shape: the centroid matrix is collected once while the plan is built
    (bounded ≤ IVF_MAX_CENTROIDS×DIM doubles ≈ 2 MB — the fit/transform
    split every production pipeline uses: learning the quantizer is its
    own step, applying it is the streamed pass) and rides into an
    Arrow-batched ``mapInArrow`` kernel as a closure constant. Per batch:
    BLAS matmul gives APPROXIMATE scores used only to SELECT candidate
    cells; the exact sequential dim-by-dim fold is recomputed in float64
    for the ~1× kept rows and EMITTED, with division + HALF_UP rounding
    + the (sim desc, cent_id asc) argmax left JVM-side — bit-identical
    to the oracle's crossJoin + row_number replay. Rows with no finite
    approx score (zero-norm vectors) emit all k candidates so the JVM
    tie-break decides exactly as both engines' NaN ordering does. Only
    ~n rows ever shuffle (the max_by partial aggregate combines
    map-side).

    r14 optimization round, kernel internals (results unchanged — the
    approx pass only ever SELECTS a candidate superset):
    - the approx matmul runs in float32 over ≤2048-row sub-chunks: the
      n×k score block for a full 10k-row Arrow batch is ~165 MB of
      temporaries, measured 3–10× slower on this box than cache-sized
      chunks (offline ladder: 200k×2062 unchunked 54 s, 8192-chunks
      16.5 s, 2048-chunks f64 6.1 s, f32 3.9 s);
    - the selection margin widens from 2e-6+1e-9 (two 6-dp roundings +
      float64 fold error) to 2e-6+1e-3: the float32 pass carries
      ≤ ~(d+2)·eps32 ≈ 1e-5 relative error on these unit-scale cosines,
      so 1e-3 is ≥100× the bound — every cell whose exact 6-dp sim
      could win still survives selection, it merely keeps ~13% more
      candidates for the exact float64 refine (measured: 226k kept for
      200k rows), which the refine absorbs at ~µs each. A float32
      underflow/overflow row goes non-finite → degenerate → all k kept
      → exact JVM path decides, same as the zero-norm case."""
    import numpy as np
    import pyarrow as pa

    crows = sorted(
        cents.select("cent_id", "cent_emb").collect(), key=lambda r: r["cent_id"]
    )
    if not crows:  # empty corpus → no cells, no assignments (oracle: empty)
        return emb.select("vec_id", "emb", F.lit(None).cast("bigint").alias("cent_id")).limit(0)
    cids_np = np.array([r["cent_id"] for r in crows], dtype=np.int64)
    C = np.array([r["cent_emb"] for r in crows], dtype=np.float64)  # k×d
    k = len(cids_np)
    cn2 = np.zeros(k)
    for d in range(C.shape[1]):  # same fold order as dot(c, c)
        cn2 += C[:, d] * C[:, d]
    cnrm_np = np.sqrt(cn2)
    C32t = np.ascontiguousarray(C.T.astype(np.float32))  # d×k for dgemm
    cnrm32 = cnrm_np.astype(np.float32)
    _CHUNK = 2048

    def assign_batches(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            vec_ids = np.asarray(b.column(0))
            flat = b.column(1).flatten()  # offset-aware list flatten
            E = np.asarray(flat).reshape(n, -1).astype(np.float64, copy=False)
            E32 = E.astype(np.float32)
            ri_parts, ci_parts = [], []
            for lo in range(0, n, _CHUNK):
                Ei = E32[lo : lo + _CHUNK]
                apx = Ei @ C32t
                nrm_apx = np.sqrt((Ei * Ei).sum(axis=1))
                with np.errstate(
                    divide="ignore", invalid="ignore", over="ignore"
                ):
                    s = apx / (nrm_apx[:, None] * cnrm32[None, :])
                s_sel = np.where(np.isfinite(s), s, -np.inf)
                mx = s_sel.max(axis=1)
                mask = s_sel >= (mx[:, None] - (2e-6 + 1e-3))
                # degenerate rows (no finite score): keep every
                # candidate so the JVM NaN ordering decides —
                # identical in both engines
                degenerate = ~np.isfinite(mx)
                if degenerate.any():
                    mask[degenerate, :] = True
                rj, cj = np.nonzero(mask)
                ri_parts.append(rj + lo)
                ci_parts.append(cj)
            ri = np.concatenate(ri_parts)
            ci = np.concatenate(ci_parts)
            # exact sequential refine PER KEPT PAIR (~1.05 pairs/row —
            # never an n×k dense pass): the dim-ordered fold is
            # row-independent, so these doubles are bit-identical to a
            # full-product fold
            Er = E[ri]  # m×d
            Cc = C[ci]  # m×d
            m = len(ri)
            dotv = np.zeros(m)
            nrm2 = np.zeros(m)
            for d in range(E.shape[1]):
                dotv += Er[:, d] * Cc[:, d]
                nrm2 += Er[:, d] * Er[:, d]
            offsets = pa.array(np.arange(0, (m + 1) * E.shape[1], E.shape[1]))
            emb_arr = pa.ListArray.from_arrays(
                offsets, pa.array(Er.ravel(), pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vec_ids[ri], pa.int64()),
                    emb_arr,
                    pa.array(cids_np[ci], pa.int64()),
                    pa.array(dotv, pa.float64()),
                    pa.array(np.sqrt(nrm2), pa.float64()),
                    pa.array(cnrm_np[ci], pa.float64()),
                ],
                ["vec_id", "emb", "cent_id", "dotv", "nrm", "cnrm"],
            )

    kept = emb.select("vec_id", "emb").mapInArrow(
        assign_batches,
        "vec_id bigint, emb array<double>, cent_id bigint, "
        "dotv double, nrm double, cnrm double",
    )
    sim = F.round(F.col("dotv") / (F.col("nrm") * F.col("cnrm")), 6)
    # argmax by (sim desc, cent_id asc) == the oracle's row_number pick;
    # the ordering struct is unique per candidate (cent_id distinct), so
    # max_by is deterministic. emb rides through first() (constant within
    # the vec_id group).
    return (
        kept.groupBy("vec_id")
        .agg(
            F.first("emb").alias("emb"),
            F.max_by(F.col("cent_id"), F.struct(sim, -F.col("cent_id"))).alias(
                "cent_id"
            ),
        )
        .select("vec_id", "emb", "cent_id")
    )


def ivf_centroids(
    spark: SparkSession,
    sf_dir: str,
    centroid_mod: int = 97,
    refine_iters: int = 1,
    max_cells: int = IVF_MAX_CENTROIDS,
) -> DataFrame:
    """Learned IVF coarse centroids: deterministic seeds (every vec_id %
    centroid_mod == 0, hard-capped at `max_cells` seeds) refined by
    `refine_iters` Lloyd steps (assign → per-cell mean).

    The mean uses exact DECIMAL accumulation per (cell, dim) — float sums
    are partition-order-dependent — rounded to 6 dp, so the learned
    centroids are bit-identical across engines and the DuckDB twin can
    replay the refinement. 100 TB: assignment is broadcast-join +
    per-row argmax (no shuffle); the mean is one shuffle keyed
    (cell, dim); refine on a deterministic sample if even that is heavy."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    )
    cents = emb.filter(
        (F.col("vec_id") % centroid_mod == 0)
        & (F.col("vec_id") < centroid_mod * max_cells)
    ).select(F.col("vec_id").alias("cent_id"), F.col("emb").alias("cent_emb"))
    # r14 optimization round: the embeddings file is one ~128 MB-split
    # scan at bench scale, so the whole Lloyd pass (assign kernel +
    # posexplode + partial agg) ran in ONE task — fan the bounded
    # training frame out once (cheap: n narrow rows) so the n×k kernel
    # and the (cell,dim) partial aggregation use the session's cores.
    # CONDITIONAL on the actual scan width (A/B /tmp/ab_ivffit.json →
    # OPTIMIZATION_r14.md): when the source is already balanced — the
    # bench's pinned relations, or a many-split scan at real scale —
    # the extra 110 MB array shuffle is a pure ~5% loss, so it only
    # fires when the scan is narrower than half the session's cores
    # (where it measured 6× on the one-split shape). The refined
    # centroids are partitioning-invariant (exact decimal sums;
    # per-row kernel), and the TRANSFORM passes always stay on scan
    # partitioning (the streamed pass must not double-move the data).
    want = spark.sparkContext.defaultParallelism
    emb_fit = (
        emb.repartition(want)
        if emb.rdd.getNumPartitions() < max(2, want // 2)
        else emb
    )
    for _ in range(refine_iters):
        dims = _assign_cells(emb_fit, cents).select(
            "cent_id", F.posexplode("emb").alias("dim", "x")
        )
        mu = dims.groupBy("cent_id", "dim").agg(
            F.round(
                F.sum(F.col("x").cast("decimal(28,18)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mu")
        )
        cents = (
            mu.groupBy("cent_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "mu"))).alias("a"))
            .select(
                "cent_id", F.transform("a", lambda s: s["mu"]).alias("cent_emb")
            )
        )
    return cents


def ivf_assign(
    spark: SparkSession,
    sf_dir: str,
    centroid_mod: int = 97,
    refine_iters: int = 1,
    max_cells: int = IVF_MAX_CENTROIDS,
) -> tuple:
    """IVF coarse quantization against the learned centroids."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    )
    # cache: cents feeds both the assignment and the caller's probe
    # ranking. Repeat calls build plan-identical frames, so Spark's
    # CacheManager dedupes to ONE storage entry per distinct
    # (sf_dir, centroid_mod, max_cells, refine_iters) — bounded, not a
    # per-call leak.
    cents = ivf_centroids(spark, sf_dir, centroid_mod, refine_iters, max_cells).cache()
    return _assign_cells(emb, cents), cents


def ann_ivf_topk(spark, sf_dir, k: int = 10, nprobe: int = 4, refine_iters: int = 1):
    """IVF ANN over learned (Lloyd-refined) centroids: probe the nprobe
    nearest cells per query, exact top-k within. nprobe = #centroids
    degenerates to exact brute force (property-tested); recall@10 of the
    refined centroids vs the raw seeds is asserted in tests. Fully
    deterministic → the DuckDB twin replays seed → refine → probe."""
    assigned, cents = ivf_assign(spark, sf_dir, refine_iters=refine_iters)
    q = _queries(spark, sf_dir)
    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "sim", F.round(cosine(F.col("q_emb"), F.col("cent_emb")), 6)
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cent_id"))
    probes = (
        qc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q_emb", "cent_id")
    )
    scored = (
        _with_norm(assigned, "emb", "nrm")
        .join(F.broadcast(_with_norm(probes, "q_emb", "qnrm")), "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.round(
                dot(F.col("q_emb"), F.col("emb"))
                / (F.col("qnrm") * F.col("nrm")),
                6,
            ),
        )
    )
    wk = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "score", "rank")
    )


_IVF_CAP = 97 * IVF_MAX_CENTROIDS


def _ivf_a1_sql(seeds_cte: str) -> str:
    """Oracle prefix: seeds → assign → DECIMAL-exact Lloyd mean →
    re-assign (a1) — the SQL replay of ivf_assign(refine_iters=1),
    parametrized by the seed-selection CTE chain (the ANN oracle keeps
    the fixed mod-97 rule; SemDeDup derives its rule from count(*))."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
{seeds_cte},
a0 AS (SELECT vec_id, emb, cent_id FROM (
    SELECT v.vec_id, v.emb, s.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
               ORDER BY round({_cos_sql('v.emb', 's.cent_emb')}, 6) DESC,
                        s.cent_id) AS rn
    FROM e v CROSS JOIN seeds s) WHERE rn = 1),
dims AS (SELECT cent_id, u.dim - 1 AS dim, u.x
         FROM a0, LATERAL (SELECT unnest(emb) AS x,
                                  generate_subscripts(emb, 1) AS dim) u),
mu AS (SELECT cent_id, dim,
              round(CAST(sum(CAST(x AS DECIMAL(28,18))) AS DOUBLE)
                    / count(*), 6) AS mu
       FROM dims GROUP BY cent_id, dim),
cents AS (SELECT cent_id, list(mu ORDER BY dim) AS cent_emb
          FROM mu GROUP BY cent_id),
a1 AS (SELECT vec_id, emb, cent_id FROM (
    SELECT v.vec_id, v.emb, c.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
               ORDER BY round({_cos_sql('v.emb', 'c.cent_emb')}, 6) DESC,
                        c.cent_id) AS rn
    FROM e v CROSS JOIN cents c) WHERE rn = 1)"""


_IVF_A1_SQL = _ivf_a1_sql(
    f"""seeds AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM e
          WHERE vec_id % 97 = 0 AND vec_id < {_IVF_CAP})"""
)

ANN_IVF_ORACLE = f"""{_IVF_A1_SQL},
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 8),
probes AS (SELECT query_id, q_emb, cent_id FROM (
    SELECT q.query_id, q.q_emb, c.cent_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY round({_cos_sql('q.q_emb', 'c.cent_emb')}, 6) DESC,
                        c.cent_id) AS rn
    FROM q CROSS JOIN cents c) WHERE rn <= 4),
scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
                  round({_cos_sql('p.q_emb', 'a.emb')}, 6) AS score
           FROM a1 a JOIN probes p USING (cent_id)
           WHERE a.vec_id <> p.query_id),
ranked AS (SELECT query_id, neighbor_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rank
           FROM scored WHERE score IS NOT NULL)
SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def _int8_scale(v):
    """Per-vector symmetric int8 scale: max|x|/127 floored at 1e-12 —
    ONE definition shared by the storage op and its oracle-checked
    projection (r13 review: two hand-maintained copies meant editing
    the floor or divisor in one silently desynced the other while the
    check kept passing)."""
    return F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
    ) / F.lit(127.0)


def _quantize_base(spark, sf_dir):
    """(vec_id, _v double-array, _s scale) with the scale MATERIALIZED
    as a column in its own projection. Referencing the `_int8_scale`
    expression tree directly inside the quantize lambda re-evaluated
    the whole abs-transform + array_max subtree PER ELEMENT — array
    HOFs are interpreted (CodegenFallback) with no common-subexpression
    elimination across the lambda boundary, so the row cost was O(d²):
    the r14 interleaved A/B at sf10 (200k × 64-dim vectors) measured
    the column form at min 0.359 s vs 1.822 s for the expression form
    (−80%, new arm ahead in all 7 adjacent pairs,
    plans/r14/ab_quant_scalecol.json). CollapseProject leaves the
    staged projection alone because `_s` is non-cheap and consumed
    more than once."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", as_double(F.col("embedding")).alias("_v"))
    return base.select("vec_id", "_v", _int8_scale(F.col("_v")).alias("_s"))


def embedding_quantize_int8(spark, sf_dir):
    """Storage-path op: symmetric int8 quantization of embeddings —
    per-vector scale = max|x|/127, stored as (scale, array<tinyint>).
    4× footprint cut for ANN candidate sets; rows-only check here, the
    reconstruction-error bound is property-tested. (Array HOFs over a
    materialized scale column — see `_quantize_base`.)"""
    base = _quantize_base(spark, sf_dir)
    s = F.col("_s")
    return base.select(
        "vec_id",
        s.alias("scale"),
        F.transform(
            F.col("_v"), lambda x: F.round(x / s).cast("tinyint")
        ).alias("q"),
    )


def embedding_quantize_int8_check(spark, sf_dir):
    """Oracle-checkable projection of the int8 quantization: the full q
    vector serialized as CSV plus the 9-dp scale. Both engines compute
    round(x/scale) on identical doubles and round half-away-from-zero,
    so the quantized codes match bit-for-bit cross-engine. Scale rides
    a materialized column (`_quantize_base`) — same arithmetic, same
    results, minus the per-element re-evaluation."""
    base = _quantize_base(spark, sf_dir)
    s = F.col("_s")
    q = F.transform(F.col("_v"), lambda x: F.round(x / s).cast("int"))
    return base.select(
        "vec_id",
        F.round(s, 9).alias("scale_r"),
        F.concat_ws(",", q.cast("array<string>")).alias("q_csv"),
        F.size(F.col("_v")).alias("n_dims"),
    )


QUANTIZE_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
s AS (SELECT vec_id, v,
             greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0
               AS scale
      FROM e)
SELECT vec_id,
       round(scale, 9) AS scale_r,
       array_to_string(
         list_transform(v, x -> CAST(CAST(round(x / scale) AS INTEGER)
                                     AS VARCHAR)), ',') AS q_csv,
       CAST(len(v) AS INT) AS n_dims
FROM s
"""


def _semdedup_cells(n: int) -> tuple[int, int]:
    """(seed_mod, n_cells) for a corpus of ``n`` vectors: the cell count
    GROWS with the corpus at a constant ~SEMDEDUP_TARGET_CELL vectors per
    cell (integer ceil both here and in the SQL twin — exact at any n),
    capped at IVF_MAX_CENTROIDS so the centroid broadcast stays bounded.
    Past the cap (n > 4096·128 ≈ 524k vectors per partition-group) cells
    grow linearly again; the 100 TB recipe is then a two-level quantizer
    (shard by a coarse code first), not a bigger flat broadcast."""
    n_cells = min(max((n + SEMDEDUP_TARGET_CELL - 1) // SEMDEDUP_TARGET_CELL, 1),
                  IVF_MAX_CENTROIDS)
    seed_mod = max((n + n_cells - 1) // n_cells, 1)
    return seed_mod, n_cells


def embedding_semdedup(spark, sf_dir, threshold: float = 0.45):
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public): assign
    every vector to its nearest Lloyd-refined IVF cell, then inside each
    cell mark a vector a duplicate when a LOWER-vec_id cellmate has
    cosine >= threshold; `dup_of` names the smallest such keeper. The
    prune step (`WHERE NOT is_dup`) is the corpus-reduction pass a
    training pipeline runs before tokenization.

    Scale: pairwise work is confined to IVF cells, and the cell count is
    DERIVED FROM THE CORPUS SIZE (`_semdedup_cells`: ~128 vectors per
    cell, capped for broadcast) — the r10 sf10 failure was a fixed cell
    count letting the in-cell self-join go O(n²/k). The corpus count that
    sizes the quantizer is read once at plan build (table-stats-grade:
    Iceberg/parquet row counts are metadata). Assignment is one
    broadcast max_by pass (no n×k shuffle — `_assign_cells`), the pair
    join shuffles on cent_id only, and the pair dot runs unrolled
    (whole-stage codegen). Deterministic throughout → the DuckDB twin
    replays count → seed → Lloyd → assign → pair verbatim. Default
    threshold is calibrated to the synthetic testdata corpus (max
    pairwise cosine ~0.51; real embedding corpora use ~0.95+)."""
    n = load_table(spark, sf_dir, "embeddings").count()
    seed_mod, n_cells = _semdedup_cells(n)
    assigned, _ = ivf_assign(spark, sf_dir, centroid_mod=seed_mod, max_cells=n_cells)
    # consumed 3× (both sides of the pair join + the final left join):
    # cache the n-row assignment instead of re-running the Arrow kernel
    # per subtree; plan-identical repeat calls share the one entry via
    # the CacheManager (the dedup_minhash_lsh convention)
    assigned = assigned.cache()
    a = _with_norm(assigned, "emb", "na")
    b = a.select(
        F.col("vec_id").alias("vb"),
        "cent_id",
        F.col("emb").alias("emb_b"),
        F.col("na").alias("nb"),
    )
    dup_of = (
        a.join(b, "cent_id")
        .filter(F.col("vb") < F.col("vec_id"))
        .withColumn(
            "sim",
            F.round(
                dot(F.col("emb"), F.col("emb_b")) / (F.col("na") * F.col("nb")), 6
            ),
        )
        .filter(F.col("sim") >= threshold)
        .groupBy("vec_id")
        .agg(F.min("vb").alias("dup_of"))
    )
    return (
        assigned.select("vec_id", "cent_id")
        .join(dup_of, "vec_id", "left")
        .select(
            "vec_id",
            "cent_id",
            "dup_of",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


# Seed rule derived from count(*) — the SQL twin of _semdedup_cells
# (DuckDB `//` is integer floor-division on BIGINT, so the ceils are the
# same exact integer arithmetic as the Python side).
_SEMDEDUP_SEEDS_CTE = f"""prm AS (
    SELECT n,
           GREATEST((n + nc - 1) // nc, 1) AS seed_mod, nc AS n_cells
    FROM (SELECT n,
                 LEAST(GREATEST((n + {SEMDEDUP_TARGET_CELL} - 1)
                                // {SEMDEDUP_TARGET_CELL}, 1),
                       {IVF_MAX_CENTROIDS}) AS nc
          FROM (SELECT count(*) AS n FROM e))),
seeds AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM e, prm
          WHERE vec_id % seed_mod = 0 AND vec_id < seed_mod * n_cells)"""


def embedding_semdedup_oracle_sql(threshold: float = 0.45) -> str:
    """Oracle generated from the same threshold as the query (the
    decontaminate_oracle_sql pattern); the IVF prefix derives its cell
    count from count(*) exactly like `_semdedup_cells`."""
    return f"""{_ivf_a1_sql(_SEMDEDUP_SEEDS_CTE)},
pairs AS (SELECT a.vec_id, b.vec_id AS vb,
                 round({_cos_sql('a.emb', 'b.emb')}, 6) AS sim
          FROM a1 a JOIN a1 b
            ON a.cent_id = b.cent_id AND b.vec_id < a.vec_id),
d AS (SELECT vec_id, min(vb) AS dup_of FROM pairs
      WHERE sim >= {threshold} GROUP BY vec_id)
SELECT a1.vec_id, a1.cent_id, d.dup_of, d.dup_of IS NOT NULL AS is_dup
FROM a1 LEFT JOIN d USING (vec_id)
"""


SEMDEDUP_ORACLE = embedding_semdedup_oracle_sql()


def _round_half_away(y: float) -> int:
    """Half-away-from-zero (both engines' round(); Python's built-in
    round is banker's and would diverge on exact halves)."""
    return int(math.copysign(math.floor(abs(y) + 0.5), y))


def embedding_pca_power_iteration(spark, sf_dir, iters: int = 3):
    """Top principal direction of the (uncentered) embedding Gram
    matrix by power iteration — v ← AᵀA·v, max-|component| normalized,
    3 fixed iterations from the all-ones start (deterministic sign and
    trajectory, so the DuckDB twin unrolls the same three steps and
    hash-matches exactly — an ITERATIVE algorithm under the exactness
    contract).

    Per iteration, nothing leaves exact arithmetic until one shared
    IEEE normalization:
      1. dot_i = Σ_j e_fp[i][j]·v_fp[j] as a 64-term literal sum —
         whole-stage-codegen'd projection (the HOF-fold form is
         interpreted per element; the outlier-scores dead end), ≤6.4e13
         under int64, rescaled to 1e6 by round-through-double (exact:
         <2^53; `div` is avoided because trunc-vs-floor on negative
         dots differs across engines).
      2. w_j = Σ_i e_fp[i][j]·dot_i: posexplode carrying dot_i, ONE
         64-group shuffle with map-side combine, DECIMAL(38,0) sum
         (products ≤6.4e13 but the sum crosses int64 past ~1.4e5
         rows).
      3. v ← round(w/max|w|·1e6): a 64-row bounded collect per
         iteration (metadata-class, like the ANN query vectors); the
         driver mirrors round-half-away and float(int) round-to-nearest
         — bit-identical to the oracle's CAST/round.
    Scale shape: iters × (one cached-scan projection + one 64-cell
    shuffle); the quantized base frame is cached across iterations
    (n×64 longs). Reference analog: none — this is the [EXT]
    training-pipeline surface (whitening/quantization pre-checks).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
        ).alias("ef"),
    ).cache()
    v = [1000000] * DIM
    for _ in range(iters):
        dot_sum = " + ".join(f"ef[{j}] * {v[j]}L" for j in range(DIM))
        ds = base.select(
            "ef",
            F.expr(
                f"CAST(round(CAST({dot_sum} AS DOUBLE) / 1000000.0) AS BIGINT)"
            ).alias("ds"),
        )
        w_rows = (
            ds.select(F.posexplode("ef").alias("dim", "e"), "ds")
            .groupBy("dim")
            .agg(F.sum((F.col("e") * F.col("ds")).cast("decimal(38,0)")).alias("w"))
            .collect()
        )
        w = {r["dim"]: int(r["w"]) for r in w_rows}
        if not w:
            # empty corpus: the oracle's CTE chain is empty end-to-end
            # and returns ZERO rows — returning the all-ones start
            # vector here claimed a parity that didn't exist (r13
            # review)
            return spark.createDataFrame([], "dim long, loading double")
        mx = float(max(abs(x) for x in w.values()))
        if mx == 0.0:
            # all-zero corpus: the oracle's 0/0 normalization is NULL
            # and stays NULL through the remaining unrolled steps —
            # mirror it instead of raising ZeroDivisionError (r13
            # review)
            return spark.createDataFrame(
                [(j, None) for j in range(DIM)], "dim long, loading double"
            )
        v = [_round_half_away(float(w[j]) / mx * 1e6) for j in range(DIM)]
    return spark.createDataFrame(
        [(j, v[j] / 1e6) for j in range(DIM)], "dim long, loading double"
    )


def _pca_oracle_sql(iters: int = 3) -> str:
    """The same three unrolled power-iteration steps in DuckDB SQL
    (hugeint sums where Spark uses DECIMAL(38,0) — both exact)."""
    parts = [
        """
WITH e AS (
  SELECT vec_id, u.dim - 1 AS dim,
         CAST(round(u.x * 1000000.0) AS BIGINT) AS ef
  FROM embeddings,
       LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
                       generate_subscripts(embedding, 1) AS dim) u),
v0 AS (SELECT unnest(range(0, 64)) AS dim, CAST(1000000 AS BIGINT) AS vf)"""
    ]
    for t in range(iters):
        parts.append(
            f""",
d{t + 1} AS (
  SELECT vec_id,
         CAST(round(CAST(sum(ef * vf) AS DOUBLE) / 1000000.0) AS BIGINT) AS ds
  FROM e JOIN v{t} USING (dim) GROUP BY vec_id),
w{t + 1} AS (
  SELECT dim, sum(ef * ds) AS w
  FROM e JOIN d{t + 1} USING (vec_id) GROUP BY dim),
v{t + 1} AS (
  SELECT dim,
         CAST(round(CAST(w AS DOUBLE)
                    / CAST((SELECT max(abs(w)) FROM w{t + 1}) AS DOUBLE)
                    * 1000000.0) AS BIGINT) AS vf
  FROM w{t + 1})"""
        )
    parts.append(
        f"""
SELECT dim, CAST(vf AS DOUBLE) / 1000000.0 AS loading FROM v{iters}"""
    )
    return "".join(parts)


def embedding_kmeans_step(spark, sf_dir, k: int = 8):
    """One exact Lloyd iteration of k-means over the embedding table:
    assign every vector to its nearest of k deterministic seed
    centroids (the vectors with vec_id < k), then recompute each
    cluster's per-dimension mean — the assign+update step every
    clustering pipeline loops (the loop itself is driver-side trivial;
    the step is the distributed workload, same framing as the PCA
    power iteration).

    Exactness: coordinates quantize to scale-6 BIGINT once; squared
    L2 distances are exact integer sums (≤64·(2e6)² ≈ 2.6e14), so the
    argmin — THE correctness hazard of float k-means across engines —
    is decided on exact integers with ties to the lower cluster id.
    Centroid means are exact-int ratios rounded once.

    Scale shape: the k seed centroids are a bounded collect (k×64
    longs) unrolled into k LITERAL 64-term distance projections —
    whole-stage codegen, zero joins on the fact (broadcast-as-literal,
    the minhash trick); then one (cluster, dim)-keyed shuffle with
    map-side combine for the update. Assignment output is k·64 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
        ).alias("ef"),
    )
    seeds = {
        r["vec_id"]: r["ef"]
        for r in base.filter(F.col("vec_id") < k).collect()
    }
    if len(seeds) != k:
        raise ValueError(f"expected seed vec_ids 0..{k - 1}, got {sorted(seeds)}")
    dists = [
        F.expr(
            " + ".join(
                f"(ef[{j}] - {seeds[c][j]}L) * (ef[{j}] - {seeds[c][j]}L)"
                for j in range(DIM)
            )
        ).alias(f"d{c}")
        for c in range(k)
    ]
    scored = base.select("vec_id", "ef", *dists)
    least_d = F.least(*[F.col(f"d{c}") for c in range(k)])
    cluster = F.lit(None).cast("long")
    for c in range(k - 1, -1, -1):  # build when-chain so LOWEST id wins ties
        cluster = F.when(F.col(f"d{c}") == least_d, F.lit(c)).otherwise(cluster)
    assigned = scored.select("vec_id", "ef", cluster.alias("cluster"))
    return (
        assigned.select("cluster", F.posexplode("ef").alias("dim", "e"))
        .groupBy("cluster", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("e").alias("s"))
        .select(
            "cluster",
            "dim",
            "n",
            F.round(
                F.col("s").cast("double") / F.col("n").cast("double") / F.lit(1e6),
                6,
            ).alias("mu"),
        )
    )


KMEANS_STEP_ORACLE = """
WITH e AS (
  SELECT vec_id, u.dim - 1 AS dim,
         CAST(round(u.x * 1000000.0) AS BIGINT) AS ef
  FROM embeddings,
       LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
                       generate_subscripts(embedding, 1) AS dim) u),
c AS (SELECT vec_id AS cl, dim, ef AS cf FROM e WHERE vec_id < 8),
d AS (
  SELECT e.vec_id, c.cl, sum((e.ef - c.cf) * (e.ef - c.cf)) AS dist
  FROM e JOIN c USING (dim) GROUP BY 1, 2),
a AS (
  SELECT vec_id, cl FROM (
    SELECT vec_id, cl,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
    FROM d) WHERE rk = 1),
m AS (
  SELECT a.cl AS cluster, e.dim, count(*) AS n, sum(e.ef) AS s
  FROM e JOIN a USING (vec_id) GROUP BY 1, 2)
SELECT cluster, dim, CAST(n AS BIGINT) AS n,
       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6) AS mu
FROM m
"""


def embedding_ann_recall(spark, sf_dir, k: int = 10):
    """Recall@k of the IVF index against the exact brute-force ground
    truth — the quality gate every ANN deployment runs before swapping
    an index into the retrieval path ("did nprobe=4 lose neighbors?").
    Pure composition: `ann_cosine_topk` (exact) left-joins
    `ann_ivf_topk` (approx) on (query, neighbor); recall = hits/k per
    query. Scale shape inherits the two operands' (each one streamed
    kernel scan + a tiny top-k window); the join itself is k·|queries|
    rows. The DuckDB twin nests both existing oracle replays as derived
    tables, so the recall numbers — not just the operand top-ks — are
    hash-checked cross-engine."""
    ex = ann_cosine_topk(spark, sf_dir, k).select("query_id", "neighbor_id")
    ap = ann_ivf_topk(spark, sf_dir, k).select(
        F.col("query_id").alias("qa"), F.col("neighbor_id").alias("na")
    )
    j = ex.join(
        ap,
        (ex.query_id == F.col("qa")) & (ex.neighbor_id == F.col("na")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count(F.col("na")).alias("n_hits"),
        F.round(F.count(F.col("na")).cast("double") / float(k), 4).alias("recall"),
    )


def _ann_recall_oracle(k: int = 10) -> str:
    """Oracle generated from the same k the operator uses (divisor
    f-stringed, like _markov_stationary_oracle's loop count) so a
    non-default k cannot silently break Spark/oracle parity. Note the
    operand replays (`ANN_TOPK_ORACLE`/`ANN_IVF_ORACLE`) are the
    default-k ones; recall at k != 10 would need them re-generated too,
    so we derive everything from one place."""
    return f"""
WITH exact AS (SELECT * FROM ({ANN_TOPK_ORACLE})),
     approx AS (SELECT * FROM ({ANN_IVF_ORACLE}))
SELECT exact.query_id,
       count(approx.neighbor_id) AS n_hits,
       round(CAST(count(approx.neighbor_id) AS DOUBLE) / {float(k)}, 4) AS recall
FROM exact LEFT JOIN approx
  ON exact.query_id = approx.query_id
 AND exact.neighbor_id = approx.neighbor_id
GROUP BY exact.query_id
"""


ANN_RECALL_ORACLE = _ann_recall_oracle()


SPECS: list[QuerySpec] = [
    QuerySpec("embedding_quantize_int8", embedding_quantize_int8_check, QUANTIZE_ORACLE),
    QuerySpec("embedding_kmeans_step", embedding_kmeans_step, KMEANS_STEP_ORACLE),
    QuerySpec(
        "embedding_pca_power_iteration",
        embedding_pca_power_iteration,
        _pca_oracle_sql(),
    ),
    QuerySpec("ann_cosine_topk", ann_cosine_topk, ANN_TOPK_ORACLE),
    QuerySpec("embedding_neardup_pairs", embedding_neardup_pairs, NEARDUP_PAIRS_ORACLE),
    QuerySpec("ann_lsh_bucketed", ann_lsh_bucketed, ANN_LSH_ORACLE),
    QuerySpec("ann_ivf_topk", ann_ivf_topk, ANN_IVF_ORACLE),
    QuerySpec("embedding_semdedup", embedding_semdedup, SEMDEDUP_ORACLE),
    QuerySpec("embedding_ann_recall", embedding_ann_recall, ANN_RECALL_ORACLE),
]
