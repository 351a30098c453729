"""Testdata source registry (SURVEY §2.1 S1).

The driver materializes a TPC-H-ish star schema plus ``events`` /
``documents`` / ``embeddings`` as one parquet file per table
(TESTDATA.md). This module is the engine's scan layer for them:
``spark.read.parquet`` — columnar, with Catalyst predicate pushdown and
column pruning intact (the reference delegates the same to its engines'
Iceberg readers, e.g. /root/reference/infra/README.md:106).

Scale note: a single ``read.parquet(path)`` over a directory of many
files is the 100 TB shape too; no per-file driver loops here.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import _cpus

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The driver's parquet stamps timestamps as INT64 TIMESTAMP(NANOS), which
# Spark's vectorized reader rejects. We read nanos as longs (session conf,
# works on any caller-provided SparkSession too) and convert to micros
# timestamps in the scan layer — floor(n/1000), matching DuckDB's own
# nanos→micros truncation, so oracle comparisons agree.
_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# Memoized per (session, dir, table): re-resolving the same static
# parquet table costs a footer/schema read (a Spark job) plus the
# conversion-projection build in py4j round trips (~50-150 ms) — measured
# at roughly HALF of total suite latency when every query re-loads its
# inputs. DataFrames are immutable, so handing back the same object is
# safe; the weak-keyed outer map scopes entries to a live SparkSession
# object (dies with it, no id-reuse aliasing). Per session it holds two
# maps keyed (abs sf_dir, table): the converted disk scans, and the
# pin_table OVERLAYS that load_table serves in their place. Consumers
# that fingerprint the disk file for caching
# (streaming.stage_event_files) must not trust that fingerprint when the
# frame served is an overlay (r13 review: a re-pin with an unchanged
# disk file matched the stale staging signature) — see is_pinned.
import weakref

_LT_CACHE: "weakref.WeakKeyDictionary[SparkSession, tuple[dict, dict]]" = (
    weakref.WeakKeyDictionary()
)


def evict_stopped_sessions(memo) -> None:
    """Drop memo entries whose SparkSession was stopped. In the
    weak-keyed ``_LT_CACHE`` the DataFrame VALUES strongly reference
    their session KEY, so weakref alone never collects an entry (the
    classic value→key cycle, r12 review) — a long-lived process that
    restarts sessions would leak every dead session's cached plans.
    SparkContext.stop() sets
    _jsc to None, which is the liveness probe. Evict ONLY on that
    positive stopped signal (r13 ADVICE): Spark Connect sessions raise
    on .sparkContext, and treating the probe exception as "dead" would
    evict the live Connect session's entries — including pin_table
    pins, silently falling back to sf_dir parquet. An entry whose
    liveness cannot be determined is kept — a dead Connect session's
    entry can then outlive it, but a wrongly-evicted live pin returns
    wrong DATA, and classic sessions (every local/cluster harness path)
    still get the leak fix."""
    dead = []
    for k in list(memo.keys()):
        try:
            if getattr(k.sparkContext, "_jsc", None) is None:
                dead.append(k)
        except Exception:
            pass  # liveness unknowable (e.g. Connect) — keep the entry
    for k in dead:
        memo.pop(k, None)


def _scan_conf(spark: SparkSession) -> None:
    # Set UTC + nanosAsLong on EVERY load (cache hits included): session
    # conf is read at action time, so a caller flipping the timezone
    # after the first load would otherwise shift every event-time window
    # — the conf is the invariant, the memo only skips plan re-building.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _memo(spark: SparkSession) -> tuple[dict, dict]:
    """This session's (scans, overlays) maps."""
    evict_stopped_sessions(_LT_CACHE)
    return _LT_CACHE.setdefault(spark, ({}, {}))


def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The on-disk parquet scan of ``name``, its timestamp columns
    converted to plain TIMESTAMP, memoized per session. ``load_table``
    serves it unless the table is pinned; ``pin_balanced`` re-slices
    it."""
    scans, _ = _memo(spark)
    key = (os.path.abspath(sf_dir), name)
    if key in scans:
        return scans[key]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _TS_COLS.get(name, ()):
        dt = df.schema[c].dataType
        if isinstance(dt, T.LongType):
            # legacy driver stamp: INT64 TIMESTAMP(NANOS) read as long.
            # FLOOR division in integer arithmetic (float division would
            # lose sub-µs exactness; bare `div` truncates toward zero,
            # which disagrees with floor for pre-epoch nanos — r12
            # review): subtract the positive remainder first, then the
            # division is exact.
            df = df.withColumn(
                c,
                F.timestamp_micros(
                    F.expr(
                        f"(`{c}` - ((`{c}` % 1000) + 1000) % 1000) div 1000"
                    )
                ),
            )
        elif isinstance(dt, T.TimestampNTZType):
            # current driver stamp: Timestamp(isAdjustedToUTC=false, micros)
            # arrives as TIMESTAMP_NTZ. The engine's event-time contract is
            # plain TIMESTAMP (watermarks and epoch casts require it); with
            # the session tz set to UTC (_scan_conf), this cast relabels the
            # same wall-clock as the same instant — DuckDB reads the identical
            # naive value, so every oracle hash is unchanged.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    scans[key] = df
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _scan_conf(spark)
    _, pins = _memo(spark)
    key = (os.path.abspath(sf_dir), name)
    return pins[key] if key in pins else _scan(spark, sf_dir, name)


def pin_table(
    spark: SparkSession, sf_dir: str, name: str, df: DataFrame
) -> DataFrame:
    """Overlay the scan of ``name`` with a caller-prepared frame
    (typically a re-sliced, cached scan — ``pin_balanced``): every
    later ``load_table`` call returns that exact object, so downstream
    plans reference the cached, re-balanced relation directly.

    This is the resident-engine buffer-pool hook the bench uses. It
    matters because the testdata parquet is ONE row group per table —
    byte-range splits collapse onto a single task, so a cache built
    straight off the scan is 100%-skewed (all of lineitem in one
    partition; measured 2.4× slower per aggregation than a balanced
    pin). At cluster scale the analog is caching hot tables with sane
    partitioning instead of inheriting a pathological file layout."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _, pins = _memo(spark)
    key = (os.path.abspath(sf_dir), name)
    old = pins.get(key)
    if old is not None and old is not df:
        try:
            # a re-pin must release the previous pinned cache — the old
            # relation becomes unreachable through the registry and its
            # executor memory would leak per re-pin (r12 review);
            # unpersist on an uncached frame is a no-op. A re-pin of the
            # same plan shares its cache entry: unpersisting the old
            # frame would drop the new pin.
            if not old.sameSemantics(df):
                old.unpersist()
        except Exception:  # noqa: BLE001 — releasing is best-effort
            pass
    pins[key] = df
    return df


def is_pinned(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """True if load_table(spark, sf_dir, name) would return a
    pin_table overlay rather than the on-disk parquet scan."""
    return (os.path.abspath(sf_dir), name) in _memo(spark)[1]


# Canonical hash-partitioning key per fact table — the storage analog
# is BUCKETING: cache hot facts clustered by their primary join/agg key
# so orderkey joins (lineitem⋈orders), per-order aggregates (q18,
# backlog), and per-user windows (sessionize, rolling z-score, funnel)
# start from a satisfying HashPartitioning and need NO exchange. Every
# key is high-cardinality (weakest: events.user_id, 1.5k at sf0.1 —
# ~90 users in each of the 16 slices its 2 MB get), so hash layout is
# as balanced as round-robin was.
PIN_KEYS: dict[str, str] = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# Tables that must share ONE partition count so their equi-join keys
# co-partition (zero-exchange sort-merge): lineitem⋈orders on orderkey.
_CO_PARTITION = ("lineitem", "orders")

# On-disk parquet bytes per pinned slice — the pin's analog of Spark's
# spark.sql.files.maxPartitionBytes and Iceberg's read.split.target-size.
# Bytes, not rows: 5,000 wide documents rows are 0.6 MB, 25 nation rows
# 3 KB. At 128 KiB the tables the headline SQL queries read (customer,
# supplier, orders, lineitem, events, nation, region) keep the slice
# counts of the old 5,000-row rule at 4-16 cores, and sf0.1 documents
# gets min(cpus, 5) slices instead of 1 (docs/BENCH_NOTES.md "Pin rule").
PIN_SLICE_BYTES = 128 * 1024


def _disk_bytes(path: str) -> int:
    """Bytes of a parquet file, or of every file under a parquet
    directory — a driver-side stat, no Spark job."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    walk = os.walk(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in walk for f in fs)


def pin_balanced(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """Cache every registry table with a balanced, KEYED layout and pin it.

    Parquet row groups bound scan parallelism: the driver testdata is
    ONE row group per table (sf10 documents has five, embeddings two),
    so a cache built straight off the scan leaves whole tables in a
    handful of partitions and every downstream query runs ≤5-way on a
    32-core box — the dominant term of the round-9 sf10 tail. The pin
    fixes the layout once: a table of ``b`` on-disk bytes gets
    ``clamp(ceil(b / PIN_SLICE_BYTES), 1, cpus)`` slices (lineitem and
    orders share the larger count, so their join co-partitions),
    hash-clustered by its canonical key (PIN_KEYS — the bucketed-table
    shape) so orderkey/user_id shuffles vanish from the hot queries.
    Tiny dims stay single-partition so broadcast builds don't pay a
    shuffle. Each pin re-slices the disk scan, never a previous pin.
    Returns the pinned frames (hold them to keep the caches alive)."""
    cpus = _cpus()
    _scan_conf(spark)
    slices: dict[str, int] = {}
    for t in TABLES:
        try:
            b = _disk_bytes(os.path.join(sf_dir, f"{t}.parquet"))
        except OSError as e:
            # silent swallowing hid a mistyped sf_dir as an empty pin
            # and benchmarks ran on the skewed raw layout (r12 review)
            print(f"pin_balanced: cannot load {t}: {type(e).__name__}: {e}")
            continue
        slices[t] = max(1, min(cpus, math.ceil(b / PIN_SLICE_BYTES)))
    co_k = max((slices[t] for t in _CO_PARTITION if t in slices), default=1)
    pinned: list[DataFrame] = []
    for t, k in slices.items():
        # Per-table isolation (ADVICE r10): one table failing to
        # materialize must degrade to "that table stays unpinned", not
        # abort the whole pin — queries over the healthy tables still get
        # their balanced caches.
        try:
            k = co_k if t in _CO_PARTITION else k
            key = PIN_KEYS.get(t)
            raw = _scan(spark, sf_dir, t)
            part = (
                raw.repartition(k, F.col(key)) if key and k > 1 else raw.repartition(k)
            )
            df = part.cache()
            df.count()
        except Exception as e:  # noqa: BLE001 — skip, keep pinning the rest
            print(f"pin_balanced: skipping {t}: {type(e).__name__}: {e}")
            continue
        pinned.append(pin_table(spark, sf_dir, t, df))
    return pinned


def reset_caches(spark: SparkSession, sf_dir: str) -> None:
    """The between-run reset: if the session holds any persistent RDD
    beyond the base-table pin (one per pinned table), clear the
    CacheManager, drop every block and re-pin (if this session pinned),
    so the next fresh build registers its caches and eager checkpoints
    again. It clears everything because CachedRDDBuilder keeps a
    query's buffer RDD: after an external unpersist of just that RDD
    the cache entry stays at StorageLevel NONE and every later consumer
    recomputes it (the no-cache plan)."""
    persistent_rdds = spark.sparkContext._jsc.getPersistentRDDs
    pinned = sum(is_pinned(spark, sf_dir, t) for t in TABLES)
    if persistent_rdds().size() <= pinned:
        return
    spark.catalog.clearCache()
    jmap = persistent_rdds()
    for rid in list(jmap.keySet().toArray()):
        try:
            jmap.get(rid).unpersist(True)
        except Exception:  # noqa: BLE001 — best-effort block drop
            pass
    if pinned:
        pin_balanced(spark, sf_dir)


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` (the
    interactive-SQL surface, reference §3.3) sees the same names DuckDB
    pre-registers for the oracle."""
    dfs = {n: load_table(spark, sf_dir, n) for n in names}
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs
