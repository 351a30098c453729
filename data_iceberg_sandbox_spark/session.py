"""SparkSession factory.

Re-expresses the reference's session builder
(/root/reference/etl/src/apps/utils/spark_utils.py:12-42: local master from
env, Iceberg REST catalog + S3FileIO + OAuth2, Iceberg SQL extensions,
defaultCatalog) as a self-contained local factory:

- master from ``SPARK_GRAFT_CPUS`` (default ``local[*]``),
- AQE + Arrow on, UTC session timezone (oracle comparability),
- shuffle partitions sized to cores (local mode), not the 200 default,
- a generated-class cache (``CODEGEN_CACHE_ENTRIES``) that holds the
  engine's whole codegen working set, so a fresh plan build or
  micro-batch reuses compiled classes instead of recompiling them;
  ``codegen_compiles`` reads the JVM's compile count,
- Iceberg catalog config applied ONLY if an iceberg-spark-runtime jar is
  actually present (not in this image); otherwise the engine's own
  snapshot-versioned table layer (``tables.laketable``) provides the
  lakehouse lifecycle over plain parquet.

Scale note: every config here is also correct on a real cluster — AQE
handles skew/coalesce at runtime, and shuffle partitions are overridable
per-session. Nothing below assumes single-node except the master default.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession

_DEF_APP = "data_iceberg_sandbox_spark"

# spark.sql.codegen.cache.maxEntries: Spark's default of 100 (split over
# LRU segments) is smaller than the classes one rotation of the engine's
# queries generates, so every interleaved pass evicted and recompiled
# them (Janino compile plus a JIT re-warm of each new class). Measured
# working sets: ~210 classes for the 11 olap_sql queries, ~2,850 for the
# 224-spec sf0.01 surface, ~30 for the stream_mv drain.
CODEGEN_CACHE_ENTRIES = 4096


def _shm_local_dir() -> str | None:
    """tmpfs scratch for local-mode shuffle files, or None when absent.
    Overridable (or disabled with an empty value) via SPARK_GRAFT_LOCAL_DIR."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override is not None:
        return override or None
    d = "/dev/shm/spark-local"
    try:
        os.makedirs(d, exist_ok=True)
        return d if os.access(d, os.W_OK) else None
    except OSError:
        return None


def _cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` as a core count. Fails closed: unset, empty,
    malformed or non-positive values fall back to ``os.cpu_count()``."""
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        n = 0
    return n if n >= 1 else (os.cpu_count() or 4)


def iceberg_runtime_jar() -> str | None:
    """Path to an iceberg-spark-runtime jar if one is on the pyspark
    classpath, else None. The v1 image ships none; the engine then serves
    table lifecycle through ``tables.laketable``."""
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        hits = glob.glob(os.path.join(jars, "iceberg-spark-runtime*.jar"))
        return hits[0] if hits else None
    except Exception:
        return None


def build_session_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
    jar: str | None = None,
) -> dict[str, str]:
    """The engine session conf as a pure dict (split from
    get_spark_session r13 so the iceberg-jar branch is testable:
    getOrCreate on a live session silently ignores new confs, so the
    branch could never be asserted through a built session; see
    tests/test_session.py). ``jar`` is the detected
    iceberg-spark-runtime jar path (None → laketable serves the
    lifecycle)."""
    cpus = _cpus()
    # resolved lazily per call (r12 review: the old import-time constant
    # mkdir'd /dev/shm on mere import and ignored later
    # SPARK_GRAFT_LOCAL_DIR changes)
    shm = _shm_local_dir()
    conf: dict[str, str] = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.default.parallelism": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "snappy",
        # static conf: only a new session picks it up
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # local mode: driver memory is the only pool; leave headroom
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "spark.ui.enabled": "false",
        # local-mode shuffle/spill files on tmpfs when available: every
        # stage boundary writes+reads map outputs through spark.local.dir,
        # and /tmp on this image is spinning-rust-backed (measured ~45 ms
        # off a 3-stage join suite query, ~6 ms off a 2-stage agg). On a
        # real cluster the cluster manager sets local dirs (typically
        # instance NVMe) and this default is ignored.
        **(
            {"spark.local.dir": shm}
            if shm
            and (master or os.environ.get("SPARK_GRAFT_MASTER", "local")).startswith(
                "local"
            )
            else {}
        ),
        # NOTE: keep autoBroadcastJoinThreshold at Spark's 10 MB default —
        # measured: raising it to 64 MB made q3/q5 broadcast a fact-sized
        # table and cost 4-6× on the bench suite.
    }
    if jar:
        wh = warehouse_dir or os.path.join(os.getcwd(), "spark-warehouse", "iceberg")
        conf.update(
            {
                "spark.sql.extensions": (
                    "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
                ),
                "spark.sql.catalog.lake": "org.apache.iceberg.spark.SparkCatalog",
                "spark.sql.catalog.lake.type": "hadoop",
                "spark.sql.catalog.lake.warehouse": wh,
            }
        )
    if extra_conf:
        conf.update(extra_conf)
    return conf


def resolve_master(master: str | None = None) -> str:
    """The master string a session built now would use: explicit arg, then
    $SPARK_GRAFT_MASTER, then ``local[$SPARK_GRAFT_CPUS]``. Split out of
    get_spark_session (r15, VERDICT #1) so the CPU-scaling contract is a
    pure function the test suite can assert without building a session
    (getOrCreate on a live session silently ignores a new master, so the
    contract was previously unverifiable — the driver's 8-core run flagged
    `suspect_cpus_ignored` with no way to check). bench.py additionally
    publishes the RUNTIME truth (``sc.master``/``defaultParallelism``) in
    its payload."""
    return master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{_cpus()}]")


def codegen_compiles(spark: SparkSession) -> int:
    """The JVM's whole-stage/expression codegen compile count so far
    (``CodegenMetrics``; cache hits do not count). Process-wide: take
    the difference of two reads."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark_session(
    app_name: str = _DEF_APP,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine SparkSession.

    Mirrors the reference entry shape (spark_utils.py:37-42) — conf dict →
    builder → getOrCreate — with cluster-safe defaults.
    """
    conf = build_session_conf(
        master=master,
        shuffle_partitions=shuffle_partitions,
        warehouse_dir=warehouse_dir,
        extra_conf=extra_conf,
        jar=iceberg_runtime_jar(),
    )
    builder = SparkSession.builder.appName(app_name).master(
        resolve_master(master)
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
