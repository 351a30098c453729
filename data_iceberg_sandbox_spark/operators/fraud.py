"""Flagship pipeline: fraud alerts + client enrichment, one view each.

Re-expresses the reference's streaming MV chain on the driver testdata:

- ``mv_fraud_alerts`` (/root/reference/etl/dbtrisingwave/models/finance/
  mv_fraud_alerts.sql:3-17): SUM(amount) per card per 1-minute tumble,
  HAVING sum > threshold  →  here: SUM(value) per ``user_id`` per
  1-minute tumble of ``ts`` over ``events`` (SURVEY §2 A1+A3+A4/W1).
- ``mv_fraud_alerts_client`` (mv_fraud_alerts_client.sql:3-17): two-hop
  LEFT OUTER JOIN enrichment (J1+J2)  →  here: alerts ⟕ customer
  (user_id = c_custkey) ⟕ nation (c_nationkey = n_nationkey).

Determinism/oracle convention: monetary sums are exact scale-4
fixed-point BIGINT (functions/money.py — same quantization as the
reference's decimal(28,4) amounts, transaction.avsc:10-18; the DuckDB
oracle keeps the ``DECIMAL(18,4)`` formulation) and the final column is
emitted as DOUBLE so Spark and DuckDB produce bit-identical values.

Each MV is defined once, as a frame-level view: ``window_alerts(events,
threshold)`` and ``enrich_alerts(alerts, customer, nation)``. The batch
specs apply them to ``load_table`` frames; the streaming runners
(streaming/fraud_stream.py) apply the same views to the event stream and
to each micro-batch, so a drained MV converges to the batch answer by
construction.

Scale notes (100 TB): the tumble+sum is a single hash aggregation,
map-side partial combine included, keyed on (user_id, window) — high
cardinality, no skew hot-spot. ``nation`` (25 rows at every SF) folds
into a literal map; ``customer`` joins post-aggregation, i.e. against
the *alert* rows (HAVING-filtered, orders of magnitude smaller than
events), so AQE picks broadcast vs shuffle join from runtime stats.
"""

from __future__ import annotations

from decimal import ROUND_FLOOR, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import fixed, unscale
from ..sources.registry import load_table
from .tpch import fold_nations

FRAUD_THRESHOLD = 100.0  # analog of the reference's `> 5000` at its amounts


def window_alerts(events: DataFrame, threshold: float = FRAUD_THRESHOLD) -> DataFrame:
    """The ``mv_fraud_alerts`` view over an events frame, batch or
    streaming: 1-minute tumble + SUM + HAVING (A1, A3, A4/W1).

    The sum is exact scale-4 fixed-point BIGINT (functions/money.py):
    bit-equal to the DECIMAL(18,4) formulation the oracle runs, on the
    codegen long fast path, and in a stream the state it keeps per
    (window, user) group. The threshold compares at the same scale-4
    quantization. Floor, not round: group sums land exactly on the 1e-4
    grid, so `sum > t` ⟺ `sum_4 > floor(t·10^4)`. Floor of the DECIMAL
    rendering, not of the float product: the oracle embeds
    str(threshold) as a decimal literal, and for grid-aligned
    thresholds whose float product lands just below the integer
    (0.0003 * 1e4 = 2.9999…) float-floor would include a group whose
    sum equals the threshold while the oracle's `> threshold` excludes
    it. Decimal(str(t)) quantizes on exactly the grid the oracle
    compares against. A stream bounds its state by composing
    ``.withWatermark("ts", …)`` on ``events``."""
    thr4 = int(
        (Decimal(str(threshold)) * 10_000).to_integral_value(
            rounding=ROUND_FLOOR
        )
    )
    return (
        events.groupBy(F.window("ts", "1 minute").alias("w"), "user_id")
        .agg(F.sum(fixed(F.col("value"), 4)).alias("_t4"))
        .filter(F.col("_t4") > F.lit(thr4))
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            unscale(F.col("_t4"), 4).alias("total_amount"),
        )
    )


def enrich_alerts(alerts: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """The ``mv_fraud_alerts_client`` enrichment (J1, J2, P1): alerts ⟕
    customer, projected to the enriched sink schema.

    The second hop (nation, reference-fixed 25 rows at every SF) folds
    into a literal lookup map (``tpch.fold_nations``): ``element_at``
    returns NULL for a missing or NULL key, which is exactly the LEFT
    JOIN semantics for a unique-key dim — one collect at plan build in
    place of a broadcast-build job, bit-exact vs the join-form oracle.
    Applied to a micro-batch, the fold re-reads ``nation`` per batch,
    so dim changes reach future batches as a stream-static join's do."""
    _, _, nmap = fold_nations(nation)
    return (
        alerts.join(customer, alerts.user_id == customer.c_custkey, "left")
        .select(
            F.col("c_custkey").alias("client_id"),
            F.col("c_name").alias("client_name"),
            F.element_at(nmap, F.col("c_nationkey")).alias("client_nation"),
            "user_id",
            "window_start",
            "window_end",
            "total_amount",
        )
    )


def fraud_alerts(
    spark: SparkSession, sf_dir: str, threshold: float = FRAUD_THRESHOLD
) -> DataFrame:
    """``window_alerts`` over the ``events`` table."""
    return window_alerts(load_table(spark, sf_dir, "events"), threshold)


def fraud_alerts_enriched(
    spark: SparkSession, sf_dir: str, threshold: float = FRAUD_THRESHOLD
) -> DataFrame:
    """``enrich_alerts`` over the batch alerts and the dim tables."""
    return enrich_alerts(
        fraud_alerts(spark, sf_dir, threshold),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


FRAUD_ALERTS_SQL = """
SELECT user_id,
       date_trunc('minute', ts) AS window_start,
       date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_amount
FROM events
GROUP BY 1, 2, 3
HAVING sum(CAST(value AS DECIMAL(18,4))) > {threshold}
"""

FRAUD_ENRICHED_SQL = """
WITH alerts AS ({alerts})
SELECT c.c_custkey  AS client_id,
       c.c_name     AS client_name,
       n.n_name     AS client_nation,
       a.user_id, a.window_start, a.window_end, a.total_amount
FROM alerts a
LEFT JOIN customer c ON a.user_id = c.c_custkey
LEFT JOIN nation   n ON c.c_nationkey = n.n_nationkey
"""


def fraud_enriched_oracle_sql(threshold: float = FRAUD_THRESHOLD) -> str:
    return FRAUD_ENRICHED_SQL.format(alerts=FRAUD_ALERTS_SQL.format(threshold=threshold))


def fraud_alerts_oracle_sql(threshold: float = FRAUD_THRESHOLD) -> str:
    return FRAUD_ALERTS_SQL.format(threshold=threshold)
