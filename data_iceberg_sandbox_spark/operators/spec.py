"""Query registry plumbing.

Each implemented operator from SURVEY.md §2 registers a ``QuerySpec``:
a named (spark, sf_dir) → DataFrame callable plus (when SQL-expressible)
the equivalent ANSI-SQL oracle string for DuckDB. ``__spark_entry__``
assembles ``queries()`` / ``oracle_sql()`` from these.

``queries()`` maps each name to its builder, so every call builds a
fresh plan. Plan-level reuse goes through Spark's CacheManager only: a
builder that caches an intermediate registers it again on each build,
and plan-identical builds share one cache entry.

Oracle-determinism conventions used across all specs:
- session timezone pinned UTC (session.py) so timestamps align;
- monetary/float aggregates computed over DECIMAL casts (exact, order-
  independent) and emitted as DOUBLE via one final cast — bit-identical
  across engines;
- averages emitted as ``CAST(exact_decimal_sum AS DOUBLE) / count`` (one
  IEEE division — deterministic), never the engine's float avg;
- LIMIT only behind a total ORDER BY with a unique tie-break key;
- every computed column aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check
    doc: str = ""


def as_query_dicts(
    specs: list[QuerySpec],
) -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]]:
    names = [s.name for s in specs]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        # A plain-dict merge would silently drop all but the last spec for a
        # name (this bit round 8: two tpch_q4_order_priority variants, one
        # dead and never checked). Fail loudly instead.
        raise ValueError(f"duplicate query names in spec registry: {sorted(dupes)}")
    queries = {s.name: s.fn for s in specs}
    oracles = {s.name: s.oracle for s in specs if s.oracle is not None}
    return queries, oracles
