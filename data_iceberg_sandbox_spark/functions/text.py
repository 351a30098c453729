"""Text column expressions (all JVM-side built-ins — no Python UDFs in
the hot path; SNIPPETS.md public pandas_udf patterns are reserved for the
genuinely non-expressible ops in operators/). Word shingles have one
definition, ``operators.dedup._shingle_arr_sql``, over ``words(text)``."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def words(text: Column) -> Column:
    """Whitespace tokenization.

    Data contract: the DuckDB oracles across the dedup/text family
    tokenize with string_split(text, ' '), so equivalence relies on
    single-space-separated text (true of the generated corpus — no
    tabs/newlines/runs of spaces). Text with consecutive whitespace
    would produce an empty-string token here ( \\s+ collapses; ' '
    does not ) and diverge; normalize with regexp_replace(text,
    '\\\\s+', ' ') upstream before trusting cross-engine hashes."""
    return F.split(text, r"\s+")


def normalized(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum,
    collapse whitespace.

    The strip pattern is written as a class INTERSECTION
    (``[[^a-z0-9]&&[^ ]]``, semantically identical to ``[^a-z0-9 ]``)
    because Java 17's Pattern hits a ~50× slow path for a single
    negated class mixing two ranges with a literal char — measured at
    sf10: 17.1 s vs 0.26 s for the same 170 MB corpus scan, probe-
    verified char-for-char equivalent. DuckDB's RE2-based oracle keeps
    the plain ``[^a-z0-9 ]`` spelling; both denote the same char set."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[[^a-z0-9]&&[^ ]]", "")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def pattern_count(text: Column, pattern: str) -> Column:
    """Number of regex matches (dialect-portable: same as DuckDB's
    len(regexp_extract_all(...)))."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def md5_long_pair(
    spark_expr: str, duck_expr: str | None = None, hex_chars: int = 15
) -> tuple[str, str]:
    """(Spark SQL, DuckDB SQL) fragments for the engine-portable
    md5-derived integer hash: the first ``hex_chars`` hex digits of
    md5(expr) parsed base-16 (60 bits at the default — safely inside
    BIGINT). ONE definition (r13 review: the pair was hand-restated at
    five call sites, each with its oracle twin — a one-sided edit
    silently breaks oracle equivalence). Spark parses via conv(); DuckDB
    via the '0x' literal cast — identical value, md5 being identical in
    both engines."""
    duck_expr = duck_expr if duck_expr is not None else spark_expr
    return (
        f"CAST(conv(substring(md5({spark_expr}), 1, {hex_chars}), 16, 10) AS BIGINT)",
        f"CAST('0x' || substring(md5({duck_expr}), 1, {hex_chars}) AS BIGINT)",
    )


def codepoint_str(cp: Column) -> Column:
    """Single codepoint (as produced by ``F.ascii``) → its one-character
    string, correct for the FULL Unicode range. Spark's ``char``/``chr``
    masks its argument to 8 bits (``(n & 0xFF).toChar`` — '€'→'¬', the
    r14 packed-key decode bug caught by tests/test_opt_r14.py), so the
    decode goes through the JVM's ``Character.toString(int)`` via the
    built-in ``reflect`` expression instead. reflect is a per-row
    reflective call — fine on the tiny post-aggregation frames the
    packed-key decoders run on (≤ tens of rows), wrong for a fact-sized
    column (use it only after aggregation)."""
    return F.when(
        cp.isNotNull(),
        F.call_function(
            "reflect",
            F.lit("java.lang.Character"),
            F.lit("toString"),
            cp.cast("int"),
        ),
    )
