"""Shared tokenized-documents frame for the corpus/LM operator family.

Tokenizing the corpus — ``regexp_extract_all(lower(text), '[a-z]+')``
over every document — is the single dominant cost that
``lm_perplexity_score``, ``lm_bigram_perplexity`` and
``corpus_pmi_collocations`` each re-paid from scratch (VERDICT r9 #4:
10.4 s + 13.8 s at sf10, both mostly tokenization). ``token_frame``
returns a persisted (doc_id, source, arr) frame over the same
``load_table`` scan on every call, so every call builds the identical
plan and Spark's CacheManager serves all of them from ONE cache entry:
the regex pass runs once and later queries read the in-memory columnar
relation. After ``spark.catalog.clearCache()`` the next call registers
the entry again.

Scale note: persistence is MEMORY_AND_DISK — at 100 TB the frame
spills per-partition rather than failing, and the cluster analog is a
materialized tokenized view that an LM-corpus pipeline would maintain
anyway (every downstream signal consumes tokens, not raw text).

The token pattern must stay in lockstep with the DuckDB oracles
(retrieval._TOK == '[a-z]+' over lower(text) — identical in Spark/RE2
and DuckDB dialects); callers that tokenize differently must NOT use
this frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table


def token_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, arr) with arr = lowercase '[a-z]+' tokens."""
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("arr"),
        )
        .persist()
    )
