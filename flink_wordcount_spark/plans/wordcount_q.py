"""Word-count query family — the reference's core capability, batch form.

Reference: tokenize on ``\\W+`` dropping empties (StatefulWordCount.java:118-121),
per-word running sum (StatefulWordCount.java:160-179). Batch equivalent over the
``documents`` fixture; the streaming form lives in ``streaming_q`` / ``streaming/``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from ..operators.text import TOKS_SQL, token_count_expr, top_k_words, word_counts
from .catalog import query

#: Canonical DuckDB twin of operators.text.tokenize over `documents` —
#: imported by streaming_q so batch and streaming word counts can never be
#: checked against drifted oracles.
_TOKENS_SQL = (
    "SELECT word FROM (SELECT regexp_split_to_table(text, '\\W+') AS word "
    "FROM documents) WHERE length(word) > 0"
)

#: Full word-count oracle (shared with the streaming twins).
WC_ORACLE = f"SELECT word, count(*) AS cnt FROM ({_TOKENS_SQL}) GROUP BY word"


@query(
    "wordcount_top100",
    oracle=f"""
    SELECT word, count(*) AS cnt
    FROM ({_TOKENS_SQL})
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 100
    """,
)
def wordcount_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: scan -> project -> explode/filter -> hash agg -> top-k."""
    return top_k_words(table(spark, sf_dir, "documents"), k=100)


@query(
    "wordcount_stats",
    oracle=f"""
    SELECT count(*) AS total_tokens,
           count(DISTINCT word) AS distinct_words,
           min(word) AS first_word,
           max(word) AS last_word
    FROM ({_TOKENS_SQL})
    """,
)
def wordcount_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token statistics (single-row agg; map-side partials, tiny shuffle)."""
    docs = table(spark, sf_dir, "documents")
    toks = word_counts(docs)
    return toks.agg(
        F.sum("cnt").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_words"),
        F.min("word").alias("first_word"),
        F.max("word").alias("last_word"),
    )


@query(
    "wordcount_per_doc_topk",
    oracle=f"""
    SELECT doc_id, len({TOKS_SQL}) AS n_tokens
    FROM documents
    ORDER BY n_tokens DESC, doc_id
    LIMIT 50
    """,
)
def wordcount_per_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts without exploding (array size expression)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", token_count_expr("text").cast("bigint").alias("n_tokens"))
        .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
        .limit(50)
    )
