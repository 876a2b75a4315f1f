"""Text-analysis query surface over ``documents`` (all oracle-checked).

The oracle SQL is generated from the same STOPWORDS/BPE constants the Spark
operators use, so the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..hints import maybe_broadcast, spread
from ..io import table
from ..operators.textstats import (
    BPE_REGEX,
    FNV_MOD,
    STOPWORDS,
    fingerprint,
    lang_predict,
    lang_scores,
    quality_features,
    quality_score_sql,
    token_counts,
    tokens_arr,
    word_trigrams_from,
)
from .catalog import query

from ..operators.text import TOKS_SQL as _TOKS  # shared tokenizer SQL
from ..operators.text import TRIGRAMS_SQL as _TRIGRAMS
from ..operators.dedup import shingles


def _score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"CAST(len(list_filter({_TOKS}, w -> list_contains([{words}], lower(w)))) "
        f"AS INTEGER)"
    )


def _langid_oracle() -> str:
    langs = sorted(STOPWORDS)
    scores = ",\n           ".join(f"{_score_sql(lg)} AS score_{lg}" for lg in langs)
    best = f"greatest({', '.join('score_' + lg for lg in langs)})"
    case = " ".join(f"WHEN score_{lg} = {best} THEN '{lg}'" for lg in langs)
    return f"""
    WITH scored AS (SELECT doc_id, lang AS lang_actual, {scores} FROM documents)
    SELECT doc_id, lang_actual, {', '.join('score_' + lg for lg in langs)},
           CASE {case} END AS lang_pred
    FROM scored
    """


@query("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-frequency language ID with deterministic alphabetical
    tie-break (argmax over per-language hit counts)."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", F.col("lang").alias("lang_actual"), *lang_scores("text")
    )
    return scored.withColumn("lang_pred", lang_predict())


@query(
    "text_quality",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               length(text) AS n_chars_m,
               len({_TOKS}) AS n_toks,
               len(list_filter({_TOKS},
                   w -> list_contains([{', '.join(repr(w) for w in STOPWORDS['en'])}], lower(w)))) AS n_stop,
               length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
               length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct,
               list_sum(list_transform({_TOKS}, w -> length(w))) AS tok_chars
        FROM documents
    )
    SELECT doc_id,
           CAST(n_chars_m AS BIGINT) AS n_chars_m,
           CAST(n_toks AS BIGINT) AS n_tokens,
           coalesce(tok_chars, CASE WHEN n_toks = 0 THEN 0 END)
               / greatest(n_toks, 1) AS mean_tok_len,
           n_stop / greatest(n_toks, 1) AS stop_ratio,
           n_digits / greatest(n_chars_m, 1) AS digit_ratio,
           n_punct / greatest(n_chars_m, 1) AS punct_ratio,
           {quality_score_sql()} AS quality_score
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features + composite score (filtering surface for
    training-data curation).  The oracle's mean_tok_len coalesces a
    zero-token doc's NULL list_sum to 0 — Spark's aggregate starts from the
    0 initial value, so an empty/all-punct doc means 0.0 on both sides
    while NULL text stays NULL (NULL-vintage sweep, r08)."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", *quality_features("text"))


@query(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, ' +'), w -> length(w) > 0)) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_REGEX}')) AS BIGINT) AS bpe_tokens
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts (cost estimation surface)."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", *token_counts("text"))


@query(
    "text_bigrams_top",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bg AS (
        SELECT t[i] || ' ' || t[i+1] AS bigram
        FROM toks, unnest(range(1, len(t))) AS u(i)
    )
    SELECT bigram, count(*) AS cnt
    FROM bg GROUP BY bigram
    ORDER BY cnt DESC, bigram LIMIT 50
    """,
)
def text_bigrams_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 word bigrams across the corpus (n-gram language statistics)."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_arr("text")
    bigrams = F.expr(
        "CASE WHEN size(__t) >= 2 THEN "
        "transform(sequence(1, size(__t) - 1), i -> concat(__t[i-1], ' ', __t[i])) "
        "ELSE array() END"
    )
    return (
        d.select(toks.alias("__t"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(50)
    )


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS word FROM documents
    ), tf AS (
        SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2
    ), df AS (
        SELECT word, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word,
               round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
        FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tfidf FROM (
        SELECT doc_id, word, tfidf,
               row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 characteristic terms per document. Two aggregations
    (term frequency per doc, document frequency per term — the df side is
    broadcast back) + a window top-k; the classic text-features pipeline."""
    d = table(spark, sf_dir, "documents")
    # NOT spread(): both consumers aggregate by (doc_id, word)/word right
    # after the explode — the heavy work already runs post-exchange, and the
    # r15 interleaved A/B measured the extra text shuffle as a loss
    # (text_tfidf_top_terms +0.17 s)
    toks = (
        d.select("doc_id", F.explode(tokens_arr("text")).alias("word"))
    )
    # Persisted: both the score probe and the df rollup read tf, and
    # Catalyst does not reuse the exchange across the branches — unpersisted
    # the corpus token stream exploded twice (r08 review).  At 100 TB
    # caching a (doc, word) frame is the wrong trade (re-read the
    # column-pruned parquet instead); at bench scale the cache wins —
    # the qa_equi_depth_histogram argument.
    tf = (
        toks.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    # df derives from tf: exactly one tf row per (doc, word), so a plain
    # count per word IS the distinct-doc count — no second corpus explode
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a 1-row broadcast-joined aggregate, not a driver-side
    # d.count() — keeps the whole query one job / one documents scan at scale
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(maybe_broadcast(df_), "word")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3).drop("rn")
    )


@query(
    "sample_train_test_split",
    oracle="""
    SELECT CASE WHEN CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) % 100 < 80
                THEN 'train' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/test split (80/20 on md5(text)) — the
    content-keyed splitting a training pipeline needs: stable across runs,
    engines, and partitionings (unlike rand()-based sampling), and identical
    docs always land in the same split (no train/test leakage)."""
    d = table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("int") % 100
    return (
        d.select(
            F.when(bucket < 80, "train").otherwise("test").alias("split"),
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN text IS NOT NULL THEN list_reduce(
               list_prepend(0::BIGINT,
                   list_transform({_TOKS},
                                  w -> (ascii(w) * 7 + length(w))::BIGINT)),
               (h, x) -> (h * 31 + x) % {FNV_MOD}) END AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial document fingerprint (order-sensitive, exact in
    both engines via bigint modular arithmetic).  NULL text is NULL fp on
    both sides — without the CASE, DuckDB's list_prepend(0, NULL) is [0]
    (not NULL), silently fingerprinting NULL documents as 0 while Spark's
    aggregate over a NULL array stays NULL (NULL-vintage sweep, r08)."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fp"))


@query(
    "sample_domain_mixture",
    oracle="""
    SELECT source,
           (CAST(substring(source, 4) AS INTEGER) % 4 + 1) * 25 AS rate_pct,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) % 100
                         < (CAST(substring(source, 4) AS INTEGER) % 4 + 1) * 25
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) % 100
                         < (CAST(substring(source, 4) AS INTEGER) % 4 + 1) * 25
                    THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def sample_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture downsampling: each source gets a target keep-rate
    (training-data mixing, e.g. downweight web crawl vs books) and docs are
    kept by a content hash against that rate — deterministic, partition-
    independent, and leakage-free like ``sample_train_test_split`` (same
    md5-bucket trick), unlike rand()-based sampleBy. One scan; reports
    per-source kept counts/chars so the realized mixture is auditable.
    Rates here derive from the source id (25/50/75/100%) as the fixture's
    stand-in for a user-supplied mixture table (which would broadcast-join).
    """
    d = table(spark, sf_dir, "documents")
    rate = (F.substring("source", 4, 10).cast("int") % 4 + 1) * 25
    bucket = F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("int") % 100
    keep = bucket < F.col("rate_pct")
    return (
        d.withColumn("rate_pct", rate)
        .groupBy("source", "rate_pct")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).cast("bigint").alias("kept_chars"),
        )
    )


@query(
    "pack_sequences",
    oracle=f"""
    WITH sized AS (
        SELECT source, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT source, doc_id, n_tokens,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0)
                    AS BIGINT) AS pack_id
        FROM sized
    )
    SELECT source, pack_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY 1, 2
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk): docs are laid end-to-end in
    deterministic (source, doc_id) order and cut into 2048-token context
    windows; a doc's pack is floor(tokens_before_it / 2048). This is the
    standard LLM pretraining packing step. Packing runs WITHIN each source
    partition — the running sum's window partitions by source, so at 100 TB
    each shard packs independently in parallel instead of serializing one
    global cumulative sum through a single partition.
    """
    d = table(spark, sf_dir, "documents")
    sized = d.select(
        "source",
        "doc_id",
        F.size(tokens_arr("text"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    packed = sized.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048.0).cast("bigint"),
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
    )


#: Chunk width (tokens) for intra-document span dedup.
_INTRADOC_W = 10


@query(
    "text_intradoc_dedup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN text IS NULL THEN NULL ELSE {_TOKS} END AS tk
        FROM documents
    ), ch AS (
        SELECT doc_id, tk,
               CASE WHEN tk IS NULL THEN NULL
                    WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(
                        range(0, CAST(ceil(len(tk) / {_INTRADOC_W}.0) AS BIGINT)),
                        i -> array_to_string(
                            tk[i * {_INTRADOC_W} + 1 : i * {_INTRADOC_W} + {_INTRADOC_W}],
                            ' '))
               END AS c
        FROM t
    )
    SELECT doc_id,
           CAST(len(c) AS BIGINT) AS n_chunks,
           CAST(len(c) - len(list_distinct(c)) AS BIGINT) AS n_dup_chunks,
           CAST(len(tk) AS BIGINT) AS n_tokens_total,
           CASE WHEN c IS NULL THEN NULL
                ELSE CAST(coalesce(list_sum(list_transform(
                         list_distinct(c), x -> len(string_split(x, ' ')))), 0)
                     AS BIGINT)
           END AS n_tokens_kept
    FROM ch
    """,
)
def text_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document span dedup (the Gopher/RefinedWeb "remove duplicated
    passages within a page" curation rule, r13): each document's token
    stream is cut into fixed 10-token chunks, repeated chunks after the
    first occurrence are DROPPED, and the query emits the removal
    accounting — chunk count, duplicate-chunk count, and the before/after
    token counts — per document.  text_repetition_ratio MEASURES in-doc
    repetition; this operator is the removal decision itself, the form a
    cleaning pipeline applies.

    Scale: entirely per-row higher-order functions over the token array
    (transform/slice/array_distinct/aggregate) — JVM-side, zero shuffle,
    zero Python; one scan of documents at any corpus size.  NULL text is
    NULL stats on both sides (textstats family convention); Spark's
    sequence(a, b) is DESCENDING for b < a, so zero-token docs are guarded
    explicitly on both engines."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_arr("text")
    w = _INTRADOC_W
    n_chunks = F.ceil(F.size(toks) / F.lit(float(w))).cast("bigint")
    chunk_list = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), n_chunks - 1),
            lambda i: F.array_join(F.slice(toks, (i * w + 1).cast("int"), w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select(
        "doc_id",
        F.when(F.col("text").isNotNull(), toks).alias("tk"),
        F.when(F.col("text").isNotNull(), chunk_list).alias("c"),
    )
    kept_tokens = F.aggregate(
        F.array_distinct("c"),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.size(F.split(x, " ")),
    )
    return g.select(
        "doc_id",
        F.size("c").cast("bigint").alias("n_chunks"),
        (F.size("c") - F.size(F.array_distinct("c")))
        .cast("bigint")
        .alias("n_dup_chunks"),
        F.size("tk").cast("bigint").alias("n_tokens_total"),
        F.when(F.col("c").isNotNull(), kept_tokens).alias("n_tokens_kept"),
    )


@query(
    "text_repetition_ratio",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id,
               {_TRIGRAMS} AS trigrams
        FROM documents
    )
    SELECT doc_id,
           CAST(len(trigrams) AS BIGINT) AS n_trigrams,
           CAST(len(list_distinct(trigrams)) AS BIGINT) AS n_distinct,
           CASE WHEN len(trigrams) > 0
                THEN 1.0 - CAST(len(list_distinct(trigrams)) AS DOUBLE)
                           / CAST(len(trigrams) AS DOUBLE)
                WHEN len(trigrams) = 0 THEN 0.0 END AS rep_ratio
    FROM grams
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: fraction of duplicate word-trigrams —
    the standard boilerplate/spam signal for pretraining quality filters.
    All array-side (no explode/shuffle): one scan, per-row higher-order
    functions. The ratio is emitted as the raw IEEE division of two small
    ints (bit-identical across engines; rounding integer-quotient ratios is
    the known parity trap). Spark's sequence(1, n) is DESCENDING for n < 1,
    so short docs are guarded explicitly.  NULL text is NULL stats on both
    sides (the textstats family convention; the old ``otherwise(empty)``
    silently counted NULL documents as zero-trigram docs while the oracle
    emitted NULL — NULL-vintage sweep, r08).
    """
    d = table(spark, sf_dir, "documents")
    # tokens projected FIRST, trigrams built from the materialized column —
    # word_trigrams_from's O(n²) re-tokenization note (r15: 7.7 s -> 0.4 s)
    g = d.select("doc_id", tokens_arr("text").alias("_toks")).select(
        "doc_id", word_trigrams_from(F.col("_toks")).alias("trigrams")
    )
    n = F.size("trigrams").cast("bigint")
    nd = F.size(F.array_distinct("trigrams")).cast("bigint")
    return g.select(
        "doc_id",
        n.alias("n_trigrams"),
        nd.alias("n_distinct"),
        F.when(n > 0, 1.0 - nd.cast("double") / n.cast("double"))
        .when(n == 0, F.lit(0.0))
        .alias("rep_ratio"),
    )


@query(
    "curation_filter_funnel",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, text, n_chars, lang,
               {_TRIGRAMS} AS trigrams
        FROM documents
    ), flags AS (
        SELECT text,
               n_chars >= 100 AS c_len,
               n_chars >= 100 AND lang IN ('en', 'fr', 'de', 'es') AS c_lang,
               n_chars >= 100 AND lang IN ('en', 'fr', 'de', 'es')
                 AND 2 * len(list_distinct(trigrams)) >= len(trigrams) AS c_rep
        FROM g
    )
    SELECT count(*) AS n_total,
           CAST(sum(CASE WHEN c_len THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
           CAST(sum(CASE WHEN c_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
           CAST(sum(CASE WHEN c_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_ok,
           count(DISTINCT CASE WHEN c_rep THEN text END) AS n_unique_final
    FROM flags
    """,
)
def curation_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel: survival counts through the standard pretraining
    filter chain — length floor, language allowlist, low trigram repetition,
    then exact dedup of the survivors. One scan; every stage is a flag
    column and the funnel is one aggregate row (conditional sums + a
    conditional count distinct). The repetition gate compares
    2*distinct >= total — integer arithmetic, no float ratio to drift.
    """
    d = table(spark, sf_dir, "documents")
    # word_trigrams_from: NULL text -> NULL trigrams; the c_* flags are
    # already NULL-gated through n_chars, so the funnel sums are unchanged
    # (the old inline copy mapped NULL to [] — the drift the shared helper
    # removes).  Tokens projected first (word_trigrams_from's O(n²) note).
    flags = d.select(
        "text",
        (F.col("n_chars") >= 100).alias("c_len"),
        ((F.col("n_chars") >= 100) & F.col("lang").isin("en", "fr", "de", "es")).alias("c_lang"),
        tokens_arr("text").alias("_toks"),
    ).select(
        "text",
        "c_len",
        "c_lang",
        word_trigrams_from(F.col("_toks")).alias("trigrams"),
    ).select(
        "text",
        "c_len",
        "c_lang",
        (
            F.col("c_lang")
            & (2 * F.size(F.array_distinct("trigrams")) >= F.size("trigrams"))
        ).alias("c_rep"),
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("c_len"), 1).otherwise(0)).cast("bigint").alias("n_len_ok"),
        F.sum(F.when(F.col("c_lang"), 1).otherwise(0)).cast("bigint").alias("n_lang_ok"),
        F.sum(F.when(F.col("c_rep"), 1).otherwise(0)).cast("bigint").alias("n_rep_ok"),
        F.countDistinct(F.when(F.col("c_rep"), F.col("text"))).alias("n_unique_final"),
    )


# PII regexes shared by the Spark plan and the oracle (Java regex and RE2
# agree on this subset: char classes, bounded repetition, \b).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b555-\d{4}\b"

# The fixture corpus contains no PII (synthetic word salad), so the query
# affixes a DETERMINISTIC doc_id-derived PII suffix on both sides before
# scrubbing — the redaction path is exercised on every row instead of
# trivially matching zero times.
_PII_SUFFIX_SQL = (
    "text || ' contact user' || doc_id || '@example.com from 10.0.' "
    "|| (doc_id % 256) || '.7 call 555-01' "
    "|| lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
)


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_PII_SUFFIX_SQL} AS t FROM documents),
    scrub AS (
        SELECT doc_id, t,
               regexp_replace(regexp_replace(regexp_replace(t,
                   '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_IPV4}', '<IP>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g') AS red
        FROM w
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(length(red) AS BIGINT) AS redacted_len,
           substring(red, length(red) - 39, 40) AS redacted_tail
    FROM scrub
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4 / phone numbers) — the scrubbing pass a
    training pipeline runs before packing. Pure JVM-side regexp_count +
    chained regexp_replace: one scan, no UDF, codegen'd per row, so at
    100 TB it scales as a map-only stage. Counts, the redacted length and
    the redacted tail are value-checked against the oracle running the
    identical patterns (RE2/Java-regex-compatible subset)."""
    d = table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"), _PII_IPV4, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(t, F.lit(_PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(_PII_IPV4)).cast("bigint").alias("n_ips"),
        F.regexp_count(t, F.lit(_PII_PHONE)).cast("bigint").alias("n_phones"),
        F.length(red).cast("bigint").alias("redacted_len"),
        F.substring(red, F.length(red) - 39, F.lit(40)).alias("redacted_tail"),
    )


@query(
    "sample_upsample_weighted",
    oracle="""
    WITH weighted AS (
        SELECT source, n_chars,
               (CAST(substring(source, 4) AS INTEGER) % 3) + 1 AS n_copies
        FROM documents
    )
    SELECT source, n_copies,
           CAST(count(*) * n_copies AS BIGINT) AS n_rows_out,
           CAST(sum(n_chars) * n_copies AS BIGINT) AS chars_out
    FROM weighted GROUP BY 1, 2
    """,
)
def sample_upsample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted upsampling: each source is repeated 1-3x (the fixture's
    stand-in for quality-tier epoch weights in a training mixture). The
    Spark side REALLY materializes the copies — explode(sequence(1, n)) is
    a map-side row expansion, no shuffle, no UDF — and the audit aggregate
    is value-checked against the oracle's closed form (count x copies)."""
    d = table(spark, sf_dir, "documents")
    n_copies = (F.substring("source", 4, 10).cast("int") % 3) + 1
    exploded = d.withColumn("n_copies", n_copies).withColumn(
        "copy_idx", F.explode(F.sequence(F.lit(1), F.col("n_copies")))
    )
    return exploded.groupBy("source", "n_copies").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_out"),
        F.sum("n_chars").cast("bigint").alias("chars_out"),
    )


@query(
    "text_chunk_split",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_toks,
               greatest(CAST(ceil(len({_TOKS}) / 512.0) AS BIGINT), 1) AS n_chunks
        FROM documents
    )
    SELECT doc_id, CAST(u.chunk_id AS BIGINT) AS chunk_id,
           CAST(CASE WHEN n_toks IS NOT NULL
                     THEN least(512, n_toks - 512 * u.chunk_id) END AS BIGINT)
               AS chunk_tokens
    FROM sized, unnest(range(0, n_chunks)) AS u(chunk_id)
    """,
)
def text_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size document chunking (512-token windows, RAG/context-split
    style): one output row per chunk via explode(sequence(...)) — map-side
    expansion, no shuffle. Tail chunks carry their true (short) token
    count; empty docs still yield one zero-token chunk so no document
    silently disappears from the corpus, and a NULL-text doc yields one
    chunk with chunk_tokens NULL (the dirty-vintage contract; unguarded,
    both engines' NULL-skipping least() reported a phantom 512-token chunk
    — mirrored on both sides, so only the r08 review caught it)."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_arr("text")
    sized = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_toks"),
        F.greatest(
            F.ceil(F.size(toks) / F.lit(512.0)).cast("bigint"), F.lit(1).cast("bigint")
        ).alias("n_chunks"),
    )
    chunks = sized.withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_chunks") - 1))
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.when(
            F.col("n_toks").isNotNull(),
            F.least(
                F.lit(512).cast("bigint"), F.col("n_toks") - 512 * F.col("chunk_id")
            ),
        )
        .cast("bigint")
        .alias("chunk_tokens"),
    )


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH counts AS (
        SELECT u.w AS word, count(*) AS cnt
        FROM documents, unnest({_TOKS}) AS u(w)
        GROUP BY u.w
    ), ranked AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rnk
        FROM counts
    )
    SELECT CAST(count(*) AS BIGINT) AS n_words,
           round(regr_slope(ln(cnt), ln(rnk)), 4) + 0.0 AS zipf_slope,
           round(regr_intercept(ln(cnt), ln(rnk)), 4) + 0.0 AS zipf_intercept
    FROM ranked
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus word-frequency distribution: OLS slope of
    ln(freq) on ln(rank) — the one-number sanity check that a crawl snapshot
    has natural-language token statistics (healthy text ~ -1; machine-
    generated or boilerplate-heavy corpora deviate hard).

    Single wordcount shuffle, then ranks via the grid-partitioned global
    rank (operators/rankops.py) — a natural-language vocabulary is MBs at
    any corpus size, but a DIRTY corpus (hashes, ids, boilerplate noise —
    exactly what this metric exists to flag) grows its vocabulary linearly
    with the data, so the rank must not assume a small frame the way a bare
    Window.orderBy would (r08 plan-invariant sweep).  The counts frame is
    persisted so the rank's two preparation jobs read the cached
    vocabulary instead of re-running the wordcount (lifetime: until
    clearCache/LRU, the curation_end_to_end convention — multi-query
    harnesses clearCache between queries).

    Tie balance (r08 review): a Zipf vocabulary puts the hapax class
    (cnt=1, typically ~half the vocabulary) into ONE value-grid cell —
    rankops' uniform grid cannot split equal keys, so one task would still
    sort a linearly-growing frame.  The rank therefore runs over the
    derived key ``cnt - hash_frac(word)`` with hash_frac in [0, 1): class
    ordering is preserved exactly (cnt >= cnt'+1 implies d > d'), ties
    spread uniformly across the grid, and the OUTPUT is unchanged — the
    regression consumes (ln cnt, ln rank) pairs, and permuting which word
    of a tie class carries which rank permutes nothing in that pair
    multiset, so the oracle's (cnt desc, word) ranks fit identically.
    """
    from ..operators.rankops import with_global_rank

    d = table(spark, sf_dir, "documents")
    toks = tokens_arr("text")
    frac = F.conv(F.substring(F.md5("word"), 1, 4), 16, 10).cast("double") / 65536.0
    counts = (
        d.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("grid_key", F.col("cnt") - frac)
        .persist()
    )
    ranked = with_global_rank(
        counts, "grid_key", "word", descending=True, rank_col="rnk"
    ).select("cnt", "rnk")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_words"),
        (F.round(F.regr_slope(F.ln("cnt"), F.ln("rnk")), 4) + F.lit(0.0)).alias(
            "zipf_slope"
        ),
        (
            F.round(F.regr_intercept(F.ln("cnt"), F.ln("rnk")), 4) + F.lit(0.0)
        ).alias("zipf_intercept"),
    )


@query(
    "text_char_lm_score",
    oracle="""
    WITH grams AS (
        SELECT doc_id,
               substr(text, CAST(u.i AS INT), 3) AS g3,
               substr(text, CAST(u.i AS INT), 2) AS g2
        FROM documents, unnest(generate_series(1, length(text) - 2)) AS u(i)
        WHERE length(text) >= 3
    ), m3 AS (
        SELECT g3, count(*) AS c3 FROM grams GROUP BY g3
    ), m2 AS (
        SELECT g2, count(*) AS c2 FROM grams GROUP BY g2
    ), vocab AS (
        SELECT count(DISTINCT substr(g3, 3, 1)) AS v FROM grams
    )
    SELECT g.doc_id,
           round(avg(ln((m3.c3 + 1.0) / (m2.c2 + vocab.v))), 3) + 0.0 AS avg_logp,
           count(*) AS n_trigrams
    FROM grams g
    JOIN m3 USING (g3) JOIN m2 USING (g2) CROSS JOIN vocab
    GROUP BY g.doc_id
    """,
)
def text_char_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: per-document mean log-likelihood
    under a char-trigram language model fit on the corpus itself (add-one
    smoothing over the observed character alphabet).  The KenLM-style gate
    a crawl pipeline runs to drop gibberish/binary-ish documents — done
    entirely in DataFrame ops, no model library.

    Two-pass scale shape: pass 1 aggregates the trigram model (one shuffle
    on the gram key; model cardinality is bounded by alphabet^3, i.e. MBs
    at any corpus size), pass 2 re-streams the corpus joining trigrams to
    the broadcast model — the same build-small-then-broadcast topology as
    BM25.  The context model m2 and the alphabet size both DERIVE from the
    persisted m3 (every gram's g2 is its g3's 2-char prefix, so m2 =
    m3 grouped by prefix; the alphabet is m3's distinct third chars) —
    r08 review: building them from the raw gram stream re-exploded the
    corpus twice more for tables m3 already determines.  Docs shorter than
    3 chars are excluded BEFORE the index sequence on both sides (Spark's
    sequence(1, 0) is the DESCENDING [1, 0], which would substr garbage).
    avg_logp carries the catalog's post-round +0.0 (-0.0 guard): add-one-
    smoothed logs sit just below zero on near-saturated corpora.

    r15 opt (guide §2.3/§3.1): the smoothed log-prob ln((c3+1)/(c2+v))
    depends only on g3 (c2 is its prefix's count, v is global), so the two
    per-occurrence broadcast joins + per-occurrence ln/div are folded into
    ONE alphabet^3-bounded model table built once from the persisted m3:
    g3 -> logp.  Pass 2 now does one substr and one broadcast probe per
    gram occurrence instead of two substrs, two probes, a divide and a ln;
    g2 disappears from the corpus-sized stream entirely.  Each occurrence
    contributes the bit-identical double to the same avg, so the result is
    unchanged.  The scan is spread() before the char-position explode: a
    single-row-group fixture parquet is one working scan task however many
    byte-range splits the planner makes, which serialized both corpus
    passes onto one core (guide §2.5; 4.9 s -> 1.45 s at sf0.1; no-op at
    scan sizes that already parallelize)."""
    d = spread(
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= 3)
    )
    g = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text") - 2)).alias("i"),
        "text",
    ).select(
        "doc_id",
        F.col("text").substr(F.col("i"), F.lit(3)).alias("g3"),
    )
    # alphabet^3-bounded model table; persisted because m2/vocab/model all
    # derive from it (clearCache-between-queries lifetime)
    m3 = g.groupBy("g3").agg(F.count(F.lit(1)).alias("c3")).persist()
    m2 = m3.groupBy(F.col("g3").substr(F.lit(1), F.lit(2)).alias("g2")).agg(
        F.sum("c3").alias("c2")
    )
    vocab = m3.select(
        F.count_distinct(F.col("g3").substr(F.lit(3), F.lit(1))).alias("v")
    )
    model = (
        m3.withColumn("g2", F.col("g3").substr(F.lit(1), F.lit(2)))
        .join(maybe_broadcast(m2), "g2")
        .crossJoin(maybe_broadcast(vocab))
        .select(
            "g3",
            F.ln((F.col("c3") + F.lit(1.0)) / (F.col("c2") + F.col("v"))).alias(
                "logp"
            ),
        )
    )
    return (
        g.join(maybe_broadcast(model), "g3")
        .groupBy("doc_id")
        .agg(
            (F.round(F.avg("logp"), 3) + F.lit(0.0)).alias("avg_logp"),
            F.count(F.lit(1)).alias("n_trigrams"),
        )
    )


#: Vocabulary size for text_vocab_build (fixture-sized; the shape is the
#: same at any cap).
_VOCAB_N = 1000


@query(
    "text_vocab_build",
    oracle=f"""
    WITH tok AS (
        SELECT lower(u.w) AS token
        FROM (SELECT {_TOKS} AS t FROM documents), unnest(t) AS u(w)
    ), counts AS (
        SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY token
    )
    SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS token_id,
           token, freq
    FROM counts
    ORDER BY token_id
    LIMIT {_VOCAB_N}
    """,
)
def text_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: the top-_VOCAB_N lowercased tokens by
    corpus frequency, assigned dense ids in (freq DESC, token) order — the
    tokenizer-training step that turns a curated corpus into a vocab file
    (word-level here; a BPE trainer consumes the same frequency table).

    Scale: token counting is one map-side-combined shuffle on the token;
    the id assignment is a top-N — TakeOrderedAndProject over the counts,
    never a global sort of the vocabulary — and the window that numbers
    the survivors runs over _VOCAB_N rows."""

    d = table(spark, sf_dir, "documents")
    toks = tokens_arr("text")
    counts = (
        d.select(F.explode(toks).alias("w"))
        .select(F.lower("w").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = counts.orderBy(F.desc("freq"), "token").limit(_VOCAB_N)
    w = Window.orderBy(F.desc("freq"), "token")
    return top.select(
        F.row_number().over(w).cast("bigint").alias("token_id"), "token", "freq"
    ).orderBy("token_id")


#: Shingle width for the novelty curve (same 3-gram space as the dedup core).
_NOVELTY_N = 3


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+{_NOVELTY_N - 1}], ' ') AS s
        FROM toks, unnest(range(1, len(t) - {_NOVELTY_N - 2})) AS u(i)
    ), firsts AS (
        SELECT s, CAST(min(doc_id) AS BIGINT) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) / count(*)
               AS novelty_rate
    FROM sh JOIN firsts f ON f.s = sh.s
    GROUP BY sh.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-saturation curve: per document (in ingestion = doc_id order),
    the fraction of its distinct _NOVELTY_N-gram shingles never seen in
    any EARLIER document.  Plotted over ingestion order this is the
    is-the-web-running-out measurement — novelty decaying toward the
    duplication floor tells you each marginal crawl batch adds less — and
    per-source novelty ranks which feeds still pay for themselves.

    Scale: identical shape to ``dedup_shared_spans`` — one groupBy(shingle)
    min (map-side-combined; a first-occurrence min is order-insensitive so
    no sort, no window over the corpus), one equi-join back.  At 100 TB
    both run over 64-bit shingle hashes; novelty_rate is a raw
    integer-quotient IEEE division."""
    sh = shingles(
        table(spark, sf_dir, "documents"), "text", "doc_id", n=_NOVELTY_N
    )
    firsts = sh.groupBy("shingle").agg(F.min("id").alias("first_doc"))
    return (
        sh.join(firsts, "shingle")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (F.col("n_novel") / F.col("n_grams")).alias("novelty_rate"),
        )
    )

#: Top-N cut for the BPE pair table and the skip-gram co-occurrence table.
_BPE_TOP = 50
_SKIPGRAM_TOP = 100


@query(
    "text_bpe_char_pairs",
    oracle=f"""
    WITH words AS (
        SELECT lower(u.w) AS w
        FROM (SELECT {_TOKS} AS t FROM documents), unnest(t) AS u(w)
    ), freqs AS (
        SELECT w, CAST(count(*) AS BIGINT) AS wf FROM words GROUP BY w
    ), pairs AS (
        SELECT substring(w, CAST(i AS INT), 2) AS pair, wf
        FROM freqs, unnest(range(1, length(w))) AS u(i)
        WHERE length(w) >= 2
    )
    SELECT pair, CAST(sum(wf) AS BIGINT) AS freq
    FROM pairs GROUP BY pair
    ORDER BY freq DESC, pair LIMIT {_BPE_TOP}
    """,
)
def text_bpe_char_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge iteration: adjacent CHARACTER-pair frequencies
    within words, weighted by corpus word frequency — the statistic a BPE
    tokenizer trainer maximizes at every merge step (the top pair here IS
    merge #1).  Distinct from text_bigrams_top, which counts word-level
    bigrams.

    Scale: the pair explosion runs over the DISTINCT-WORD table (vocabulary
    -sized, each word exploded once and weighted by its count), never over
    the corpus token stream — at 100 TB that is the difference between
    exploding ~10^6 vocabulary entries and ~10^13 tokens.  The pair
    aggregate lands on an alphabet^2-bounded grid with map-side partials;
    top-_BPE_TOP is TakeOrderedAndProject (freq DESC, pair tie-break)."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_arr("text")
    freqs = (
        d.select(F.explode(toks).alias("w"))
        .select(F.lower("w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    pairs = (
        freqs.filter(F.length("w") >= 2)
        .select(
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
            "w",
            "wf",
        )
        .select(F.col("w").substr(F.col("i"), F.lit(2)).alias("pair"), "wf")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wf").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), "pair")
        .limit(_BPE_TOP)
    )


@query(
    "text_skipgram_cooccurrence",
    oracle=f"""
    WITH toks AS (
        SELECT {_TOKS} AS t FROM documents
    ), pairs AS (
        SELECT t[CAST(i AS INT)] AS center, t[CAST(i AS INT) + d] AS context
        FROM toks,
             unnest(range(1, len(t) + 1)) AS u(i),
             (VALUES (-2), (-1), (1), (2)) AS o(d)
        WHERE i + d BETWEEN 1 AND len(t)
    )
    SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY 1, 2
    ORDER BY cnt DESC, center, context LIMIT {_SKIPGRAM_TOP}
    """,
)
def text_skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts (window ±2): the (center, context)
    pair table word2vec-style embedding training consumes, top-
    _SKIPGRAM_TOP by count.  Directed pairs — (a, b) at distance -1 and
    (b, a) at +1 both count, matching the training objective.

    Scale: NO self-join — each token row looks up its ±2 neighbors by ARRAY
    INDEX inside the row it came from (element_at on the tokens array), so
    the only shuffle is the final pair aggregate (map-side combined, key
    cardinality ~vocab^2 truncated by the grid of real co-occurrences);
    the position fan-out is a fixed x4 multiplier.  A join-based plan
    would shuffle the token stream twice on (doc, position)."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_arr("text")
    base = d.select(toks.alias("t"))
    idx = base.select(
        "t", F.explode(F.sequence(F.lit(1), F.size("t"))).alias("i")
    )
    offs = F.array([F.lit(x) for x in (-2, -1, 1, 2)])
    fan = idx.select(
        "t", "i", F.explode(offs).alias("d")
    ).filter(
        ((F.col("i") + F.col("d")) >= 1) & ((F.col("i") + F.col("d")) <= F.size("t"))
    )
    pairs = fan.select(
        F.element_at("t", F.col("i")).alias("center"),
        F.element_at("t", (F.col("i") + F.col("d")).cast("int")).alias("context"),
    )
    return (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "center", "context")
        .limit(_SKIPGRAM_TOP)
    )

@query(
    "text_entropy_chars",
    oracle="""
    WITH ch AS (
        SELECT doc_id, u.c AS ch
        FROM (SELECT doc_id, string_split(text, '') AS cs
              FROM documents WHERE length(text) > 0),
             unnest(cs) AS u(c)
    ), counts AS (
        SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2
    ), tot AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY doc_id
    )
    SELECT c.doc_id, t.n AS n_chars_split,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(-sum((c.c / CAST(t.n AS DOUBLE))
                      * ln(c.c / CAST(t.n AS DOUBLE))), 6) + 0.0 AS char_entropy
    FROM counts c JOIN tot t USING (doc_id)
    GROUP BY c.doc_id, t.n
    """,
)
def text_entropy_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the gibberish /
    base64-blob / repeated-filler detector: natural language sits ~4.0-4.5
    bits (2.8-3.1 nats), encoded binary pushes toward ln(alphabet), and
    repeated filler collapses toward 0.  Complements text_char_lm_score
    (which needs a corpus model; entropy is per-doc standalone).

    Parity: per-char probabilities are exact integer ratios; the entropy
    fold sums ~100 grouped terms whose order differs across engines, so the
    result rounds(6) with the +0.0 negative-zero guard (the qa_drift_psi
    convention; a single-char doc yields -0.0 otherwise).  NULL and
    empty-string texts are excluded EXPLICITLY on both sides (r08 review:
    Spark's split('', '') -> [''] is dropped by the empty-char filter while
    DuckDB's unnest emits it, so an empty-text vintage would row-count
    mismatch without the shared guard; entropy of no characters is
    undefined anyway).

    Scale: one (doc, char) count aggregate with map-side partials (keys
    bounded by docs x alphabet), then a per-doc fold — no windows, no
    joins beyond the per-doc total."""
    d = table(spark, sf_dir, "documents")
    chars = (
        d.filter(F.length("text") > 0)
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.length("ch") > 0)
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id")
    p = F.col("c") / F.sum("c").over(w).cast("double")
    per = counts.select(
        "doc_id",
        F.sum("c").over(w).cast("bigint").alias("n_chars_split"),
        p.alias("p"),
    )
    return per.groupBy("doc_id", "n_chars_split").agg(
        F.count(F.lit(1)).alias("n_distinct_chars"),
        (F.round(-F.sum(F.col("p") * F.log(F.col("p"))), 6) + F.lit(0.0)).alias(
            "char_entropy"
        ),
    )


@query(
    "sample_kfold_assign",
    oracle="""
    WITH f AS (
        SELECT CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) % 5 AS fold,
               source, n_chars
        FROM documents
    )
    SELECT fold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM f GROUP BY fold
    """,
)
def sample_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment (k=5) for cross-validation over the
    corpus: fold = content-hash bucket, so identical documents always land
    in the same fold (no train/eval leakage across folds) and the
    assignment is stable across runs, engines, and partitionings — the
    k-way generalization of ``sample_train_test_split``'s md5-bucket trick.
    Emits the per-fold audit (doc count, char mass, source coverage) a
    pipeline checks before trusting the folds are balanced.

    Scale: one scan, one 5-key aggregate with map-side partials; the
    count-distinct expands to a (fold, source) pre-aggregate internally —
    bounded by 5 x source-cardinality."""
    d = table(spark, sf_dir, "documents")
    fold = F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("int") % 5
    return (
        d.select(fold.alias("fold"), "source", "n_chars")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
    )


@query(
    "text_hapax_ratio",
    oracle=f"""
    WITH tok AS (
        SELECT source, w AS word, count(*) AS c
        FROM (SELECT source, unnest({_TOKS}) AS w FROM documents)
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_vocab,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
               AS hapax_ratio
    FROM tok GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hapax-legomenon share: the fraction of each source's
    vocabulary that occurs exactly once.  A lexical-richness / noise signal
    for mixture design — OCR junk and random-id boilerplate push the ratio
    toward 1, template spam pushes it toward 0; a shifted ratio between
    crawl snapshots is an early drift flag cheaper than full n-gram
    novelty.  The ratio is emitted as the raw IEEE integer quotient
    (catalog rule: rounding integer-quotient halves diverges engines).

    Scale: explode -> ONE (source, word) aggregate (vocab-bounded, not
    token-bounded, after map-side partials) -> per-source fold bounded by
    the source grid."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_arr("text")
    per_word = (
        d.select("source", F.explode(toks).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is_hapax = F.when(F.col("c") == 1, 1).otherwise(0)
    return per_word.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.sum(is_hapax).cast("bigint").alias("n_hapax"),
        (F.sum(is_hapax) / F.count(F.lit(1)).cast("double")).alias("hapax_ratio"),
    )


@query(
    "text_hashed_bow",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS w FROM documents
    ), tf AS (
        SELECT doc_id,
               ('0x' || substring(md5(w), 1, 15))::BIGINT % 64 AS dim,
               CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS nnz,
           round(sqrt(sum(tf * tf)), 6) AS l2_norm,
           arg_max(dim, tf * 64 + (63 - dim)) AS top_dim,
           max_by(tf, tf * 64 + (63 - dim)) AS top_tf
    FROM tf GROUP BY doc_id
    """,
)
def text_hashed_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words featurization: each document becomes a
    64-dim term-frequency vector WITHOUT any vocabulary build or broadcast —
    dim = md5(word) % 64 (the md5-60bit idiom both engines compute
    bit-identically). Emits the per-doc sparsity (nnz), L2 norm (integer
    tf's, so the radicand is exact), and the dominant dimension with its tf
    (ties -> lowest dim, encoded scalar so DuckDB's arg_max and Spark's
    max_by agree). This is THE scalable text featurizer: at 100 TB a
    vocabulary table is a build + broadcast + OOV problem, while the hashed
    space is stateless and embarrassingly parallel.

    Scale: tokenize/explode happens in the scan projection; two keyed
    exchanges, both behind map-side partial aggregates — the first keyed
    (doc_id, dim) carries at most 64 rows per doc per input partition, the
    second keyed doc_id carries the <= 64 surviving dims per doc (verified
    with .explain: HashAggregate/Exchange pairs at both levels). No
    vocabulary state, no joins, no windows."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens_arr("text")).alias("w")
    )
    dim = (
        F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long") % 64
    ).alias("dim")
    tf = tok.groupBy("doc_id", dim).agg(F.count(F.lit(1)).alias("tf"))
    key = F.col("tf") * 64 + (63 - F.col("dim"))
    return tf.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nnz"),
        F.round(F.sqrt(F.sum(F.col("tf") * F.col("tf"))), 6).alias("l2_norm"),
        F.max_by("dim", key).alias("top_dim"),
        F.max_by("tf", key).alias("top_tf"),
    )


# ---------------------------------------------------------------------------
# r15: per-source PII redaction-rate report (SCALE.md r14 queue item a).
# `text_pii_scrub` above affixes every PII class to every doc (so the scrub
# path is exercised on each row); the REPORT needs class rates that VARY, so
# each class's fixture suffix is gated on a deterministic doc_id condition
# shared verbatim with the oracle (same trick, conditional form).
# ---------------------------------------------------------------------------

_PII_RATE_SUFFIX_SQL = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id ||"
    " '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 5 < 2 THEN ' from 10.0.' || (doc_id % 256) ||"
    " '.7' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 1 THEN ' call 555-01' ||"
    " lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ELSE '' END"
)


@query(
    "text_pii_redaction_report",
    oracle=f"""
    WITH w AS (
        SELECT source, {_PII_RATE_SUFFIX_SQL} AS t FROM documents
    ), counts AS (
        SELECT source,
               CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phones
        FROM w
    ), u AS (
        SELECT source, 'email' AS pii_class, n_emails AS n_hits FROM counts
        UNION ALL SELECT source, 'ip', n_ips FROM counts
        UNION ALL SELECT source, 'phone', n_phones FROM counts
    )
    SELECT source, pii_class,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(n_hits) AS BIGINT) AS n_hits,
           CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_affected,
           CAST((sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) * 10000)
               // count(*) AS BIGINT) AS redaction_rate_bp,
           CAST(grouping(source) * 2 + grouping(pii_class) AS BIGINT) AS gid
    FROM u GROUP BY ROLLUP (source, pii_class)
    """,
)
def text_pii_redaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source x per-class redaction-rate ROLLUP — the governance report a
    corpus run publishes alongside the scrubbed shards ("what fraction of
    src7 documents carried an email?").  Built on `text_pii_scrub`'s per-doc
    counts: one JVM-side regexp_count scan, stack() to (class, hits) rows
    (map-side 3x expansion, no shuffle), then a single rollup aggregate —
    at 100 TB this is one scan + one partial-agg exchange keyed on
    (source, pii_class), cardinality ~sources x 3, so the shuffle carries
    kilobytes regardless of corpus size.  Rates are published in integer
    basis points (DIV — exact on both engines, no float rounding hazard).
    n_obs counts (doc, class) observations, so at rollup levels it is
    docs x classes-covered, and redaction_rate_bp at those levels is the
    mean rate across the classes rolled up.  Value-checked against a DuckDB
    ROLLUP running the identical gated suffix + regex constants."""
    d = table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(
            (F.col("doc_id") % 3) == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            (F.col("doc_id") % 5) < 2,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            (F.col("doc_id") % 7) == 1,
            F.concat(
                F.lit(" call 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    per_doc = d.select(
        "source",
        F.regexp_count(t, F.lit(_PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(_PII_IPV4)).cast("bigint").alias("n_ips"),
        F.regexp_count(t, F.lit(_PII_PHONE)).cast("bigint").alias("n_phones"),
    )
    u = per_doc.select(
        "source",
        F.expr(
            "stack(3, 'email', n_emails, 'ip', n_ips, 'phone', n_phones)"
            " AS (pii_class, n_hits)"
        ),
    )
    affected = F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
    return u.rollup("source", "pii_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("n_hits").cast("bigint").alias("n_hits"),
        affected.cast("bigint").alias("n_docs_affected"),
        F.expr(
            "CAST((sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) * 10000)"
            " DIV count(1) AS BIGINT)"
        ).alias("redaction_rate_bp"),
        F.grouping_id().cast("bigint").alias("gid"),
    )
