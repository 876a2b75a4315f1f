"""Corpus-curation query surface: the selection/sampling/QA ops a training-data
pipeline runs after scoring and dedup (all oracle-checked).

These extend the LLM-pipeline surface (SURVEY.md §2 "beyond the reference"):
per-domain quantile gating, deterministic stratified sampling, asymmetric
containment near-dup, per-hour anomaly flagging, cross-domain vocabulary
overlap, and length histograms.  Reference parity n/a — the reference
(StatefulWordCount.java) has no curation surface; these are the first-class
additions the task brief requires.

Scale notes (100 TB):
- Every query is a single scan plus key-partitioned shuffles; no collect().
- The quantile gate uses a per-source window — at scale `source` has
  thousands of distinct values, so the window partitioning IS the shuffle
  key and skewed sources are handled by AQE skew splitting (sort within
  source is O(n log n) per source, not global).
- Stratified sampling is a map-side-only decision (deterministic hash on the
  row key) — zero shuffle before the final small aggregate; this is the only
  sampling shape that stays reproducible under retries/speculation.
- Containment reuses the inverted-index pair join (hashed shingle keys,
  fixed-width shuffle rows) — same 100× story as dedup_ngram_jaccard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..hints import maybe_broadcast
from ..io import table
from ..operators.dedup import containment_pairs, shingle_hashes
from ..operators.text import TOKS_SQL as _TOKS_SQL  # shared tokenizer SQL
from ..operators.text import (
    JACCARD_SCORE_SQL,
    jaccard_pairs_cte_sql,
    shingle_pair_cte_sql,
)
from ..operators.textstats import tokens_arr
from .catalog import query

_SHINGLE_N = 3
_CONTAIN_T = 0.9

# Knuth multiplicative hash for the sampling decision, computable
# bit-identically in Spark and DuckDB in bigint math.  The key is reduced
# mod a prime BEFORE the multiply: raw doc_id * K overflows int64 once ids
# pass ~3.5e9 (caught by the synthetic-sf1 probe, whose replica offsets
# put ids at 1e9+), and Spark's ANSI mode correctly refuses the overflow.
# (p-1)*K ~ 2.65e15 << 2^63 for any id.
_HASH_P = 1000003
_HASH_K = 2654435761
# Per-source sampling rate in permille: sources are 'src<i>'; rate cycles
# 50/90/130/170/210 by i % 5 — a stand-in for per-domain mixture weights.
_PERMILLE_SQL = "50 + 40 * (CAST(substr(source, 4) AS BIGINT) % 5)"


@query(
    "curation_quality_gate",
    oracle="""
    WITH ranked AS (
        SELECT source, n_chars,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY n_chars, doc_id) AS pr
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_kept,
           avg(n_chars) AS avg_chars_kept
    FROM ranked WHERE pr >= 0.5
    GROUP BY source
    """,
)
def curation_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quantile gate: keep each source's top half by a quality
    proxy (n_chars; in production a model perplexity/quality score), the
    standard per-domain filter that avoids cross-domain score drift.

    percent_rank needs a total order — doc_id tie-break makes the kept set
    deterministic.  avg is emitted as the raw IEEE quotient (never round an
    integer-quotient ratio: exact decimal halves diverge between engines).
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return (
        d.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.5)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.avg("n_chars").alias("avg_chars_kept"),
        )
    )


@query(
    "sample_stratified",
    oracle=f"""
    SELECT source,
           {_PERMILLE_SQL} AS rate_permille,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM documents
    WHERE ((doc_id % {_HASH_P}) * {_HASH_K}) % 1000 < {_PERMILLE_SQL}
    GROUP BY source
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-source rate, decided map-side
    by a multiplicative hash of the row key — reproducible under retries and
    speculation (df.sample() is not), and verifiable row-for-row by the
    oracle.  The only shuffle is the final per-source count."""
    d = table(spark, sf_dir, "documents")
    rate = F.expr(_PERMILLE_SQL)
    return (
        d.withColumn("rate_permille", rate)
        .filter(((F.col("doc_id") % _HASH_P) * F.lit(_HASH_K)) % 1000 < rate)
        .groupBy("source", "rate_permille")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .select("source", "rate_permille", "n_sampled", "id_checksum")
    )


# DuckDB twin of the containment pair join (the shared shingle-CTE builder,
# metric = n_shared / min(|A|, |B|)).
_CONTAIN_ORACLE = f"""
WITH {shingle_pair_cte_sql(_SHINGLE_N)}
SELECT id_a, id_b, n_shared,
       round(n_shared / least(x.n, y.n), 6) AS containment
FROM shared JOIN sizes x ON x.doc_id = id_a JOIN sizes y ON y.doc_id = id_b
WHERE round(n_shared / least(x.n, y.n), 6) >= {_CONTAIN_T}
"""


@query("dedup_containment", oracle=_CONTAIN_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle containment n_shared/min(|A|,|B|) — the
    metric that catches a short doc embedded in a long one, which Jaccard
    misses (the union term dilutes it).  Same inverted-index join and hashed
    shingle keys as dedup_ngram_jaccard, so the 100 TB shuffle shape is
    identical (operators.dedup.containment_pairs shares the machinery with
    jaccard_pairs — review r08)."""
    d = table(spark, sf_dir, "documents")
    sh = shingle_hashes(d, "text", "doc_id", n=_SHINGLE_N)
    return containment_pairs(sh, _CONTAIN_T)


@query(
    "ev_anomaly_zscore",
    oracle="""
    WITH st AS (
        SELECT event_id, event_type, value,
               avg(value) OVER w AS mu,
               stddev_samp(value) OVER w AS sd
        FROM events
        WINDOW w AS (PARTITION BY event_type, date_trunc('hour', ts))
    ), zr AS (
        SELECT event_id, event_type, sd, round((value - mu) / sd, 3) AS z
        FROM st
    )
    SELECT event_id, event_type, z
    FROM zr WHERE sd > 0 AND abs(z) >= 2
    """,
)
def ev_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, hour) z-score outliers (|z| >= 2; the fixture's value column is bounded, max |z| ~2.4) — the windowed
    anomaly flag a metrics pipeline runs on ingest.  Group stats via a
    window over the natural partition key; no self-join.  The cutoff is
    applied to the ROUNDED z (repo convention: round before compare) so a
    float-summation-order difference between Spark and DuckDB window
    aggregates can never flip the kept set at the |z| = 2 boundary."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", F.date_trunc("hour", F.col("ts")))
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return (
        e.withColumn("sd", F.stddev_samp("value").over(w))
        .withColumn("z", F.round(z, 3))
        .filter((F.col("sd") > 0) & (F.abs(F.col("z")) >= 2))
        .select("event_id", "event_type", "z")
    )


@query(
    "source_vocab_overlap",
    oracle=f"""
    WITH v AS (
        SELECT DISTINCT source, u.w
        FROM documents, unnest({_TOKS_SQL}) AS u(w)
    ), sizes AS (
        SELECT source, count(*) AS n FROM v GROUP BY source
    ), shared AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        FROM v a JOIN v b USING (w)
        WHERE a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
           {JACCARD_SCORE_SQL} AS jaccard
    FROM shared JOIN sizes x ON x.source = source_a
                JOIN sizes y ON y.source = source_b
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the domain-similarity
    matrix that informs mixture weights.  Inverted index on word: at 100 TB
    the (source, word) distinct set is tiny relative to the corpus (vocab ×
    domains), so the pair join runs on the reduced set, never the corpus."""
    d = table(spark, sf_dir, "documents")
    v = d.select("source", F.explode(tokens_arr("text")).alias("w")).distinct()
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = v.select(F.col("source").alias("source_a"), "w")
    b = v.select(F.col("source").alias("source_b"), "w")
    shared = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            sizes.withColumnsRenamed({"source": "source_a", "n": "n_a"}), "source_a"
        )
        .join(sizes.withColumnsRenamed({"source": "source_b", "n": "n_b"}), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "doc_length_histogram",
    oracle="""
    SELECT lang, n_chars // 100 AS bucket, CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY lang, bucket
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length histogram (100-char buckets) per language — the first QA plot
    on any new crawl snapshot.  Pure map-side bucketing + one partial-agg
    shuffle; integer `div` on both engines (DuckDB // on INTEGER floors)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("lang", F.expr("n_chars div 100").alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# The end-to-end curation flagship (VERDICT r05 #7): ONE declared query
# chaining the full pretraining-data pipeline over `documents` —
#   input -> exact dedup -> MinHash near-dup keep-list -> eval decontam ->
#   quality gate -> mixture sampling
# with a survival count + id checksum per stage (the curation_filter_funnel
# pattern extended to the real operator chain).  This is the single query a
# training-data user actually runs; every stage reuses the operator the
# standalone query for it uses, so the funnel value-checks the COMPOSITION.
#
# Scale shape: stages 1-2 are the dedup family's hashed-shingle machinery
# (fixed-width shuffle keys, LSH-bounded pair generation); decontam
# broadcasts the eval-gram set; the quality gate and sampler are map-side
# decisions.  The corpus is scanned once per shingling pass and once at the
# end — no stage collects to the driver.
# ---------------------------------------------------------------------------

_E2E_DECON_N = 4
_E2E_EVAL_MOD, _E2E_EVAL_RES = 10, 7
_E2E_LANGS = ("en", "fr", "de", "es")
_E2E_MIN_CHARS = 100

_E2E_ORACLE = f"""
WITH RECURSIVE keep1 AS (
    SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
), s1 AS (
    SELECT d.* FROM documents d JOIN keep1 USING (doc_id)
), {shingle_pair_cte_sql(_SHINGLE_N, rel="s1")}, {jaccard_pairs_cte_sql(0.8)}, edges AS (
    SELECT id_a AS s, id_b AS t FROM pairs
    UNION SELECT id_b, id_a FROM pairs
    UNION SELECT id_a, id_a FROM pairs
    UNION SELECT id_b, id_b FROM pairs
), reach AS (
    SELECT s, t FROM edges
    UNION
    SELECT r.s, e.t FROM reach r JOIN edges e ON e.s = r.t
), assign AS (
    SELECT s AS doc_id, min(t) AS rep_id FROM reach GROUP BY s
), s2 AS (
    SELECT d.* FROM s1 d
    WHERE NOT EXISTS (SELECT 1 FROM assign a
                      WHERE a.doc_id = d.doc_id AND a.rep_id <> d.doc_id)
), toks4 AS (
    SELECT doc_id, {_TOKS_SQL} AS t
    FROM documents
), gr4 AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+{_E2E_DECON_N - 1}], ' ') AS s
    FROM toks4, unnest(range(1, len(t) - {_E2E_DECON_N - 2})) AS u(i)
), evsh AS (
    SELECT DISTINCT s FROM gr4 WHERE doc_id % {_E2E_EVAL_MOD} = {_E2E_EVAL_RES}
), contaminated AS (
    SELECT DISTINCT doc_id FROM gr4 JOIN evsh USING (s)
    WHERE doc_id % {_E2E_EVAL_MOD} <> {_E2E_EVAL_RES}
), s3 AS (
    SELECT * FROM s2
    WHERE doc_id % {_E2E_EVAL_MOD} <> {_E2E_EVAL_RES}
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
), s4 AS (
    SELECT * FROM s3
    WHERE n_chars >= {_E2E_MIN_CHARS} AND lang IN {str(tuple(_E2E_LANGS))}
), s5 AS (
    SELECT * FROM s4
    WHERE ((doc_id % {_HASH_P}) * {_HASH_K}) % 1000 < {_PERMILLE_SQL}
)
SELECT stage, n_docs, id_checksum FROM (
    SELECT '1_input' AS stage, count(*) AS n_docs,
           CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_checksum FROM documents
    UNION ALL
    SELECT '2_exact_dedup', count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s1
    UNION ALL
    SELECT '3_near_dedup', count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s2
    UNION ALL
    SELECT '4_decontam', count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s3
    UNION ALL
    SELECT '5_quality', count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s4
    UNION ALL
    SELECT '6_mixture', count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM s5
)
"""


@query("curation_end_to_end", oracle=_E2E_ORACLE)
def curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation pipeline as one declared query:
    exact dedup -> MinHash-LSH near-dup keep-list -> eval-set decontamination
    -> quality gate -> per-source mixture sampling, emitting (stage, n_docs,
    id_checksum) per stage.  Each stage reuses the exact operator its
    standalone query uses (dedup_exact, dedup_minhash_verified's candidate +
    verify pipeline, decontam_eval_overlap's gram join, sample_stratified's
    multiplicative hash), so a green row here value-checks the composition —
    including that the near-dup stage runs on the exact-dedup SURVIVORS and
    decontam on the near-dup survivors, the ordering a real pipeline uses.

    RECALL ASSUMPTION (ADVICE r06): the oracle models stage 3 as exact
    all-pairs Jaccard while the Spark plan restricts pairs to MinHash-LSH
    candidates, so parity requires 100% LSH recall on the fixture.  That
    assumption is gated explicitly by
    tests/test_lsh_recall.py::test_minhash_lsh_recall_covers_exact_pairs —
    a fixture vintage with a recall miss fails that named test, not this
    funnel's hash check.

    PLAN SHAPE (r15 restructure; same rows): the six per-stage aggregates
    used to be six union branches, each re-running its whole upstream
    chain — the sha2 dedup subtree alone was planned (and executed) five
    times.  Stage membership is now computed ONCE as boolean flags on a
    narrow per-doc frame (doc_id + the filter columns): the cached exact-
    dedup keep list, the near-dup drop list and the contaminated id list
    join in as markers, and one conditional aggregate + ``stack`` emits
    the six rows.  Result: one corpus pass + three id-list joins where
    there were six branch re-executions.  The former drop_ids /
    contaminated persists are gone — each list is consumed exactly once
    now, and the remaining multi-consumer subtrees (keep1, the LSH
    candidate list) are shared by AQE runtime stage reuse, which an
    interleaved A/B measured faster than explicit caches."""
    from ..operators.dedup import (
        connected_components,
        minhash_verified_pairs,
        shingle_hashes,
    )

    d = table(spark, sf_dir, "documents")

    # stage 2 input for the near-dup chain: exact dedup keyed on the sha2
    # digest so the shuffle carries 32 bytes/row instead of document bodies
    # (dedup_exact_hash's 100 TB shape; the oracle groups by text, identical
    # modulo a 2^-128 collision).  The survivor id list is consumed by three
    # plan branches (the signature and verify-candidate subtrees inside
    # minhash_verified_pairs, plus the k1 flag join below) but deliberately
    # NOT persisted: AQE's runtime stage reuse shares the aggregate's
    # exchange across the branches, and an explicit cache measured slower
    # (same finding as minhash_verified_pairs' candidate list — r15 A/B).
    keep1 = (
        d.groupBy(F.sha2("text", 256))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s1 = d.join(maybe_broadcast(keep1), "doc_id", "leftsemi")

    # stage 3: MinHash-LSH candidates -> exact verify -> components -> drop
    # non-representatives — the SAME operator dedup_minhash_verified runs
    # (minhash_verified_pairs: one shared implementation, so band/threshold
    # tuning can never diverge between the standalone query and the funnel),
    # restricted to the exact-dedup survivors
    pairs = minhash_verified_pairs(
        s1, "text", "doc_id", n=_SHINGLE_N, threshold=0.8, max_bucket_size=1024
    ).select("id_a", "id_b")
    drop = connected_components(pairs).filter(F.col("rep_id") != F.col("doc_id"))
    drop_ids = drop.select("doc_id")

    # stage 4: eval decontam — drop the eval split itself and any training doc
    # sharing a distinct 4-gram with it (eval grams from the FULL corpus: the
    # held-out set is fixed, not subject to upstream dedup).  r15: grams are
    # xxhash64'd 16-byte keys (the dedup family's accepted-collision-odds
    # convention) and the per-doc gram distinct is skipped — semi-join
    # membership is duplicate-invariant, so the only distincts left are the
    # small eval-gram set and the contaminated id list.
    gr4 = shingle_hashes(d, "text", "doc_id", n=_E2E_DECON_N, dedup=False)
    is_eval = (F.col("id") % _E2E_EVAL_MOD) == _E2E_EVAL_RES
    ev_grams = gr4.filter(is_eval).select("h").distinct()
    # both sides below scale with the corpus (eval grams with the eval split,
    # the contaminated id set with the training split) — size-gated hints only
    contaminated = (
        gr4.filter(~is_eval)
        .join(maybe_broadcast(ev_grams), "h", "leftsemi")
        .select(F.col("id").alias("doc_id"))
        .distinct()
    )

    # per-doc stage-survival flags on a NARROW frame (no text): k1 marks the
    # exact-dedup keep set via the cached keep1 id list — no second sha2
    # pass over the corpus
    flags = (
        d.select("doc_id", "n_chars", "lang", "source")
        .join(
            maybe_broadcast(keep1.withColumn("kept", F.lit(True))),
            "doc_id",
            "left",
        )
        .join(
            maybe_broadcast(drop_ids.withColumn("dropped", F.lit(True))),
            "doc_id",
            "left",
        )
        .join(
            maybe_broadcast(contaminated.withColumn("contam", F.lit(True))),
            "doc_id",
            "left",
        )
    )
    k1 = F.col("kept").isNotNull()
    k2 = k1 & F.col("dropped").isNull()
    k3 = (
        k2
        & ((F.col("doc_id") % _E2E_EVAL_MOD) != _E2E_EVAL_RES)
        & F.col("contam").isNull()
    )
    k4 = k3 & (F.col("n_chars") >= _E2E_MIN_CHARS) & F.col("lang").isin(*_E2E_LANGS)
    k5 = k4 & (
        ((F.col("doc_id") % _HASH_P) * F.lit(_HASH_K)) % 1000 < F.expr(_PERMILLE_SQL)
    )

    stages = [
        ("1_input", F.lit(True)),
        ("2_exact_dedup", k1),
        ("3_near_dedup", k2),
        ("4_decontam", k3),
        ("5_quality", k4),
        ("6_mixture", k5),
    ]
    aggs = []
    for i, (_, flag) in enumerate(stages):
        aggs.append(F.count(F.when(flag, True)).alias(f"c{i}"))
        aggs.append(
            F.coalesce(F.sum(F.when(flag, F.col("doc_id"))), F.lit(0))
            .cast("bigint")
            .alias(f"s{i}")
        )
    stack_args = ", ".join(
        f"'{name}', c{i}, s{i}" for i, (name, _) in enumerate(stages)
    )
    return flags.agg(*aggs).selectExpr(
        f"stack({len(stages)}, {stack_args}) AS (stage, n_docs, id_checksum)"
    )


# Epoch-shuffle constants: a second odd multiplier and a prime modulus give a
# full-period permutation-ish ordering independent of the sampling hash; the
# key reduces mod the prime before multiplying (same int64-overflow guard as
# _HASH_K — raw id * K overflows past ~4e9 ids).
_SHUF_K = 2246822519
_SHUF_M = 1000003


@query(
    "sample_shuffle_order",
    oracle=f"""
    SELECT doc_id, shuffle_pos FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY ((doc_id % {_SHUF_M}) * {_SHUF_K}) % {_SHUF_M}, doc_id)
                   AS shuffle_pos
        FROM documents
    ) WHERE shuffle_pos <= 100
    """,
)
def sample_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: global training order = sort by a
    multiplicative hash of the row key (reproducible across retries, unlike
    rand()).  At 100 TB the orderBy is a range-partitioned sort whose output
    IS the shard layout — here the first 100 positions are emitted, so the
    plan collapses to TakeOrderedAndProject (no global sort materialized).
    """
    d = table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", (((F.col("doc_id") % _SHUF_M) * _SHUF_K) % _SHUF_M).alias("hk")
    )
    head = hashed.orderBy("hk", "doc_id").limit(100)
    w = Window.orderBy("hk", "doc_id")
    return head.withColumn("shuffle_pos", F.row_number().over(w)).select(
        "doc_id", "shuffle_pos"
    )


# DuckDB twin: near-dup pairs (the shared shingle-CTE builder, jaccard >=
# 0.8) rolled up to the canonicalized source-pair matrix.
_DUP_BY_SOURCE_ORACLE = f"""
WITH {shingle_pair_cte_sql(_SHINGLE_N)}, {jaccard_pairs_cte_sql(0.8)}
SELECT least(da.source, db.source) AS source_lo,
       greatest(da.source, db.source) AS source_hi,
       CAST(count(*) AS BIGINT) AS n_dup_pairs
FROM pairs
JOIN documents da ON da.doc_id = id_a
JOIN documents db ON db.doc_id = id_b
GROUP BY 1, 2
"""


@query("dedup_rate_by_source", oracle=_DUP_BY_SOURCE_ORACLE)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain duplication matrix: near-dup pairs (0.8 Jaccard, exact
    verification) rolled up by canonicalized source pair — the first
    question after a dedup run ("which domains mirror each other?"), and
    the input to per-domain crawl-priority decisions.

    Same hashed-shingle inverted-index pair join as dedup_ngram_jaccard;
    the roll-up joins the (tiny) pair set back to the corpus for its two
    source labels, so the added cost over the pair scan is two key joins of
    |pairs| rows."""
    from ..operators.dedup import jaccard_pairs

    d = table(spark, sf_dir, "documents")
    sh = shingle_hashes(d, "text", "doc_id", n=_SHINGLE_N)
    # r16: prefix-filtered pair generation (see dedup_ngram_jaccard)
    pairs = jaccard_pairs(sh, 0.8, prefix=True).select("id_a", "id_b")
    src = d.select("doc_id", "source")
    return (
        pairs.join(src.withColumnsRenamed({"doc_id": "id_a", "source": "src_a"}), "id_a")
        .join(src.withColumnsRenamed({"doc_id": "id_b", "source": "src_b"}), "id_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    )


# ---------------------------------------------------------------------------
# r07 additions: the two ops between "curated corpus" and "training job" —
# shard layout (token-budgeted output files) and per-language quality-cutoff
# calibration.
# ---------------------------------------------------------------------------

#: Tokens per output shard for shard_by_token_budget (fixture-sized; a real
#: run uses ~100M-1B tokens/shard — the math is scale-free).
_SHARD_TOKENS = 20_000


@query(
    "shard_by_token_budget",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
               ((doc_id % {_SHUF_M}) * {_SHUF_K}) % {_SHUF_M} AS pos
        FROM documents
    ), c AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY pos, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_tokens_before
        FROM t
    )
    SELECT doc_id, n_tokens, cum_tokens_before,
           CAST(cum_tokens_before // {_SHARD_TOKENS} AS BIGINT) AS shard_id
    FROM c
    """,
)
def shard_by_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted shard assignment: docs in deterministic epoch-shuffle
    order (sample_shuffle_order's multiplicative hash) are packed greedily
    into shards of ~_SHARD_TOKENS tokens — the layout step that turns a
    curated corpus into balanced training files.

    100 TB shape: a naive `SUM OVER (ORDER BY ...)` is a SINGLE-PARTITION
    window — the whole corpus through one task.  This plan is the two-phase
    scan instead (the shared ``_global_token_cumsum`` builder, r13 — also
    the shard stage of pipeline_ingest_end_to_end, so the two cannot
    drift), cumsum WITHIN fixed order-key ranges plus broadcast prefix
    offsets — the global running total without a global window.  The
    plan-shape test pins that every corpus-sized window is partitioned."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_arr("text")
    base = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (((F.col("doc_id") % _SHUF_M) * _SHUF_K) % _SHUF_M).alias("pos"),
    )
    return _global_token_cumsum(base).select(
        "doc_id",
        "n_tokens",
        "cum_tokens_before",
        F.floor(F.col("cum_tokens_before") / F.lit(_SHARD_TOKENS))
        .cast("bigint")
        .alias("shard_id"),
    )


def _global_token_cumsum(base: DataFrame, n_ranges: int = 32) -> DataFrame:
    """Global running token total WITHOUT a single-partition window (the
    shard_by_token_budget two-phase plan, factored r13 so the pipeline
    query reuses the identical machinery).  ``base`` must carry (doc_id,
    n_tokens, pos) with pos a uniform order key in [0, _SHUF_M); the
    result adds ``cum_tokens_before`` = sum of n_tokens over all rows
    strictly before this one in (pos, doc_id) order.

    100 TB shape: a naive `SUM OVER (ORDER BY ...)` pulls the whole corpus
    through one task.  Instead: deterministic fixed ranges of the order-key
    space (pid — unlike spark_partition_id over repartitionByRange, whose
    sampled boundaries can diverge if the exchange is recomputed per DAG
    branch), per-range subtotals (one tiny row per range), prefix-sum those
    on the n_ranges-row frame, broadcast the offsets back, and cumsum
    WITHIN each range."""
    # phase 1: deterministic range id from the (uniform multiplicative-hash)
    # order key — pid order == global pos order by construction
    parts = base.withColumn(
        "pid",
        F.floor(F.col("pos") / F.lit((_SHUF_M + n_ranges - 1) // n_ranges)).cast(
            "int"
        ),
    )
    # phase 2: per-range subtotals -> prefix offsets (a n_ranges-row frame:
    # the only unpartitioned window runs over ~32 rows)
    per = parts.groupBy("pid").agg(F.sum("n_tokens").alias("ptoks"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = per.select(
        "pid", F.coalesce(F.sum("ptoks").over(w_off), F.lit(0)).alias("off")
    )
    # phase 3: intra-partition cumsum + broadcast offset = global cumsum
    w_in = (
        Window.partitionBy("pid")
        .orderBy("pos", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = (
        F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)) + F.col("off")
    ).cast("bigint")
    return parts.join(F.broadcast(offs), "pid").withColumn(
        "cum_tokens_before", cum_before
    )  # offs: one row per range


#: Context length for the pipeline's sequence-packing stage (pack_sequences'
#: 2048-token training window).
_PIPE_SEQ_LEN = 2048

_PIPE_ORACLE = f"""
WITH keep1 AS (
    SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
), s1 AS (
    SELECT d.* FROM documents d JOIN keep1 USING (doc_id)
), s2 AS (
    SELECT * FROM s1
    WHERE n_chars >= {_E2E_MIN_CHARS} AND lang IN {str(tuple(_E2E_LANGS))}
), t AS (
    SELECT doc_id,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
           ((doc_id % {_SHUF_M}) * {_SHUF_K}) % {_SHUF_M} AS pos
    FROM s2
), c AS (
    SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY pos, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cb
    FROM t
), laid AS (
    SELECT doc_id, n_tokens,
           cb // {_SHARD_TOKENS} AS shard_id,
           (cb % {_SHARD_TOKENS}) // {_PIPE_SEQ_LEN} AS pack_id
    FROM c
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM laid GROUP BY shard_id
"""


@query("pipeline_ingest_end_to_end", oracle=_PIPE_ORACLE)
def pipeline_ingest_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole ingest in ONE DAG (VERDICT r12 #6): exact dedup -> quality
    gate -> deterministic epoch shuffle -> token-budgeted shard layout ->
    in-shard 2048-token sequence packing, emitting the per-shard MANIFEST
    (doc/token/pack counts + id checksum) a training job consumes.  This is
    the single submission a 100 TB run actually makes — curation decides
    WHAT survives (curation_end_to_end's funnel), this pipeline decides
    WHERE every survivor lands — and a green row value-checks the
    composition: the shard stage provably runs on the deduped, gated
    survivors in shuffle order, not on the raw corpus.

    Stage reuse (nothing re-implemented, so stages cannot drift from their
    standalone queries): exact dedup is curation_end_to_end's sha2-keyed
    keep-list; the quality gate shares its _E2E_* constants; the shuffle
    order is sample_shuffle_order's multiplicative hash; the global token
    cumsum is shard_by_token_budget's _global_token_cumsum builder
    (two-phase, no single-partition window); packing is pack_sequences'
    concat-and-chunk cut at 2048 tokens within each shard's budget window.

    Scale: one corpus scan into a 32-byte-key dedup shuffle, one semi join,
    a map-side gate, the two-phase cumsum (range-partitioned windows + one
    broadcast of 32 offset rows), and a final partial-agg shuffle keyed by
    shard_id whose output is one manifest row per shard (corpus_tokens /
    _SHARD_TOKENS rows — thousands at 100 TB, never corpus-sized)."""
    d = table(spark, sf_dir, "documents")
    # stage 1: exact dedup on the content digest (32-byte shuffle keys)
    keep1 = (
        d.groupBy(F.sha2("text", 256))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s1 = d.join(keep1, "doc_id", "leftsemi")
    # stage 2: quality gate (map-side; production swaps in a model score)
    s2 = s1.filter(
        (F.col("n_chars") >= _E2E_MIN_CHARS) & F.col("lang").isin(*_E2E_LANGS)
    )
    # stage 3: token sizing + deterministic epoch-shuffle order
    sized = s2.select(
        "doc_id",
        F.size(tokens_arr("text")).cast("bigint").alias("n_tokens"),
        (((F.col("doc_id") % _SHUF_M) * _SHUF_K) % _SHUF_M).alias("pos"),
    )
    # stage 4+5: global cumsum -> shard by token budget, pack within shard
    laid = _global_token_cumsum(sized).select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("cum_tokens_before") / F.lit(_SHARD_TOKENS))
        .cast("bigint")
        .alias("shard_id"),
        F.floor(
            (F.col("cum_tokens_before") % _SHARD_TOKENS) / F.lit(_PIPE_SEQ_LEN)
        )
        .cast("bigint")
        .alias("pack_id"),
    )
    return laid.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
        F.countDistinct("pack_id").alias("n_packs"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


#: Keep-fraction for the per-language quality calibration.
_CUTOFF_KEEP = 0.8


def _quality_score_sql() -> str:
    # One formula definition shared with text_quality's oracle (review r07):
    # here the features are interpolated as inline expressions over raw
    # `text` instead of CTE column names — numerically identical inputs.
    from ..operators.textstats import STOPWORDS, quality_score_sql

    stop_list = ", ".join(repr(w) for w in STOPWORDS["en"])
    score = quality_score_sql(
        n_toks=f"len({_TOKS_SQL})",
        n_stop=(
            f"len(list_filter({_TOKS_SQL}, "
            f"w -> list_contains([{stop_list}], lower(w))))"
        ),
        n_punct="length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))",
        n_digits="length(regexp_replace(text, '[^0-9]', '', 'g'))",
        n_chars="length(text)",
    )
    return f"""
        SELECT doc_id, lang,
               {score} AS q
        FROM documents
    """


@query(
    "quality_cutoff_per_lang",
    oracle=f"""
    WITH s AS ({_quality_score_sql()}),
    r AS (
        SELECT lang, q,
               row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM s
    ),
    cut AS (
        SELECT lang, q AS cutoff_score, CAST(n AS BIGINT) AS n_docs
        FROM r WHERE rn = CAST(ceil({_CUTOFF_KEEP} * n) AS BIGINT)
    )
    SELECT s.lang, max(cut.n_docs) AS n_docs, max(cut.cutoff_score) AS cutoff_score,
           CAST(count(*) FILTER (WHERE s.q >= cut.cutoff_score) AS BIGINT) AS n_kept
    FROM s JOIN cut ON cut.lang = s.lang
    GROUP BY s.lang
    """,
)
def quality_cutoff_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold calibration: per language, the EXACT score cutoff
    that keeps the top _CUTOFF_KEEP fraction of documents (ties kept, so
    n_kept >= ceil(keep*n)) — how a curation pipeline turns "keep the best
    80% per language" into a concrete filter constant, without a global
    magic number that over-prunes low-resource languages.

    Uses text_quality's composite score (same expression, bit-equal in both
    engines).  Scale: one per-lang window sort (partition key = lang, AQE
    skew-splits a dominant language) + a broadcast of the per-lang cutoff
    row back onto the score stream.  The exact-quantile window is the
    calibration-time choice; the ingest-time filter then applies the
    materialized constant map-side.  approx_percentile would avoid the sort
    but its cutoff is engine-specific — calibration wants a reproducible
    constant."""
    from ..operators.textstats import quality_features

    d = table(spark, sf_dir, "documents")
    # Persisted: both plan branches (the per-lang rank window and the
    # cutoff-join probe) consume the scored frame; without the cache the
    # regex-heavy quality features run twice over the corpus
    # (clearCache-between-queries lifetime, see curation_end_to_end).
    scored = d.select("doc_id", "lang", quality_features("text")[6]).persist()
    w_rank = Window.partitionBy("lang").orderBy(
        F.desc("quality_score"), "doc_id"
    )
    w_lang = Window.partitionBy("lang")
    ranked = scored.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count(F.lit(1)).over(w_lang)
    )
    cut = ranked.filter(
        F.col("rn") == F.ceil(F.lit(_CUTOFF_KEEP) * F.col("n")).cast("bigint")
    ).select(
        "lang",
        F.col("quality_score").alias("cutoff_score"),
        F.col("n").cast("bigint").alias("n_docs"),
    )
    # Conditional count, NOT filter-then-group: if a language's cutoff rank
    # lands on a NULL quality_score (possible once >1-keep of its docs have
    # NULL text — scores sort NULLS LAST under DESC in both engines), the
    # oracle still emits (lang, n_docs, NULL, 0); a pre-group filter would
    # drop the language entirely.  Non-NULL cutoffs count identically.
    return (
        scored.join(F.broadcast(cut), "lang")  # cut: one row per language
        .groupBy("lang")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("cutoff_score").alias("cutoff_score"),
            F.count(
                F.when(F.col("quality_score") >= F.col("cutoff_score"), F.lit(1))
            ).alias("n_kept"),
        )
    )


#: Temperature-mixture parameters: alpha < 1 upsamples small sources
#: relative to their natural share (the multilingual-pretraining trick);
#: the target corpus is 40% of the input.
_TEMP_ALPHA = 0.7
_TEMP_TARGET_FRAC = 0.4


@query(
    "sample_temperature_mixture",
    oracle=f"""
    WITH counts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
               sum(pow(n_docs, {_TEMP_ALPHA})) AS z
        FROM counts
    ), rates AS (
        SELECT source, n_docs,
               round(least(1.0, pow(n_docs, {_TEMP_ALPHA}) / z
                          * ({_TEMP_TARGET_FRAC} * n_total) / n_docs), 6) AS rate
        FROM counts CROSS JOIN tot
    )
    SELECT r.source, r.n_docs, r.rate,
           CAST(count(*) FILTER (
               WHERE ((d.doc_id % {_HASH_P}) * {_HASH_K}) % 1000000
                     < CAST(floor(r.rate * 1000000) AS BIGINT)
           ) AS BIGINT) AS n_sampled
    FROM documents d JOIN rates r ON r.source = d.source
    GROUP BY r.source, r.n_docs, r.rate
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling: per-source rates proportional to
    n^alpha (alpha = _TEMP_ALPHA) renormalized to a _TEMP_TARGET_FRAC
    fraction of the input corpus, capped at 1.0 — small sources keep a larger share of
    themselves than big ones (the standard multilingual-pretraining
    rebalance), and the per-doc keep decision is the same deterministic
    multiplicative hash as sample_stratified (reproducible under retries
    and speculative execution, unlike rand()).

    Scale shape: per-source counts are one tiny aggregate; the rate table
    (one row per source) broadcasts back onto the corpus scan, so sampling
    is a map-side decision — the only full-corpus exchanges are the two
    per-source aggregations.  The rate is rounded to 6 decimals at
    definition in BOTH engines: its normalizer z is a float SUM whose
    accumulation order is engine- (and run-) dependent in the low bits, so
    the raw double is not comparable — the same convention as the cosine
    oracles (pow sums don't land on exact decimal halves, so the rounding
    itself is boundary-safe); predicate and emitted column share the
    rounded value."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.pow("n_docs", F.lit(_TEMP_ALPHA))).alias("z"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(  # tot: single row
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(
            F.least(
                F.lit(1.0),
                F.pow("n_docs", F.lit(_TEMP_ALPHA))
                / F.col("z")
                * (F.lit(_TEMP_TARGET_FRAC) * F.col("n_total"))
                / F.col("n_docs"),
            ),
            6,
        ).alias("rate"),
    )
    keep = ((F.col("doc_id") % _HASH_P) * _HASH_K) % 1000000 < F.floor(
        F.col("rate") * 1000000
    ).cast("bigint")
    return (
        d.join(maybe_broadcast(rates), "source")
        .groupBy("source", "n_docs", "rate")
        .agg(F.count(F.when(keep, 1)).alias("n_sampled"))
        .select("source", "n_docs", "rate", "n_sampled")
    )


#: Inference batch padding granularity (tokens) for pack_length_buckets.
_PAD_MULT = 64


@query(
    "pack_length_buckets",
    oracle=f"""
    WITH t AS (
        SELECT CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents
    ), b AS (
        SELECT n_tokens,
               CAST(greatest(ceil(n_tokens / {_PAD_MULT}.0), 1) * {_PAD_MULT} AS BIGINT)
                   AS bucket_len
        FROM t
    )
    SELECT bucket_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(count(*) * bucket_len AS BIGINT) AS padded_tokens,
           1 - sum(n_tokens) / CAST(count(*) * bucket_len AS DOUBLE) AS waste_ratio
    FROM b GROUP BY bucket_len
    """,
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference batch packing profile: documents bucketed by padded length
    (next multiple of _PAD_MULT tokens, minimum one pad block) with the
    padding waste per bucket — the serving-side complement of
    pack_sequences (which packs for TRAINING); the waste_ratio column is
    what decides whether to re-bucket or sort-by-length a corpus before
    batch inference.  One map-side bucket computation + one aggregate; the
    waste ratio is the raw IEEE quotient (never round an integer-quotient
    ratio)."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_arr("text")
    n_tokens = F.size(toks).cast("bigint")
    bucket = (
        F.greatest(F.ceil(n_tokens / F.lit(float(_PAD_MULT))), F.lit(1)) * _PAD_MULT
    ).cast("bigint")
    return (
        d.select(n_tokens.alias("n_tokens"), bucket.alias("bucket_len"))
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.count(F.lit(1)) * F.col("bucket_len")).alias("padded_tokens"),
            (
                F.lit(1)
                - F.sum("n_tokens")
                / (F.count(F.lit(1)) * F.col("bucket_len")).cast("double")
            ).alias("waste_ratio"),
        )
    )


#: Exact-k per-source sample size for sample_reservoir_per_source.
_RESERVOIR_K = 10


@query(
    "sample_reservoir_per_source",
    oracle=f"""
    SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY ((doc_id % {_SHUF_M}) * {_SHUF_K}) % {_SHUF_M}, doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= {_RESERVOIR_K}
    """,
)
def sample_reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-domain sample: exactly _RESERVOIR_K
    docs per source, chosen by multiplicative-hash order — the
    reproducible analogue of per-group reservoir sampling (rand()-based
    reservoirs change under retries/speculation; this one is a pure
    function of the keys).  The fixed-k complement of sample_stratified's
    rate-based sampling — what an eval-set builder uses when every domain
    must contribute the same row count.

    Scale: one shuffle on source; the per-source sort is a top-k inside
    the window (rank <= k prunes early), and AQE skew-splits a dominant
    source."""
    d = table(spark, sf_dir, "documents")
    hk = ((F.col("doc_id") % _SHUF_M) * _SHUF_K) % _SHUF_M
    w = Window.partitionBy("source").orderBy(hk.asc(), F.col("doc_id").asc())
    return (
        d.select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _RESERVOIR_K)
    )


@query(
    "qa_schema_profile",
    oracle="""
    SELECT 'doc_id' AS col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(doc_id) AS BIGINT) AS n_nonnull,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct
    FROM documents
    UNION ALL
    SELECT 'text', CAST(count(*) AS BIGINT), CAST(count(text) AS BIGINT),
           CAST(count(DISTINCT text) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'lang', CAST(count(*) AS BIGINT), CAST(count(lang) AS BIGINT),
           CAST(count(DISTINCT lang) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'source', CAST(count(*) AS BIGINT), CAST(count(source) AS BIGINT),
           CAST(count(DISTINCT source) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'n_chars', CAST(count(*) AS BIGINT), CAST(count(n_chars) AS BIGINT),
           CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents
    """,
)
def qa_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profile: per-column row/non-null/distinct counts over
    documents — the first QA pass a pipeline runs on a new delivery
    (null-rate regressions and cardinality collapses are the two most
    common upstream breakages).  ONE scan: all per-column aggregates fold
    into a single groupBy-less aggregation, then unpivot driver-side into
    the per-column report rows (5 literals — no second scan, no explode of
    the corpus).

    At 100 TB exact count(DISTINCT text) is the expensive term — swap in
    approx_count_distinct for dashboards (the exact/approx pairing used
    throughout); the exact form stays for delivery audits."""
    d = table(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
        ]
    one = d.agg(*aggs)
    reports = [
        one.select(
            F.lit(c).alias("col"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col(f"nn_{c}").cast("bigint").alias("n_nonnull"),
            F.col(f"nd_{c}").cast("bigint").alias("n_distinct"),
        )
        for c in cols
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionAll(r)
    return out


#: ln(k)-normalized Shannon entropy over a (c, t) category-count relation —
#: the SINGLE oracle-side definition of the normalized-entropy audit
#: (review r08: qa_preflight_report restated the formula; a smoothing or
#: -0.0-guard tweak would have silently decoupled the panel from the
#: entropy query it summarizes).  The trailing +0.0 clears IEEE -0.0.
_ENT_NORM_SQL = """round(CASE WHEN count(*) > 1
                      THEN -sum((c / t) * ln(c / t)) / ln(count(*))
                      ELSE 0.0 END, 6) + 0.0"""


def _category_counts_sql(tbl: str, col: str) -> str:
    """Oracle-side (c, t) category-count relation the entropy folds run on."""
    return f"""SELECT CAST(count(*) AS BIGINT) AS c,
               CAST(sum(count(*)) OVER () AS BIGINT) AS t
        FROM {tbl} GROUP BY {col}"""


def _category_counts(df: DataFrame, col: str) -> DataFrame:
    """Spark twin of :func:`_category_counts_sql`: the tiny (c, t)
    category-count frame both entropy audits fold over (one map-side-
    combined count per category; the window total runs over categories,
    never rows)."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("c"))
        .select("c", F.sum("c").over(Window.partitionBy()).alias("t"))
    )


def _entropy_norm_agg():
    """Spark twin of ``_ENT_NORM_SQL``: the ln(k)-normalized entropy
    aggregate over a (c, t) frame, rounded with the -0.0 guard."""
    p = F.col("c") / F.col("t")
    return (
        F.round(
            F.when(
                F.count(F.lit(1)) > 1,
                -F.sum(p * F.log(p)) / F.log(F.count(F.lit(1)).cast("double")),
            ).otherwise(0.0),
            6,
        )
        + F.lit(0.0)
    )


def _entropy_block(tbl: str, col: str) -> str:
    """One oracle block: Shannon entropy of a categorical column."""
    return f"""
    SELECT '{tbl}' AS tbl, '{col}' AS col,
           CAST(count(*) AS BIGINT) AS n_values,
           round(-sum((c / t) * ln(c / t)), 6) + 0.0 AS entropy,
           {_ENT_NORM_SQL} AS normalized
    FROM (
        {_category_counts_sql(tbl, col)}
    )
    """


@query(
    "qa_column_entropy",
    oracle=" UNION ALL ".join(
        _entropy_block(t, c)
        for t, c in (
            ("documents", "lang"),
            ("documents", "source"),
            ("events", "event_type"),
        )
    ),
)
def qa_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-balance audit: Shannon entropy (and its ln(k)-normalized
    form in [0,1]) of the key mixture columns — language and domain of the
    corpus, type of the event stream.  The one-number summary mixture
    design watches per delivery: normalized ~1 means balanced, a drop means
    one category is swallowing the corpus (and the same number predicts
    groupBy skew on that column — the aggregate cousin of ``qa_key_skew``).

    Scale: one map-side-combined count per category per column; the entropy
    fold runs over the tiny category table (the window-total inside is over
    category counts, never rows)."""
    out = None
    for tbl, col in (
        ("documents", "lang"),
        ("documents", "source"),
        ("events", "event_type"),
    ):
        counts = _category_counts(table(spark, sf_dir, tbl), col)
        p = F.col("c") / F.col("t")
        block = counts.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n_values"),
            (F.round(-F.sum(p * F.log(p)), 6) + F.lit(0.0)).alias("entropy"),
            _entropy_norm_agg().alias("normalized"),
        )
        out = block if out is None else out.unionAll(block)
    return out


@query(
    "qa_preflight_report",
    oracle=f"""
    WITH base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
               CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null_text,
               CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS total_tokens
        FROM documents
    ), ent AS (
        SELECT {_ENT_NORM_SQL} AS source_entropy_norm
        FROM (
        {_category_counts_sql("documents", "source")}
    )
    )
    SELECT n_docs,
           (n_docs - n_distinct_texts) / n_docs AS exact_dup_rate,
           n_null_text / n_docs AS null_text_rate,
           total_tokens,
           total_tokens / n_docs AS mean_doc_tokens,
           source_entropy_norm
    FROM base, ent
    """,
)
def qa_preflight_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row go/no-go panel before a training run launches against a
    delivery: corpus size, exact-duplicate rate, NULL-text rate, total
    token budget, mean document length, and domain-mixture balance
    (normalized source entropy) — the scalar signals whose drift means
    \"stop and look\" (dup-rate spike = re-crawl loop; token total short =
    truncated delivery; entropy drop = one domain swallowed the mix).

    Scale: ONE corpus scan computes everything except the entropy fold
    (a per-source count whose fold runs over the category table); at
    100 TB swap count(DISTINCT text) for count(DISTINCT sha2(text)) so the
    distinct shuffle carries 32 B digests.  All rates are raw
    integer-quotient IEEE divisions."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_arr("text")
    base = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_distinct_texts"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("n_null_text"),
        F.sum(F.size(toks)).alias("total_tokens"),
    )
    ent = _category_counts(d, "source").agg(
        _entropy_norm_agg().alias("source_entropy_norm")
    )
    return base.crossJoin(F.broadcast(ent)).select(  # ent: single row
        "n_docs",
        ((F.col("n_docs") - F.col("n_distinct_texts")) / F.col("n_docs")).alias(
            "exact_dup_rate"
        ),
        (F.col("n_null_text") / F.col("n_docs")).alias("null_text_rate"),
        "total_tokens",
        (F.col("total_tokens") / F.col("n_docs")).alias("mean_doc_tokens"),
        "source_entropy_norm",
    )


@query(
    "qa_partition_checksums",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           bit_xor(CAST('0x' || substring(md5(text), 1, 15) AS BIGINT))
               AS content_xor,
           bit_xor(CAST('0x' || substring(
               md5(concat(CAST(doc_id AS VARCHAR), ':', text)), 1, 15)
               AS BIGINT)) AS keyed_xor
    FROM documents GROUP BY source
    """,
)
def qa_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delivery-integrity checksums: per source partition, the row count
    plus two ORDER-INSENSITIVE content digests — an XOR fold of the shared
    60-bit md5 of the text (detects any changed/missing/extra document)
    and of doc_id:text (additionally detects re-keying).  This is the
    cheap handshake two sides of a 100 TB transfer compare per partition
    before anyone re-reads data — and the first artifact you diff when a
    downstream hash-mismatch appears.

    Scale: pure map-side hashing + an XOR aggregate (commutative,
    overflow-free) — one exchange keyed on source, constant bytes per
    group.  NULL-text rows: the plain content digest skips them in both
    engines (md5(NULL) IS NULL), while the keyed digest folds them in as
    md5('<id>:') on both sides (DuckDB concat skips NULL args; the Spark
    side coalesces to '' to match).  The 60-bit md5 prefix is the
    repo's standard cross-engine hash (see ``lsh_minhash_candidates_md5``)."""
    d = table(spark, sf_dir, "documents")
    h_text = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    # coalesce(text, '') keeps NULL-text rows IN the keyed digest, matching
    # DuckDB concat() which skips NULL args (md5('7:')); Spark F.concat
    # would return NULL and bit_xor would silently drop the row.  Non-NULL
    # rows are byte-identical either way.
    h_keyed = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.coalesce(F.col("text"), F.lit("")),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(h_text).alias("content_xor"),
        F.bit_xor(h_keyed).alias("keyed_xor"),
    )

@query(
    "sample_downweight_duplicates",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               count(*) OVER (PARTITION BY text) AS n_copies
        FROM documents
    )
    SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies,
           1.0 / n_copies AS weight
    FROM g
    """,
)
def sample_downweight_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup for training mixtures: instead of DROPPING exact
    duplicates, every document gets sampling weight 1/n_copies so each
    distinct text contributes one document-equivalent in expectation — the
    gentler alternative when duplication frequency itself carries signal
    (popular licenses, boilerplate you still want once).

    Scale: one partitioned window keyed on sha2(text) (32 B exchange keys;
    the oracle partitions by the text itself — same groups barring a
    SHA-256 collision).  ``weight`` is a raw 1/n IEEE division, never
    rounded (catalog rule)."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2(F.col("text"), 256))
    return d.select(
        "doc_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_copies"),
        (F.lit(1.0) / F.count(F.lit(1)).over(w)).alias("weight"),
    )


@query(
    "sample_quality_curriculum",
    oracle=f"""
    WITH s AS ({_quality_score_sql()}),
    b AS (
        SELECT doc_id, q,
               CAST(ntile(10) OVER (ORDER BY q DESC, doc_id) AS BIGINT) AS stage
        FROM s
    )
    SELECT b.stage, b.doc_id,
           CAST(('0x' || substring(md5(t.text), 1, 12)) AS BIGINT) AS shuffle_key
    FROM b JOIN documents t USING (doc_id)
    ORDER BY stage, shuffle_key, doc_id LIMIT 100
    """,
)
def sample_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: documents are staged into quality deciles
    (stage 1 = cleanest, trained first) and SHUFFLED within each stage by a
    content-hash key — the standard quality-curriculum schedule (stage-wise
    ordering preserves the curriculum, in-stage hashing kills the
    source/crawl-order correlation that sequential doc_ids carry).  Returns
    the head of the schedule; a pipeline writes the full frame partitioned
    by stage.

    Parity: the stage is exact ntile(10) over (quality DESC, doc_id) — the
    shared quality-score formula, unrounded, identical bit-for-bit in both
    engines — and the shuffle key is the first 48 bits of md5(text), the
    catalog's portable content hash.

    Scale: the decile is the grid-partitioned two-phase global rank
    (``operators/rankops.py`` — no single-task sort of the corpus), the
    in-stage shuffle is a pure per-row projection, and the emitted head is
    a TakeOrdered top-k, not a global sort."""
    from ..operators.rankops import global_ntile
    from ..operators.textstats import quality_features

    d = table(spark, sf_dir, "documents")
    sk = F.conv(F.substring(F.md5("text"), 1, 12), 16, 10).cast("bigint")
    # Persisted: the decile's two prep jobs and the final sort would each
    # recompute the quality features otherwise (rankops' prescribed
    # pattern; clearCache-between-queries lifetime).
    scored = d.select(
        "doc_id", sk.alias("shuffle_key"), quality_features("text")[6]
    ).persist()
    staged = global_ntile(
        scored, "quality_score", 10, "doc_id", descending=True, out="stage"
    )
    return (
        staged.select("stage", "doc_id", "shuffle_key")
        .orderBy("stage", "shuffle_key", "doc_id")
        .limit(100)
    )


#: Target-encoding constants: the "high quality" label threshold (chars)
#: and the additive-smoothing pseudo-count m (encoded rate shrinks toward
#: the corpus rate for thin categories).
_TENC_MIN_CHARS = 300
_TENC_M = 25.0


@query(
    "feat_target_encode",
    oracle=f"""
    WITH t AS (
        SELECT source,
               CASE WHEN n_chars >= {_TENC_MIN_CHARS} THEN 1.0 ELSE 0.0 END AS y
        FROM documents
    ), g AS (
        SELECT sum(y) AS sy, count(*) AS n FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(y) / count(*), 6) AS raw_rate,
           round((sum(y) + {_TENC_M} * (SELECT sy / n FROM g))
                 / (count(*) + {_TENC_M}), 6) AS encoded
    FROM t GROUP BY source
    """,
)
def feat_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of a categorical feature: each ``source``
    becomes the additively-smoothed rate of a binary target (here the
    high-quality indicator n_chars >= _TENC_MIN_CHARS) — the standard
    leakage-safe categorical featurizer for training a quality/routing
    classifier over corpus metadata, where thin categories must shrink
    toward the corpus prior instead of memorizing noise:
    encoded = (sum_y + m * prior) / (n + m).

    Parity: the target is an exact 0/1 double (CASE on an integer column;
    NULL n_chars falls to the ELSE like the oracle), so every sum is an
    exact small integer in IEEE doubles and the two divisions are
    bit-identical; only the final rates are rounded.

    Scale: one map-side-combined aggregate per source (category
    cardinality, not corpus rows) plus a single-row broadcast prior — the
    same build-small-then-broadcast shape as BM25's corpus stats.  NULL
    sources form their own category in both engines."""
    d = table(spark, sf_dir, "documents")
    y = F.when(F.col("n_chars") >= _TENC_MIN_CHARS, 1.0).otherwise(0.0)
    t = d.select("source", y.alias("y"))
    prior = t.agg((F.sum("y") / F.count(F.lit(1))).alias("prior"))
    per = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("y").alias("sy")
    )
    return per.crossJoin(F.broadcast(prior)).select(  # prior: single row
        "source",
        "n_docs",
        F.round(F.col("sy") / F.col("n_docs"), 6).alias("raw_rate"),
        F.round(
            (F.col("sy") + _TENC_M * F.col("prior"))
            / (F.col("n_docs") + _TENC_M),
            6,
        ).alias("encoded"),
    )


#: Observed-metrics gate: minimum characters for a document to pass the
#: single-pass curation filter whose scan the metrics piggyback on.
_OBS_GATE_MIN_CHARS = 200


def _observed_gate_plan(spark: SparkSession, sf_dir: str, name: str):
    """The REAL scan->observe->gate plan qa_observed_metrics executes,
    returned lazily (no action) so the catalog plan-invariant sweep can
    assert on it: the query function itself runs the job eagerly and
    returns a LocalTableScan, which would otherwise exempt the gate plan
    from the CartesianProduct/SinglePartition/window invariants
    (ADVICE r11).  Returns (watched_and_gated_df, observation).

    ``name`` must be UNIQUE per attached-but-never-run build: an
    Observation is routed metrics by name, and a stale same-named
    observation attached by a plan-only probe hijacks the routing for
    the next REAL run in the session — observed as Observation.getRow
    blocking forever in the full pytest suite (r12).  Plan-shape callers
    pass a throwaway name; only the query function uses the real one.
    ``name`` is REQUIRED (no default) so a future plan-only caller cannot
    silently inherit the real name and reproduce the hang (ADVICE r12)."""
    d = table(spark, sf_dir, "documents")
    obs = Observation(name)
    empty = F.col("text").isNull() | (F.length("text") == 0)
    watched = d.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        # count(when(...)) not sum(when/otherwise): count over zero rows is
        # 0, matching the oracle's count(*) FILTER on an empty corpus
        # (ADVICE r11: the old sum came back None and int(None) crashed)
        F.count(F.when(empty, F.lit(1))).alias("n_empty"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    gated = watched.where(
        (F.col("n_chars") >= _OBS_GATE_MIN_CHARS) & F.col("lang").isNotNull()
    )
    return gated, obs


@query(
    "qa_observed_metrics",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE text IS NULL OR length(text) = 0)
                AS BIGINT) AS n_empty,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(count(*) FILTER (WHERE n_chars >= {_OBS_GATE_MIN_CHARS}
                                  AND lang IS NOT NULL)
                AS BIGINT) AS n_pass
    FROM documents
    """,
)
def qa_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass observed QA metrics (``pyspark.sql.Observation``):
    full-input ingest statistics collected by a ``CollectMetrics`` node
    riding the SAME scan that executes the curation gate, plus the gate's
    survivor count from that one action.  This is how a production
    pipeline gets its data-quality dashboard at 100 TB: the metrics are
    computed as rows stream through the already-running filter job — no
    second scan, no extra shuffle, and the only driver-side data is one
    metrics row.

    The observe node sits ABOVE the scan but BELOW the gate, so n_docs /
    n_empty / char stats describe the full input while ``n_pass`` counts
    gate survivors — the before/after pair a curation report needs from a
    single job.

    Parity: all six metrics are exact integer aggregates (count / integer
    sum / min / max), so the DuckDB mirror is bit-identical; the internal
    action is a survivor ``count()`` (bounded driver data by
    construction).  Non-SQL surface under test: ``DataFrame.observe`` +
    ``Observation.get`` — the one Spark API where an aggregate costs zero
    extra passes because it evaluates en route.

    Scale: exactly one scan of documents; CollectMetrics folds map-side
    per task and merges one tiny row per task on the driver (same traffic
    as any scalar agg's final step).  The returned DataFrame is a local
    one-row relation.

    Empty-input parity (ADVICE r11): counts come back 0 and the sum/min/
    max metrics come back None -> emitted as NULLs, exactly the oracle's
    aggregates over zero rows (count(*) FILTER = 0, sum/min/max = NULL)."""
    gated, obs = _observed_gate_plan(spark, sf_dir, name="qa_observed_metrics")
    n_pass = gated.count()
    m = obs.get
    fields = ["n_docs", "n_empty", "total_chars", "min_chars", "max_chars"]
    row = tuple(
        int(m[f]) if m[f] is not None else None for f in fields
    ) + (int(n_pass),)
    return spark.createDataFrame(
        [row],
        schema=(
            "n_docs bigint, n_empty bigint, total_chars bigint, "
            "min_chars bigint, max_chars bigint, n_pass bigint"
        ),
    )
