"""Deduplication query surface over ``documents`` (LLM-pipeline north star).

- ``dedup_exact`` / ``dedup_exact_hash``: oracle-checked exact dedup.
- ``dedup_ngram_jaccard``: exact near-dup pairs (inverted-index join),
  fully oracle-checked — this is also the verifier the LSH paths funnel into.
- ``dedup_minhash_verified``: MinHash/LSH candidates -> exact-Jaccard verify;
  with (k=32, bands=8) collision probability at the 0.8 threshold is ~0.985
  and the fixture pair distribution is sharply bimodal, so the verified output
  equals the exact pair set and shares its oracle.
- ``lsh_minhash_candidates`` / ``lsh_simhash64``: engine-specific hashes ->
  rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import maybe_broadcast, shuffle_partitions, spread
from ..io import table
from ..operators.dedup import (
    connected_components,
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_hashes,
    shingles,
    simhash,
)
from ..operators.text import JACCARD_SCORE_SQL, TOKS_SQL, shingle_pair_cte_sql
from .catalog import query

_SHINGLE_N = 3
_THRESHOLD = 0.8
# hot-bucket cap for the LSH band buckets: far above any healthy fixture
# bucket, bounds the O(size²) pair expansion on degenerate inputs (thousands
# of identical-prefix docs landing in one bucket)
_MAX_BUCKET = 1024

# DuckDB twin of operators.dedup.shingles + jaccard_pairs (n=3); the CTE
# chain is the shared builder (operators.text.shingle_pair_cte_sql).
_JACCARD_ORACLE = f"""
WITH {shingle_pair_cte_sql(_SHINGLE_N)}
SELECT id_a, id_b, n_shared,
       {JACCARD_SCORE_SQL} AS jaccard
FROM shared JOIN sizes x ON x.doc_id = id_a JOIN sizes y ON y.doc_id = id_b
WHERE {JACCARD_SCORE_SQL} >= {_THRESHOLD}
"""


@query(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: min-id representative per distinct text."""
    d = table(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id").select("keep_id", "n_copies")


@query(
    "dedup_exact_hash",
    oracle="""
    SELECT sha256(text) AS text_sha, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on a content hash — at 100 TB you group on the
    256-bit digest, not the document body (shuffle carries 32 bytes/row)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.sha2("text", 256).alias("text_sha"), "doc_id")
        .groupBy("text_sha")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: 3-gram shingles -> inverted-index self-join.

    Pair generation keys on 64-bit shingle hashes (fixed-width shuffle rows;
    collision odds ~2⁻⁶⁵ per shingle pair, immaterial vs the 0.8 threshold) —
    the same answer as the string-keyed join, at the shuffle width you want
    when the corpus is 100 TB.
    """
    d = table(spark, sf_dir, "documents")
    sh = shingle_hashes(d, "text", "doc_id", n=_SHINGLE_N)
    # r16: prefix-filtered exact join (guide §2.3/§3.4) — same pairs, the
    # full-corpus df² pair expansion replaced by df-ordered prefixes (sf1
    # warm ratio was 14.8 with quiet-host steal accounting; the pair
    # multiplicity probe and A/B are under plans/r16/).
    return jaccard_pairs(sh, _THRESHOLD, prefix=True)


@query("dedup_minhash_verified", oracle=_JACCARD_ORACLE)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pruning + exact-Jaccard verification.

    Same output (and oracle) as dedup_ngram_jaccard, but the pair generation
    is LSH-bucketed — the O(n·dups) scale path instead of the full
    inverted-index join.
    """
    from ..operators.dedup import minhash_verified_pairs

    d = table(spark, sf_dir, "documents")
    # the shared operator: hashed-shingle signatures in one shuffle, verify
    # branch re-shingling only the semi-joined candidate members (measured
    # ~4s -> <1s at sf0.1), verified pairs intersected with the candidates
    return minhash_verified_pairs(
        d, "text", "doc_id",
        n=_SHINGLE_N, threshold=_THRESHOLD, max_bucket_size=_MAX_BUCKET,
    )


@query(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_JACCARD_ORACLE})),
    edges AS (
        SELECT id_a AS s, id_b AS t FROM pairs
        UNION SELECT id_b, id_a FROM pairs
        UNION SELECT id_a, id_a FROM pairs
        UNION SELECT id_b, id_b FROM pairs
    ),
    reach AS (
        SELECT s, t FROM edges
        UNION
        SELECT r.s, e.t FROM reach r JOIN edges e ON e.s = r.t
    )
    SELECT s AS doc_id, min(t) AS rep_id FROM reach GROUP BY s
    """,
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: min-id connected components over the
    similar-pair graph, iterated to a fixpoint (propagate + pointer-jump per
    round) — correct for chain-shaped dup groups (A~B~C without A~C), not
    just cliques. The oracle computes true transitive closure via a
    recursive CTE, so a non-converged answer fails the value hash."""
    d = table(spark, sf_dir, "documents")
    sh = shingle_hashes(d, "text", "doc_id", n=_SHINGLE_N)
    # r16: prefix-filtered pair generation (see dedup_ngram_jaccard)
    pairs = jaccard_pairs(sh, _THRESHOLD, prefix=True).select("id_a", "id_b")
    return connected_components(pairs)


@query("lsh_minhash_candidates")  # rows-only: xxhash64 signatures are Spark-specific
def lsh_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw LSH candidate pairs (pre-verification), deterministic per engine."""
    d = table(spark, sf_dir, "documents")
    sh = shingle_hashes(d, "text", "doc_id", n=_SHINGLE_N, dedup=False)
    return lsh_candidate_pairs(
        minhash_signatures(sh, 32), 32, 8, max_bucket_size=_MAX_BUCKET
    ).orderBy("id_a", "id_b")


@query("lsh_simhash64")  # rows-only: xxhash64-based fingerprints
def lsh_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + near-dup pairs at Hamming distance <= 8.

    Bucketing is 4 disjoint 16-bit bands (r07, was a single 16-bit prefix):
    a pair at Hamming <= 3 differs in at most 3 bands so ALWAYS shares one —
    guaranteed recall where near-dups concentrate, measured 11/28 -> 27/28
    of the fixture's exact edit-verified pairs (the miss is Hamming 9,
    outside the predicate).  Hot band buckets above the cap are dropped —
    which makes the pigeonhole guarantee CONDITIONAL on the cap not firing
    for every shared band of a pair (the documented recall trade of every
    cap in this repo); the cap-key join side is bounded by the 4*65536
    band-value space."""
    from ..operators.dedup import hamming64, simhash_band_pairs

    d = table(spark, sf_dir, "documents")
    fp = simhash(d, "text", "doc_id")
    return simhash_band_pairs(
        fp,
        ["simhash"],
        [
            F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(65535))
            for i in range(4)
        ],
        lambda a, b: hamming64(a["simhash"], b["simhash"]),
        max_bucket_size=_SIMHASH_MAX_BUCKET,
    ).orderBy("id_a", "id_b")


@query(
    "dedup_keep_list",
    oracle=f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_JACCARD_ORACLE})),
    edges AS (
        SELECT id_a AS s, id_b AS t FROM pairs
        UNION SELECT id_b, id_a FROM pairs
        UNION SELECT id_a, id_a FROM pairs
        UNION SELECT id_b, id_b FROM pairs
    ),
    reach AS (
        SELECT s, t FROM edges
        UNION
        SELECT r.s, e.t FROM reach r JOIN edges e ON e.s = r.t
    ),
    assign AS (SELECT s AS doc_id, min(t) AS rep_id FROM reach GROUP BY s)
    SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM assign a
                      WHERE a.doc_id = d.doc_id AND a.rep_id <> d.doc_id)
    """,
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup deliverable: the corpus with near-dup cluster
    non-representatives REMOVED (what a training pipeline actually ships).
    Composition of the verified pair set -> connected components -> anti
    join; only cluster members ever enter the component iteration, so the
    full corpus is touched exactly twice (pair generation + final anti
    join). Oracle recomputes true transitive closure recursively and drops
    the same docs.
    """
    d = table(spark, sf_dir, "documents")
    sh = shingle_hashes(d, "text", "doc_id", n=_SHINGLE_N)
    # r16: prefix-filtered pair generation (see dedup_ngram_jaccard)
    pairs = jaccard_pairs(sh, _THRESHOLD, prefix=True).select("id_a", "id_b")
    drop = connected_components(pairs).filter(F.col("rep_id") != F.col("doc_id"))
    return d.join(maybe_broadcast(drop.select("doc_id")), "doc_id", "leftanti").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
    )


# Deterministic stand-in for "the newest ingest batch": every 5th doc_id.
_NEW_SHARD_MOD, _NEW_SHARD_RES = 5, 4


@query(
    "dedup_incremental_shard",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TOKS_SQL} AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+{_SHINGLE_N - 1}], ' ') AS s
        FROM toks, unnest(range(1, len(t) - {_SHINGLE_N - 2})) AS u(i)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS n_shared
        FROM sh a JOIN sh b USING (s)
        WHERE a.doc_id % {_NEW_SHARD_MOD} = {_NEW_SHARD_RES}
          AND b.doc_id % {_NEW_SHARD_MOD} <> {_NEW_SHARD_RES}
        GROUP BY 1, 2
    )
    SELECT new_id, old_id, n_shared,
           {JACCARD_SCORE_SQL} AS jaccard
    FROM shared JOIN sizes x ON x.doc_id = new_id JOIN sizes y ON y.doc_id = old_id
    WHERE {JACCARD_SCORE_SQL} >= {_THRESHOLD}
    """,
)
def dedup_incremental_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: the newest ingest batch vs the existing corpus.

    The daily-ingest workflow at 100 TB: the corpus shingle index is
    persisted (bucketed by shingle hash) and each arriving shard probes it —
    no corpus-wide self-join ever re-runs, and pairs BETWEEN shards already
    ingested are out of scope by construction. The batch split here is a
    deterministic doc_id modulus standing in for an ingest-time column.
    """
    from ..operators.dedup import incremental_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    is_new = (F.col("doc_id") % _NEW_SHARD_MOD) == _NEW_SHARD_RES
    sh_new = shingle_hashes(d.filter(is_new), "text", "doc_id", n=_SHINGLE_N)
    sh_old = shingle_hashes(d.filter(~is_new), "text", "doc_id", n=_SHINGLE_N)
    return incremental_jaccard_pairs(sh_new, sh_old, _THRESHOLD)


# ---------------------------------------------------------------------------
# Value-checked LSH twins (VERDICT r05 #1): the production candidate
# generators above hash with xxhash64 (engine-specific, so rows-only); these
# twins run the IDENTICAL banding/bucketing pipeline on a hash BOTH engines
# compute bit-identically — md5 truncated to an integer — so the oracle
# value-checks candidate generation end-to-end (the step that determines
# recall at 100 TB).  Same shared-constant trick as lsh_cosine_candidates
# (similarity_q.py): every permutation constant below is embedded verbatim in
# both the Spark plan and the DuckDB SQL.
# ---------------------------------------------------------------------------

_P31 = 2_147_483_647  # Mersenne prime 2^31-1: (P-1)^2 < 2^62, no int64 overflow


def _perm_consts(k: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation constants (a_i, b_i) over GF(P31),
    derived from a splitmix64-style mix of the index — pure function of i,
    identical every run, shared by the Spark plan and the oracle SQL."""
    out = []
    for i in range(k):
        z = (i * 0x9E3779B97F4A7C15 + 0xBF58476D1CE4E5B9) % (1 << 64)
        z ^= z >> 30
        z = (z * 0x94D049BB133111EB) % (1 << 64)
        z ^= z >> 27
        out.append((1 + z % (_P31 - 1), (z >> 32) % _P31))
    return out


_MD5_K, _MD5_BANDS = 32, 8
_MD5_PERMS = _perm_consts(_MD5_K)

# Spark-side shared hash: first 15 md5 hex chars as a 60-bit integer.
def _md5_h60(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _md5_band_ctes() -> str:
    """The md5 MinHash banding CTE chain, ending at ``bands``: tokenize ->
    distinct shingles (toks, sh) -> md5 60-bit hash (hm) -> 32 affine
    permutations mod 2^31-1, per-doc mins (sig) -> 8 band keys of 4 mins
    each (bands).  Shared by the batch candidate oracle below and the
    streaming dedup oracles, which append their own CTEs or SELECT."""
    r = _MD5_K // _MD5_BANDS
    mins = ",\n               ".join(
        f"min(({a} * hm + {b}) % {_P31}) AS m{i}"
        for i, (a, b) in enumerate(_MD5_PERMS)
    )
    band_cases = "\n                 ".join(
        "WHEN {bi} THEN ".format(bi=bi)
        + " || ':' || ".join(f"CAST(m{bi * r + j} AS VARCHAR)" for j in range(r))
        for bi in range(_MD5_BANDS)
    )
    band_vals = ", ".join(f"({bi})" for bi in range(_MD5_BANDS))
    return f"""
    WITH toks AS (
        SELECT doc_id, {TOKS_SQL} AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+{_SHINGLE_N - 1}], ' ') AS s
        FROM toks, unnest(range(1, len(t) - {_SHINGLE_N - 2})) AS u(i)
    ), hm AS (
        SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT % {_P31} AS hm
        FROM sh
    ), sig AS (
        SELECT doc_id,
               {mins}
        FROM hm GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, band_idx,
               CASE band_idx
                 {band_cases}
               END AS band_key
        FROM sig CROSS JOIN (VALUES {band_vals}) AS bb(band_idx)
    )"""


def _minhash_md5_oracle() -> str:
    return (
        _md5_band_ctes()
        + """
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b USING (band_idx, band_key)
    WHERE a.doc_id < b.doc_id
    """
    )


@query("lsh_minhash_candidates_md5", oracle=_minhash_md5_oracle())
def lsh_minhash_candidates_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs, value-checked: distinct shingles -> shared
    md5-60bit hash -> 32 affine permutations mod 2^31-1 -> per-doc mins ->
    8 bands of 4 keyed by the exact min tuple (string key: zero band-hash
    collisions, so the bucket membership is literally the signature agreement
    the oracle recomputes).  The xxhash64 path (lsh_minhash_candidates) stays
    as the production perf variant — same pipeline shape, cheaper hash."""
    d = table(spark, sf_dir, "documents")
    # dedup=False: MinHash mins are duplicate-invariant (min over a multiset
    # == min over its set, which is why the oracle's DISTINCT sh CTE yields
    # the same signatures), so the whole signature pipeline is ONE shuffle
    sh = shingles(d, "text", "doc_id", n=_SHINGLE_N, dedup=False)
    hm = sh.select("id", (_md5_h60(F.col("shingle")) % _P31).alias("hm"))
    sig = hm.groupBy("id").agg(
        *[
            F.min((F.lit(a) * F.col("hm") + F.lit(b)) % _P31).alias(f"m{i}")
            for i, (a, b) in enumerate(_MD5_PERMS)
        ]
    )
    r = _MD5_K // _MD5_BANDS
    stacked = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_idx"),
                        F.concat_ws(
                            ":", *[F.col(f"m{bi * r + j}").cast("string") for j in range(r)]
                        ).alias("band_key"),
                    )
                    for bi in range(_MD5_BANDS)
                ]
            )
        ).alias("b"),
    ).select("id", "b.band_idx", "b.band_key")
    a = stacked.select(F.col("id").alias("id_a"), "band_idx", "band_key")
    b = stacked.select(F.col("id").alias("id_b"), "band_idx", "band_key")
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# SimHash banding: 4 disjoint 16-bit bands (vs the r06 single 16-bit prefix).
# Pigeonhole: a pair at Hamming <= 3 differs in at most 3 of the 4 bands, so
# it ALWAYS shares one — guaranteed recall in the <= 3 zone, where the
# fixture's true near-dups concentrate (measured r07: 22/28 true edit-verified
# pairs at sf0.001 sit at Hamming <= 3; single-prefix recall was 11/28,
# 4-band is 27/28 with the one miss at Hamming 9, outside the predicate).
# The cap drops degenerate buckets (band-value space is 65536 per band, so at
# extreme corpus sizes widen the fingerprint / bands rather than raise it).
_SIMHASH_MAX_BUCKET = 1024


def _simhash_md5_oracle() -> str:
    lo_sums = ",\n               ".join(
        f"sum(CASE WHEN (lo >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS sl{i}"
        for i in range(32)
    )
    hi_sums = ",\n               ".join(
        f"sum(CASE WHEN (hi >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS sh{i}"
        for i in range(32)
    )
    fp_lo = " + ".join(
        f"(CASE WHEN sl{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    fp_hi = " + ".join(
        f"(CASE WHEN sh{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, {TOKS_SQL} AS t
        FROM documents
    ), tok AS (
        SELECT doc_id,
               ('0x' || substring(md5(u.w), 1, 8))::BIGINT AS hi,
               ('0x' || substring(md5(u.w), 9, 8))::BIGINT AS lo
        FROM toks, unnest(t) AS u(w)
    ), sums AS (
        SELECT doc_id,
               {lo_sums},
               {hi_sums}
        FROM tok GROUP BY doc_id
    ), fp AS (
        SELECT doc_id, CAST({fp_lo} AS BIGINT) AS fp_lo, CAST({fp_hi} AS BIGINT) AS fp_hi
        FROM sums
    ), bands AS (
        SELECT doc_id, fp_lo, fp_hi, band_idx,
               CASE band_idx
                 WHEN 0 THEN fp_lo & 65535
                 WHEN 1 THEN (fp_lo >> 16) & 65535
                 WHEN 2 THEN fp_hi & 65535
                 WHEN 3 THEN (fp_hi >> 16) & 65535
               END AS band_val
        FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) AS bb(band_idx)
    ), ok AS (
        SELECT band_idx, band_val FROM bands
        GROUP BY 1, 2 HAVING count(*) <= {_SIMHASH_MAX_BUCKET}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.fp_hi, b.fp_hi)) + bit_count(xor(a.fp_lo, b.fp_lo)) AS BIGINT) AS hamming
    FROM bands a
    JOIN ok USING (band_idx, band_val)
    JOIN bands b USING (band_idx, band_val)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.fp_hi, b.fp_hi)) + bit_count(xor(a.fp_lo, b.fp_lo)) <= 8
    """


def md5_simhash_fingerprints(d: DataFrame) -> DataFrame:
    """(id, fp_lo, fp_hi): the shared-hash SimHash fingerprint both engines
    compute bit-identically — md5 token hash split into two 32-bit halves,
    tf-weighted ±1 bit sums, bit i set iff the sum is positive.  Extracted
    from lsh_simhash64_md5 so the recall-parity tests can probe Hamming
    distances independently of the banding."""
    from ..operators.text import TOKEN_SPLIT_REGEX

    # spread(): the explode + two md5 hashes per token + 64 conditional
    # partial sums otherwise run on the single-row-group scan's one working
    # task (guide §2.5; no-op at corpus sizes whose scan parallelizes)
    toks = (
        spread(d).select(
            F.col("doc_id").alias("id"),
            F.explode(F.split("text", TOKEN_SPLIT_REGEX)).alias("w"),
        )
        .filter(F.length("w") > 0)
        .select(
            "id",
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(F.md5("w"), 9, 8), 16, 10).cast("long").alias("lo"),
        )
    )
    one = F.lit(1).cast("long")
    sums = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright("lo", i).bitwiseAND(F.lit(1)) == 1, one).otherwise(-one)
            ).alias(f"sl{i}")
            for i in range(32)
        ],
        *[
            F.sum(
                F.when(F.shiftright("hi", i).bitwiseAND(F.lit(1)) == 1, one).otherwise(-one)
            ).alias(f"sh{i}")
            for i in range(32)
        ],
    )

    def _fp(prefix: str):
        acc = None
        for i in range(32):
            bit = F.when(F.col(f"{prefix}{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            acc = bit if acc is None else acc + bit  # disjoint bits: + == OR
        return acc

    return sums.select("id", _fp("sl").alias("fp_lo"), _fp("sh").alias("fp_hi"))


@query("lsh_simhash64_md5", oracle=_simhash_md5_oracle())
def lsh_simhash64_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, value-checked: the 64-bit fingerprint is built
    from a shared md5-derived token hash (two 32-bit halves, so every bit
    test and the band extraction are plain positive-int arithmetic in BOTH
    engines — no signed-shift or overflow edge), tf-weighted ±1 bit sums,
    4x16-bit-band bucketing (guaranteed recall at Hamming <= 3 by
    pigeonhole; see _SIMHASH_MAX_BUCKET note), Hamming <= 8.  Value-checks
    the full SimHash pipeline the production lsh_simhash64 (xxhash64) runs
    rows-only."""
    from ..operators.dedup import simhash_band_pairs

    d = table(spark, sf_dir, "documents")
    fp = md5_simhash_fingerprints(d)
    return simhash_band_pairs(
        fp,
        ["fp_lo", "fp_hi"],
        [
            F.shiftright(F.col(c), s).bitwiseAND(F.lit(65535))
            for c, s in [("fp_lo", 0), ("fp_lo", 16), ("fp_hi", 0), ("fp_hi", 16)]
        ],
        lambda a, b: (
            F.bit_count(a["fp_hi"].bitwiseXOR(b["fp_hi"]))
            + F.bit_count(a["fp_lo"].bitwiseXOR(b["fp_lo"]))
        ),
        max_bucket_size=_SIMHASH_MAX_BUCKET,
    )


@query(
    "dedup_edit_distance",
    oracle=f"""
    WITH cand AS ({_simhash_md5_oracle()})
    SELECT id_a, id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
           1 - levenshtein(a.text, b.text)
               / CAST(greatest(length(a.text), length(b.text)) AS DOUBLE)
               AS edit_sim
    FROM cand
    JOIN documents a ON a.doc_id = id_a
    JOIN documents b ON b.doc_id = id_b
    WHERE 5 * levenshtein(a.text, b.text)
          <= greatest(length(a.text), length(b.text))
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified near-dup: SimHash candidates -> exact
    character-level Levenshtein gate (distance <= 20% of the longer doc,
    compared in integers: 5*lev <= max_len).  The dedup family's third
    verification metric after Jaccard and containment — the one that
    catches small in-place edits (typo fixes, template variable swaps)
    where shingle overlap over-penalizes a single changed token repeated
    through every shingle window.

    Scale shape: Levenshtein is O(len_a * len_b) per pair, so it NEVER runs
    corpus-wide — only on the LSH-bucketed candidate pairs (the same
    candidates lsh_simhash64_md5 emits, a few dozen per corpus shard), with
    the doc bodies joined in only for that pair set.  Both engines implement
    classic unit-cost Levenshtein, so the query is value-checked end-to-end
    including the candidate generation."""
    pairs = lsh_simhash64_md5(spark, sf_dir).select("id_a", "id_b")
    d = table(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    # r15 (guide §2.5/§2.4): the old shape broadcast the PAIR list and
    # streamed the documents scan, so the whole Levenshtein gate ran inside
    # the scan stage — and near-dup candidates concentrate on one doc_id
    # range (dup clusters are id-contiguous in the fixture), so ONE scan
    # split carried ~all 18k pairs' O(len²) work (25 s single-task straggler
    # at sf0.1).  Flip it: stream the pairs, explicitly hash-repartitioned
    # on the pair key so the quadratic per-row gate spreads evenly (explicit
    # numPartitions from the shuffle-partitions conf — scale-adaptive, and
    # AQE does not coalesce a user REPARTITION_BY_NUM back to one task),
    # and broadcast the doc bodies size-gated (at 100 TB the hint drops and
    # this degrades to a plain shuffle join on id).
    n_parts = shuffle_partitions(spark)
    max_len = F.greatest(F.length("ta"), F.length("tb"))
    # banded Levenshtein (guide §1.2 "per-task work"): the gate
    # 5*lev <= max_len is exactly lev <= floor(max_len/5), so the
    # threshold form computes the same distance for every surviving pair,
    # returns -1 (dropped, like the old filter) for the rest, and gets the
    # O(n·k) band + length-difference early-exit on the far pairs.
    lev = F.expr(
        "levenshtein(ta, tb, CAST(greatest(length(ta), length(tb)) / 5 AS INT))"
    )
    return (
        pairs.repartition(n_parts, "id_a", "id_b")
        .join(maybe_broadcast(a), "id_a")
        .join(maybe_broadcast(b), "id_b")
        .filter(lev >= 0)
        .select(
            "id_a",
            "id_b",
            lev.cast("bigint").alias("edit_dist"),
            (F.lit(1) - lev / max_len.cast("double")).alias("edit_sim"),
        )
    )


@query(
    "dedup_minhash_estimate",
    oracle=f"""
    SELECT id_a, id_b, n_shared, jaccard, TRUE AS est_within
    FROM ({_JACCARD_ORACLE})
    """,
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash as an ESTIMATOR, value-checked: for every verified near-dup
    pair, the signature-agreement fraction (matching components / k) must
    sit within 0.25 of the exact Jaccard — ~3.5 sigma at k=32 for s >= 0.8
    (sd = sqrt(s(1-s)/32) <= 0.071; empirical max error 0.06 across
    fixtures).  Same boolean-contract pattern as approx_distinct_quantile:
    the estimate itself is engine-specific (xxhash permutations), so the
    oracle checks the error CONTRACT, which is what a pipeline relying on
    signature-only dedup actually assumes.  Costs one extra broadcast join
    of the (already-computed) signatures onto the verified pairs."""
    d = table(spark, sf_dir, "documents")
    sh = shingle_hashes(d, "text", "doc_id", n=_SHINGLE_N, dedup=False)
    sig = minhash_signatures(sh, 32)
    cands = lsh_candidate_pairs(sig, 32, 8, max_bucket_size=_MAX_BUCKET)
    cand_ids = cands.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    cand_docs = d.join(
        maybe_broadcast(cand_ids.withColumnRenamed("id", "doc_id")), "doc_id", "leftsemi"
    )
    cand_sh = shingle_hashes(cand_docs, "text", "doc_id", n=_SHINGLE_N)
    verified = jaccard_pairs(cand_sh, _THRESHOLD).join(cands, ["id_a", "id_b"], "leftsemi")
    a = sig.select(
        F.col("id").alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(32)]
    )
    b = sig.select(
        F.col("id").alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(32)]
    )
    matches = None
    for i in range(32):
        t = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = t if matches is None else matches + t
    est = matches / F.lit(32.0)
    return (
        verified.join(maybe_broadcast(a), "id_a")
        .join(maybe_broadcast(b), "id_b")
        .withColumn("est_within", F.abs(est - F.col("jaccard")) <= F.lit(0.25))
        .select("id_a", "id_b", "n_shared", "jaccard", "est_within")
    )


#: Prefix length for truncation-artifact detection.
_PREFIX_LEN = 200


@query(
    "dedup_prefix_truncation",
    oracle=f"""
    SELECT substring(text, 1, {_PREFIX_LEN}) AS prefix,
           CAST(min(doc_id) AS BIGINT) AS rep_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
    FROM documents
    GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_prefix_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-artifact detection: document groups sharing their first
    {_PREFIX_LEN} characters — the ingestion failure mode where the same
    page arrives repeatedly cut at different lengths (exact dedup misses it:
    the texts differ; shingle near-dup under-scores it when the tails
    diverge).  ``n_distinct_texts > 1`` inside a group is the actionable
    signal (equal texts are exact dedup's job).

    Scale: ONE groupBy keyed on the fixed-width prefix (shuffle rows are
    {_PREFIX_LEN} B + counters; hash the prefix with sha2 to shrink them to
    32 B at 100 TB — kept raw here so the report carries the evidence
    string)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.substring("text", 1, _PREFIX_LEN).alias("prefix"))
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_distinct_texts"),
        )
        .filter(F.col("n_docs") > 1)
    )


#: Window width (in tokens) for shared-span (substring-level) dedup.
_SPAN_W = 8


#: Shared by the string-keyed query and its hashed 100 TB twin: the only
#: way the two Spark plans can diverge from this SQL is a within-corpus
#: xxhash64 span collision (~1e-9 at sf0.1).
_SHARED_SPANS_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, {TOKS_SQL} AS t
        FROM documents
    ), sp AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+{_SPAN_W - 1}], ' ') AS s
        FROM toks, unnest(range(1, len(t) - {_SPAN_W - 2})) AS u(i)
    ), shared AS (
        SELECT s FROM sp GROUP BY s HAVING count(*) >= 2
    ), totals AS (
        SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id
    ), hits AS (
        SELECT doc_id, count(*) AS n_shared
        FROM sp JOIN shared USING (s) GROUP BY doc_id
    )
    SELECT doc_id, n_spans, n_shared,
           n_shared / n_spans AS shared_frac
    FROM hits JOIN totals USING (doc_id)
    """


@query("dedup_shared_spans", oracle=_SHARED_SPANS_ORACLE)
def dedup_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level (shared-span) duplication profile: for each document,
    the fraction of its distinct {_SPAN_W}-token windows that also occur in
    at least one OTHER document.  This is the partial-overlap signal
    whole-document methods miss: a page that embeds one paragraph of another
    has low global Jaccard (invisible to MinHash/SimHash at a 0.8 threshold)
    but a high shared-span fraction — the failure mode suffix-array training
    -data dedup targets (Lee et al. 2022), re-expressed as one shuffle on
    span keys.

    Scale: NO pair materialization — span-frequency is a plain groupBy with
    map-side partial aggregation (hot boilerplate spans cost one counter,
    not freq² join rows), then a semi-join back.  At 100 TB run the same
    plan over :func:`shingle_hashes` 64-bit keys so the shuffle carries
    16 B rows; here the raw span string keeps the oracle bit-exact.
    ``shared_frac`` is a raw integer-quotient IEEE division (catalog rule:
    never round those)."""
    sp = shingles(table(spark, sf_dir, "documents"), "text", "doc_id", n=_SPAN_W)
    return _shared_span_profile(sp, key="shingle")


def _shared_span_profile(sp: DataFrame, key: str) -> DataFrame:
    """Shared-span rollup over a distinct (id, <key>) span stream: span
    frequency is a plain count (never a pair join).

    r16 (guide §2.3/§2.4; VERDICT r15 #2 — the sf1 warm-ratio outlier):
    ``n_shared`` is computed by COMPLEMENT instead of joining the span
    stream back against the shared-span list.  Because ``sp`` is distinct
    per (id, key), a span with frequency 1 belongs to exactly ONE document
    — and ``min(id)`` in the same frequency aggregate recovers which one.
    So n_shared(doc) = n_spans(doc) − #unique-spans(doc), and the output
    keeps exactly the docs with n_shared >= 1 (the old hits-join semantics).
    The r15 executed plan (plans/r16/dedup_shared_spans_hashed_exec_sf1.txt)
    scanned + re-shingled documents THREE times (the three distinct
    exchanges never canonicalize equal — their pushed filters differ) and
    broadcast the corpus-scaling shared-span list into a full re-walk of
    the span stream; this shape does TWO shingle passes, joins only
    per-doc aggregate rows, and its one broadcast side is bounded by the
    doc count, not the span count.
    """
    per_span = sp.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("id").alias("only_id")
    )
    uniq = (
        per_span.filter(F.col("n_docs") == 1)
        .groupBy("only_id")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .withColumnRenamed("only_id", "id")
    )
    totals = sp.groupBy("id").agg(F.count(F.lit(1)).alias("n_spans"))
    n_shared = F.col("n_spans") - F.coalesce(F.col("n_unique"), F.lit(0))
    return (
        totals.join(uniq, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_spans",
            n_shared.alias("n_shared"),
            (n_shared / F.col("n_spans")).alias("shared_frac"),
        )
        .filter(F.col("n_shared") >= 1)
    )


@query("dedup_shared_spans_hashed", oracle=_SHARED_SPANS_ORACLE)
def dedup_shared_spans_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB execution shape of :func:`dedup_shared_spans` (VERDICT r07
    #4): identical rollup over :func:`shingle_hashes` 64-bit span keys, so
    the span-frequency shuffle carries 16 B fixed-width rows instead of
    {_SPAN_W}-word strings (~60-80 B) — the string-keyed twin's sf1 wall
    ratio (3.78x at 10x data, worst in the r07 table) is dominated by
    exactly that key width.

    Value-checked against the SAME string-span oracle: a within-corpus
    xxhash64 collision (the only way the two can differ) has probability
    ~m^2/2^65 for m distinct spans — ~1e-9 at sf0.1 — and
    tests/test_dedup_properties.py pins row-for-row agreement with the
    string-keyed twin.  shared_frac stays a raw IEEE division."""
    sp = shingle_hashes(
        table(spark, sf_dir, "documents"), "text", "doc_id", n=_SPAN_W
    )
    return _shared_span_profile(sp, key="h")

@query(
    "dedup_exact_normalized",
    oracle="""
    WITH norm AS (
        SELECT doc_id, text,
               CAST(('0x' || substring(md5(
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
               ), 1, 15)) AS BIGINT) AS norm_fp
        FROM documents
    )
    SELECT norm_fp,
           CAST(min(doc_id) AS BIGINT) AS rep_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_raw
    FROM norm GROUP BY norm_fp
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-tolerant exact dedup: documents equal after lowercasing
    and collapsing every non-alphanumeric run to a single space — the
    standard "fuzzy-exact" pass that catches case/punctuation/whitespace
    re-renders of the same page, which byte-exact dedup (dedup_exact)
    misses and shingle near-dup over-pays for.  ``n_distinct_raw > 1``
    marks groups byte-exact dedup would NOT have collapsed (the added value
    of the normalization); all groups are emitted (no HAVING) because the
    sf0.01 gate corpus has zero dup groups and a 0-row result would
    value-check nothing — emitting the per-group fingerprint makes every
    document's normalization string byte-checked instead.

    Scale: ONE groupBy keyed on the 60-bit md5-prefix fingerprint of the
    normalized text (the catalog's shared Spark<->DuckDB hash), so the
    shuffle carries 8 B keys instead of whole documents; collision odds
    ~n^2/2^61.  At 100 TB swap to sha2-256 group keys (dedup_exact_hash's
    shape) if the corpus row count makes 60 bits uncomfortable."""
    d = table(spark, sf_dir, "documents")
    nt = F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "))
    fp = F.conv(F.substring(F.md5(nt), 1, 15), 16, 10).cast("bigint")
    return (
        d.select("doc_id", "text", fp.alias("norm_fp"))
        .groupBy("norm_fp")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_distinct_raw"),
        )
    )


@query(
    "dedup_group_size_dist",
    oracle="""
    WITH g AS (
        SELECT sha256(text) AS k, count(*) AS n, min(doc_id) AS rep
        FROM documents GROUP BY 1
    )
    SELECT CAST(n AS BIGINT) AS group_size,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(n * count(*) AS BIGINT) AS n_docs,
           CAST(sum(rep) AS BIGINT) AS rep_id_sum
    FROM g GROUP BY n
    """,
)
def dedup_group_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate group-size distribution — the QA twin of
    ``dedup_exact_hash``: before dropping copies, a curation run audits HOW
    duplication is shaped (a heavy tail of giant groups means boilerplate
    or a crawler loop; all-singletons means exact dedup will be a no-op and
    the near-dup pass carries the load).  ``rep_id_sum`` (order-insensitive
    sum of per-group representative ids) value-checks the group structure
    itself even on a corpus where every size is 1, not just the histogram.

    Scale: groupBy on the 256-bit digest (32 B shuffle rows), then a second
    aggregate keyed on group size — bounded by the number of DISTINCT group
    sizes (<= hundreds even at 100 TB, power-law or not), with map-side
    partials on both."""
    d = table(spark, sf_dir, "documents")
    g = (
        d.select(F.sha2("text", 256).alias("k"), "doc_id")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("rep"))
    )
    return (
        g.groupBy(F.col("n").cast("bigint").alias("group_size"))
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("rep").cast("bigint").alias("rep_id_sum"),
        )
        .select(
            "group_size",
            "n_groups",
            (F.col("group_size") * F.col("n_groups")).cast("bigint").alias("n_docs"),
            "rep_id_sum",
        )
    )


# ---------------------------------------------------------------------------
# r15: cross-snapshot exact-dedup digest registry (SCALE.md r14 queue item b).
# The fixture corpus has zero exact duplicates (500/500 distinct texts), so a
# raw sha256 registry would mark everything 'novel' and never exercise the
# dup branches.  Both sides therefore canonicalize through the same
# deterministic template override — the boilerplate/mirror pages every crawl
# contains — before digesting: doc_id % 11 == 3 docs collapse to one of 4
# cross-batch templates (registry hits), doc_id % 55 == 24 docs (all in the
# new batch, since 24 % 5 == 4) collapse to one of 2 batch-only templates
# (within-batch dups).  Shared verbatim with the oracle.
# ---------------------------------------------------------------------------

_REG_CANON_SQL = (
    "CASE WHEN doc_id % 11 = 3 THEN 'boilerplate page rev ' || (doc_id % 4) "
    "WHEN doc_id % 55 = 24 THEN 'campaign launch page v' || (doc_id % 2) "
    "ELSE text END"
)


@query(
    "dedup_digest_registry",
    oracle=f"""
    WITH canon AS (
        SELECT doc_id, n_chars, sha256({_REG_CANON_SQL}) AS digest
        FROM documents
    ), nw AS (
        SELECT * FROM canon WHERE doc_id % {_NEW_SHARD_MOD} = {_NEW_SHARD_RES}
    ), reg AS (
        SELECT DISTINCT digest FROM canon
        WHERE doc_id % {_NEW_SHARD_MOD} <> {_NEW_SHARD_RES}
          AND digest IS NOT NULL
    ), rn AS (
        SELECT nw.doc_id, nw.n_chars, nw.digest,
               row_number() OVER (PARTITION BY nw.digest ORDER BY nw.doc_id)
                   AS rn,
               reg.digest IS NOT NULL AS in_registry
        FROM nw LEFT JOIN reg ON nw.digest = reg.digest
    )
    SELECT doc_id, substring(digest, 1, 16) AS digest16,
           CASE WHEN digest IS NULL THEN 'no_text'
                WHEN in_registry THEN 'registry_dup'
                WHEN rn > 1 THEN 'batch_dup'
                ELSE 'novel' END AS verdict,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM rn
    """,
)
def dedup_digest_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot exact-dedup against a persisted digest registry — the
    cheap FIRST gate every refreshed training set runs before near-dup
    (complements `dedup_incremental_shard`'s shingle probe).  Each new-batch
    doc is classified: 'registry_dup' (sha256 already in a prior snapshot),
    'batch_dup' (repeat within the arriving batch; first occurrence by
    doc_id wins and stays 'novel'), 'novel', or 'no_text' (NULL text guard).

    100 TB design: the registry is digests only — 32 bytes/doc, persisted
    bucketed by digest — so the probe is a digest-keyed shuffle (or
    bucket-colocated) LEFT JOIN, never a broadcast (the registry is
    corpus-sized) and never touches prior snapshots' text.  The
    within-batch check is a window partitioned by digest: partitions are
    duplicate-groups (tiny by construction), so no skew.  The batch split
    here is the same deterministic doc_id modulus `dedup_incremental_shard`
    uses as its ingest-time stand-in.
    """
    d = table(spark, sf_dir, "documents")
    canon = (
        F.when(
            (F.col("doc_id") % 11) == 3,
            F.concat(
                F.lit("boilerplate page rev "),
                (F.col("doc_id") % 4).cast("string"),
            ),
        )
        .when(
            (F.col("doc_id") % 55) == 24,
            F.concat(
                F.lit("campaign launch page v"),
                (F.col("doc_id") % 2).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
    )
    digested = d.select("doc_id", "n_chars", F.sha2(canon, 256).alias("digest"))
    is_new = (F.col("doc_id") % _NEW_SHARD_MOD) == _NEW_SHARD_RES
    new_batch = digested.filter(is_new)
    registry = (
        digested.filter(~is_new)
        .filter(F.col("digest").isNotNull())
        .select("digest")
        .distinct()
        .withColumn("in_registry", F.lit(True))
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("digest").orderBy("doc_id")
    )
    return (
        new_batch.join(registry, "digest", "left")
        .withColumn("rn", rn)
        .select(
            "doc_id",
            F.substring("digest", 1, 16).alias("digest16"),
            F.when(F.col("digest").isNull(), "no_text")
            .when(F.col("in_registry"), "registry_dup")
            .when(F.col("rn") > 1, "batch_dup")
            .otherwise("novel")
            .alias("verdict"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
        )
    )
