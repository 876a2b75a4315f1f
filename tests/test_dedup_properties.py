"""Property tests for the near-dup core (operators/dedup.py) against a
pure-Python reference: the inverted-index pair join must equal brute-force
pairwise Jaccard on any corpus, and containment must dominate Jaccard.
The rewritten dedup plans (prefix-filtered Jaccard, the shared-span
complement) must equal their definitional forms on any input."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from flink_wordcount_spark.operators.dedup import jaccard_pairs, shingle_hashes

_N = 3

# Small vocab + repeated draws manufactures genuine near-dups often.
_doc = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=8
).map(" ".join)
_corpus = st.lists(_doc, min_size=2, max_size=6)


def _py_shingles(text: str) -> set[str]:
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i : i + _N]) for i in range(len(toks) - _N + 1)}


def _py_pairs(texts, threshold):
    out = {}
    for i, a in enumerate(texts):
        for j in range(i + 1, len(texts)):
            sa, sb = _py_shingles(a), _py_shingles(texts[j])
            inter = len(sa & sb)
            if inter:
                jac = inter / (len(sa) + len(sb) - inter)
                if round(jac, 6) >= threshold:
                    out[(i, j)] = (inter, round(jac, 6))
    return out


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=_corpus, threshold=st.sampled_from([0.3, 0.6, 0.9]))
def test_jaccard_pairs_matches_bruteforce(spark, texts, threshold):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sh = shingle_hashes(df, "text", "doc_id", n=_N)
    got = {
        (r["id_a"], r["id_b"]): (r["n_shared"], r["jaccard"])
        for r in jaccard_pairs(sh, threshold).collect()
    }
    assert got == _py_pairs(texts, threshold)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=_corpus)
def test_containment_dominates_jaccard_property(spark, texts):
    """containment = s/min(a,b) >= s/(a+b-s) = jaccard: every 0-threshold
    pair must satisfy the dominance, pinning the two metrics' shared
    machinery against sign/denominator mixups."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sh = shingle_hashes(df, "text", "doc_id", n=_N)
    pairs = jaccard_pairs(sh, 0.0).collect()
    sizes = {i: len(_py_shingles(t)) for i, t in enumerate(texts)}
    for r in pairs:
        cont = r["n_shared"] / min(sizes[r["id_a"]], sizes[r["id_b"]])
        assert cont >= r["jaccard"] - 1e-9


def test_operators_handle_empty_and_degenerate_inputs(spark):
    """Empty corpus, single doc, and all-short docs must flow through the
    near-dup machinery without errors and produce empty pair sets."""
    from flink_wordcount_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        minhash_signatures,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert jaccard_pairs(shingle_hashes(empty, "text", "doc_id", n=3), 0.5).count() == 0
    assert exact_dedup(empty, "text", "doc_id").count() == 0

    one = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    assert jaccard_pairs(shingle_hashes(one, "text", "doc_id", n=3), 0.5).count() == 0

    # docs shorter than the shingle width: no shingles, no pairs, no crash
    short = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "")], "doc_id long, text string"
    )
    assert shingle_hashes(short, "text", "doc_id", n=3).count() == 0

    # connected components on an empty edge set: empty assignment
    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(edges).count() == 0

    # minhash on empty: no signatures
    assert minhash_signatures(shingle_hashes(empty, "text", "doc_id", n=3)).count() == 0


def test_shared_spans_hashed_agrees_with_string_keyed(spark, sf_dir):
    """VERDICT r07 #4: the 64-bit-hashed span profile (the 100 TB shuffle
    shape) must agree row-for-row with the string-keyed twin — any
    divergence means a real xxhash64 collision, which at fixture scale
    (~1e-11) indicates a plumbing bug, not chance."""
    from flink_wordcount_spark.plans import QUERIES

    a = sorted(map(tuple, QUERIES["dedup_shared_spans"](spark, sf_dir).collect()))
    b = sorted(
        map(tuple, QUERIES["dedup_shared_spans_hashed"](spark, sf_dir).collect())
    )
    assert a == b


def test_shared_span_complement_equals_join_rollup(spark, sf_dir):
    """n_shared = n_spans - n_unique (the complement form) must equal
    the definitional join-back rollup row-for-row on the fixture, and the
    output must keep exactly the docs with n_shared >= 1 (the old inner
    hits-join semantics)."""
    from flink_wordcount_spark.io import table
    from flink_wordcount_spark.plans import QUERIES
    from flink_wordcount_spark.plans.dedup_q import _SPAN_W

    sp = shingle_hashes(
        table(spark, sf_dir, "documents"), "text", "doc_id", n=_SPAN_W
    )
    # definitional: per-span frequency, join back, per-doc counts
    freq = sp.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    shared = freq.filter("n_docs >= 2").select("h")
    hits = sp.join(shared, "h").groupBy("id").agg(F.count(F.lit(1)).alias("n_shared"))
    totals = sp.groupBy("id").agg(F.count(F.lit(1)).alias("n_spans"))
    want = {
        (r["id"], r["n_spans"], r["n_shared"])
        for r in hits.join(totals, "id").collect()
    }
    got = {
        (r["doc_id"], r["n_spans"], r["n_shared"])
        for r in QUERIES["dedup_shared_spans_hashed"](spark, sf_dir).collect()
    }
    assert got == want
    assert all(n_shared >= 1 for _, _, n_shared in got)


def test_prefix_jaccard_equals_inverted_index_fixture(spark, sf_dir):
    """The prefix-filtered exact Jaccard join (prefix=True) must equal
    the plain inverted-index join row-for-row on the fixture — pairs,
    n_shared, rounded similarity AND schema."""
    from flink_wordcount_spark.io import table

    sh = shingle_hashes(table(spark, sf_dir, "documents"), "text", "doc_id", n=3)
    for t in (0.8, 0.5):
        old = jaccard_pairs(sh, t).orderBy("id_a", "id_b").collect()
        new = jaccard_pairs(sh, t, prefix=True).orderBy("id_a", "id_b").collect()
        assert old == new, f"threshold {t}: prefix path diverged"
    assert (
        jaccard_pairs(sh, 0.8, prefix=True).schema
        == jaccard_pairs(sh, 0.8).schema
    )


def test_prefix_jaccard_equals_inverted_index_adversarial(spark):
    """Prefix-bound correctness on engineered set families: exact-threshold
    ratios (jaccard == t precisely — the round-before-compare boundary),
    identical sets, subset pairs, singletons, a corpus-hot key present in
    every set (sorts LAST under df order, so it must never be needed for
    recall), and a seeded random soup — all compared against the
    definitional path across three thresholds."""
    import random


    rng = random.Random(42)
    sets: dict[int, set[int]] = {
        1: {10, 11, 12, 13, 14},          # vs 2: s=4, union 6 -> 0.666667
        2: {10, 11, 12, 13, 15},
        3: {20, 21, 22, 23},              # vs 4: s=3, union 5 -> 0.6 exactly
        4: {20, 21, 22, 24},
        5: {30, 31, 32},                  # identical pair (jaccard 1.0)
        6: {30, 31, 32},
        7: {40},                          # singleton vs singleton
        8: {40},
        9: {50, 51, 52, 53, 54, 55, 56, 57, 58, 59},  # superset of 10
        10: {50, 51, 52, 53, 54, 55, 56, 57},         # s=8/10 -> 0.8 exactly
    }
    hot = 999  # corpus-hot key: in EVERY set, max df, sorts last
    for s in sets.values():
        s.add(hot)
    for i in range(11, 40):  # random soup over a small universe
        sets[i] = set(rng.sample(range(100), rng.randint(2, 12))) | {hot}
    rows = [(i, h) for i, s in sets.items() for h in s]
    sh = spark.createDataFrame(rows, "id long, h long")
    for t in (0.8, 0.6, 0.5):
        old = jaccard_pairs(sh, t).orderBy("id_a", "id_b").collect()
        new = jaccard_pairs(sh, t, prefix=True).orderBy("id_a", "id_b").collect()
        assert old == new, f"threshold {t}: {old} != {new}"
        assert len(old) > 0  # the family must actually exercise the join
