"""Plan-shape assertions: the physical strategies the engine is designed
around actually appear in the executed plans (SCALE.md claims, verified)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_wordcount_spark.plans import QUERIES
from flink_wordcount_spark.session import scoped_confs
from flink_wordcount_spark.streaming.wordcount import tokens_stream

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_rebalance_round_robin(spark, sf_dir):
    """Reference op #3 (rebalance, StatefulWordCount.java:80): repartition(n)
    without columns is a round-robin redistribution to exactly n partitions."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("text").alias("sentence")
    )
    toks = tokens_stream(d, rebalance=6)
    assert "RoundRobinPartitioning(6)" in _plan(toks.select("word"))
    assert toks.rdd.getNumPartitions() == 6


def test_global_sort_uses_range_partitioning(spark, sf_dir):
    """orderBy without limit -> range-partitioned exchange (parallel global
    sort), never a single-partition sort."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").orderBy("o_totalprice")
    assert "rangepartitioning" in _plan(o).lower()


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(QUERIES["topk_global"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_broadcast_dims_in_join_queries(spark, sf_dir):
    for q in ("q3_shipping_priority", "q5_local_supplier_volume", "q10_returned_items"):
        assert "BroadcastHashJoin" in _plan(QUERIES[q](spark, sf_dir)), q


def test_threshold_parser_units():
    """_threshold_bytes must parse every form Spark accepts for
    autoBroadcastJoinThreshold: plain bytes, unit suffixes (case-insensitive,
    single- and double-letter), and -1/garbage -> disabled.  The gating tests
    below exercise only the plain-int and '1b' paths; a user session tuned
    with '64MB' would silently disable every size-gated hint if the suffix
    branch regressed."""
    from types import SimpleNamespace

    from flink_wordcount_spark.hints import _threshold_bytes

    def fake(value):
        return SimpleNamespace(conf=SimpleNamespace(get=lambda *_: value))

    assert _threshold_bytes(fake("10485760")) == 10 * 1024 * 1024
    assert _threshold_bytes(fake("64MB")) == 64 * 1024 * 1024
    assert _threshold_bytes(fake("64mb")) == 64 * 1024 * 1024
    assert _threshold_bytes(fake("10m")) == 10 * 1024 * 1024
    assert _threshold_bytes(fake("1g")) == 1 << 30
    assert _threshold_bytes(fake("512k")) == 512 * 1024
    assert _threshold_bytes(fake("1b")) == 1
    assert _threshold_bytes(fake("-1")) == -1
    assert _threshold_bytes(fake("not-a-size")) == -1


def test_maybe_broadcast_gates_on_size(spark, sf_dir):
    """SF-scaling dims get a size-gated hint: broadcast below the threshold
    (fixture scale), plain shuffle join above it (the 100 TB case, simulated
    by shrinking the threshold) — never an unconditional hint that would OOM
    a 1000-executor cluster on a multi-TB customer/part broadcast."""
    from flink_wordcount_spark.hints import maybe_broadcast

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    joined = lambda: o.join(maybe_broadcast(c), o["o_custkey"] == c["c_custkey"])  # noqa: E731
    assert "BroadcastHashJoin" in _plan(joined())
    with scoped_confs(spark, {_THRESHOLD: "1b"}):
        gated = _plan(joined())
        assert "BroadcastHashJoin" not in gated
    with scoped_confs(spark, {_THRESHOLD: "-1"}):
        assert "BroadcastHashJoin" not in _plan(joined())


def test_maybe_broadcast_survives_on_derived_aggregate(spark, sf_dir):
    """ADVICE r03: maybe_broadcast silently drops the hint when Catalyst's
    estimate for a DERIVED sub-plan (not a raw scan) is unavailable or
    inflated. Pin that the measured win sites keep their broadcasts at
    fixture scale: dedup_minhash_verified's candidate-id semi-join against
    documents, and q20's heavy-parts semi-join."""
    import re

    plan = _plan(QUERIES["dedup_minhash_verified"](spark, sf_dir))
    assert re.search(r"BroadcastHashJoin.*LeftSemi", plan), (
        "cand_ids semi-join lost its size-gated broadcast hint"
    )
    plan20 = _plan(QUERIES["q20_excess_shippers"](spark, sf_dir))
    assert re.search(r"BroadcastHashJoin.*LeftSemi", plan20), (
        "q20 heavy-parts semi-join lost its size-gated broadcast hint"
    )


def test_partial_aggregation_before_exchange(spark, sf_dir):
    plan = _plan(QUERIES["wordcount_top100"](spark, sf_dir))
    # two-stage agg: a partial (map-side) HashAggregate must exist, and it
    # sits BELOW the exchange (tree prints top-down, so partial_count's
    # string offset is after Exchange's)
    assert "partial_count" in plan
    assert plan.index("partial_count") > plan.index("Exchange")


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:400]


def test_q19_envelope_predicates_push_to_both_scans(spark, sf_dir):
    """Q19's disjunction: the per-side envelopes (brand/size on part,
    quantity on lineitem) must reach their parquet scans as pushed filters."""
    plan = _plan(QUERIES["q19_disjunctive_revenue"](spark, sf_dir))
    pushed = [seg[:500] for seg in plan.split("PushedFilters")[1:]]
    assert any("l_quantity" in seg for seg in pushed), "lineitem envelope not pushed"
    assert any("p_brand" in seg or "p_size" in seg for seg in pushed), "part envelope not pushed"


def test_q21_self_joins_stay_equi(spark, sf_dir):
    """Q21's EXISTS/NOT EXISTS self-correlates plan as semi/anti hash or
    sort-merge joins on orderkey — never a cartesian product or
    broadcast-nested-loop over the fact table."""
    plan = _plan(QUERIES["q21_suppliers_kept_waiting"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_pack_sequences_window_partitions_by_source(spark, sf_dir):
    """The packing cumsum must window WITHIN source shards (parallel), never
    a single global running sum (one partition = the 100 TB serialization)."""
    plan = _plan(QUERIES["pack_sequences"](spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_domain_mixture_is_single_scan_no_join(spark, sf_dir):
    """Hash-keyed mixture sampling is a pure map-side decision + one agg:
    no join, no extra scan of documents."""
    plan = _plan(QUERIES["sample_domain_mixture"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_bm25_single_pass_no_explode(spark, sf_dir):
    """BM25's tf extraction stays in the scan projection (array ops, no
    Generate/explode) and the one-row stats side joins via broadcast."""
    plan = _plan(QUERIES["bm25_keyword_search"](spark, sf_dir))
    assert "Generate" not in plan  # explode would appear as Generate
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_decontam_broadcasts_eval_grams(spark, sf_dir):
    """The eval n-gram set (small side) reaches the corpus join as a
    broadcast at fixture scale (size-gated hint survives the derived
    aggregate — the ADVICE r03 concern)."""
    plan = _plan(QUERIES["decontam_eval_overlap"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_funnel_stages_shrink_via_aggregates(spark, sf_dir):
    """Funnel stages are per-user partial aggregates (map-side combine
    before each exchange), not windowed full sorts."""
    plan = _plan(QUERIES["ev_funnel_conversion"](spark, sf_dir))
    assert "partial_min" in plan
    assert "Window" not in plan


def test_answers_stable_under_adverse_confs(spark, sf_dir):
    """Plans must be correct, not just fast: with broadcasts disabled and an
    awkward shuffle partition count (the conf surface a misconfigured
    cluster presents), the declared queries return identical answers."""
    baseline = {
        name: sorted(map(tuple, QUERIES[name](spark, sf_dir).collect()))
        for name in (
            "q3_shipping_priority",
            "dedup_exact_hash",
            "window_topk_per_group",
            # r05 additions with broadcast/shuffle-sensitive shapes
            "text_char_lm_score",
            "ev_session_dynamic_gap",
            # r07 additions: the two-phase cumsum must be invariant to the
            # shuffle partition count (its range ids are derived from the
            # order key, NOT from physical partitioning), the CDC compaction
            # to exchange layout, and the mixture rates to broadcast policy
            "shard_by_token_budget",
            "ev_cdc_latest_state",
            "sample_temperature_mixture",
            # late-r07: span-frequency semi-join under no-broadcast, and the
            # grid cross-join + smoothed log-sum under awkward partitioning
            "dedup_shared_spans",
            "qa_drift_psi",
            "embed_dim_variance",
            # windows must bind to the user_id exchange, and the banded
            # range join must degrade to a value-identical shuffle join
            "ev_scd2_history",
            "join_time_band_bucketed",
            # r08 additions: the grid global rank's literal offsets must be
            # invariant to the physical partition count (its range ids
            # derive from the order key), the z-scoring stats grid to
            # broadcast policy, the lead-window TWA to exchange layout,
            # the md5-bucket folds to partitioning by construction, and
            # the CMS estimates to merge order (counters sum)
            "ev_user_value_deciles",
            "sample_quality_curriculum",
            "ev_time_weighted_avg",
            "embed_standardize",
            "sample_kfold_assign",
            "sketch_cms_topk_bounds",
        )
    }
    with scoped_confs(spark, {_THRESHOLD: "-1", "spark.sql.shuffle.partitions": "97"}):
        for name, want in baseline.items():
            got = sorted(map(tuple, QUERIES[name](spark, sf_dir).collect()))
            assert got == want, name


def test_r05_additions_plan_shapes(spark, sf_dir):
    """The round-5 queries plan with their designed-for physical shapes:
    ts_profile_similarity's top-k must be TakeOrdered (never a global sort)
    with the reference profile broadcast; text_char_lm_score must broadcast
    the trigram model onto the corpus re-stream rather than shuffling the
    corpus to the model."""
    ts = _plan(QUERIES["ts_profile_similarity"](spark, sf_dir))
    assert "TakeOrderedAndProject" in ts
    assert "BroadcastHashJoin" in ts
    assert "rangepartitioning" not in ts.lower()
    lm = _plan(QUERIES["text_char_lm_score"](spark, sf_dir))
    assert "BroadcastHashJoin" in lm
    # doc_id final agg is the only shuffle consuming the probe side: the
    # model joins must not shuffle the exploded trigram stream
    assert lm.count("SortMergeJoin") == 0


def test_r06_additions_plan_shapes(spark, sf_dir):
    """Round-6 queries keep their designed shapes.

    lsh_minhash_candidates_md5: the 32 permutation mins fold into ONE
    groupBy(id) (a single signature exchange with map-side partials) and the
    band bucketing never degenerates to a cartesian product.
    curation_end_to_end: the stage anti/semi joins run broadcast at fixture
    scale and the whole funnel plans without a cartesian product."""
    mh = _plan(QUERIES["lsh_minhash_candidates_md5"](spark, sf_dir))
    assert "partial_min" in mh
    assert "CartesianProduct" not in mh
    e2e = _plan(QUERIES["curation_end_to_end"](spark, sf_dir))
    assert "CartesianProduct" not in e2e
    assert "BroadcastHashJoin" in e2e


def test_r07_additions_plan_shapes(spark, sf_dir):
    """decontam_semantic / semdedup_drop_list: the only all-pairs structure
    is against a broadcast-sized side (eval split / centroid table) — the
    plan must show a broadcast nested-loop or broadcast hash join, never an
    un-broadcast CartesianProduct.  quality_cutoff_per_lang: the cutoff
    row joins back broadcast, and the corpus window is partitioned (lang).
    sample_temperature_mixture: the rate table joins back broadcast."""
    for q in ("decontam_semantic", "semdedup_drop_list"):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "Broadcast" in plan, q
    for q in ("quality_cutoff_per_lang", "sample_temperature_mixture"):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, q
        assert "CartesianProduct" not in plan, q


def test_cdc_and_vocab_plan_shapes(spark, sf_dir):
    """ev_cdc_latest_state: ONE hash exchange on the compaction key, no
    single-partition stage.  text_vocab_build: top-N via
    TakeOrderedAndProject with map-side partial counts — never a global
    sort of the whole vocabulary."""
    cdc = _plan(QUERIES["ev_cdc_latest_state"](spark, sf_dir))
    assert "SinglePartition" not in cdc
    assert "hashpartitioning(user_id" in cdc
    vocab = _plan(QUERIES["text_vocab_build"](spark, sf_dir))
    assert "TakeOrderedAndProject" in vocab
    assert "partial_count" in vocab


def test_shard_cumsum_avoids_global_window(spark, sf_dir):
    """shard_by_token_budget's global running total must be the two-phase
    scan, not a single-partition window over the corpus: the corpus-sized
    cumsum window is partitioned by the deterministic range id, and the only
    SinglePartition exchange in the plan feeds the per-range subtotal frame
    (~32 rows, already aggregated by a hashpartitioning(pid) exchange)."""
    import re

    plan = _plan(QUERIES["shard_by_token_budget"](spark, sf_dir))
    assert re.search(r"Window \[sum\(n_tokens[^\n]*\], \[pid#\d+\], \[pos#", plan), (
        "corpus cumsum window lost its pid partitioning"
    )
    singles = [m.start() for m in re.finditer(r"Exchange SinglePartition", plan)]
    assert len(singles) == 1, f"expected exactly one SinglePartition, got {len(singles)}"
    assert "hashpartitioning(pid" in plan[singles[0]:], (
        "SinglePartition exchange is not over the per-range aggregate"
    )


def test_funnel_has_no_unconditional_broadcast(spark, sf_dir):
    """VERDICT r06 What's-wrong #1: every join side in the end-to-end funnel
    scales with the corpus — the near-dup drop list is O(dup_rate x corpus),
    the eval-gram set and contaminated id set are O(corpus) — so none may
    carry an unconditional broadcast hint.  Simulated 100 TB (shrink the
    threshold to 1 byte): every size-gated hint must drop and the plan must
    contain ZERO broadcast joins; at fixture scale with the default threshold
    they come back (previous test).  Same contract for dedup_edit_distance's
    candidate-pair broadcast.

    Cold cache required: the funnel persists its derived id lists, and a
    cached InMemoryRelation keeps the plan segment compiled under the conf
    of its FIRST build — an earlier default-threshold test would otherwise
    leak a fixture-scale broadcast into this shrunk-threshold check."""
    with scoped_confs(spark, {_THRESHOLD: "1b"}):
        spark.catalog.clearCache()
        for q in ("curation_end_to_end", "dedup_edit_distance"):
            plan = _plan(QUERIES[q](spark, sf_dir))
            assert "BroadcastHashJoin" not in plan, q
            assert "BroadcastNestedLoopJoin" not in plan, q


def test_late_r07_additions_plan_shapes(spark, sf_dir):
    """The late-round-7 queries keep their designed scale shapes.

    dedup_shared_spans: span frequency is a plain map-side-combined count
    (never a pair-materializing self-join — no CartesianProduct), and with
    broadcasts forced off (simulated 100 TB sides) the plan still avoids
    any forced broadcast join.
    qa_key_skew: top-20 via TakeOrderedAndProject over map-side partial
    counts — the corpus never reaches a global sort.
    qa_drift_psi: the only fact-table aggregate is map-side combined; the
    type x bin grid never plans as an un-broadcast CartesianProduct at
    default conf.
    dedup_prefix_truncation: one hash exchange on the group key, no
    single-partition stage over the corpus.  (ev_user_value_deciles'
    former unpartitioned ntile is gone as of r08 — its two-phase rank
    shape is pinned in tests/test_rankops.py.)"""
    sp = _plan(QUERIES["dedup_shared_spans"](spark, sf_dir))
    assert "CartesianProduct" not in sp
    assert "partial_count" in sp
    with scoped_confs(spark, {_THRESHOLD: "1b"}):
        sp_big = _plan(QUERIES["dedup_shared_spans"](spark, sf_dir))
        assert "BroadcastHashJoin" not in sp_big
        assert "BroadcastNestedLoopJoin" not in sp_big
    sk = _plan(QUERIES["qa_key_skew"](spark, sf_dir))
    assert "TakeOrderedAndProject" in sk
    assert "partial_count" in sk
    psi = _plan(QUERIES["qa_drift_psi"](spark, sf_dir))
    assert "CartesianProduct" not in psi
    assert "partial_sum" in psi
    trunc = _plan(QUERIES["dedup_prefix_truncation"](spark, sf_dir))
    assert "SinglePartition" not in trunc
    assert "partial_count" in trunc


def test_entropy_and_dim_variance_plan_shapes(spark, sf_dir):
    """qa_column_entropy: per-column category counts are map-side combined
    and the only single-partition stages are over the tiny category tables
    (the unpartitioned window total + final one-row folds), never the base
    scan.  embed_dim_variance: posexplode feeds ONE hash aggregate with
    map-side partials keyed on the 64 dims — no corpus-wide sort, no
    single-partition exchange anywhere."""
    ent = _plan(QUERIES["qa_column_entropy"](spark, sf_dir))
    assert "partial_count" in ent
    dv = _plan(QUERIES["embed_dim_variance"](spark, sf_dir))
    assert "partial_count" in dv or "partial_avg" in dv
    assert "Exchange SinglePartition" not in dv
    assert "Sort" not in dv.split("Generate")[0], (
        "dim aggregate should not sort the exploded stream"
    )


def test_sequence_family_single_exchange(spark, sf_dir):
    """The per-user sequence operators (SCD2 history, Markov transitions,
    strict-contiguity pattern) must serve ALL their windows from the
    user_id hash partitioning — lag/lead chains share partitioning and
    sort, never a single-partition stage or a global (range) sort.
    Deliberately NOT an exact exchange count (ADVICE r07): an extra benign
    exchange introduced by an AQE/minor-version change is not a regression;
    an unpartitioned window or range sort is."""
    for q in ("ev_scd2_history", "ev_pattern_strict_sequence"):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "hashpartitioning(user_id" in plan, q
        assert "SinglePartition" not in plan, q
        assert "rangepartitioning" not in plan.lower(), q
    mk = _plan(QUERIES["ev_markov_transitions"](spark, sf_dir))
    assert "hashpartitioning(user_id" in mk
    assert "rangepartitioning" not in mk.lower()


def test_preflight_single_scan_plus_category_fold(spark, sf_dir):
    """qa_preflight_report: the corpus-wide scalars come from one scan of
    documents (plus the per-source entropy fold's scan) — exactly two
    parquet scans, single-row sides broadcast, no cartesian over data."""
    plan = _plan(QUERIES["qa_preflight_report"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "CartesianProduct" not in plan


def test_band_join_plans_as_equi_join(spark, sf_dir):
    """join_time_band_bucketed: the pure range predicate must ride the
    bucket EQUI-join (hash-partitionable) — never the BroadcastNestedLoop
    or cartesian Catalyst emits for a bare |a-b| <= w condition."""
    plan = _plan(QUERIES["join_time_band_bucketed"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_spread_is_targeted_r15(spark, sf_dir):
    """r15 toggle A/B (plans/r15/ab_spread_toggle_*.txt): spread()'s extra
    round-robin shuffle LOSES wherever the first aggregation already
    distributes the per-row work, and WINS where that work sits on the
    scan with no early exchange.  Pin both directions so a blanket
    re-spread (or a blanket revert) fails loudly."""
    import re

    from flink_wordcount_spark.operators.dedup import shingles
    from flink_wordcount_spark.plans.similarity_q import _bm25_per_stats

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def n_roundrobin(df) -> int:
        return len(re.findall(r"Exchange RoundRobinPartitioning", _plan(df)))

    # losers (reverted): shingle stream aggregates by shuffled key right after
    assert n_roundrobin(shingles(d, "text", "doc_id")) == 0
    # winner (kept, caller-gated): bm25's per-doc frame is consumed directly
    per_plain, _, _ = _bm25_per_stats(d)
    per_spread, _, _ = _bm25_per_stats(d, spread_input=True)
    assert n_roundrobin(per_plain) == 0
    assert n_roundrobin(per_spread) == 1
