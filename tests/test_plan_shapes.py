"""Plan-shape regression tests: the COVERAGE.md plan-audit claims
(broadcast joins, filter/column pushdown, exchange budgets) as
assertions, so a refactor that silently de-optimizes a headline plan
fails CI instead of only showing up as a bench regression.

All assertions run on the *static* physical plan (no job execution):
explicit broadcast() hints and pushed filters are visible pre-AQE.
Exchange budgets count `Exchange` nodes in the formatted plan — AQE can
coalesce them at runtime but never adds more.
"""

from __future__ import annotations

import re

import pytest

from tidb_lightning_spark.plans import queries as Q

from .conftest import SF_CORRECTNESS


def plan_of(spark, name: str) -> str:
    df = Q.registry()[name].spark(spark, SF_CORRECTNESS)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def n_exchanges(plan: str) -> int:
    # count Exchange operators in the numbered-tree header ("(n) Exchange");
    # excludes the per-node detail blocks repeating the word
    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_q1_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1].split("\n")[0], "shipdate filter not pushed to the parquet scan"
    schema_line = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_orderkey" not in schema_line, (
        "column pruning lost: q1 reads 7 columns, not the full table"
    )
    # partial agg -> final agg -> 4-row sort: 2 exchanges
    assert n_exchanges(plan) <= 2, plan


def test_q6_filters_reach_scan(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not in PushedFilters: {pushed}"


def test_q3_fact_never_join_shuffles(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert plan.count("BroadcastHashJoin") >= 2, (
        "q3's dimension joins must broadcast — the lineitem fact "
        "table must not shuffle for a join"
    )
    assert "SortMergeJoin" not in plan


def test_q2_lineitem_pruned_before_aggregation(spark):
    """r4 verdict item 4: the cost aggregation must consume lineitem
    AFTER the p_size=15 semi-join, not group the full fact table."""
    plan = plan_of(spark, "q2_min_cost_supplier")
    assert "p_size" in plan and "15" in plan
    first_agg = plan.index("HashAggregate")
    first_join = plan.index("BroadcastHashJoin")
    assert first_join < first_agg, (
        "part-key semi-join must sit below the first aggregation"
    )


def test_checksum_two_exchanges(spark):
    plan = plan_of(spark, "checksum_lineitem")
    assert n_exchanges(plan) <= 2, (
        f"checksum must be map-side partial -> one final row: {plan}"
    )


def test_corpus_split_assign_map_only(spark):
    plan = plan_of(spark, "corpus_split_assign")
    assert n_exchanges(plan) == 0, "hash-bucket split must be map-only"
    schema_line = plan.split("ReadSchema")[1].split("\n")[0]
    assert "text" not in schema_line, "split reads doc_id only"


def test_top_bigrams_single_count_exchange(spark):
    plan = plan_of(spark, "top_bigrams")
    # widen() may add one small-input repartition; the aggregation itself
    # adds exactly one exchange on the bigram key, then TakeOrdered.
    assert n_exchanges(plan) <= 2, plan
    assert "TakeOrderedAndProject" in plan, (
        "top-50 must be TakeOrdered, not a global sort"
    )


def test_quality_filters_single_stage(spark):
    plan = plan_of(spark, "quality_repetition_filters")
    # per-row array folds: no aggregation, no join; only widen's
    # small-input repartition may appear
    assert "HashAggregate" not in plan and "Join" not in plan
    assert n_exchanges(plan) <= 1


def test_corpus_shuffle_no_global_sort(spark):
    plan = plan_of(spark, "corpus_shuffle_buckets")
    # windows partitioned by bucket: exchange is hashpartitioning, never
    # a rangepartitioning global sort
    assert "rangepartitioning" not in plan.lower(), (
        "training shuffle must not globally sort the corpus"
    )


def test_embedding_centroids_one_agg_exchange(spark):
    plan = plan_of(spark, "embedding_centroids")
    assert n_exchanges(plan) <= 2  # widen repartition + (label,dim) agg
    assert "Generate" in plan  # posexplode stays a generate, not a join


def test_q18_semi_probe_broadcasts(spark):
    plan = plan_of(spark, "q18_large_orders")
    assert "BroadcastHashJoin" in plan


def test_dedup_exact_text_dies_at_scan(spark):
    plan = plan_of(spark, "dedup_exact_documents")
    # the shuffled key is md5(text) — the raw text column must not
    # survive into the exchange's input schema (grouping by text would
    # shuffle the whole corpus at scale)
    m = re.search(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert m, plan
    assert not re.search(r"\btext#", m.group(1)), (
        f"exchange carries raw text: {m.group(1)}"
    )


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q6_forecast_revenue",
        "text_analysis",
        "quality_repetition_filters",
    ],
)
def test_hot_paths_are_whole_stage_codegen(spark, name):
    # the codegen explain can't see through an unexecuted AdaptiveSparkPlan
    # (reports 0 subtrees); disable AQE just for plan construction
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = Q.registry()[name].spark(spark, SF_CORRECTNESS)
        jvm = spark._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "codegen"
        )
        plan = df._jdf.queryExecution().explainString(mode)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan)
    assert m and int(m.group(1)) >= 1, (
        f"{name} fell out of whole-stage codegen (Python/UDF crept in?)"
    )


def test_pack_sequences_single_exchange(spark):
    """corpus_pack_sequences: one shuffle on the bucket key (the window),
    nothing else — token counting and chunk math are map-side. Budget 2:
    the second exchange is widen()'s small-input repartition, which
    no-ops at scale (the scan then yields >= cores partitions)."""
    plan = plan_of(spark, "corpus_pack_sequences")
    assert n_exchanges(plan) <= 2, plan
    schema_line = plan.split("ReadSchema")[1].split("\n")[0]
    assert "text" in schema_line and "source" not in schema_line, (
        "pack should read only doc_id+text: " + schema_line
    )


def test_hll_shuffles_registers_not_keys(spark):
    """events_distinct_users_hll_merged: every exchange after the scan
    is keyed on a group (event_type, day) or (event_type, register) —
    at most 1025 rows per group, never the user keys. Static count is
    exactly 5:
      1. per-(event_type, day, register) rho max (hll_register_vectors);
      2. collect those entries into one vector per (event_type, day);
      3. per-(event_type, register) max over the exploded day vectors
         (hll_merge);
      4. collect the merged entries into one vector per event_type;
      5. the final orderBy(event_type) range exchange.
    hll_estimate is map-only on the vectors."""
    plan = plan_of(spark, "events_distinct_users_hll_merged")
    assert n_exchanges(plan) == 5, plan
    schema_line = plan.split("ReadSchema")[1].split("\n")[0]
    assert "props" not in schema_line and "value" not in schema_line, (
        "hll should read only event_type+user_id+ts: " + schema_line
    )


def test_funnel_all_stages_key_on_user(spark):
    """funnel_signup_4stage: every join/agg keys on user_id; the
    final summary is a 1-row agg. No cartesian, no window over the
    whole table."""
    plan = plan_of(spark, "funnel_signup_4stage")
    assert "CartesianProduct" not in plan
    schema_line = plan.split("ReadSchema")[1].split("\n")[0]
    assert "props" not in schema_line, (
        "funnel should read only user_id+event_type+ts: " + schema_line
    )


def test_vocab_rank_is_bucketed_not_global(spark):
    """vocab_token_ids (r7): the row_number window must be partitioned
    by doc_freq — the full vocabulary never flows through a
    single-partition window. The only SinglePartition exchange allowed
    is the one feeding the df-HISTOGRAM prefix sum (O(distinct df
    values) rows)."""
    plan = plan_of(spark, "vocab_token_ids")
    assert re.search(
        r"row_number\(\) windowspecdefinition\(doc_freq[^)]*pfx", plan
    ), (
        "row_number window not sub-bucketed by (doc_freq, first-char) "
        "(r8 verdict item 8 — the zipf-dominant df=3 bucket must not be "
        "one window partition):\n" + plan
    )
    assert plan.count("SinglePartition") == 1, (
        "expected exactly one SinglePartition (the df histogram), got "
        f"{plan.count('SinglePartition')}"
    )


def test_rfm_hist_no_global_ntile(spark):
    """customer_rfm_segments_hist: no ntile anywhere; the three
    single-partition exchanges carry only the metric HISTOGRAMS
    (bucket, count), never the per-customer table; the boundary row
    broadcasts back."""
    plan = plan_of(spark, "customer_rfm_segments_hist")
    assert "ntile" not in plan
    assert plan.count("SinglePartition") == 3, plan.count("SinglePartition")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_13gram_no_cartesian_and_pruned_scan(spark):
    """split_contamination_13gram: gram join is an equi-join (never
    all-pairs docs), and the scan reads only (doc_id, text)."""
    plan = plan_of(spark, "split_contamination_13gram")
    assert "CartesianProduct" not in plan
    schema_line = plan.split("ReadSchema")[1].split("\n")[0]
    assert "source" not in schema_line and "lang" not in schema_line


def test_sessionize_windows_keyed_on_user(spark):
    """sessionize_events: both windows hash-partition on user_id and
    share that one exchange; the per-session agg keys on (user_id,
    session_seq), which the window partitioning already satisfies. No
    single-partition work anywhere."""
    plan = plan_of(spark, "sessionize_events")
    assert "ntile" not in plan
    assert plan.count("SinglePartition") == 0
    assert n_exchanges(plan) == 1, plan
    assert re.search(r"hashpartitioning\(user_id", plan), plan


def test_cms_counters_broadcast_back(spark):
    """top_tokens_cms: the bounded counter grid broadcasts to the
    candidate probe — the token table is never re-shuffled for it."""
    plan = plan_of(spark, "top_tokens_cms")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("SinglePartition") == 0


def test_mixture_schedule_totals_broadcast(spark):
    """corpus_mixture_schedule: per-source agg + 1-row totals broadcast;
    no sort of anything bigger than the source list."""
    plan = plan_of(spark, "corpus_mixture_schedule")
    assert "CartesianProduct" not in plan
    assert plan.count("SinglePartition") <= 1  # the 1-row totals agg
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_winnow_profile_shape(spark):
    """doc_winnow_profile: fingerprinting stays inside the scan stage
    (no UDF, no extra shuffle) — exchange budget is widen's small-input
    repartition + partial->final agg + the output sort."""
    plan = plan_of(spark, "doc_winnow_profile")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert n_exchanges(plan) <= 3, plan
    assert plan.count("SinglePartition") == 0


def test_winnow_pairs_never_join_text(spark):
    """near_dup_winnow_pairs: the self-join carries (fp, doc_id) longs;
    document text is read once for fingerprinting and never appears in
    a join. No all-pairs operator anywhere."""
    plan = plan_of(spark, "near_dup_winnow_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    schema_line = plan.split("ReadSchema")[1].split("\n")[0]
    assert "text" in schema_line  # the one scan that hashes it
    # text column must not survive past the fingerprint projection
    joins = plan.split("Join")[1:]
    assert all("text#" not in j.split("\n")[0] for j in joins)


def test_interval_join_is_bucketed_equi_join(spark):
    """purchase_window_event_counts: the range predicate must ride an
    equi-join on the time bucket (explode <= 2 buckets/window), never a
    nested-loop over all (event, window) pairs."""
    plan = plan_of(spark, "purchase_window_event_counts")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the per-window bucket explode
    assert re.search(r"\(\d+\) (BroadcastHashJoin|SortMergeJoin)", plan), plan
    # map-side-combinable agg: partial before the final group on window_id
    assert plan.count("HashAggregate") >= 2


def test_hourly_dense_single_fact_pass(spark):
    """events_hourly_dense: the fact table passes ONE aggregation; the
    spine/grid side is built from a 1-row agg and broadcast — no
    re-shuffle of raw events for the gap-fill join."""
    plan = plan_of(spark, "events_hourly_dense")
    assert plan.count("BroadcastExchange") >= 2  # spine and hourly cells
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan  # crossJoin plans as BNLJ w/ 1-col build


def test_bloom_prefilter_words_broadcast(spark):
    """dedup_bloom_prefilter: the <=1024-word bitset must broadcast to
    the probe side — probing never shuffles the new-doc fingerprints."""
    plan = plan_of(spark, "dedup_bloom_prefilter")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_exact_substrings_exchange_budget_and_shared_window(spark):
    """dedup_exact_substrings (r10): the gap-and-islands span merge runs
    both windows (running-max break flags + island ids) on ONE doc_id
    exchange; the only other shuffle is the gram-count partial agg; the
    final orderBy adds the range exchange. No cartesian anywhere, and
    the scan prunes to (doc_id, text)."""
    plan = plan_of(spark, "dedup_exact_substrings")
    assert "CartesianProduct" not in plan
    # <= 4 since r13: widen()'s repartition ahead of the gram explode
    # (see test_bm25_single_scan_broadcast_joins note)
    assert n_exchanges(plan) <= 4, plan[:2000]
    # both Window ops are adjacent on the same partitioning (a second
    # doc_id exchange between them would double the span-merge shuffle)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    schema_line = plan.split("ReadSchema")[1].split("\n")[0]
    assert "source" not in schema_line and "lang" not in schema_line


def test_semdedup_single_scan_single_window(spark):
    """semdedup_prune (r10): the ranked corpus (window over the cluster
    key) is persisted and re-read by all three consumers — both
    self-join sides and the final left join — so the physical plan has
    exactly ONE parquet scan and ONE Window; everything else reads the
    cache. Shuffle budget: window exchange + prune-distinct + final
    join/sort. No cartesian (the self-join is keyed on the cluster)."""
    plan = plan_of(spark, "semdedup_prune")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:1500]
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "InMemoryTableScan" in plan
    assert n_exchanges(plan) <= 4


def test_dsir_single_text_scan(spark):
    """dsir_importance_select (r10): the tokenize+explode pass runs ONCE
    — the (doc, bucket) count matrix is cached and bucket stats, totals
    and per-doc scores all read the cache. The only other scan is the
    doc_id-only left-join anchor (column-pruned). Bucket stats and
    totals broadcast; no cartesian (the one-row totals join is a
    broadcast nest-loop, not a shuffle)."""
    plan = plan_of(spark, "dsir_importance_select")
    assert "CartesianProduct" not in plan
    scans = re.findall(r"\(\d+\) Scan parquet[^\n]*\n[^\n]*\n[^\n]*", plan)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan[:1500]
    assert "InMemoryTableScan" in plan
    # exactly 8 since r13: 6 plus widen()'s repartition ahead of BOTH
    # scans (the tokenize pass and the doc_id-only anchor; the anchor's
    # exchange shuffles pruned doc_ids only — see the bm25 pin note).
    # The fixture is one row group, so widen() repartitions whenever
    # the session has more than one core.
    widened = spark.sparkContext.defaultParallelism > 1
    assert n_exchanges(plan) == (8 if widened else 6)
    # text is read by exactly one of the two scans
    assert plan.count("text:string") <= 2


def test_ccnet_bounded_scans(spark):
    """ccnet_perplexity_buckets (r10): exploded bigrams and the
    reference unigram LM are each cached (the tokenize pass is not
    re-run per consumer) — 3 scans total (bigram build, reference
    unigrams, doc_id join anchor), one tercile window, no cartesian."""
    plan = plan_of(spark, "ccnet_perplexity_buckets")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 3
    assert "InMemoryTableScan" in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert n_exchanges(plan) <= 6


def test_bm25_single_scan_broadcast_joins(spark):
    """bm25_retrieval_topk (r10): the (doc, tok, tf) terms table is
    cached — ONE parquet scan; doc lengths, corpus totals, document
    frequencies and query term sets all read the cache and join back by
    broadcast (no sort-merge legs, no cartesian)."""
    plan = plan_of(spark, "bm25_retrieval_topk")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "InMemoryTableScan" in plan
    assert "SortMergeJoin" not in plan
    # +1 exchange vs r10: widen()'s small-input repartition ahead of the
    # terms build (r13 — parallelizes the tokenize stage on fixtures
    # whose single-row-group scan would otherwise run one task;
    # interleaved A/B 2.3 -> 2.2 median with the scan stage now 32-wide)
    assert n_exchanges(plan) <= 9


def test_textrank_iterations_reuse_cached_graph(spark):
    """textrank_keywords (r13 shape): ONE cached edge table with wsum
    pre-attached (window at build) feeds every sweep — each sweep reads
    InMemoryTableScan, never re-scans the corpus, and both edge
    directions come from a single scan (an exploded 2-struct array, not
    a unionAll of two scan subtrees). Sweep 1 folds the constant
    pr0 = S into the expression, so only sweeps 2..n broadcast a pr
    table (plus the isolated-token anti-join): broadcast count dropped
    9 -> 3 at TEXTRANK_ITERS = 3. No per-sweep nodes join, no
    sort-merge legs."""
    plan = plan_of(spark, "textrank_keywords")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "InMemoryTableScan" in plan
    # corpus scans: one for the cached edge build, one for the
    # isolated-token pass (the r12 shape had three)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    # pr broadcasts only for sweeps after the first, + the iso anti-join
    assert (
        len(re.findall(r"\(\d+\) BroadcastExchange", plan))
        <= Q.TEXTRANK_ITERS
    )


def test_kn_bigram_single_scan_broadcast_stats(spark):
    """kn_bigram_lm (r10): the bigram table is cached (ONE parquet
    scan); left/right/total stats all read the cache and broadcast back
    (the one-row nbb join is a broadcast nest-loop, not a shuffle); no
    sort-merge legs."""
    plan = plan_of(spark, "kn_bigram_lm")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "InMemoryTableScan" in plan
    assert n_exchanges(plan) <= 5


def test_scd2_single_compute_exchange(spark):
    """scd2_user_state (r10): lag -> running-sum -> run agg -> lead all
    partition on user_id, so Catalyst plans them on ONE hash exchange;
    the only other exchange is the presentation orderBy's range
    partitioning."""
    plan = plan_of(spark, "scd2_user_state")
    exs = re.findall(r"\(\d+\) Exchange[^\n]*\n[^\n]*\n[^\n]*", plan)
    assert n_exchanges(plan) <= 2, plan[:1500]
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) >= 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 3


def test_basket_lift_single_scan_cached_baskets(spark):
    """basket_lift_pairs (r10): the distinct basket table is cached and
    feeds all four readers (both self-join sides, item counts, basket
    total) — lineitem is scanned ONCE; item counts and the one-row
    total ride broadcasts; no cartesian legs."""
    plan = plan_of(spark, "basket_lift_pairs")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) >= 4
    assert n_exchanges(plan) <= 8


def test_setjoin_single_scan_no_cartesian(spark):
    """setjoin_prefix_jaccard (r10): the distinct shingle-set table is
    cached (ONE corpus scan feeds df ranking, prefixes, both verify
    posting lists, and sizes); candidate generation and verification
    are all equi-joins — a naive exact set-similarity join would be a
    CartesianProduct, the prefix filter keeps it out of the plan."""
    plan = plan_of(spark, "setjoin_prefix_jaccard")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) >= 5
    assert n_exchanges(plan) <= 10


def test_attribution_single_scan_one_window(spark):
    """attribution_linear_touch (r10): events is scanned ONCE (pruned
    5-column base cached, purchases and touches both derive from it);
    the per-purchase touch count is ONE purchase_id window, not a
    second join; the attributed-pairs cache serves both the rollup and
    the unattributed anti-join."""
    plan = plan_of(spark, "attribution_linear_touch")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) >= 3
    assert n_exchanges(plan) <= 8


def test_profile_single_scan_expand_agg(spark):
    """profile_orders (r10, reshaped r12): the 6-way distinct profile
    stays ONE Expand-based aggregate, but min/max (string buffers force
    a SortAggregate) run in a SEPARATE keyless pass so the Expanded row
    stream aggregates hash-side instead of being sorted on seven wide
    keys — two pruned scans, no per-column re-scans, and the only join
    glues two single-row frames together (broadcast-trivial)."""
    plan = plan_of(spark, "profile_orders")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "Expand" in plan
    # the Expanded (distinct) side must aggregate hash-side: no Sort
    # may appear below the Expand's aggregation
    assert "HashAggregate" in plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) <= 1  # output orderBy only
    assert n_exchanges(plan) <= 4


def test_grouping_sets_single_pass(spark):
    """events_grouping_sets (r10): the three sets share ONE Expand +
    aggregate over a single scan — not three unioned aggregations."""
    plan = plan_of(spark, "events_grouping_sets")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan
    assert "Union" not in plan


def test_trailing_window_single_exchange(spark):
    """events_trailing_1h (r10): the RANGE frame evaluates on ONE
    user_id hash exchange + in-partition sort; the only other exchange
    is the presentation orderBy."""
    plan = plan_of(spark, "events_trailing_1h")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert n_exchanges(plan) <= 2
    assert "hashpartitioning(user_id" in plan


def test_ares_topk_no_global_sort(spark):
    """weighted_sample_ares (r10): key computation is map-side on the
    scan; selection is TakeOrderedAndProject (O(k) per partition, no
    full sort, no corpus shuffle)."""
    plan = plan_of(spark, "weighted_sample_ares")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "TakeOrderedAndProject" in plan
    assert n_exchanges(plan) <= 1


def test_pmi_single_scan_broadcast_stats(spark):
    """pmi_top_pairs (r11): the bigram table is cached (ONE parquet
    scan feeds it); margins broadcast; the one-row total is a broadcast
    nest-loop, never a SortMergeJoin or cartesian shuffle."""
    plan = plan_of(spark, "pmi_top_pairs")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "InMemoryTableScan" in plan
    assert n_exchanges(plan) <= 5


def test_kmv_single_distinct_exchange_then_tiny(spark):
    """kmv_distinct_setops (r11): the only corpus-sized work is the
    DISTINCT (type, hash) agg (map-side combinable); everything after
    operates on k*|types| cached rows with broadcast joins."""
    plan = plan_of(spark, "kmv_distinct_setops")
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "InMemoryTableScan" in plan


def test_pii_scrub_is_map_side_plus_one_exchange(spark):
    """pii_scrub_stats (r11): regexp work fuses into the scan inside
    whole-stage codegen; the segment rollup is the only exchange pair
    (partial + final)."""
    plan = plan_of(spark, "pii_scrub_stats")
    assert "Join" not in plan, "pii scrub must be join-free map work"
    assert n_exchanges(plan) <= 2, plan
    schema_line = plan.split("ReadSchema")[1].split("\n")[0]
    assert "c_acctbal" not in schema_line, (
        "column pruning lost: only c_name + c_mktsegment are read"
    )


def test_langid_profiles_broadcast(spark):
    """langid_trigram_vote (r11): the trigram explode is cached (one
    corpus scan feeds profile training AND doc scoring); the
    |langs|*M profile broadcasts into the scoring join — no
    sort-merge legs on the corpus-sized side."""
    plan = plan_of(spark, "langid_trigram_vote")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan


def test_containment_no_posting_list_reexplode(spark):
    """containment_join_pairs (r11): verification joins candidate pairs
    against the two cached set ARRAYS (array_intersect in-task), never
    re-exploding posting lists; one parquet scan feeds the cached
    base."""
    plan = plan_of(spark, "containment_join_pairs")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "InMemoryTableScan" in plan
    assert "array_intersect" in plan


def test_dedup_duplicate_lines_no_window_no_join_skew(spark):
    """dedup_duplicate_lines (r12): the keep-first sweep is pure
    map-side-combinable aggregation — NO row_number window over the
    line-hash key (a boilerplate line in 10^8 docs would make a hot
    window partition); text dies in the scan (shuffles carry the
    60-bit hash + fixed-width counters only); one parquet scan."""
    plan = plan_of(spark, "dedup_duplicate_lines")
    assert "Window" not in plan, "keeper rule must not window over h"
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    # the raw text column never reaches an exchange
    for seg in plan.split("Exchange")[1:]:
        first_line = seg.split("\n")[0]
        assert "text" not in first_line, first_line


def test_inverted_index_two_level_agg_no_distinct_shuffle(spark):
    """inverted_index_postings (r12): the classic two-level index build
    — (gram, doc_id, tf) partial counts then the phrase-level rollup;
    no separate DISTINCT shuffle of raw occurrences, no join at all,
    one parquet scan, presentation via TakeOrdered (no global sort of
    the index)."""
    plan = plan_of(spark, "inverted_index_postings")
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "TakeOrderedAndProject" in plan
    assert n_exchanges(plan) <= 3, plan
