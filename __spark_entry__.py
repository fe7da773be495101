"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``tidb_lightning_spark`` (see SURVEY.md §2);
this module only adapts the registry to the driver's interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tidb_lightning_spark.plans import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return Q.q1_pricing_summary(spark, "/root/testdata/sf0.001")


# The per-round driver verify samples the first ~50 entries of
# ``queries()``, so this list rotates the verification window onto the
# STALEST names — THE RULE (permanent, r9 verdict item 4): new/changed
# entries first, then every registry query ordered stalest-first by the
# round of its latest CORRECTNESS_r{N}.json appearance (the registry's
# 119 entries outgrow two 50-slot windows, so full two-round coverage
# is not possible — priority order is what matters). Current window:
# kn_bigram_lm (oracle text changed), the r12 operators, then the 29
# r9-vintage names (r11 verdict item 2), then r10-vintage fill — all
# green in tests/test_oracle_parity.py (the identical DuckDB compare).
_DRIVER_PRIORITY = [
    # CHANGED — grade first. kn_bigram_lm's oracle now builds on the
    # shared _KN_COUNTS_SQL head (same rows and column types as the
    # standalone text it replaces, whose HUGEINT-safe CAST it keeps).
    "kn_bigram_lm",
    # r12 NEW operators
    "dedup_duplicate_lines",
    "inverted_index_postings",
    # the 29 r9-vintage entries — stalest in the registry, no driver
    # check since r9 (r11 verdict item 2)
    "q9_product_profit",
    "q11_important_parts",
    "q16_supplier_part_counts",
    "q20_promotion_suppliers",
    "q21_sole_late_supplier",
    "text_scrub",
    "corpus_split_assign",
    "top_bigrams",
    "split_contamination",
    "quality_repetition_filters",
    "quality_top_bigram",
    "domain_quota_sample",
    "dedup_keep_best",
    "corpus_shuffle_buckets",
    "embedding_centroids",
    "corpus_stats_by_source",
    "token_concentration",
    "minhash_calibration",
    "dedup_rate_by_source",
    "corpus_pack_sequences",
    "cohort_weekly_retention",
    "dedup_incremental_vs_reference",
    "near_dup_simhash_pairs",
    "split_leakage_neardup",
    "event_transition_matrix",
    "events_hourly_anomaly",
    "doclen_quantiles_by_source",
    "embedding_norm_profile",
    "vocab_token_ids",
    # r10-vintage fill for the rest of the ~50-slot window (stalest
    # next; the registry at 119 entries outgrows two 50-slot windows,
    # so the rule is strictly "new/changed first, then stalest")
    "events_hourly_rollup",
    "checksum_lineitem",
    "dedup_exact_documents",
    "knn_cosine_bruteforce",
    "minhash_signatures",
    "near_dup_minhash_lsh",
    "doc_rare_tokens",
    "corpus_clean_pipeline",
    "near_dup_clusters",
    "near_dup_embeddings_lsh",
    "customers_without_orders",
    "events_distinct_users_hll_merged",
    "funnel_signup_4stage",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2,
    driver-unverified entries first (see _DRIVER_PRIORITY). A priority
    name missing from the registry raises KeyError rather than silently
    shrinking the verify window."""
    reg = Q.registry()
    ordered = _DRIVER_PRIORITY + [
        n for n in reg if n not in _DRIVER_PRIORITY
    ]
    return {name: reg[name].spark for name in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted -> rows-only)."""
    return {
        name: spec.oracle
        for name, spec in Q.registry().items()
        if spec.oracle is not None
    }
