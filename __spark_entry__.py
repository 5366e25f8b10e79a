"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual inventory lives in
``enterprise_sales_data_pipeline_using_aws_lambda_spark.plans.queries`` —
one (Spark builder, oracle SQL) pair per operator from SURVEY.md §2.
``COVERAGE.md`` maps every SURVEY §2 operator (and the extension
surface) to its implementation, gate query, and tests.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from enterprise_sales_data_pipeline_using_aws_lambda_spark.plans.queries import (
    ORACLES,
    QUERIES,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The driver checks exactly 50 entries per round, in dict order
# (CORRECTNESS_r01-r13 evidence).  Round 14 is the SECOND (and last)
# OPTIMIZATION round: the budget fronts the five queries whose gate
# plans this round's optimization changed (CHANGED_THIS_ROUND below —
# mechanical digest-diff against the committed round-13
# PLANS_DIGEST.txt: the selection family's histogram-strategy rework
# plus conversion_latency's materialized latency frame), then the
# WHOLE remaining round-10 staleness cohort — ALL 26 queries whose
# latest driver check is round 10 (recomputed from
# CORRECTNESS_r01-r13 this session, led by the two fillers round 13
# displaced) — then 19 round-11-checked fillers, heaviest/most-
# composite first.  5+26+19 = 50, so after this round no registered
# query's latest driver check is older than round 11.  The
# OPTIMIZATION changes are enumerated in CHANGED_THIS_ROUND and
# OPTIMIZATION_r14.md, each re-proved against the DuckDB oracle this
# session.  No new queries this round — registered stays at 174.


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's core aggregate (per-country sales summary,
    reference ``lambda.py:184-189``) mapped onto the lineitem fact.
    """
    return QUERIES["ref_sales_summary"](spark, SMOKE_SF_DIR)


# Round-13 red rows: NONE (CORRECTNESS_r13 was 50/50 green).
R13_RED: list[str] = []

# Queries whose gate PLAN changed this round — round 14 is the second
# (and last) OPTIMIZATION round; five digests moved (verified
# mechanically: `python tools/explain_audit.py --all` diffed against
# the committed round-13 PLANS_DIGEST.txt, regenerated in the same
# commit): the whole selection family now rides the histogram
# strategy (operators/agg.py::_histogram_percentiles — per-(group,
# bucket) count histogram + crossing-bucket rescan replaces the
# range-partitioned distributed selection: the fact is scanned but
# never shuffled), and conversion_latency_percentiles additionally
# materializes its derived latency frame before the four consumers.
# All five re-proved against the DuckDB oracle this round (PASS at
# sf0.01 and sf0.1; at sf0.001 percentile_summary/mad_robust_spread
# sit on a PRE-EXISTING Spark-vs-DuckDB half-cent rounding boundary —
# the round-13 tree fails those two identically at that SF; the
# selection's raw doubles equal a sort-and-interpolate reference bit
# for bit, pinned by
# tests/test_agg_and_functions.py::test_selection_bit_identical_to_reference).
CHANGED_THIS_ROUND: list[str] = [
    "percentile_summary",
    "mad_robust_spread",
    "winsorized_stats",
    "daily_value_percentiles",
    "conversion_latency_percentiles",
]

# No additions this round — registered stays at 174 and the 50-slot
# budget goes to rotation.
NEW_THIS_ROUND: list[str] = []

# ALL 26 queries whose latest driver check is round 10 (recomputed
# mechanically from CORRECTNESS_r01-r13 this session) — the whole
# remaining r10 staleness cohort fits this round's budget.  The two
# entries the round-13 plan-changed block displaced
# (stateful_user_totals, key_skew_profile) lead, as promised there;
# the rest are alphabetical.
OLDEST_R10 = [
    "stateful_user_totals", "key_skew_profile",
    "approx_distinct_users_daily", "approx_percentile_summary",
    "bounded_rows_moving_avg", "daily_revenue_dense",
    "disjunctive_promo_revenue", "event_seasonality_profile",
    "global_row_numbering", "higher_moments_profile",
    "histogram_order_values", "monthly_revenue_growth",
    "nth_order_values", "nullsafe_join_segments",
    "order_history_features", "order_interarrival_stats",
    "pareto_abc_customers", "price_quartile_stats",
    "profile_lineitem_stats", "ratio_to_report_lang_share",
    "referential_integrity_audit", "regression_per_flag",
    "shipping_delay_stats", "try_functions_safety",
    "unpivot_status_totals", "variant_props_banded",
]

# Remaining budget: 19 round-11-checked fillers, heaviest/most-
# composite first (same rule as rounds 12-13): the 15 heaviest
# benched r11 lanes by this round's baseline bench (record-linkage,
# skyline, upsert, basket-lift, the passage/boilerplate/repeated-
# spans text-dedup stack, UDTF explode, brute-force ANN, feature
# hashing, keep-last dedup, repetition stats, TPCH q1, as-of join,
# boundary chunking), then the four most-composite gate-only r11
# lanes (iterative BFS reachability, IVF ANN, semantic embedding
# dedup, z-order layout profile).  conversion_latency_percentiles is
# r11-checked too but already fronted in CHANGED_THIS_ROUND.
OLDEST_R11_FILLERS = [
    "record_linkage_scores", "skyline_price_quantity",
    "ref_upsert", "basket_part_pairs_lift",
    "passage_dedup_stats", "boilerplate_ngram_stats",
    "dedup_repeated_spans", "udtf_keyvalue_explode",
    "similarity_topk_bruteforce", "feature_hash_vectors",
    "ref_dedup_keep_last", "doc_repetition_stats",
    "q1_pricing_summary", "asof_click_purchase",
    "chunk_documents_boundary",
    "recursive_reachability_bfs", "similarity_topk_ivf",
    "dedup_embedding_cosine", "zorder_layout_profile",
]


# ROUND-15 ROTATION PLAN (for the next context): this round's 50
# slots are 5 plan-changed + the full 26-query round-10 cohort + 19
# round-11 fillers.  If CORRECTNESS_r14 comes back green, no
# registered query's latest driver check is older than round 11.
# Next round: front any r14 reds, then r15 plan-changed queries
# (regenerate PLANS_DIGEST.txt and diff), then the REMAINING
# round-11-checked queries (recompute mechanically from
# CORRECTNESS_r01-r14: the 50-query r11 cohort minus this round's 19
# OLDEST_R11_FILLERS minus conversion_latency_percentiles, ~30
# entries), then round-12-checked fillers up to the 50-slot budget
# (heaviest/most-composite first, same rule as this round).  Keep
# must-check <= 50 (tests/test_plans.py asserts it).
# To compute CHANGED_THIS_ROUND mechanically: `python
# tools/explain_audit.py --all` and diff against the committed
# PLANS_DIGEST.txt baseline — any moved digest line is a plan
# change that must be fronted; update the baseline in the same
# commit as the plan change.


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered so the driver's budgeted (50-entry, dict-ordered)
    verification spends its budget where it matters: (1) round-13 red
    rows (none), (2) the five queries this optimization round's plan
    changes touched (mechanical digest-diff), (3) the full 26-query
    round-10-checked staleness cohort, (4) 19 round-11-checked
    fillers.  0+5+26+19 = 50 exactly, so every red, plan-changed, or
    stale-since-r10 gate is inside this round's budget (asserted by
    tests/test_plans.py's rotation guard).
    """
    explicit = (
        R13_RED + CHANGED_THIS_ROUND + NEW_THIS_ROUND + OLDEST_R10
        + OLDEST_R11_FILLERS
    )

    def bucket(name: str) -> tuple:
        if name in explicit:
            return (0, explicit.index(name))
        return (1, 0)

    names = sorted(QUERIES, key=bucket)  # stable: insertion order within
    return {n: QUERIES[n] for n in names}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query (omitted for ops with no
    SQL-expressible oracle → driver runs a rows-only check)."""
    return dict(ORACLES)
