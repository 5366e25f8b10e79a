"""Plan-shape guards: anti-patterns that are invisible at test scale but
fatal at 100 TB must not creep into the query inventory.

Today's guard: an UNPARTITIONED window (Exchange SinglePartition feeding
a Window node) serializes the whole frame through one task.  It is only
acceptable over provably aggregate-sized frames; every such case must be
allowlisted here WITH its justification, so a new one fails review by
failing this test.
"""

import pytest

from enterprise_sales_data_pipeline_using_aws_lambda_spark.plans.queries import (
    QUERIES,
)

#: name → why a single-partition window is safe THERE.
ALLOWED_GLOBAL_WINDOWS = {
    # frame = one row per calendar day (|days| ≈ hundreds, not fact-sized)
    "window_moving_avg_range": "window over per-day aggregate",
    # frame = one row per month
    "monthly_revenue_growth": "lag over per-month rollup",
    # global_cumsum's offset frame = one row per shuffle PARTITION
    # (≤ spark.sql.shuffle.partitions rows); the data-sized cumsum is
    # range-partitioned
    "pareto_abc_customers": "partition-count offset frame (global_cumsum)",
    "sequence_packing": "partition-count offset frame (global_cumsum)",
    # skyline phase 2: the global scan runs over the UNION OF LOCAL
    # SKYLINES only (phase 1 pruned each range partition in parallel);
    # that survivor frame is output-sized, not fact-sized
    "skyline_price_quantity": "survivor-union scan (skyline_2d phase 2)",
    # exact_percentiles with a single global group: Catalyst constant-
    # folds the literal group out of the cumulative window's
    # partitionBy, exposing the histogram frame — bounded by
    # operators.agg.HISTOGRAM_BUCKETS rows (+1 NaN bucket),
    # never fact-sized
    "conversion_latency_percentiles": (
        "histogram-bucket cumulative frame (exact_percentiles, "
        "global group)"
    ),
    # r5: the session-boundary sweep itself is now range-partitioned
    # via global_cumsum; only the P-row offset frame remains global
    "peak_concurrent_sessions": "partition-count offset frame (global_cumsum)",
}

SF_DIR = "/root/testdata/sf0.001"

#: query name → why a driver-side action inside the BUILDER is justified
#: there.  Everything else must build one lazy plan: a mid-build
#: .count()/.first()/.collect() is an extra pass over data the optimizer
#: can't see or prune (the pmi_bigrams / tfidf_top_terms regressions
#: this guard pins).  Actions inside operators/ modules are separately
#: documented design decisions (bounded collects, iterative fixpoints)
#: and are out of this lint's scope.
ALLOWED_BUILDER_ACTIONS: dict[str, str] = {
    # Bloom sizing: m_bits must be FIXED before the bit positions are
    # computed (they depend on m), so |seen| is a pre-pass scalar by
    # construction — one count() over a single projected column, the
    # same pattern as training an index before using it.
    "bloom_incremental_dedup": "bloom m_bits sizing count()",
}

#: DataFrame actions are zero-arg calls (df.count(), df.collect(), ...);
#: the same names WITH args are harmless Column functions (F.count("*"),
#: F.first(col)).  take/head are actions regardless of arity.
_ZERO_ARG_ACTIONS = {"count", "first", "collect", "toPandas"}
_ALWAYS_ACTIONS = {"take", "head", "toLocalIterator"}


def test_no_driver_actions_in_query_builders():
    """Query builders must not run Spark actions mid-build (AST lint)."""
    import ast
    import inspect
    import textwrap

    def is_action(node: "ast.Call") -> bool:
        if not isinstance(node.func, ast.Attribute):
            return False
        if node.func.attr in _ALWAYS_ACTIONS:
            return True
        return (
            node.func.attr in _ZERO_ARG_ACTIONS
            and not node.args
            and not node.keywords
        )

    offenders = {}
    for name, fn in QUERIES.items():
        src = textwrap.dedent(inspect.getsource(fn))
        tree = ast.parse(src)
        hits = [
            f"{node.func.attr}() at line {node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call) and is_action(node)
        ]
        if hits:
            offenders[name] = hits
    unlisted = sorted(set(offenders) - set(ALLOWED_BUILDER_ACTIONS))
    assert not unlisted, (
        "driver-side actions inside query builders (hidden extra scans; "
        "inline the scalar as a broadcast 1-row aggregate instead): "
        f"{ {n: offenders[n] for n in unlisted} }"
    )
    stale = sorted(set(ALLOWED_BUILDER_ACTIONS) - set(offenders))
    assert not stale, (
        f"builder-action allowlist entries no longer needed: {stale}"
    )


@pytest.mark.slow
def test_no_unlisted_single_partition_windows(spark):
    flagged = {}
    for name, fn in QUERIES.items():
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            ctx = "\n".join(lines[max(0, i - 4) : i])
            if "Window" in ctx:
                flagged[name] = True
                break
    unlisted = sorted(set(flagged) - set(ALLOWED_GLOBAL_WINDOWS))
    assert not unlisted, (
        "single-partition window in plans not allowlisted (would "
        f"serialize a fact-sized frame through one task at scale): {unlisted}"
    )
    stale = sorted(set(ALLOWED_GLOBAL_WINDOWS) - set(flagged))
    assert not stale, (
        f"allowlist entries no longer needed (tighten the list): {stale}"
    )


def test_no_forced_vocabulary_broadcasts(spark):
    """Unbounded (vocabulary-sized) frames must never carry an explicit
    broadcast hint: a web-corpus vocabulary exceeds broadcast/driver
    budgets, and AQE already promotes genuinely-small sides at runtime.
    The allowed hints in these plans are provably-bounded frames only
    (1-row aggregates, |query-term| filters, P×G selection offsets).
    Counted on the ANALYZED plan: the optimizer folds ResolvedHint
    nodes into joins, so the optimized plan always shows zero."""
    # (query, max allowed ResolvedHint nodes, what the survivors are)
    cases = {
        "tfidf_top_terms": 1,        # 1-row corpus count
        "lm_perplexity_scores": 1,   # 1-row vocabulary size
        "bm25_retrieval": 2,         # |query-term| dfreq + 1-row stats
    }
    for name, allowed in cases.items():
        plan = (
            QUERIES[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .analyzed()
            .toString()
        )
        hints = plan.count("ResolvedHint")
        assert hints <= allowed, (
            f"{name}: {hints} broadcast hints in optimized plan "
            f"(allowed {allowed}) — a vocabulary-sized side got a "
            f"forced broadcast back:\n{plan[:2000]}"
        )


def test_ensure_min_parallelism_noop_at_scale(spark):
    """The under-split rebalance must be a NO-OP once the input already
    splits >= cores — at 100 TB every scan does, so the exchange it
    inserts locally must never appear in a real cluster plan.  Also pins
    the positive case: an under-split input comes back round-robin
    repartitioned to defaultParallelism."""
    from pyspark.sql import functions as F

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.materialize import (  # noqa: E501
        ensure_min_parallelism,
    )

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, target + 4).select(
        F.col("id"), F.lit("x").alias("text")
    )
    # identity — not merely equal partitioning: no new plan node at all
    assert ensure_min_parallelism(wide) is wide

    narrow = spark.range(0, 1000, 1, 1).select(
        F.col("id"), F.lit("x").alias("text")
    )
    out = ensure_min_parallelism(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 1000


def test_ensure_min_parallelism_plan_cache_skips_rdd_probe(
    spark, monkeypatch
):
    """A FRESH DataFrame object over an already-probed plan must take
    its verdict from the semanticHash cache without the RDD-conversion
    probe (the ~35-430 ms/frame driver overhead the round-5 ADVICE
    flagged): with DataFrame.rdd booby-trapped, a semantically
    identical rebuild still resolves — and still gets repartitioned
    when the cached verdict says under-split."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.materialize import (  # noqa: E501
        ensure_min_parallelism,
    )

    target = spark.sparkContext.defaultParallelism

    def build(n_parts):
        return spark.range(0, 1000, 1, n_parts).select(
            F.col("id"), F.lit("probe-cache").alias("text")
        )

    # prime both verdicts through the real probe
    assert ensure_min_parallelism(build(target + 4)) is not None
    primed_narrow = ensure_min_parallelism(build(1))
    assert primed_narrow.rdd.getNumPartitions() == target

    real_rdd = DataFrame.rdd

    def boom(self):
        raise AssertionError("RDD probe ran despite plan-cache hit")

    monkeypatch.setattr(DataFrame, "rdd", property(boom))
    try:
        wide2 = build(target + 4)
        assert ensure_min_parallelism(wide2) is wide2
        narrow2 = build(1)
        out = ensure_min_parallelism(narrow2)
        assert out is not narrow2
    finally:
        monkeypatch.setattr(DataFrame, "rdd", real_rdd)
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 1000
