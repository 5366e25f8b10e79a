"""Query inventory: every operator from SURVEY.md §2 (plus the analytics
and LLM-pipeline extensions) expressed as a (Spark builder, oracle SQL)
pair over the star-schema test tables.

Conventions (driver contract, ``__spark_entry__.py``):
- each builder takes ``(spark, sf_dir)`` and returns a DataFrame;
- every computed column is aliased identically in Spark and SQL;
- float aggregates are ``round(x, 2)``-ed on BOTH sides so the driver's
  order-insensitive value hash is stable against summation-order ulps
  (SURVEY §7.5.5);
- raw columns pass through unrounded (identical parquet bits on both
  sides).

Registration happens via the ``@query`` decorator into ``QUERIES`` /
``ORACLES``; queries with no SQL-expressible oracle (fuzzy dedup etc.)
register with ``oracle=None`` and get the driver's rows-only check.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.agg import sales_summary
from ..operators.dedup import dedup_keep_last, duplicate_groups
from ..operators.upsert import upsert_keep_last
from ..operators.validate import rule_violation_counts
from ..sources.readers import read_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark, sf_dir, name):
    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Reference surface (SURVEY §2) on the star schema: lineitem/orders play the
# sales fact, nation/region the Country/Region dimensions.
# ---------------------------------------------------------------------------

@query(
    "ref_sales_summary",
    """
    SELECT l_returnflag AS flag,
           max(l_quantity) AS max_units_sold,
           round(avg(l_extendedprice), 2) AS average_total_revenue,
           round(avg(l_extendedprice * (1 - l_discount)), 2) AS average_total_cost,
           round(avg(l_extendedprice * l_discount), 2) AS average_total_profit
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def ref_sales_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A1 (``lambda.py:184-189``): group-by with one max + three
    named means, mapped onto the lineitem fact (revenue/cost/profit kept
    arithmetically consistent: profit = revenue - cost).

    Plan shape: partial hash-agg → single shuffle on the group key →
    final hash-agg; rounding applied after the final agg.
    """
    li = _t(spark, sf_dir, "lineitem")
    fact = li.select(
        F.col("l_returnflag").alias("Country"),
        F.col("l_quantity").alias("UnitsSold"),
        F.col("l_extendedprice").alias("TotalRevenue"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "TotalCost"
        ),
        (F.col("l_extendedprice") * F.col("l_discount")).alias("TotalProfit"),
    )
    out = sales_summary(fact)
    return out.select(
        F.col("Country").alias("flag"),
        "max_units_sold",
        F.round("average_total_revenue", 2).alias("average_total_revenue"),
        F.round("average_total_cost", 2).alias("average_total_cost"),
        F.round("average_total_profit", 2).alias("average_total_profit"),
    )


@query(
    "ref_dedup_keep_last",
    """
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               event_type, value
        FROM events
    )
    SELECT user_id, event_id, ts, event_type, value
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM ev
    ) t
    WHERE rn = 1
    """,
)
def ref_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A2 (``lambda.py:180``): keyed keep-last dedup with the
    positional winner replaced by an explicit deterministic ordering
    (latest ``ts``, tie-broken by ``event_id`` — SURVEY §7.5.1).

    One hash shuffle on the key; no global sort."""
    ev = _t(spark, sf_dir, "events")
    out = dedup_keep_last(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return out.select("user_id", "event_id", "ts", "event_type", "value")


@query(
    "ref_upsert",
    """
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               event_type, value
        FROM events
    ),
    existing AS (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM ev WHERE ts < TIMESTAMP '2024-01-25 00:00:00'
    ),
    tgt AS (SELECT user_id, event_id, ts, event_type, value
            FROM existing WHERE rn = 1),
    batch AS (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM ev WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
    ),
    b1 AS (SELECT user_id, event_id, ts, event_type, value
           FROM batch WHERE rn = 1)
    SELECT * FROM tgt
    WHERE user_id NOT IN (SELECT user_id FROM b1)
    UNION ALL
    SELECT * FROM b1
    """,
)
def ref_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference upsert (``lambda.py:176-181``): incoming batch beats the
    existing target per key; idempotent on replay (``README.md:141-145``).
    Formulated as target LEFT ANTI JOIN batch-keys ∪ batch — the target
    is never sorted or rewritten wholesale (SURVEY §2.3, §7.5.2)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    cutoff = F.lit("2024-01-25 00:00:00").cast("timestamp")
    order = [F.col("ts").desc(), F.col("event_id").desc()]
    tgt = dedup_keep_last(ev.filter(F.col("ts") < cutoff), ["user_id"], order)
    batch = dedup_keep_last(
        ev.filter(F.col("ts") >= cutoff), ["user_id"], order
    )
    return upsert_keep_last(tgt, batch, ["user_id"])


@query(
    "ref_validate_counts",
    """
    SELECT 'qty_out_of_range' AS rule,
           count(*) FILTER (WHERE NOT (l_quantity BETWEEN 1 AND 45)) AS violations
    FROM lineitem
    UNION ALL
    SELECT 'discount_too_high',
           count(*) FILTER (WHERE l_discount > 0.08) FROM lineitem
    UNION ALL
    SELECT 'nonpositive_price',
           count(*) FILTER (WHERE l_extendedprice <= 0) FROM lineitem
    UNION ALL
    SELECT 'null_shipdate',
           count(*) FILTER (WHERE l_shipdate IS NULL) FROM lineitem
    """,
)
def ref_validate_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference V1-V4 (``lambda.py:81-121``) in row-level mode: per-rule
    violation counts computed in ONE aggregate scan (the reference runs
    one pass per rule; at 100 TB that is 4 scans vs 1)."""
    li = _t(spark, sf_dir, "lineitem")
    rules = {
        "qty_out_of_range": ~F.col("l_quantity").between(1, 45),
        "discount_too_high": F.col("l_discount") > 0.08,
        "nonpositive_price": F.col("l_extendedprice") <= 0,
        "null_shipdate": F.col("l_shipdate").isNull(),
    }
    return rule_violation_counts(li, rules)


@query(
    "ref_date_format",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
           strftime(o_orderdate, '%Y%m') AS order_month
    FROM orders
    """,
)
def ref_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F2 (``lambda.py:168-169``): restringify dates
    ``yyyy-MM-dd`` for serving tables. JVM built-in ``date_format`` —
    stays in whole-stage codegen."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.date_format("o_orderdate", "yyyyMM").alias("order_month"),
    )


@query(
    "ref_union",
    """
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def ref_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference U1 (``lambda.py:179``): column-aligned vertical concat →
    ``unionByName`` (no shuffle; partitions are appended)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    return o.filter(F.col("o_orderstatus") == "O").unionByName(
        o.filter(F.col("o_orderstatus") == "F")
    )


# ---------------------------------------------------------------------------
# Analytics extensions (SURVEY §7.2.6): joins, windows, top-k — the query
# surface the star-schema data exists for.
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy multi-aggregate. The filter and the
    6-column projection both push into the parquet scan (check
    ``PushedFilters``/``ReadSchema`` in explain)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(
                F.sum(disc_price * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → agg → top-k.

    customer and orders are small relative to lineitem; the mktsegment
    filter prunes customer before the join and AQE broadcasts the
    filtered side.  LIMIT is tie-broken by l_orderkey so the top-k is
    deterministic (SURVEY §2.6)."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join with a region filter.

    nation/region/supplier are broadcast (tiny dims); the only big
    shuffle is lineitem⋈orders on orderkey.  The extra equi-condition
    c_nationkey = s_nationkey rides on the supplier join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@query(
    "q6_revenue_forecast",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg — every predicate pushes into the
    parquet scan (visible as PushedFilters), zero shuffle, one exchange
    for the final single-row agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.04, 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "join_region_rollup",
    """
    SELECT r_name, n_name,
           count(*) AS n_customers,
           round(avg(c_acctbal), 2) AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension join (SURVEY §7.2.6): customers × tiny
    nation/region dims → per-(region, nation) stats. Both dims are
    broadcast; the only shuffle is the final group-by."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
        )
    )


@query(
    "semi_join_active_customers",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having ≥1 order. Semi joins ship only
    the key column of the right side and stop at first match."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "anti_join_inactive_customers",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def anti_join_inactive_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Left-anti join: customers with no orders — the same shape the
    upsert uses to keep unmatched target rows (SURVEY §2.3)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


@query(
    "window_top_orders_per_cust",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rnk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rnk
        FROM orders
    ) t
    WHERE rnk <= 3
    """,
)
def window_top_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number window (SURVEY §2.6 gap filled):
    one hash shuffle on the partition key, per-partition sort only —
    never a global sort."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@query(
    "window_running_total",
    """
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events
    )
    SELECT user_id, event_id, ts,
           round(sum(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_value
    FROM ev
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-user running sum ordered by event time — the
    classic sessionless stateful scan as a window aggregate."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


@query(
    "agg_rollup_returns",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-set aggregate (beyond the reference's single
    GROUP BY — SURVEY §2.5 notes the absence). Catalyst expands the
    grouping sets into one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "event_daily_agg",
    """
    WITH ev AS (
        SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    )
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           round(avg(value), 2) AS avg_value
    FROM ev
    GROUP BY 1, 2
    """,
)
def event_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time aggregate — the batch face of the
    streaming windowed agg (streaming.windows uses the same logical
    plan under a watermark)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.avg("value"), 2).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions (north star, BASELINE.json): text analysis,
# exact + fuzzy dedup, similarity search over the documents/embeddings tables.
# ---------------------------------------------------------------------------

@query(
    "text_quality",
    """
    SELECT doc_id,
           length(text) AS n_chars,
           CASE WHEN length(text) = 0 THEN 0
                ELSE length(text) - length(replace(text, ' ', '')) + 1
           END AS n_words,
           round(length(replace(text, ' ', ''))
                 / greatest(CASE WHEN length(text) = 0 THEN 0
                       ELSE length(text) - length(replace(text, ' ', '')) + 1
                       END, 1), 4) AS avg_word_len,
           round((length(replace(text, ' ', ''))
                  - length(regexp_replace(replace(text, ' ', ''),
                                          '[^A-Za-z0-9]', '', 'g')))
                 / greatest(length(text), 1), 4) AS punct_ratio,
           round((length(replace(text, ' ', ''))
                  - length(regexp_replace(replace(text, ' ', ''),
                                          '[0-9]', '', 'g')))
                 / greatest(length(text), 1), 4) AS digit_ratio,
           round((length(text) - length(replace(text, ' ', '')))
                 / greatest(length(text), 1), 4) AS space_ratio
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length / word / punctuation /
    digit / whitespace stats) — one narrow whole-stage-codegen
    projection, no shuffle (operators.text_analysis.quality_stats)."""
    from ..operators.text_analysis import quality_stats

    return quality_stats(_t(spark, sf_dir, "documents"))


@query(
    "text_tokens",
    """
    SELECT doc_id,
           CASE WHEN length(text) = 0 THEN 0
                ELSE length(text) - length(replace(text, ' ', '')) + 1
           END AS n_words,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))
               AS n_tokens,
           len(list_distinct(
               regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')))
               AS n_unique_tokens
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + BPE-ish regex tokens + distinct
    tokens (operators.text_analysis.token_counts). The regex class is
    ASCII-only so Java and RE2 engines agree."""
    from ..operators.text_analysis import token_counts

    return token_counts(_t(spark, sf_dir, "documents"))


def _lang_id_oracle() -> str:
    from ..operators.text_analysis import LANG_MARKERS

    score_exprs = []
    for lang, markers in LANG_MARKERS.items():
        parts = [
            f"(length(pad) - length(replace(pad, ' {m} ', ''))) / {len(m) + 2}"
            for m in markers
        ]
        score_exprs.append(f"({' + '.join(parts)}) AS score_{lang}")
    langs = list(LANG_MARKERS)
    best = f"greatest({', '.join('score_' + l for l in langs)})"
    case = "CASE"
    for lang in langs:
        case += f" WHEN best > 0 AND score_{lang} = best THEN '{lang}'"
    case += " ELSE 'und' END"
    rounded = ", ".join(f"round(score_{l}, 1) AS score_{l}" for l in langs)
    return f"""
    WITH padded AS (
        SELECT doc_id,
               ' ' || replace(lower(text), ' ', '  ') || ' ' AS pad
        FROM documents
    ),
    scored AS (SELECT doc_id, {', '.join(score_exprs)} FROM padded),
    with_best AS (SELECT *, {best} AS best FROM scored)
    SELECT doc_id, {case} AS pred_lang, {rounded} FROM with_best
    """


@query("text_lang_id", None)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-scoring language ID
    (operators.text_analysis.language_id): argmax of per-language marker
    scores with deterministic tie-break. Oracle SQL is generated from the
    same marker table (registered below)."""
    from ..operators.text_analysis import language_id

    return language_id(_t(spark, sf_dir, "documents"))


ORACLES["text_lang_id"] = _lang_id_oracle()


@query(
    "text_fingerprint",
    """
    SELECT doc_id,
           CASE WHEN length(text) = 0 THEN 0
                ELSE list_reduce(
                    list_prepend(0::BIGINT,
                        list_transform(range(1, length(text) + 1),
                                       i -> ascii(substr(text, i::INT, 1))::BIGINT)),
                    (acc, c) -> (acc * 31 + c) % 1000000007)
           END AS fingerprint,
           length(text) AS n_chars_computed
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable polynomial rolling-hash document fingerprint
    (operators.text_analysis.fingerprint): fold (acc*31 + ascii) % p over
    the characters — reproducible from the spec in any engine, unlike
    md5/xxhash."""
    from ..operators.text_analysis import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


@query(
    "dedup_exact_docs",
    """
    SELECT md5(text) AS fingerprint,
           count(*) AS dup_count,
           min(doc_id) AS keep_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup clusters via hash group-by
    (operators.dedup.duplicate_groups): map-side partial agg means the
    shuffle carries one row per distinct hash, not the corpus."""
    return duplicate_groups(_t(spark, sf_dir, "documents"), ["text"], "doc_id")


@query(
    "ngram_jaccard_adjacent",
    """
    WITH sh AS (
        SELECT doc_id,
               CASE WHEN length(text) < 5 THEN [text]
                    ELSE list_distinct(list_transform(
                        range(1, length(text) - 3),
                        i -> substr(text, i::INT, 5)))
               END AS shingles
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.shingles AS sh_a, b.shingles AS sh_b
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    )
    SELECT id_a, id_b,
           round(len(list_intersect(sh_a, sh_b))
                 / greatest(len(sh_a) + len(sh_b)
                            - len(list_intersect(sh_a, sh_b)), 1), 6)
               AS jaccard
    FROM pairs
    """,
)
def ngram_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-5-gram Jaccard on a bounded pair set (adjacent
    doc_ids) — the SQL-checkable face of the shingle/Jaccard machinery
    used by MinHash-LSH verification (operators.text_dedup)."""
    from ..operators.text_dedup import jaccard_on_pairs, shingle_sets

    docs = _t(spark, sf_dir, "documents")
    shingled = shingle_sets(docs)
    pairs = docs.select(F.col("doc_id").alias("id_a")).join(
        docs.select((F.col("doc_id")).alias("id_b")),
        F.col("id_b") == F.col("id_a") + 1,
    )
    return jaccard_on_pairs(pairs, shingled)


@query(
    "dedup_minhash_lsh",
    """
    WITH sh AS (
        SELECT doc_id,
               CASE WHEN len(text) < 5 THEN [text]
                    ELSE list_distinct([substr(text, i, 5)
                                        FOR i IN range(1, len(text) - 3)])
               END AS s
        FROM documents
    ),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    toks AS (SELECT doc_id, unnest(s) AS g FROM sh),
    inter AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT ia AS id_a, ib AS id_b,
           round(c::DOUBLE / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter JOIN sizes sa ON ia = sa.doc_id
               JOIN sizes sb ON ib = sb.doc_id
    WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (jaccard ≥ 0.5):
    shingle → 64-hash signature → 16-band LSH candidates → exact-Jaccard
    verify (operators.text_dedup.minhash_near_duplicates).

    The oracle computes ALL-PAIRS exact shingle Jaccard (sparse
    explode-join formulation), so a hash-pass asserts both precision
    (surviving pairs carry exact scores) AND total recall of the
    banding at this corpus's similarity profile — near-dup clusters sit
    at j ≥ 0.92, where a 16-band/4-row miss has p < 1e-9."""
    from ..operators.text_dedup import minhash_near_duplicates

    # no trailing orderBy: the driver compare is order-insensitive, and a
    # global sort's range-sampling pass re-executes the whole post-shuffle
    # estimate+verify compute a second time (~20% of query cost)
    return minhash_near_duplicates(
        _t(spark, sf_dir, "documents"), threshold=0.5
    )


@query(
    "dedup_lsh_incremental",
    """
    WITH sh AS (
        SELECT doc_id,
               CASE WHEN len(text) < 5 THEN [text]
                    ELSE list_distinct([substr(text, i, 5)
                                        FOR i IN range(1, len(text) - 3)])
               END AS s
        FROM documents
    ),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    toks AS (SELECT doc_id, unnest(s) AS g FROM sh),
    inter AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT CASE WHEN ia % 20 = 0 THEN ia ELSE ib END AS id_a,
           CASE WHEN ia % 20 = 0 THEN ib ELSE ia END AS id_b,
           round(c::DOUBLE / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter JOIN sizes sa ON ia = sa.doc_id
               JOIN sizes sb ON ib = sb.doc_id
    WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.5
      AND (ia % 20 = 0 OR ib % 20 = 0)
    """,
)
def dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH near-dup — a NEW 5% batch (doc_id % 20 = 0)
    against the accumulated 95% corpus
    (operators.text_dedup.minhash_near_duplicates_against): identical
    shingle/signature/band/estimate/verify machinery to
    dedup_minhash_lsh over the union, but buckets with no batch member
    drop before the candidate join and only batch rows probe it, so
    per-batch cost scales with the batch's collisions, never corpus².
    id_a is always the batch doc (id_a < id_b for batch-batch pairs).
    The oracle is the same all-pairs exact-Jaccard definition
    restricted to batch-involving pairs with that orientation rule, so
    a hash match proves both precision and the restriction's recall
    equals the self-join gate's.

    Round 6: routes through the PERSISTED-STORE fast path
    (corpus_signatures/corpus_buckets — here computed inline, exactly
    what write_lsh_signature_store persists): the corpus is never
    re-shingled or re-signed, its bucket table is probed by a
    broadcast of the batch's bands, and only pair-named corpus docs
    are re-shingled for the verify.  Signatures are deterministic, so
    the oracle (and the plain path's output) is unchanged — the hash
    match proves the fast path's row-identity claim."""
    from ..operators.materialize import materialize
    from ..operators.text_dedup import (
        lsh_banded,
        minhash_near_duplicates_against,
        minhash_signatures,
        shingle_sets,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    # materialized = the store's persisted state (what
    # write_lsh_signature_store would have on disk), computed inline
    # so the gate needs no scratch directory
    corpus_sigs = materialize(minhash_signatures(shingle_sets(corpus)))
    return minhash_near_duplicates_against(
        corpus,
        docs.filter(F.col("doc_id") % 20 == 0),
        threshold=0.5,
        corpus_signatures=corpus_sigs,
        corpus_buckets=lsh_banded(corpus_sigs),
    )


@query(
    "dedup_simhash",
    """
    WITH t AS (
        SELECT doc_id,
               list_transform(
                   list_filter(string_split(text, ' '), x -> x <> ''),
                   x -> md5(x)) AS hs
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               list_sum(list_transform(range(63), j ->
                   CASE WHEN list_sum(list_transform(hs, hx ->
                            2 * (((strpos('0123456789abcdef',
                                          substr(hx, (j // 4)::INTEGER + 1, 1))
                                   - 1)
                                  // (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                                 WHEN 2 THEN 2 ELSE 1 END))
                                 % 2) - 1)) > 0
                        THEN (1::BIGINT << j::INTEGER) ELSE 0 END))::BIGINT
                   AS sim
        FROM t
    ),
    banded AS (
        SELECT doc_id, sim, b.b AS band,
               (sim >> (b.b * 16)) & 65535 AS chunk
        FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) b
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
               a.sim AS sa, b.sim AS sb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT ia AS id_a, ib AS id_b,
           CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (Hamming ≤ 3 over 63-bit sketches)
    with pigeonhole banding for candidates
    (operators.text_dedup.simhash_near_duplicates), in engine-portable
    md5 mode: the oracle recomputes the ENTIRE pipeline — per-token md5
    bits, per-bit votes, packed sketch, 16-bit banding, Hamming verify —
    in SQL, so the hash-pass verifies the sketch math itself, not just
    row shape.  (Production default is the faster xxhash64 token hash;
    md5 mode exists exactly so external engines can replay the sketch.)
    """
    from ..operators.text_dedup import simhash_near_duplicates

    return simhash_near_duplicates(
        _t(spark, sf_dir, "documents"), token_hash="md5"
    ).orderBy("id_a", "id_b").withColumn(
        "hamming", F.col("hamming").cast("long")
    )


@query(
    "similarity_topk_bruteforce",
    """
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qvec
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (SELECT vec_id, embedding AS cvec FROM embeddings),
    scored AS (
        SELECT qid, vec_id,
               list_sum(list_transform(list_zip(qvec, cvec),
                                       x -> x[1]::DOUBLE * x[2]::DOUBLE))
               / (sqrt(list_sum(list_transform(qvec, v -> v::DOUBLE * v::DOUBLE)))
                  * sqrt(list_sum(list_transform(cvec, v -> v::DOUBLE * v::DOUBLE))))
                   AS cos
        FROM c, q WHERE vec_id <> qid
    ),
    ranked AS (
        SELECT qid, vec_id, cos,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
                   AS rank
        FROM scored
    )
    SELECT qid, vec_id, round(cos, 6) AS cosine, rank
    FROM ranked WHERE rank <= 5
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for query vectors vec_id < 10
    (operators.similarity.cosine_topk): broadcast queries × corpus scan,
    JVM fold dot products, per-query window rank."""
    from ..operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@query(
    "similarity_topk_lsh",
    """
    SELECT vec_id AS qid,
           CAST(5 AS BIGINT) AS n_rows,
           true AS ranks_ok,
           true AS cosines_exact,
           true AS qid_recall_ok,
           true AS overall_recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 cosine via sign-random-projection LSH with
    exact re-ranking (operators.similarity.lsh_topk) — the scale path.

    ANN output is approximate by contract, so the oracle is a VERDICT
    row per query id: the Spark side recomputes ground truth
    (cosine_topk) and asserts, per qid, well-formed output (5 rows,
    ranks 1..5), exact re-ranked cosines (recomputed independently from
    the raw vectors), set-recall ≥ 0.5, and corpus-wide mean recall
    ≥ 0.8; the oracle pins every verdict true.  A recall regression,
    rank bug, or cosine error flips a boolean and fails the hash."""
    from ..operators.similarity import cosine_topk, lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    lsh = lsh_topk(emb, q, k=5, tables=12, planes=4)
    bf = cosine_topk(emb, q, k=5)

    # independent exact-cosine recompute for every reported pair
    qv = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("_qv"))
    cv = emb.select(F.col("vec_id"), F.col("embedding").alias("_cv"))
    dot = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_cv"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda a, v: a + v)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda a, v: a + v.cast("double") * v.cast("double")))
    checked = (
        lsh.join(F.broadcast(qv), "qid")
        .join(cv, "vec_id")
        .withColumn("_true_cos", dot / (nrm(F.col("_qv")) * nrm(F.col("_cv"))))
    )
    per_qid = checked.groupBy("qid").agg(
        F.count("*").alias("n_rows"),
        (
            (F.max("rank") == F.count("*"))
            & (F.count_distinct(F.col("rank")) == F.count("*"))
        ).alias("ranks_ok"),
        # reported cosine is rounded to 6 dp; the recompute here uses a
        # different summation order, so compare against the RAW value
        # with a tolerance that absorbs both the rounding and fp noise
        # (comparing two independently-rounded values would flip on
        # x.xxxxx5 boundaries)
        F.every(
            F.abs(F.col("cosine") - F.col("_true_cos")) < F.lit(1e-5)
        ).alias("cosines_exact"),
        F.collect_set("vec_id").alias("_lsh_ids"),
    )
    truth = bf.groupBy("qid").agg(F.collect_set("vec_id").alias("_bf_ids"))
    recalls = per_qid.join(truth, "qid").withColumn(
        "_recall",
        F.size(F.array_intersect("_lsh_ids", "_bf_ids"))
        / F.size("_bf_ids"),
    )
    overall = recalls.agg(
        (F.avg("_recall") >= 0.8).alias("overall_recall_ok")
    )
    return (
        recalls.crossJoin(F.broadcast(overall))
        .select(
            "qid",
            "n_rows",
            "ranks_ok",
            "cosines_exact",
            (F.col("_recall") >= 0.5).alias("qid_recall_ok"),
            "overall_recall_ok",
        )
    )


@query(
    "multimodal_features",
    """
    WITH f AS (
        SELECT doc_id, doc_id % 4 AS k,
               8 + doc_id % 8 AS iw, 8 + doc_id % 4 AS ih,
               8000 * (1 + doc_id % 2) AS rate,
               200 + (doc_id * 17) % 300 AS ns,
               4 + doc_id % 4 AS vw, 4 + doc_id % 3 AS vh,
               1 + doc_id % 3 AS vf,
               4 + doc_id % 6 AS pw, 4 + doc_id % 5 AS ph
        FROM documents
    ),
    g AS (
        SELECT doc_id, k,
               CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                      WHEN 2 THEN 'video' ELSE 'image' END AS kind,
               CASE k WHEN 0 THEN 'ppm' WHEN 1 THEN 'wav'
                      WHEN 2 THEN 'y4m' ELSE 'png' END AS format,
               CASE WHEN k = 0 THEN iw WHEN k = 2 THEN vw
                    WHEN k = 3 THEN pw END AS width,
               CASE WHEN k = 0 THEN ih WHEN k = 2 THEN vh
                    WHEN k = 3 THEN ph END AS height,
               CASE WHEN k = 2 THEN vf END AS n_frames,
               CASE WHEN k = 1 THEN rate END AS sample_rate,
               CASE WHEN k = 1 THEN ns END AS n_samples,
               CASE WHEN k = 1 THEN (ns * 1000) // rate
                    WHEN k = 2 THEN vf * 40 END AS duration_ms,
               CASE k WHEN 0 THEN 3 * iw * ih WHEN 1 THEN ns
                      WHEN 2 THEN vf * 3 * vw * vh
                      ELSE 3 * pw * ph END AS content_len
        FROM f
    )
    SELECT doc_id AS media_id, kind, format,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(n_frames AS INTEGER) AS n_frames,
           CAST(sample_rate AS INTEGER) AS sample_rate,
           CAST(n_samples AS INTEGER) AS n_samples,
           CAST(duration_ms AS BIGINT) AS duration_ms,
           CAST(content_len AS BIGINT) AS content_len,
           CAST(list_sum(list_transform(range(content_len),
                                        i -> (doc_id + i) % 256))
                AS BIGINT) AS content_byte_sum
    FROM g
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode (operators.multimodal): REAL container parsing
    — PPM headers, RIFF/WAVE chunk walks, YUV4MPEG2 frame scans, and
    FULL PNG decode (CRC-verified chunks, zlib inflate, per-scanline
    unfilter; the synth corpus varies the filter type over all five) —
    in Arrow-batched mapInPandas over binary payload columns.  The
    media table synthesizes real containers deterministically from
    doc_id, so the oracle recomputes every structural feature and the
    exact content byte sum in closed form in SQL: a PNG row only
    hash-matches if decompression + unfiltering reproduced the original
    raster byte-for-byte."""
    from ..operators.multimodal import decode_media, media_from_documents

    docs = _t(spark, sf_dir, "documents")
    return decode_media(media_from_documents(docs))


@query(
    "dedup_embedding_cosine",
    """
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                       x -> x[1]::DOUBLE * x[2]::DOUBLE))
               / (sqrt(list_sum(list_transform(a.embedding,
                                               x -> x::DOUBLE * x::DOUBLE)))
                  * sqrt(list_sum(list_transform(b.embedding,
                                                 x -> x::DOUBLE * x::DOUBLE))))
                   AS cos
        FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round(cos, 6) AS cosine
    FROM pairs WHERE cos >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.45) — the
    embedding-space face of fuzzy dedup, via the blocked (salted)
    self-join (operators.similarity.cosine_pairs_blocked): each vector
    replicates to its block-pair tasks, each task runs one block×block
    numpy matmul, and only above-threshold upper-triangle pairs leave
    the task.  Nothing is collected to the driver; per-task memory is
    two blocks, tunable via n_blocks.  The LSH-bucketed variant
    (operators.similarity.lsh_topk) is the 100 TB candidate-generation
    path."""
    from ..operators.similarity import cosine_pairs_blocked

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_pairs_blocked(emb, threshold=0.45, n_blocks=8)


@query(
    "event_sessionize",
    """
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS new_session
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def event_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) via the built-in
    ``session_window`` — the same operator the streaming module uses
    under a watermark (streaming.windows.session_windows).  The oracle
    reproduces the semantics with gaps-and-islands SQL: session_end =
    last_event + gap."""
    from ..streaming.windows import session_windows

    ev = _t(spark, sf_dir, "events")
    return session_windows(ev, gap="30 minutes").select(
        "user_id", "session_start", "session_end", "n_events", "total_value"
    )


@query(
    "scalar_function_suite",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
               AS days_since_epoch_start,
           upper(o_orderstatus) AS status_upper,
           substr(o_orderpriority, 1, 1) AS priority_code,
           length(o_orderpriority) AS priority_len,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_resolved,
           round(o_totalprice * 0.07, 2) AS est_tax,
           concat(o_orderstatus, '-', o_orderpriority) AS status_priority
    FROM orders
    """,
)
def scalar_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface in one projection: date part extraction,
    date arithmetic, string ops, CASE banding, null handling, rounding,
    concat — all JVM built-ins inside one codegen span (SURVEY §2.7
    extension; the reference's only scalar ops are date parse/format)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).alias("days_since_epoch_start"),
        F.upper("o_orderstatus").alias("status_upper"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
        F.length("o_orderpriority").alias("priority_len"),
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")
        ).alias("status_resolved"),
        F.round(F.col("o_totalprice") * 0.07, 2).alias("est_tax"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias(
            "status_priority"
        ),
    )


@query(
    "exists_late_orders",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery → left-semi join with a
    non-equi residual condition, then priority counts. The semi join
    stops at the first matching lineitem per order."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Set operations, multidimensional aggregates, pivot, global top-k
# (SURVEY §2.4 / §2.5 / §2.6 extension surface).
# ---------------------------------------------------------------------------

@query(
    "intersect_repeat_customers",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def intersect_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set INTERSECT (distinct semantics): customers holding both a
    finished and an open order.  Catalyst plans this as an aggregate +
    left-semi hash join — one shuffle per side on the key, no sort."""
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    op = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return f.intersect(op)


@query(
    "except_single_status_customers",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def except_single_status_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set EXCEPT (distinct semantics): open-order customers who never
    finished an order — planned as a left-anti hash join post-dedup."""
    o = _t(spark, sf_dir, "orders")
    op = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return op.subtract(f)


@query(
    "agg_cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 2^2 grouping sets in one pass —
    Catalyst expands the sets and runs a single partial+final hash agg;
    the input is scanned once (vs 4 scans for a UNION ALL of group-bys)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "pivot_priority_by_status",
    """
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2)
               AS total_f,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2)
               AS total_o,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2)
               AS total_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregate).  Pivot values are passed
    explicitly so Spark skips the extra distinct-values job — at 100 TB
    an implicit pivot would scan the fact table twice."""
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return piv.select(
        "o_orderpriority",
        F.col("F").alias("total_f"),
        F.col("O").alias("total_o"),
        F.col("P").alias("total_p"),
    )


@query(
    "global_topk_orders",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def global_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: ORDER BY + LIMIT plans as TakeOrderedAndProject —
    each partition keeps a local k-heap and only k rows per partition
    reach the driver-side merge; no full global sort at any scale.
    Tie-broken by key for determinism."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


@query(
    "window_rank_suite",
    """
    SELECT o_orderkey, o_custkey,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(lag(o_totalprice) OVER w, 2) AS prev_price,
           round(lead(o_totalprice) OVER w, 2) AS next_price,
           count(*) OVER (PARTITION BY o_custkey) AS cust_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window surface in one pass: rank / dense_rank / ntile /
    percent_rank / lag / lead plus an unordered partition count.  All
    frames share one (partition, order) spec, so Catalyst evaluates them
    in a single Window operator after one shuffle+sort on o_custkey —
    adding window expressions is free once the sort is paid for."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey")
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.count("*").over(wp).alias("cust_orders"),
    )


@query(
    "percentile_summary",
    """
    SELECT l_returnflag,
           round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 2)
               AS price_p25,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 2)
               AS price_p50,
           round(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_extendedprice), 2)
               AS price_p75,
           round(median(l_quantity), 2) AS qty_median
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (percentile_cont semantics) per
    group via histogram selection (operators.agg.exact_percentiles,
    round 14): a map-side (group, bucket) count histogram locates the
    rank-crossing buckets, only those are rescanned and ranked, and
    only the two rank-neighbor rows per requested p reach the
    interpolation agg.  The fact is scanned but NEVER shuffled — no
    per-group agg buffer, no single-task group sort, and the largest
    exchange carries |groups| × HISTOGRAM_BUCKETS rows.  The one-pass
    sketch alternative is ``approx_percentile_summary`` (t-digest,
    mergeable partials)."""
    from ..operators.agg import exact_percentiles

    li = _t(spark, sf_dir, "lineitem")
    # two independent selection passes (price, qty) measured faster than
    # melting both metrics through one doubled-width range shuffle
    price = exact_percentiles(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        [0.25, 0.5, 0.75],
        ["price_p25", "price_p50", "price_p75"],
    )
    qty = exact_percentiles(
        li, ["l_returnflag"], "l_quantity", [0.5], ["qty_median"]
    )
    return price.join(qty, "l_returnflag").select(
        "l_returnflag",
        F.round("price_p25", 2).alias("price_p25"),
        F.round("price_p50", 2).alias("price_p50"),
        F.round("price_p75", 2).alias("price_p75"),
        F.round("qty_median", 2).alias("qty_median"),
    )


@query(
    "full_outer_nation_balance",
    """
    WITH c AS (
        SELECT c_nationkey AS nationkey, count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS cust_balance
        FROM customer GROUP BY c_nationkey
    ),
    s AS (
        SELECT s_nationkey AS nationkey, count(*) AS n_suppliers,
               round(sum(s_acctbal), 2) AS supp_balance
        FROM supplier GROUP BY s_nationkey
    )
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(cust_balance, 0.0) AS cust_balance,
           coalesce(n_suppliers, 0) AS n_suppliers,
           coalesce(supp_balance, 0.0) AS supp_balance
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
)
def full_outer_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides (customer vs supplier
    balances per nation).  Aggregating BEFORE the join shrinks both sides
    to |nations| rows — the join is trivial regardless of fact size, the
    pattern that matters at 100 TB (join after reduce, not before)."""
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("cust_balance"),
        )
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("supp_balance"),
        )
    )
    return cust.join(supp, "nationkey", "full_outer").select(
        "nationkey",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("cust_balance", F.lit(0.0)).alias("cust_balance"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        F.coalesce("supp_balance", F.lit(0.0)).alias("supp_balance"),
    )


@query(
    "distinct_users_daily",
    """
    SELECT CAST(ts AS DATE) AS day,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
)
def distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per day.  COUNT(DISTINCT) expands to a
    two-phase plan (dedup shuffle on (day, user), then count) — exact but
    2 shuffles; ``approx_distinct_users_daily`` is the one-shuffle sketch
    variant for the 100 TB path."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@query(
    "approx_distinct_users_daily",
    """
    SELECT CAST(ts AS DATE) AS day,
           count(*) AS n_events,
           true AS approx_within_tol
    FROM events
    GROUP BY 1
    """,
)
def approx_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count per day (rsd=2%): one pass, one
    shuffle of fixed-size mergeable sketches instead of the exact
    version's dedup shuffle of every (day, user) pair.  At 100 TB this is
    the only viable cardinality path.

    Sketch estimates are implementation-defined, so the oracle checks a
    VERDICT: the Spark side computes approx AND exact per day and
    asserts |approx − exact| ≤ 3·rsd·exact; the oracle pins the verdict
    true per day (plus the exact event counts).  The exact-distinct
    twin ``distinct_users_daily`` pins the precise values."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_events"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.02)
                - F.count_distinct("user_id")
            )
            <= F.greatest(
                (F.count_distinct("user_id") * 0.06).cast("long"), F.lit(1)
            )
        ).alias("approx_within_tol"),
    )


# ---------------------------------------------------------------------------
# Time-series joins the built-in operator set lacks: as-of and range
# (operators.joins.asof_join / interval_join).
# ---------------------------------------------------------------------------

@query(
    "asof_click_purchase",
    """
    WITH clicks AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               round(max(value), 2) AS purchase_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, CAST(ts AS TIMESTAMP)
    )
    SELECT c.event_id, c.user_id,
           p.purchase_value,
           p.ts AS matched_ts
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the user's most recent prior (or
    simultaneous) purchase value.  Runs through
    ``operators.joins.asof_join`` — union + one window pass, one
    shuffle+sort of |clicks|+|purchases| on user_id, no pair blowup
    (docstring there has the scale analysis).  The right side is
    pre-deduped per (user, ts) so the winner is deterministic on both
    engines."""
    from ..operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("purchase_value"))
    )
    out = asof_join(
        clicks,
        purch,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["purchase_value"],
        direction="backward",
    )
    return out.select("event_id", "user_id", "purchase_value", "matched_ts")


@query(
    "range_join_error_burst",
    """
    WITH purch AS (
        SELECT event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    err AS (
        SELECT CAST(ts AS TIMESTAMP) AS e_ts
        FROM events WHERE event_type = 'error'
    )
    SELECT p.purchase_id,
           count(e.e_ts) AS n_errors
    FROM purch p LEFT JOIN err e
      ON e.e_ts >= p.p_ts AND e.e_ts < p.p_ts + INTERVAL 5 MINUTE
    GROUP BY p.purchase_id
    """,
)
def range_join_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join with no equi-key: errors from ANY user within 5 minutes
    after each purchase.  Naively a BroadcastNestedLoopJoin; routed
    through ``operators.joins.interval_join`` instead, which manufactures
    a time-bucket equi-key (intervals exploded to overlapped buckets,
    points hashed to one bucket) → plain hash join + residual range
    filter.  Zero-match purchases are restored by a left join against
    the purchase keys (aggregate-after-join, then outer-coalesce)."""
    from ..operators.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("p_end"),
    )
    errs = ev.filter(F.col("event_type") == "error").select(
        F.col("ts").alias("e_ts")
    )
    matches = interval_join(
        errs, purch, point_ts="e_ts", start_col="p_ts", end_col="p_end",
        bucket="5 minutes",
    )
    counts = matches.groupBy("purchase_id").agg(
        F.count("*").alias("n_errors")
    )
    # counts is bounded by |purchases| — broadcast it so the zero-match
    # restoration join never shuffles the purchase side.
    return purch.select("purchase_id").join(
        F.broadcast(counts), "purchase_id", "left"
    ).select(
        "purchase_id",
        F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
    )


# ---------------------------------------------------------------------------
# Correlated-subquery shapes, semi-structured JSON, higher-order array
# functions, range window frames, explode/unnest.
# ---------------------------------------------------------------------------

@query(
    "scalar_subquery_small_qty",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    WHERE l_quantity < (
        SELECT 0.5 * avg(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey
    )
    """,
)
def scalar_subquery_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average)
    decorrelated into an aggregate + join.  The per-part aggregate is
    |parts| rows — tiny next to lineitem — so it's explicitly broadcast:
    the fact table is never shuffled, the plan every decorrelated scalar
    subquery should get."""
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    small = li.join(F.broadcast(part_avg), "l_partkey").filter(
        F.col("l_quantity") < F.col("half_avg_qty")
    )
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
    )


@query(
    "in_subquery_big_orders",
    """
    SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS total_price,
           t.sum_qty
    FROM orders o
    JOIN (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    ) t ON o.o_orderkey = t.l_orderkey
    """,
)
def in_subquery_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery-with-HAVING decorrelated into
    aggregate-then-join.  Aggregating lineitem FIRST shrinks the join
    input from |lineitem| to |qualifying orders| (~20% here, far less
    with selective thresholds) — filter-by-aggregate before the join, not
    after."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return o.join(big, o.o_orderkey == big.l_orderkey).select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total_price"),
        "sum_qty",
    )


@query(
    "json_props_stats",
    """
    SELECT event_type,
           count(*) AS n_events,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2)
               AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface: per-type stats over a JSON string column.
    ``get_json_object`` evaluates JVM-side inside codegen — no Python
    round trip.  For hot paths at scale, parse ONCE with ``from_json``
    into a struct column and write it back typed; repeated per-row JSON
    parsing of wide payloads is the classic hidden CPU sink."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg(k), 2).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "embedding_vector_stats",
    """
    SELECT label,
           count(*) AS n_vecs,
           any_value(len(embedding)) AS dim,
           round(avg(sqrt(list_sum(list_transform(embedding,
                          x -> x::DOUBLE * x::DOUBLE)))), 4) AS avg_l2_norm,
           round(avg(list_sum(list_transform(embedding, x -> x::DOUBLE))
                     / len(embedding)), 6) AS avg_component_mean
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions over array columns — norm and component
    mean computed entirely with ``aggregate``/``transform`` lambda
    expressions on the JVM: no UDF, no Arrow transfer, vectors never
    leave Tungsten rows.  The per-label reduction is an ordinary hash
    agg over ~|labels| groups."""
    emb = _t(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    comp_sum = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.any_value(F.size("embedding")).alias("dim"),
        F.round(F.avg(F.sqrt(sq_sum)), 4).alias("avg_l2_norm"),
        F.round(F.avg(comp_sum / F.size("embedding")), 6).alias(
            "avg_component_mean"
        ),
    )


@query(
    "window_moving_avg_range",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS day_num,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1, 2
    )
    SELECT day, revenue,
           round(avg(revenue) OVER (
               ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ), 2) AS revenue_ma7
    FROM daily
    """,
)
def window_moving_avg_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, not row-based): 7-day moving
    average that stays correct across calendar gaps — a ROWS frame would
    silently span missing days.  Aggregate-to-daily FIRST: the window
    then runs over |days| rows, not |orders|; the unpartitioned window is
    fine because the daily rollup is tiny (repartition by year-range
    first if it ever isn't)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
            "day_num"
        ),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "day",
        "revenue",
        F.round(F.avg("revenue").over(w), 2).alias("revenue_ma7"),
    )


@query(
    "top_terms",
    """
    WITH terms AS (
        SELECT unnest(string_split(
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   ' ')) AS term
        FROM documents
    )
    SELECT term, count(*) AS n
    FROM terms
    WHERE term <> ''
    GROUP BY term
    ORDER BY n DESC, term
    LIMIT 50
    """,
)
def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k terms: normalize → split → explode → count →
    TakeOrderedAndProject.  The explode multiplies rows by tokens/doc,
    but the partial hash agg combines per-partition BEFORE the shuffle,
    so only distinct (term, partial-count) pairs move; the final top-50
    is a per-partition heap, never a global sort.  Tie-broken by term for
    determinism."""
    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(
            F.split(
                F.trim(
                    F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")
                ),
                " ",
            )
        ).alias("term")
    ).filter(F.col("term") != "")
    return (
        terms.groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(50)
    )


@query(
    "stateful_user_totals",
    """
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           round(max(value), 2) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator
    (``streaming.stateful.running_user_totals``, applyInPandasWithState):
    per-user lifetime totals held as O(1) state per key in the executor
    state store.  Driven here with ``Trigger.AvailableNow`` over the
    bounded events table; the oracle can be plain GROUP BY because the
    final emission per key must equal the batch aggregate — exactly the
    invariant that makes the operator trustworthy."""
    import uuid as _uuid

    from ..sources.readers import read_events
    from ..streaming.stateful import running_user_totals

    ev = read_events(spark, sf_dir)
    name = f"stateful_totals_{_uuid.uuid4().hex[:8]}"
    q = (
        running_user_totals(
            # Stream the same parquet the batch oracle reads (the file
            # source requires a directory, so glob-filter to the events
            # file).  The file's nanosecond ts column never reaches the
            # scan: the operator selects only (user_id, value), so
            # column pruning drops it.
            spark.readStream.schema(ev.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        # reading the memory sink while micro-batches still emit would
        # return a silently partial table (a value-hash flake, not a
        # loud failure)
        q.stop()
        raise TimeoutError("availableNow stream did not drain in 300s")
    # update mode may emit once per touched batch: keep the last (the
    # totals are monotone in n_events).
    return spark.sql(
        f"""
        SELECT user_id,
               max(n_events) AS n_events,
               round(max_by(total_value, n_events), 2) AS total_value,
               round(max_by(max_value, n_events), 2) AS max_value
        FROM {name} GROUP BY user_id
        """
    )


@query(
    "dedup_connected_components",
    """
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               CASE WHEN length(text) < 5 THEN [text]
                    ELSE list_distinct(list_transform(
                        range(1, length(text) - 3),
                        i -> substr(text, i::INT, 5)))
               END AS shingles
        FROM documents
    ),
    e AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        WHERE len(list_intersect(a.shingles, b.shingles))
              / greatest(len(a.shingles) + len(b.shingles)
                         - len(list_intersect(a.shingles, b.shingles)), 1)
              >= 0.2
    ),
    bi AS (
        SELECT u, v FROM e
        UNION SELECT v, u FROM e
        UNION SELECT doc_id, doc_id FROM documents
    ),
    r(a, b) AS (
        SELECT u, v FROM bi
        UNION
        SELECT r.a, bi.v FROM r JOIN bi ON bi.u = r.b
    )
    SELECT a AS doc_id,
           min(b) AS group_id,
           (min(b) = a) AS is_representative
    FROM r GROUP BY a
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering end-to-end: 5-gram Jaccard edges between adjacent
    docs (≥ 0.2) resolved into transitive groups by alternating
    large-star/small-star connected components (operators.graph — O(log n)
    shuffle rounds, no driver-side union-find), singletons kept as their
    own group.  The oracle replays the same edges through a recursive-CTE
    transitive closure — exponential-ish SQL that only works at test
    scale, which is exactly why the engine ships the distributed
    operator."""
    from ..operators.graph import dedup_groups_from_pairs
    from ..operators.text_dedup import jaccard_on_pairs, shingle_sets

    docs = _t(spark, sf_dir, "documents")
    shingled = shingle_sets(docs)
    pairs = docs.select(F.col("doc_id").alias("id_a")).join(
        docs.select(F.col("doc_id").alias("id_b")),
        F.col("id_b") == F.col("id_a") + 1,
    )
    edges = jaccard_on_pairs(pairs, shingled).filter(F.col("jaccard") >= 0.2)
    return dedup_groups_from_pairs(edges, docs, "doc_id")


@query(
    "similarity_topk_ivf",
    """
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qvec
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (SELECT vec_id, embedding AS cvec FROM embeddings),
    scored AS (
        SELECT qid, vec_id,
               list_sum(list_transform(list_zip(qvec, cvec),
                                       x -> x[1]::DOUBLE * x[2]::DOUBLE))
               / (sqrt(list_sum(list_transform(qvec, v -> v::DOUBLE * v::DOUBLE)))
                  * sqrt(list_sum(list_transform(cvec, v -> v::DOUBLE * v::DOUBLE))))
                   AS cos
        FROM c, q WHERE vec_id <> qid
    ),
    ranked AS (
        SELECT qid, vec_id, cos,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
                   AS rank
        FROM scored
    )
    SELECT qid, vec_id, round(cos, 6) AS cosine, rank
    FROM ranked WHERE rank <= 5
    """,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (operators.similarity.ivf_topk) run at full probe
    (n_probe == n_lists), where the index search is provably exact —
    every corpus vector lives in exactly one probed Voronoi cell, so the
    oracle is the same exact top-k SQL as brute force.  The pruned
    configuration (n_probe ≪ n_lists, ~n_probe/n_lists of the corpus
    scanned) is covered by a recall test in tests/test_similarity.py."""
    from ..operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries_df, k=5, n_lists=8, n_probe=8)


@query(
    "argmin_supplier_per_nation",
    """
    SELECT n.n_name,
           min_by(s.s_name, s.s_acctbal) AS cheapest_supplier,
           round(min(s.s_acctbal), 2) AS min_acctbal,
           max_by(s.s_name, s.s_acctbal) AS richest_supplier,
           round(max(s.s_acctbal), 2) AS max_acctbal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def argmin_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregation (TPC-H Q2's min-per-group shape without
    the self-join): ``min_by``/``max_by`` carry the winning row's payload
    through the ordinary partial+final hash agg — one shuffle, no window,
    no rejoin against the source.  The supplier→nation probe broadcasts
    the nation dim.

    Determinism caveat: if two suppliers tie on acctbal, min_by picks an
    arbitrary one on both engines; the test data has no exact-balance
    ties (doubles), so the hash compare is stable."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.min_by("s_name", "s_acctbal").alias("cheapest_supplier"),
            F.round(F.min("s_acctbal"), 2).alias("min_acctbal"),
            F.max_by("s_name", "s_acctbal").alias("richest_supplier"),
            F.round(F.max("s_acctbal"), 2).alias("max_acctbal"),
        )
    )


@query(
    "sliding_window_event_rate",
    """
    WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    contrib AS (
        SELECT unnest([
                   time_bucket(INTERVAL 30 MINUTE, ts),
                   time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE
               ]) AS window_start,
               value
        FROM ev
    )
    SELECT window_start,
           window_start + INTERVAL 60 MINUTE AS window_end,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM contrib
    GROUP BY window_start
    """,
)
def sliding_window_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (60-minute width, 30-minute slide) via
    the built-in ``window`` function — identical semantics under a
    streaming watermark.  Each event lands in width/slide = 2 windows;
    Spark expands that fan-out BEFORE the partial aggregation, so the
    shuffle carries per-(window, partition) partials, not duplicated
    events.  The oracle manufactures the same two bucket starts per
    event with unnest."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "60 minutes", "30 minutes").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "document_pipeline",
    """
    WITH scored AS (
        SELECT doc_id, source, lang, n_chars, text,
               length(text)
                   - length(replace(replace(replace(text, ' ', ''),
                                            chr(10), ''), chr(9), ''))
                   AS n_sep
        FROM documents
    ),
    kept AS (
        SELECT doc_id, source, lang, n_chars, (n_sep + 1) AS n_tokens,
               row_number() OVER (
                   PARTITION BY md5(text) ORDER BY doc_id
               ) AS dup_rank
        FROM scored
        WHERE n_chars >= 40 AND lang IN ('en', 'de', 'fr')
    )
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN dup_rank = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unique,
           CAST(floor(sum(n_tokens) * 100.0 / count(*)) AS BIGINT)
               AS avg_tokens_e2
    FROM kept
    GROUP BY source, lang
    """,
)
def document_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A training-data curation pipeline as ONE declarative plan:
    length + language gates → exact-dup ranking (md5 content hash,
    keep-first by doc_id) → per-(source, lang) corpus stats.  Because
    it's a single Catalyst plan, the filters run at the scan, the
    content-hash dedup is the only wide shuffle, and the final stats
    reuse the same pass — the composition costs what its most expensive
    stage costs."""
    docs = _t(spark, sf_dir, "documents")
    seps = F.length("text") - F.length(
        F.regexp_replace("text", "[ \n\t]", "")
    )
    kept = docs.filter(
        (F.col("n_chars") >= 40) & F.col("lang").isin("en", "de", "fr")
    ).select(
        "doc_id",
        "source",
        "lang",
        (seps + 1).alias("n_tokens"),
        F.row_number()
        .over(Window.partitionBy(F.md5("text")).orderBy("doc_id"))
        .alias("dup_rank"),
    )
    return kept.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("dup_rank") == 1, 1).otherwise(0)).alias(
            "n_unique"
        ),
        # floor(exact-long-sum * 100 / count): identical IEEE op order on
        # both engines → bit-identical, unlike round(avg(..)) whose
        # accumulation order and half-rounding mode are engine-specific
        # (round-2 driver hash mismatch).
        F.floor(F.sum("n_tokens") * 100.0 / F.count("*"))
        .cast("long")
        .alias("avg_tokens_e2"),
    )


@query(
    "salted_join_parity",
    """
    SELECT l.l_orderkey, o.o_orderpriority,
           round(sum(l.l_extendedprice), 2) AS order_revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY l.l_orderkey, o.o_orderpriority
    """,
)
def salted_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join correctness in the gate: the salted rewrite
    (operators.joins.salted_join — fact side deterministically salted,
    dim side replicated per salt) must produce exactly the rows of the
    plain equi-join, which is what the oracle runs.  Use when one key
    holds a pathological share of the fact table and the dim is too big
    to broadcast; the hot key fans out over salt_buckets reducers."""
    from ..operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    joined = salted_join(li, o.select("l_orderkey", "o_orderpriority"),
                         "l_orderkey", salt_buckets=8)
    return joined.groupBy("l_orderkey", "o_orderpriority").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("order_revenue")
    )


@query(
    "grouping_sets_region_channel",
    """
    SELECT n_name, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((n_name), (o_orderpriority), (n_name, o_orderpriority))
    """,
)
def grouping_sets_region_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube) through
    the SQL front end — the engine's DataFrame and SQL faces share one
    Catalyst pipeline, so this plans identically to the cube query: one
    scan, Expand, single partial+final hash agg.  The customer→nation
    probes broadcast."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT n_name, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM v_orders o
        JOIN v_customer c ON o.o_custkey = c.c_custkey
        JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority),
                                (n_name, o_orderpriority))
        """
    )


@query(
    "variant_props_banded",
    """
    SELECT event_type,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 67
                     THEN 'high'
                WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 34
                     THEN 'mid'
                ELSE 'low' END AS k_band,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY event_type, k_band
    """,
)
def variant_props_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path: ``parse_json`` once into a typed
    variant, then ``try_variant_get`` extractions — the modern (Spark 4)
    alternative to repeated string JSON parsing: the payload is decoded
    a single time into a binary-encoded tree and every later field read
    is an O(field) traversal, not a re-parse.  Same shredding argument
    at 100 TB as from_json-to-struct, without committing to a schema."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select(
            "event_type",
            "value",
            F.when(k >= 67, "high").when(k >= 34, "mid").otherwise("low").alias("k_band"),
        )
        .groupBy("event_type", "k_band")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "scd2_customer_segments",
    """
    WITH cur AS (
        SELECT c_custkey, c_mktsegment,
               DATE '1995-01-01' AS valid_from
        FROM customer
    ),
    batch AS (
        SELECT c_custkey, 'PREMIUM' AS c_mktsegment,
               DATE '2000-06-01' AS eff
        FROM customer WHERE c_acctbal >= 5000
    )
    SELECT c.c_custkey, c.c_mktsegment, c.valid_from,
           CASE WHEN b.c_custkey IS NOT NULL
                     AND c.c_mktsegment <> b.c_mktsegment
                THEN b.eff END AS valid_to,
           (b.c_custkey IS NULL OR c.c_mktsegment = b.c_mktsegment)
               AS is_current
    FROM cur c LEFT JOIN batch b ON c.c_custkey = b.c_custkey
    UNION ALL
    SELECT b.c_custkey, b.c_mktsegment, b.eff AS valid_from,
           NULL AS valid_to, true AS is_current
    FROM batch b JOIN cur c ON c.c_custkey = b.c_custkey
    WHERE c.c_mktsegment <> b.c_mktsegment
    """,
)
def scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge (operators.scd2.scd2_merge — the history-preserving
    form of the reference's history-losing upsert, ``lambda.py:176-181``):
    customers with acctbal ≥ 5000 move to a PREMIUM segment effective
    2000-06-01; their old segment rows close with that date, everyone
    else's open row is untouched.  The oracle spells out the same
    close+open row algebra in SQL."""
    from ..operators.scd2 import scd2_merge

    cust = _t(spark, sf_dir, "customer")
    current = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    batch = cust.filter(F.col("c_acctbal") >= 5000).select(
        "c_custkey",
        F.lit("PREMIUM").alias("c_mktsegment"),
        F.lit("2000-06-01").cast("date").alias("eff"),
    )
    return scd2_merge(
        current,
        batch,
        keys=["c_custkey"],
        attrs=["c_mktsegment"],
        effective="eff",
    )


@query(
    "stream_stream_attribution",
    """
    WITH c AS (
        SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
               round(value, 2) AS purchase_value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id, c.click_ts, p.purchase_ts, p.purchase_value
    FROM c JOIN p ON c.user_id = p.user_id
        AND p.purchase_ts >= c.click_ts
        AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join
    (streaming.windows.stream_stream_click_purchase): click→purchase
    attribution pairs within a 30-minute horizon.  The time bound lets
    Spark expire buffered rows once the opposing watermark passes, so
    join state is bounded by the horizon, not the stream length.
    Drained with AvailableNow; the oracle is the equivalent batch
    time-range join, which the append-mode output must equal exactly."""
    import uuid as _uuid

    from ..sources.readers import read_events
    from ..streaming.windows import stream_stream_click_purchase

    ev = read_events(spark, sf_dir)
    name = f"ss_attr_{_uuid.uuid4().hex[:8]}"
    # The raw parquet's nanosecond ts DOES reach this scan (the join
    # needs event time), so stream the converted frame through a temp
    # parquet round-trip-free path: re-write is avoided by streaming the
    # source file with the long schema and converting, mirroring
    # read_events' conversion.
    raw_schema = spark.read.option(
        "mergeSchema", "false"
    ).parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict((f.name, f.dataType.simpleString()) for f in raw_schema)["ts"] == "bigint":
        # Integer div, not `/`: float division of epoch-nanos longs loses
        # microsecond precision past 2^53.
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    out = stream_stream_click_purchase(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        # reading the memory sink while micro-batches still emit would
        # return a silently partial table (a value-hash flake, not a
        # loud failure)
        q.stop()
        raise TimeoutError("availableNow stream did not drain in 300s")
    return spark.table(name).select(
        "user_id", "click_id", "click_ts", "purchase_ts", "purchase_value"
    )


@query(
    "unpivot_status_totals",
    """
    WITH wide AS (
        SELECT o_orderpriority,
               round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS f,
               round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS o,
               round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS p
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status, total
    FROM wide
    UNPIVOT (total FOR status IN (f AS 'F', o AS 'O', p AS 'P'))
    """,
)
def unpivot_status_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) — the inverse of the pivot operator: the wide
    per-status totals fold back to (priority, status, total) rows.
    ``unpivot`` is a zero-shuffle Expand over the already-aggregated
    frame; wide→long reshapes never touch the fact table again."""
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return wide.unpivot(
        ["o_orderpriority"], ["F", "O", "P"], "status", "total"
    )


@query(
    "profile_lineitem_stats",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(avg(l_quantity), 4) AS qty_mean,
           round(stddev_samp(l_quantity), 4) AS qty_std,
           round(min(l_extendedprice), 2) AS price_min,
           round(max(l_extendedprice), 2) AS price_max,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_discount, l_tax), 8) AS disc_tax_cov
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def profile_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling statistics per group — mean/stddev/min/max plus
    Pearson correlation and sample covariance, all as single-pass
    streaming moments in one hash aggregate (no sort, no second scan).
    The data-profiling stage every ingest pipeline runs before schema
    decisions; at 100 TB the one-pass moment formulas are the only
    affordable form."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.avg("l_quantity"), 4).alias("qty_mean"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_std"),
        F.round(F.min("l_extendedprice"), 2).alias("price_min"),
        F.round(F.max("l_extendedprice"), 2).alias("price_max"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_discount", "l_tax"), 8).alias("disc_tax_cov"),
    )


@query(
    "tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
                   AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term
               ) AS rank
        FROM scored
    )
    SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (smoothed idf =
    ln((N+1)/(df+1)) + 1).  Plan shape: one explode → (doc, term) tf
    hash agg → term-level df agg → term-keyed join back → per-doc rank
    window.  The df join deliberately carries NO broadcast hint: a
    web-corpus vocabulary (especially with n-gram terms) can exceed any
    broadcast/driver budget, so the join shuffles on term — already the
    tf aggregation's key family — and AQE still converts it to a
    broadcast at runtime whenever dfreq measures small.  The only
    forced broadcast is the 1-row corpus count."""
    docs = _t(spark, sf_dir, "documents")
    # corpus size as a broadcast 1-row aggregate, not a driver .count():
    # keeps the whole query one plan (no mid-build job / second scan)
    n_docs = docs.agg(F.count("*").alias("_n_docs"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")),
                " ",
            )
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("_n_docs") + 1.0) / (F.col("df") + 1.0)
                    )
                    + 1.0
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


@query(
    "histogram_order_values",
    """
    SELECT least(floor(o_totalprice / 50000)::BIGINT, 9) AS bucket,
           (least(floor(o_totalprice / 50000)::BIGINT, 9) * 50000.0)::DOUBLE
               AS bucket_low,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS bucket_total
    FROM orders
    GROUP BY 1, 2
    """,
)
def histogram_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (50k buckets, top-coded at bucket 9) as a
    plain hash aggregate over a computed bucket key — the constant-memory
    alternative to sorting for distribution profiling; buckets are
    mergeable across partitions like any other group key."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / 50000).cast("long"), F.lit(9)
    )
    return o.groupBy(
        bucket.alias("bucket"),
        (bucket * 50000.0).alias("bucket_low"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("bucket_total"),
    )


@query(
    "pmi_bigrams",
    """
    WITH toks AS (
        SELECT doc_id, t.term, t.pos
        FROM (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text),
                       '[^a-z0-9]+', ' ', 'g')), ' ') AS terms
            FROM documents
        ), LATERAL (
            SELECT unnest(terms) AS term,
                   generate_subscripts(terms, 1) AS pos
        ) t
        WHERE t.term <> ''
    ),
    bi AS (
        SELECT a.term AS w1, b.term AS w2, count(*) AS c_xy
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY a.term, b.term
    ),
    uni AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
    n AS (SELECT sum(c_xy) AS n_bi FROM bi)
    SELECT w1, w2, c_xy,
           round(ln((c_xy * n.n_bi) / (u1.c * u2.c)), 6) AS pmi
    FROM bi JOIN uni u1 ON bi.w1 = u1.term
            JOIN uni u2 ON bi.w2 = u2.term
            CROSS JOIN n
    WHERE c_xy >= 5
    """,
)
def pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information over adjacent
    token pairs (count ≥ 5).  Positions come from one posexplode; the
    bigram join is a self equi-join on (doc, pos+1) — co-partitioned by
    doc_id, so adjacent tokens meet without data movement beyond the one
    hash shuffle.  Unigram counts are vocabulary-sized and broadcast
    back; PMI is computed post-aggregation on |bigram-types| rows."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")),
                " ",
            )
        ).alias("pos", "term"),
    ).filter(F.col("term") != "")
    a = toks.select("doc_id", F.col("pos").alias("p"), F.col("term").alias("w1"))
    b = toks.select(
        "doc_id", (F.col("pos") - 1).alias("p"), F.col("term").alias("w2")
    )
    bi = (
        a.join(b, ["doc_id", "p"])
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_xy"))
    )
    uni = toks.groupBy("term").agg(F.count("*").alias("c"))
    # scalar total as a broadcast 1-row join: keeps everything one plan
    # (no mid-plan driver action, no double-computation of `bi`)
    n_bi = bi.agg(F.sum("c_xy").alias("n_bi"))
    u1 = uni.select(F.col("term").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("c").alias("c2"))
    return (
        bi.filter(F.col("c_xy") >= 5)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    # doubles, not long*long: c_xy·n_bi overflows int64
                    # at web-corpus scale (n_bi ~1e11 × hot bigram ~1e8)
                    F.col("c_xy").cast("double")
                    * F.col("n_bi").cast("double")
                    / (F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


@query(
    "nullsafe_join_segments",
    """
    WITH c AS (
        SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
        FROM customer
    ),
    d AS (
        SELECT DISTINCT nullif(c_mktsegment, 'BUILDING') AS seg,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 'unsegmented'
                    ELSE lower(c_mktsegment) END AS seg_label
        FROM customer
    )
    SELECT seg_label, count(*) AS n_customers
    FROM c JOIN d ON c.seg IS NOT DISTINCT FROM d.seg
    GROUP BY seg_label
    """,
)
def nullsafe_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): null keys
    MATCH each other instead of silently dropping — the semantics plain
    equi-joins get wrong when a dimension legitimately contains an
    "unknown" bucket.  Still hash-partitionable (null hashes like any
    value under null-safe equality), so the plan is an ordinary
    broadcast/shuffle hash join, not a nested loop."""
    cust = _t(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey", F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg")
    )
    d = cust.select(
        F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg"),
        F.when(F.col("c_mktsegment") == "BUILDING", "unsegmented")
        .otherwise(F.lower("c_mktsegment"))
        .alias("seg_label"),
    ).distinct()
    return (
        c.join(F.broadcast(d), c.seg.eqNullSafe(d.seg))
        .groupBy("seg_label")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "daily_revenue_dense",
    """
    WITH bounds AS (
        SELECT min(CAST(o_orderdate AS DATE)) AS lo,
               max(CAST(o_orderdate AS DATE)) AS hi
        FROM orders
    ),
    cal AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        FROM bounds
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT cal.day,
           coalesce(daily.revenue, 0.0) AS revenue,
           coalesce(daily.n_orders, 0) AS n_orders
    FROM cal LEFT JOIN daily ON cal.day = daily.day
    """,
)
def daily_revenue_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: generate the full day spine with
    ``sequence`` + explode and left-join the daily aggregate onto it so
    gap days surface as explicit zeros — the correction every
    time-series consumer (forecasting, moving averages over ROWS frames)
    silently needs.  The spine is |days| rows built from a 1-row bound
    aggregate; the fact table is touched once for the daily rollup."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    return cal.join(daily, "day", "left").select(
        "day",
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@query(
    "try_functions_safety",
    """
    SELECT o_orderpriority,
           count(*) AS n_rows,
           count(TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT))
               AS n_numeric_prefix,
           round(sum(coalesce(o_totalprice / nullif(o_totalprice - o_totalprice, 0),
                              0.0)), 2) AS div_by_zero_sum,
           round(avg(TRY_CAST(o_orderstatus AS DOUBLE)), 2) AS avg_bogus_cast
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def try_functions_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: ``try_cast`` / ``try_divide`` turn
    malformed input into NULL instead of failing the job — under ANSI
    mode (Spark 4 default) this is the difference between one bad row
    poisoning a 100 TB job and it landing in a NULL bucket.  Oracle uses
    TRY_CAST and a nullif-guarded division for identical semantics."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        F.count(
            F.substring("o_orderpriority", 1, 1).try_cast("bigint")
        ).alias("n_numeric_prefix"),
        F.round(
            F.sum(
                F.coalesce(
                    F.try_divide(
                        "o_totalprice",
                        F.col("o_totalprice") - F.col("o_totalprice"),
                    ),
                    F.lit(0.0),
                )
            ),
            2,
        ).alias("div_by_zero_sum"),
        F.round(F.avg(F.col("o_orderstatus").try_cast("double")), 2).alias(
            "avg_bogus_cast"
        ),
    )


@query(
    "shuffle_export_shards",
    """
    SELECT CAST(8 AS BIGINT) AS n_shards,
           count(*) AS total_docs,
           true AS shards_balanced,
           true AS positions_contiguous
    FROM documents
    """,
)
def shuffle_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shuffle (operators.dedup.shuffle_export):
    seeded-hash global permutation + shard assignment.  Shard membership
    depends on Spark's xxhash64, so the oracle checks a VERDICT summary:
    all 8 shards populated, total row conservation, hash balance (every
    shard within [avg/2, 2·avg]), and per-shard positions forming a
    contiguous 0..n-1 range (max_pos == n-1 for every shard).  Any
    dropped row, skewed shard, or broken permutation flips the hash.
    Fine-grained invariants (determinism, decorrelation) are pinned in
    tests/test_dedup_upsert.py."""
    from ..operators.dedup import shuffle_export

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = shuffle_export(docs, "doc_id", n_shards=8, seed=42)
    per_shard = out.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.max("shard_pos").alias("max_pos"),
        F.min("shard_pos").alias("min_pos"),
        F.count_distinct("shard_pos").alias("n_pos"),
    )
    return per_shard.agg(
        F.count("*").alias("n_shards"),
        F.sum("n_docs").alias("total_docs"),
        (
            (F.max("n_docs") <= 2 * F.avg("n_docs"))
            & (F.min("n_docs") >= F.avg("n_docs") / 2)
        ).alias("shards_balanced"),
        # true 0..n-1 range: min 0, max n-1, AND n distinct values —
        # catches duplicated positions (e.g. rank() regressions), not
        # just a correct max
        F.every(
            (F.col("max_pos") == F.col("n_docs") - 1)
            & (F.col("min_pos") == 0)
            & (F.col("n_pos") == F.col("n_docs"))
        ).alias("positions_contiguous"),
    )


@query(
    "disjunctive_promo_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 45)
    """,
)
def disjunctive_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive ranges across BOTH
    join sides.  Catalyst factors the per-side implications out of the
    OR (l_quantity ∈ [1,45], p_brand ∈ {…}) and pushes them below the
    join into each scan, leaving only the residual cross-side
    disjunction as the join filter — the OR doesn't block pushdown."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 45)
        )
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "funnel_stages",
    """
    WITH v AS (
        SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS vt
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS ct
        FROM events e JOIN v ON e.user_id = v.user_id
            AND CAST(e.ts AS TIMESTAMP) > v.vt
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS pt
        FROM events e JOIN c ON e.user_id = c.user_id
            AND CAST(e.ts AS TIMESTAMP) > c.ct
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 'view' AS stage, 1 AS stage_no, count(*) AS n_users FROM v
    UNION ALL SELECT 'click', 2, count(*) FROM c
    UNION ALL SELECT 'purchase', 3, count(*) FROM p
    """,
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER their first
    view, then purchased AFTER that click — event-sequence analytics
    built from per-stage min-timestamp aggregates chained through
    time-conditioned joins.  Each stage's frame is |users| rows, so
    every join after the first aggregation is broadcast-sized; the raw
    event table is scanned once per stage with the event-type filter
    pushed to the scan."""
    ev = _t(spark, sf_dir, "events")

    def first_after(event_type: str, prev, prev_ts: str, out_ts: str):
        e = ev.filter(F.col("event_type") == event_type)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(out_ts))
        return (
            e.join(F.broadcast(prev), "user_id")
            .filter(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    v = first_after("view", None, "", "vt")
    c = first_after("click", v, "vt", "ct")
    p = first_after("purchase", c, "ct", "pt")

    def stage(df, name, no):
        return df.agg(
            F.lit(name).alias("stage"),
            F.lit(no).alias("stage_no"),
            F.count("*").alias("n_users"),
        ).select("stage", "stage_no", "n_users")

    return (
        stage(v, "view", 1)
        .unionByName(stage(c, "click", 2))
        .unionByName(stage(p, "purchase", 3))
    )


@query(
    "regression_per_flag",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           regr_count(l_extendedprice, l_quantity) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def regression_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares as BUILT-IN aggregates
    (regr_slope/intercept/r2/count): the moments accumulate in one
    streaming pass inside the same partial+final hash agg as any sum —
    no applyInPandas, no second scan, no per-group matrix solve.  The
    fit every monitoring pipeline wants (price ~ quantity drift) at
    aggregate cost."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(
            F.regr_intercept("l_extendedprice", "l_quantity"), 4
        ).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


@query(
    "mad_robust_spread",
    """
    WITH med AS (
        SELECT l_returnflag,
               median(l_extendedprice) AS med_price
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(any_value(m.med_price), 2) AS med_price,
           round(median(abs(l.l_extendedprice - m.med_price)), 2) AS mad_price
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def mad_robust_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation — the outlier-robust spread measure
    stddev isn't.  Uses the fused operators.agg.mad_spread: two
    histogram-selection passes (no per-group value buffer, no
    single-task group sort, no fact-sized shuffle); pass 2 buckets
    the deviations with bounds DERIVED from pass 1's stats + median,
    so the deviation pass needs no extra bounds scan."""
    from ..operators.agg import mad_spread

    li = _t(spark, sf_dir, "lineitem")
    out = mad_spread(
        li, ["l_returnflag"], "l_extendedprice", "med_price", "mad_price"
    )
    return out.select(
        "l_returnflag",
        F.round("med_price", 2).alias("med_price"),
        F.round("mad_price", 2).alias("mad_price"),
    )


@query(
    "collect_order_arrays",
    """
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderpriority)), '|')
               AS priorities,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), '|')
               AS statuses,
           len(list(o_orderpriority)) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 3
    """,
)
def collect_order_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-building aggregation: collect_list/collect_set gather each
    customer's order attributes into nested array columns (sorted on
    both engines — collection order is partition-dependent, so canonical
    ordering is what makes the result deterministic).  Arrays build
    via partial aggregation like any agg state; memory is bounded by
    per-group cardinality, which HAVING keeps honest here.  The gate
    projection serializes the arrays to '|'-joined strings because the
    driver's hasher only handles scalar columns — the array aggregation
    itself still runs in-plan."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.sort_array(F.collect_list("o_orderpriority")).alias("pri_arr"),
            F.sort_array(F.collect_set("o_orderstatus")).alias("st_arr"),
            F.count("*").alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 3)
        .select(
            "o_custkey",
            F.concat_ws("|", "pri_arr").alias("priorities"),
            F.concat_ws("|", "st_arr").alias("statuses"),
            "n_orders",
        )
    )


@query(
    "map_status_counts",
    """
    WITH counts AS (
        SELECT o_orderpriority, o_orderstatus, count(*) AS c
        FROM orders GROUP BY o_orderpriority, o_orderstatus
    )
    SELECT o_orderpriority,
           coalesce(max(CASE WHEN o_orderstatus = 'F' THEN c END), 0) AS f_orders,
           coalesce(max(CASE WHEN o_orderstatus = 'O' THEN c END), 0) AS o_orders,
           coalesce(max(CASE WHEN o_orderstatus = 'P' THEN c END), 0) AS p_orders
    FROM counts
    GROUP BY o_orderpriority
    """,
)
def map_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: per-priority status counts built into a
    MapType with map_from_entries(collect_list(struct(...))), then
    extracted with element_at.  The map is intermediate (outputs are
    plain scalars) because map column equality/ordering is
    engine-specific — build maps for lookup, unpack before export."""
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("c")
    )
    mapped = counts.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderstatus", "c"))
        ).alias("status_map")
    )
    return mapped.select(
        "o_orderpriority",
        F.coalesce(F.element_at("status_map", "F"), F.lit(0)).alias("f_orders"),
        F.coalesce(F.element_at("status_map", "O"), F.lit(0)).alias("o_orders"),
        F.coalesce(F.element_at("status_map", "P"), F.lit(0)).alias("p_orders"),
    )


@query(
    "cube_with_grouping_id",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           GROUPING(o_orderstatus) AS status_is_total,
           GROUPING(o_orderpriority) AS priority_is_total,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_with_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING() markers: distinguishes 'subtotal row' from
    'group whose key is literally NULL' — the ambiguity every rollup
    consumer hits once real data contains NULL keys.  grouping() is
    metadata carried by the Expand operator, free at runtime; the output
    coalesces keys to 'ALL' only where grouping()=1 says it's a total."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("status_is_total"),
        F.grouping("o_orderpriority").cast("long").alias("priority_is_total"),
        F.count("*").alias("n_orders"),
    ).select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "status_is_total",
        "priority_is_total",
        "n_orders",
    )


@query(
    "chunk_documents_fixed",
    """
    WITH chunks AS (
        SELECT doc_id,
               i - 1 AS chunk_id,
               substr(text, ((i - 1) * 100 + 1)::INT, 100) AS chunk_text
        FROM documents,
             LATERAL (SELECT unnest(range(1,
                 greatest(ceil(length(text) / 100.0)::INT, 1) + 1)) AS i)
    )
    SELECT doc_id, chunk_id, chunk_text, length(chunk_text) AS n_chars
    FROM chunks WHERE length(chunk_text) > 0
    """,
)
def chunk_documents_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking (operators.text_analysis.chunk_documents):
    fixed 100-char chunks via sequence→transform→posexplode, all
    JVM-side.  Every long document becomes model-sized rows at scan
    parallelism — the step between curation and tokenization in an LLM
    data pipeline."""
    from ..operators.text_analysis import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"), width=100)


@query(
    "llm_data_pipeline",
    """
    WITH kept AS (
        SELECT doc_id, source, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                   AS dup_rank
        FROM documents
        WHERE n_chars >= 40 AND lang IN ('en', 'de', 'fr')
    ),
    uniq AS (SELECT doc_id, source, text FROM kept WHERE dup_rank = 1),
    chunks AS (
        SELECT doc_id, source,
               substr(text, ((i - 1) * 100 + 1)::INT, 100) AS chunk_text
        FROM uniq,
             LATERAL (SELECT unnest(range(1,
                 greatest(ceil(length(text) / 100.0)::INT, 1) + 1)) AS i)
    )
    SELECT source,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_chunks,
           round(avg(length(chunk_text)), 2) AS avg_chunk_chars,
           max(length(chunk_text)) AS max_chunk_chars
    FROM chunks
    WHERE length(chunk_text) > 0
    GROUP BY source
    """,
)
def llm_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's reason-to-exist in ONE declarative plan: quality +
    language gates → content-hash exact dedup (keep-first) → fixed-width
    chunking → per-source corpus stats.  Because every stage is a
    DataFrame transform on one lineage, Catalyst pushes the gates into
    the parquet scan, the dedup window is the only wide shuffle, the
    chunk fan-out never materializes between stages, and the whole
    pipeline costs barely more than its dedup.  Swap the chunk stage for
    operators.similarity / text_dedup stages and this same shape is the
    production curation job."""
    from ..operators.text_analysis import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    kept = docs.filter(
        (F.col("n_chars") >= 40) & F.col("lang").isin("en", "de", "fr")
    ).withColumn(
        "dup_rank",
        F.row_number().over(Window.partitionBy(F.md5("text")).orderBy("doc_id")),
    )
    uniq = kept.filter(F.col("dup_rank") == 1).select("doc_id", "source", "text")
    chunks = chunk_documents(uniq, width=100).join(
        uniq.select("doc_id", "source"), "doc_id"
    )
    return chunks.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        F.round(F.avg("n_chars"), 2).alias("avg_chunk_chars"),
        F.max("n_chars").alias("max_chunk_chars"),
    )


@query(
    "embedding_preprocess",
    """
    WITH n AS (
        SELECT vec_id, label,
               sqrt(list_sum(list_transform(embedding,
                    x -> x::DOUBLE * x::DOUBLE))) AS nrm,
               embedding
        FROM embeddings
    )
    SELECT vec_id, label,
           CAST(floor(nrm * 1000000.0) AS BIGINT) AS l2_norm_e6,
           CAST(floor(list_sum(list_transform(embedding,
                x -> x::DOUBLE / greatest(nrm, 1e-12))) * 10000.0) AS BIGINT)
               AS unit_sum_e4,
           array_to_string(list_transform(embedding,
                 x -> least(greatest(round(x::DOUBLE / greatest(nrm, 1e-12)
                                           * 127.0), -127), 127)::BIGINT), ',')
               AS q8
    FROM n
    """,
)
def embedding_preprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector preprocessing for similarity pipelines, all JVM-side array
    lambdas: L2 norm, unit-normalized component sum (the checksum that
    catches normalization bugs), and symmetric int8 quantization
    (×127 round-clamp) — 4× smaller vectors for the ANN index with
    recall loss bounded by quantization error.  No UDF, no Arrow: the
    arrays never leave Tungsten.  Gate projection: q8 serialized to a
    CSV string (driver hasher is scalar-only) and the two float outputs
    floor-scaled to integers (driver hash is float-exact; Spark's and
    DuckDB's list-fold sums can differ by ulps)."""
    emb = _t(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    safe = F.greatest(nrm, F.lit(1e-12))
    withn = emb.withColumn("nrm", nrm).withColumn("safe", safe)
    unit_sum = F.aggregate(
        "embedding", F.lit(0.0), lambda a, x: a + x.cast("double") / F.col("safe")
    )
    q8 = F.transform(
        "embedding",
        lambda x: F.least(
            F.greatest(
                F.round(x.cast("double") / F.col("safe") * 127.0, 0), F.lit(-127.0)
            ),
            F.lit(127.0),
        ).cast("long"),
    )
    return withn.select(
        "vec_id",
        "label",
        F.floor(F.col("nrm") * 1000000.0).cast("long").alias("l2_norm_e6"),
        F.floor(unit_sum * 10000.0).cast("long").alias("unit_sum_e4"),
        F.concat_ws(",", q8.cast("array<string>")).alias("q8"),
    )


@query(
    "global_row_numbering",
    """
    SELECT doc_id, source,
           row_number() OVER (ORDER BY doc_id) - 1 AS row_id
    FROM documents
    """,
)
def global_row_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global ids (operators.dedup.global_row_numbers):
    range-repartition → per-partition counts → driver prefix-sum →
    broadcast offsets + local row_number.  The oracle is the naive
    single-partition window — identical output, but the operator's plan
    keeps every step partition-parallel (the only global state is a
    |partitions|-length offset array), which is the difference between
    working and not working at 10^11 rows."""
    from ..operators.dedup import global_row_numbers

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return global_row_numbers(docs, "doc_id")


@query(
    "weighted_sample_docs",
    """
    SELECT CAST(100 AS BIGINT) AS n_sampled,
           CAST(100 AS BIGINT) AS n_valid_members,
           true AS length_bias_ok
    FROM documents LIMIT 1
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sample (operators.dedup.weighted_sample,
    Efraimidis-Spirakis priorities from seeded xxhash64): 100 docs
    favored by length.  Sample membership depends on the engine's hash,
    so the oracle checks a VERDICT summary: exactly k rows sampled, all
    of them genuine corpus members (inner-join count), and the weighting
    demonstrably biases toward longer docs (sample mean n_chars strictly
    above the corpus mean).  Determinism and the no-global-sort heap
    plan are pinned by tests."""
    from ..operators.dedup import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    sample = weighted_sample(docs, "n_chars", 100, "doc_id")
    corpus_avg = docs.agg(F.avg("n_chars").alias("_corpus_avg"))
    members = sample.join(
        docs.select("doc_id"), "doc_id", "left_semi"
    ).agg(F.count("*").alias("n_valid_members"))
    return (
        sample.agg(
            F.count("*").alias("n_sampled"),
            F.avg("n_chars").alias("_sample_avg"),
        )
        .crossJoin(F.broadcast(members))
        .crossJoin(F.broadcast(corpus_avg))
        .select(
            "n_sampled",
            "n_valid_members",
            (F.col("_sample_avg") > F.col("_corpus_avg")).alias(
                "length_bias_ok"
            ),
        )
    )


@query(
    "shipping_delay_stats",
    """
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           round(avg(date_diff('day', o.o_orderdate, l.l_shipdate)), 2)
               AS avg_delay_days,
           min(date_diff('day', o.o_orderdate, l.l_shipdate)) AS min_delay_days,
           max(date_diff('day', o.o_orderdate, l.l_shipdate)) AS max_delay_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def shipping_delay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-interval arithmetic across a join: order→ship latency
    distribution per priority.  The datediff evaluates inside the join's
    codegen stage; the per-priority reduction is an ordinary partial+
    final hash agg, so the fact table shuffles once on the join key and
    only 5 aggregate rows leave the final stage."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.avg(delay), 2).alias("avg_delay_days"),
            F.min(delay).alias("min_delay_days"),
            F.max(delay).alias("max_delay_days"),
        )
    )


@query(
    "chunk_documents_boundary",
    """
    WITH words AS (
        SELECT doc_id, t.pos, t.word
        FROM (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), LATERAL (
            SELECT unnest(ws) AS word, generate_subscripts(ws, 1) AS pos
        ) t
        WHERE t.word <> ''
    ),
    packed AS (
        SELECT doc_id, pos, word,
               ((sum(length(word) + 1) OVER w) - length(word) - 1) // 100
                   AS chunk_id
        FROM words
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT doc_id, chunk_id::INT AS chunk_id,
           string_agg(word, ' ' ORDER BY pos) AS chunk_text,
           count(*) AS n_words,
           length(string_agg(word, ' ' ORDER BY pos)) AS n_chars
    FROM packed
    GROUP BY doc_id, chunk_id
    """,
)
def chunk_documents_boundary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-aware chunking
    (operators.text_analysis.chunk_documents_boundary): greedy word
    packing to ~100-char chunks — no word ever split.  One
    doc-partitioned window for the running char count, then an
    order-preserving re-assembly (sorted struct array join, since
    collect_list order is not guaranteed under parallelism — the oracle
    uses string_agg ORDER BY for the same determinism)."""
    from ..operators.text_analysis import chunk_documents_boundary

    return chunk_documents_boundary(
        _t(spark, sf_dir, "documents"), width=100
    ).select("doc_id", "chunk_id", "chunk_text", "n_words", "n_chars")


@query(
    "ratio_to_report_lang_share",
    """
    WITH counts AS (
        SELECT source, lang, count(*) AS n_docs,
               round(sum(n_chars), 2) AS total_chars
        FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, total_chars,
           round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY source), 6)
               AS doc_share,
           round(total_chars / sum(total_chars) OVER (PARTITION BY source), 6)
               AS char_share
    FROM counts
    """,
)
def ratio_to_report_lang_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each (source, lang) cell's share of its source's
    totals — a window over an AGGREGATE, not over raw rows.  The
    aggregate reduces to |source×lang| rows first, so the share window
    sorts a tiny frame; computing shares over raw documents would put a
    window on the full corpus for the same answer.  Corpus-mix
    monitoring (language balance per source) is the canonical use."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum("n_chars").cast("double"), 2).alias("total_chars"),
    )
    w = Window.partitionBy("source")
    return counts.select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias(
            "doc_share"
        ),
        F.round(
            F.col("total_chars") / F.sum("total_chars").over(w), 6
        ).alias("char_share"),
    )


@query(
    "order_history_features",
    """
    WITH ranked AS (
        SELECT o_custkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS rn_first,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_last
        FROM orders
    )
    SELECT o_custkey,
           count(*) AS n_orders,
           round(max(CASE WHEN rn_first = 1 THEN o_totalprice END), 2)
               AS first_price,
           round(max(CASE WHEN rn_last = 1 THEN o_totalprice END), 2)
               AS last_price,
           round(max(CASE WHEN rn_last = 1 THEN o_totalprice END)
                 - max(CASE WHEN rn_first = 1 THEN o_totalprice END), 2)
               AS price_delta
    FROM ranked
    GROUP BY o_custkey
    HAVING count(*) >= 2
    """,
)
def order_history_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type feature building: each customer's orders collected
    into a chronologically sorted array of structs, features (first/last
    price, trend) extracted with element_at — ONE aggregation instead of
    the oracle's two ranking windows.  The struct array sorts
    lexicographically on (date, orderkey, price), giving deterministic
    first/last under date ties.  The array stays intermediate; outputs
    are scalars."""
    o = _t(spark, sf_dir, "orders")
    hist = o.groupBy("o_custkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("o_orderdate").alias("d"),
                    F.col("o_orderkey").alias("k"),
                    F.col("o_totalprice").alias("p"),
                )
            )
        ).alias("hist")
    )
    first_p = F.element_at("hist", 1).getField("p")
    last_p = F.element_at("hist", -1).getField("p")
    return hist.filter(F.size("hist") >= 2).select(
        "o_custkey",
        F.size("hist").cast("long").alias("n_orders"),
        F.round(first_p, 2).alias("first_price"),
        F.round(last_p, 2).alias("last_price"),
        F.round(last_p - first_p, 2).alias("price_delta"),
    )


@query(
    "approx_percentile_summary",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           true AS p50_within_1pct,
           true AS p99_within_1pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_percentile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (approx_percentile, one pass, mergeable
    fixed-size state per group — the 100 TB default where exact
    selection is a luxury).  Sketch estimates are
    implementation-defined, so the oracle checks a VERDICT: the Spark
    side computes approx AND exact (interpolated) per group and asserts
    ≤1% relative error at p50 and p99 (measured error here is ~2e-4);
    the oracle pins both verdicts true with the exact group counts."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        (
            F.abs(
                F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000))
                - F.percentile("l_extendedprice", F.lit(0.5))
            )
            <= 0.01 * F.percentile("l_extendedprice", F.lit(0.5))
        ).alias("p50_within_1pct"),
        (
            F.abs(
                F.approx_percentile(
                    "l_extendedprice", F.lit(0.99), F.lit(10000)
                )
                - F.percentile("l_extendedprice", F.lit(0.99))
            )
            <= 0.01 * F.percentile("l_extendedprice", F.lit(0.99))
        ).alias("p99_within_1pct"),
    )


@query(
    "key_skew_profile",
    """
    WITH per_key AS (
        SELECT o_custkey, count(*) AS key_rows
        FROM orders GROUP BY o_custkey
    )
    SELECT key_rows, count(*) AS n_keys,
           round(key_rows * count(*) * 1.0
                 / (SELECT count(*) FROM orders), 6) AS row_share
    FROM per_key
    GROUP BY key_rows
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic (count-of-counts): the distribution of rows
    per join/group key and each bucket's share of the table — the number
    you need BEFORE choosing plain vs salted vs broadcast join.  Two
    cheap aggregations; the first reduces the table to |keys| rows, the
    second to |distinct frequencies|."""
    o = _t(spark, sf_dir, "orders")
    # table size as a broadcast 1-row aggregate, not a driver .count()
    # (same one-plan rule as tfidf_top_terms / pmi_bigrams)
    total = o.agg(F.count("*").cast("double").alias("_total"))
    per_key = o.groupBy("o_custkey").agg(F.count("*").alias("key_rows"))
    return (
        per_key.groupBy("key_rows")
        .agg(F.count("*").alias("n_keys"))
        .crossJoin(F.broadcast(total))
        .select(
            "key_rows",
            "n_keys",
            F.round(
                F.col("key_rows") * F.col("n_keys") / F.col("_total"), 6
            ).alias("row_share"),
        )
    )


@query(
    "fuzzy_dedup_pipeline",
    """
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               CASE WHEN len(text) < 5 THEN [text]
                    ELSE list_distinct([substr(text, i, 5)
                                        FOR i IN range(1, len(text) - 3)])
               END AS s
        FROM documents
    ),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    tk AS (SELECT doc_id, unnest(s) AS g FROM sh),
    inter AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        FROM tk a JOIN tk b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT ia, ib
        FROM inter JOIN sizes sa ON ia = sa.doc_id
                   JOIN sizes sb ON ib = sb.doc_id
        WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.5
    ),
    ed AS (
        SELECT ia AS src, ib AS dst FROM pairs
        UNION ALL SELECT ib, ia FROM pairs
    ),
    tc AS (
        SELECT src, dst FROM ed
        UNION
        SELECT tc.src, ed.dst
        FROM tc JOIN ed ON tc.dst = ed.src
        WHERE ed.dst <> tc.src
    ),
    removed AS (SELECT DISTINCT src AS doc_id FROM tc WHERE dst < src),
    bef AS (
        SELECT source, count(*) AS n_docs_before
        FROM documents GROUP BY source
    ),
    rem AS (
        SELECT d.source, count(*) AS n_removed
        FROM documents d JOIN removed r ON d.doc_id = r.doc_id
        GROUP BY d.source
    )
    SELECT b.source, b.n_docs_before,
           b.n_docs_before - coalesce(rem.n_removed, 0) AS n_docs_after,
           coalesce(rem.n_removed, 0) AS n_removed
    FROM bef b LEFT JOIN rem ON b.source = rem.source
    """,
)
def fuzzy_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup END-TO-END: MinHash-LSH near-dup pairs (jaccard ≥
    0.5) → connected components → keep one representative per cluster →
    per-source survival stats.  This is the full production shape the
    pairwise detectors feed (pairs alone don't dedup anything — the
    transitive grouping and representative choice do).

    Fully oracle-verified: DuckDB recomputes the exact-Jaccard pair set
    (sparse explode-join), runs connected components as a recursive-CTE
    transitive closure (a doc is removed iff it reaches a smaller id —
    exactly the min-id-representative rule of
    operators.graph.dedup_groups_from_pairs), and reproduces the
    per-source survival stats."""
    from ..operators.graph import dedup_groups_from_pairs
    from ..operators.text_dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5)
    groups = dedup_groups_from_pairs(pairs, docs, "doc_id")
    survived = docs.join(
        groups.filter("is_representative").select("doc_id"), "doc_id", "left_semi"
    )
    before = docs.groupBy("source").agg(F.count("*").alias("n_docs_before"))
    after = survived.groupBy("source").agg(F.count("*").alias("n_docs_after"))
    return (
        before.join(after, "source", "left")
        .select(
            "source",
            "n_docs_before",
            F.coalesce("n_docs_after", F.lit(0)).alias("n_docs_after"),
            (F.col("n_docs_before") - F.coalesce("n_docs_after", F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


@query(
    "nth_order_values",
    """
    SELECT DISTINCT o_custkey,
           round(first_value(o_totalprice) OVER w, 2) AS first_order_price,
           round(nth_value(o_totalprice, 2) OVER w, 2) AS second_order_price,
           round(last_value(o_totalprice) OVER w, 2) AS latest_order_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def nth_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional window values: first / second / latest order price per
    customer in one window pass.  The frame must be explicitly
    UNBOUNDED-to-UNBOUNDED — the default frame stops at CURRENT ROW,
    which silently turns last_value into current-value, the classic
    window-frame bug this query pins down on both engines."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_order_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 2).alias(
            "second_order_price"
        ),
        F.round(F.last("o_totalprice").over(w), 2).alias("latest_order_price"),
    ).distinct()


@query(
    "monthly_revenue_growth",
    """
    WITH monthly AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month, revenue,
           round(revenue - lag(revenue) OVER (ORDER BY month), 2)
               AS revenue_change,
           round((revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month) * 100, 4)
               AS pct_change
    FROM monthly
    """,
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth: monthly rollup first (|months| rows),
    then lag/percent-change over the tiny aggregate — the standard
    business report, with the window cost paid on the rollup, never the
    fact table."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        F.round(F.col("revenue") - prev, 2).alias("revenue_change"),
        F.round((F.col("revenue") - prev) / prev * 100, 4).alias("pct_change"),
    )


@query(
    "order_interarrival_stats",
    """
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         lag(CAST(o_orderdate AS DATE)) OVER w,
                         CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey,
           count(gap_days) AS n_gaps,
           round(avg(gap_days), 2) AS avg_gap_days,
           min(gap_days) AS min_gap_days,
           max(gap_days) AS max_gap_days
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    HAVING count(gap_days) >= 2
    """,
)
def order_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival analysis: days between consecutive orders per
    customer (lag over the per-customer sequence), reduced to gap
    statistics — the purchase-cadence feature behind churn models.  One
    shuffle+sort for the lag window; the aggregate reuses the same
    partitioning, so Catalyst elides a second exchange."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_gaps"),
            F.round(F.avg("gap_days"), 2).alias("avg_gap_days"),
            F.min("gap_days").alias("min_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .filter(F.col("n_gaps") >= 2)
    )


@query(
    "price_quartile_stats",
    """
    WITH q AS (
        SELECT percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS q1,
               percentile_cont(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS q2,
               percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS q3
        FROM orders
    )
    SELECT CASE WHEN o_totalprice <= q.q1 THEN 1
                WHEN o_totalprice <= q.q2 THEN 2
                WHEN o_totalprice <= q.q3 THEN 3
                ELSE 4 END AS quartile,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price,
           round(avg(o_totalprice), 2) AS avg_price
    FROM orders CROSS JOIN q
    GROUP BY 1
    """,
)
def price_quartile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile banding WITHOUT a global ntile window (which would drag
    every row through one task): quartile thresholds come from a 1-row
    percentile aggregate, broadcast-cross-joined back onto the table,
    and banding is a plain CASE — the threshold-from-aggregate pattern
    that replaces any global-rank bucketing at scale."""
    o = _t(spark, sf_dir, "orders")
    q = o.agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.50)).alias("q2"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    )
    banded = o.crossJoin(F.broadcast(q)).withColumn(
        "quartile",
        F.when(F.col("o_totalprice") <= F.col("q1"), 1)
        .when(F.col("o_totalprice") <= F.col("q2"), 2)
        .when(F.col("o_totalprice") <= F.col("q3"), 3)
        .otherwise(4),
    )
    return banded.groupBy("quartile").agg(
        F.count("*").alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


@query(
    "zscore_outlier_events",
    """
    WITH stats AS (
        SELECT event_type,
               avg(value) AS mu,
               stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN round(abs((e.value - s.mu) / s.sigma), 6) > 2.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(floor(max(abs((e.value - s.mu) / s.sigma)) * 100.0) AS BIGINT)
               AS max_abs_z_e2
    FROM events e JOIN stats s ON e.event_type = s.event_type
    GROUP BY e.event_type
    """,
)
def zscore_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per event type: one aggregate pass for
    (mu, sigma), broadcast back onto the stream-shaped table, outliers
    counted in a second pass — the monitoring query behind every
    "metric spiked" alert.  Stats are |types| rows, so the fact side
    never shuffles for the join.  Gate determinism: Spark's and DuckDB's
    partial-agg orders give mu/sigma that differ by ulps, so the
    threshold predicate rounds z to 6 digits first (ulp-stable unless a
    z sits exactly on 2.5) and the max is floor-scaled to an integer
    instead of a float-exact-hashed round()."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = F.abs((F.col("value") - F.col("mu")) / F.col("sigma"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.round(z, 6) > 2.5, 1).otherwise(0)).alias(
                "n_outliers"
            ),
            F.floor(F.max(z) * 100.0).cast("long").alias("max_abs_z_e2"),
        )
    )


@query(
    "boolean_aggregates",
    """
    WITH sc AS (
        SELECT o_orderpriority, o_orderstatus, count(*) AS c
        FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    modal AS (
        SELECT o_orderpriority, o_orderstatus AS modal_status,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY c DESC, o_orderstatus DESC
               ) AS rn
        FROM sc
    )
    SELECT b.o_orderpriority, b.n_orders, b.n_big, b.all_over_1k,
           b.any_pending, m.modal_status
    FROM (
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
               bool_and(o_totalprice > 1000) AS all_over_1k,
               bool_or(o_orderstatus = 'P') AS any_pending
        FROM orders
        GROUP BY o_orderpriority
    ) b JOIN modal m ON b.o_orderpriority = m.o_orderpriority AND m.rn = 1
    """,
)
def boolean_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/modal aggregate surface: count_if, every (bool_and),
    some (bool_or), and a DETERMINISTIC mode — bare ``mode()`` is
    tie-nondeterministic across engines (it broke the round-2 driver
    hash), so the modal value is computed as max_by(status,
    (count, status)): highest count, ties broken by the larger status.
    Predicates reduce map-side like any agg, so data-quality assertions
    over 100 TB cost one aggregation; the modal pass adds one more over
    |priority × status| partials."""
    o = _t(spark, sf_dir, "orders")
    base = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_orderstatus") == "P").alias("any_pending"),
    )
    modal = (
        o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("c"))
        .groupBy("o_orderpriority")
        .agg(
            F.max_by(
                "o_orderstatus", F.struct("c", "o_orderstatus")
            ).alias("modal_status")
        )
    )
    return base.join(F.broadcast(modal), "o_orderpriority")


@query(
    "cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id,
               date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id,
               date_trunc('week', CAST(ts AS TIMESTAMP)) AS activity_week
        FROM events
    )
    SELECT CAST(f.cohort_week AS DATE) AS cohort_week,
           date_diff('day', f.cohort_week, a.activity_week) // 7 AS week_offset,
           count(*) AS n_users
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity week,
    counted in each subsequent week they return.  Both inputs reduce to
    |users| (first week) and |user-weeks| (distinct activity) BEFORE the
    join, and the cohort side is per-user-small — so the retention
    matrix costs two aggregations and a broadcast join regardless of raw
    event volume.  Week-truncated timestamps make the offset an exact
    datediff/7 on both engines."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    return (
        activity.join(F.broadcast(firsts), "user_id")
        .groupBy(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            (F.datediff("activity_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "rfm_segmentation",
    """
    WITH rfm AS (
        SELECT o_custkey,
               max(CAST(o_orderdate AS DATE)) AS last_order,
               count(*) AS frequency,
               round(sum(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS max_d FROM orders)
    SELECT CASE WHEN date_diff('day', last_order, a.max_d) <= 90 THEN 'active'
                WHEN date_diff('day', last_order, a.max_d) <= 365 THEN 'cooling'
                ELSE 'dormant' END AS recency_band,
           CASE WHEN frequency >= 15 THEN 'frequent'
                WHEN frequency >= 8 THEN 'regular'
                ELSE 'occasional' END AS frequency_band,
           count(*) AS n_customers,
           round(sum(monetary), 2) AS total_monetary,
           round(avg(monetary), 2) AS avg_monetary
    FROM rfm CROSS JOIN anchor a
    GROUP BY 1, 2
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary per customer reduced
    in ONE aggregation, then banded against a broadcast 1-row anchor
    (dataset max date — never wall-clock, which would break determinism
    and replay).  The segment matrix is a second aggregation over
    |customers| rows; classic lifecycle analytics at aggregate cost."""
    o = _t(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("max_d"))
    days = F.datediff(F.col("max_d"), F.col("last_order"))
    return (
        rfm.crossJoin(F.broadcast(anchor))
        .select(
            F.when(days <= 90, "active")
            .when(days <= 365, "cooling")
            .otherwise("dormant")
            .alias("recency_band"),
            F.when(F.col("frequency") >= 15, "frequent")
            .when(F.col("frequency") >= 8, "regular")
            .otherwise("occasional")
            .alias("frequency_band"),
            "monetary",
        )
        .groupBy("recency_band", "frequency_band")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("monetary"), 2).alias("total_monetary"),
            F.round(F.avg("monetary"), 2).alias("avg_monetary"),
        )
    )


@query(
    "decimal_money_totals",
    """
    SELECT o_orderstatus,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS VARCHAR)
               AS total_exact,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def decimal_money_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decimal money arithmetic (SURVEY §1.3's documented
    improvement over the reference's float money): cast once at the
    edge, aggregate in DecimalType — sums are exact and
    summation-order-independent, so the result needs NO rounding
    tolerance anywhere.  Decimal ops cost ~2-3× double in codegen;
    reserve them for money, keep doubles for stats.  The gate projects
    the sum to its canonical string form: Spark's decimal(28,2) and
    DuckDB's decimal(38,2) are numerically equal but hash differently
    in the driver's pandas representation (round-2 red row) — the
    decimal math stays internal, only the projection is stringly."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("string")
        .alias("total_exact"),
        F.count("*").alias("n_orders"),
    )


@query(
    "referential_integrity_audit",
    """
    SELECT
        (SELECT count(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_orderkey = o.o_orderkey))
            AS orders_without_lineitems,
        (SELECT count(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_orderkey = l.l_orderkey))
            AS lineitems_without_order,
        (SELECT count(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey))
            AS orders_without_customer,
        (SELECT count(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM part p
                           WHERE p.p_partkey = l.l_partkey))
            AS lineitems_without_part
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan counts
    for each FK relationship via left-anti joins (each is one hash join
    against a broadcast-or-shuffled key set — never a row-by-row lookup).
    The ingest-time data-quality report that decides whether a batch is
    publishable; zero rows on healthy data is itself the assertion."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")

    def orphans(child, parent, ck, pk, out):
        # 1-row aggregate per FK edge; all four stay lazy and run as
        # branches of ONE plan (no driver .count() per edge)
        return (
            child.join(parent.select(F.col(pk).alias(ck)), ck, "left_anti")
            .agg(F.count("*").alias(out))
        )

    return (
        orphans(
            o, li.select("l_orderkey").distinct(), "o_orderkey",
            "l_orderkey", "orders_without_lineitems",
        )
        .crossJoin(
            orphans(li, o, "l_orderkey", "o_orderkey", "lineitems_without_order")
        )
        .crossJoin(
            orphans(o, c, "o_custkey", "c_custkey", "orders_without_customer")
        )
        .crossJoin(
            orphans(li, p, "l_partkey", "p_partkey", "lineitems_without_part")
        )
    )


@query(
    "order_reconciliation",
    """
    WITH li_sum AS (
        SELECT l_orderkey,
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS li_total
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT CASE
               WHEN abs(o.o_totalprice - s.li_total)
                    / greatest(o.o_totalprice, 1e-9) <= 0.01 THEN 'match_1pct'
               WHEN abs(o.o_totalprice - s.li_total)
                    / greatest(o.o_totalprice, 1e-9) <= 0.25 THEN 'close_25pct'
               ELSE 'mismatch' END AS band,
           count(*) AS n_orders,
           round(avg(abs(o.o_totalprice - s.li_total)), 2) AS avg_abs_diff
    FROM orders o JOIN li_sum s ON o.o_orderkey = s.l_orderkey
    GROUP BY 1
    """,
)
def order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: the order header total vs the total
    recomputed from its lines, banded by relative difference — the
    two-sources-of-truth check every warehouse runs after ingest.
    Lineitem reduces to per-order sums first, so the compare join is
    |orders| × |orders|-sized."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    li_sum = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("li_total")
    )
    rel = F.abs(F.col("o_totalprice") - F.col("li_total")) / F.greatest(
        F.col("o_totalprice"), F.lit(1e-9)
    )
    return (
        o.join(li_sum, "o_orderkey")
        .select(
            F.when(rel <= 0.01, "match_1pct")
            .when(rel <= 0.25, "close_25pct")
            .otherwise("mismatch")
            .alias("band"),
            (F.col("o_totalprice") - F.col("li_total")).alias("diff"),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg(F.abs(F.col("diff"))), 2).alias("avg_abs_diff"),
        )
    )


@query(
    "bounded_rows_moving_avg",
    """
    SELECT o_custkey, o_orderkey,
           round(avg(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg_last3,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS sum_last3
    FROM orders
    """,
)
def bounded_rows_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded ROWS frame: each order's trailing-3 average/sum per
    customer — the count-based sibling of the RANGE frame in
    window_moving_avg_range (ROWS counts rows, RANGE counts value
    distance; conflating them is the second classic window bug after
    default-frame truncation).  Both expressions share one frame spec →
    one Window operator, one shuffle+sort."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        # round at 4, not 2: a 2-row average of cents lands exactly on
        # .xx5, where double HALF_UP disagrees across engines; at scale 4
        # the value needs no rounding at all.
        F.round(F.avg("o_totalprice").over(w), 4).alias("avg_last3"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("sum_last3"),
    )


@query(
    "crosstab_status_priority",
    """
    SELECT o_orderstatus,
           count(*) FILTER (o_orderpriority = '1-URGENT') AS urgent,
           count(*) FILTER (o_orderpriority = '2-HIGH') AS high,
           count(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium,
           count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS unspecified,
           count(*) FILTER (o_orderpriority = '5-LOW') AS low
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def crosstab_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table via ``df.stat.crosstab`` — the DataFrameStatFunctions
    face of a pivot (one pass, counts per value pair).  Column names come
    from data values, so they're re-aliased to a fixed contract; the
    oracle is the equivalent FILTER-clause aggregation."""
    o = _t(spark, sf_dir, "orders")
    ct = o.stat.crosstab("o_orderstatus", "o_orderpriority")
    return ct.select(
        F.col("o_orderstatus_o_orderpriority").alias("o_orderstatus"),
        F.col("`1-URGENT`").alias("urgent"),
        F.col("`2-HIGH`").alias("high"),
        F.col("`3-MEDIUM`").alias("medium"),
        F.col("`4-NOT SPECIFIED`").alias("unspecified"),
        F.col("`5-LOW`").alias("low"),
    )


@query(
    "higher_moments_profile",
    """
    SELECT l_linestatus,
           round(skewness(l_extendedprice), 4) AS price_skew,
           round(kurtosis_pop(l_extendedprice), 4) AS price_kurtosis,
           round(skewness(l_quantity), 4) AS qty_skew,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def higher_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third/fourth moments per group — distribution-shape profiling
    (skew → long tails, negative excess kurtosis → flatter than normal)
    as the same single-pass streaming-moment aggregation as mean/stddev.
    Engine note pinned by the oracle: Spark's ``kurtosis`` is the
    POPULATION excess kurtosis (DuckDB ``kurtosis_pop``), not the
    sample-corrected form; rounded at 4 decimals where the
    sample-vs-population skewness correction is far below visibility."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.skewness("l_extendedprice"), 4).alias("price_skew"),
        F.round(F.kurtosis("l_extendedprice"), 4).alias("price_kurtosis"),
        F.round(F.skewness("l_quantity"), 4).alias("qty_skew"),
        F.count("*").alias("n_rows"),
    )


@query(
    "event_seasonality_profile",
    """
    SELECT dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
           hour(CAST(ts AS TIMESTAMP)) AS hod,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def event_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: event volume by (day-of-week, hour-of-day) —
    the load-shape matrix behind capacity planning and anomaly
    baselines.  Engine trap pinned by the oracle: Spark's ``dayofweek``
    is 1-7 Sunday-start while DuckDB's is 0-6 Sunday-start, so the
    Spark side shifts by one — date-part numbering is never portable
    without an explicit contract."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").alias("hod"),
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "pareto_abc_customers",
    """
    WITH rev AS (
        SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, revenue,
               sum(revenue) OVER (ORDER BY revenue DESC, o_custkey
                                  ROWS UNBOUNDED PRECEDING) AS cum_rev,
               sum(revenue) OVER () AS total_rev
        FROM rev
    )
    SELECT CASE WHEN cum_rev / total_rev <= 0.5 THEN 'A'
                WHEN cum_rev / total_rev <= 0.8 THEN 'B'
                ELSE 'C' END AS abc_class,
           count(*) AS n_customers,
           round(sum(revenue), 2) AS class_revenue,
           round(sum(revenue) / max(total_rev) * 100, 4) AS revenue_pct
    FROM ranked
    GROUP BY 1
    """,
)
def pareto_abc_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification: customers ranked by revenue, classed
    by CUMULATIVE share (A = first 50% of revenue, B = to 80%, C =
    rest).  The cumulative sum runs over the |customers| aggregate via
    operators.agg.global_cumsum — range-partitioned local sorts plus a
    P-row offset frame, so there is NO single-partition global window:
    the plan survives 10^9 customers.  The grand total joins in as a
    broadcast 1-row aggregate."""
    from ..operators.agg import global_cumsum

    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    cum = global_cumsum(
        rev,
        [F.desc("revenue"), F.asc("o_custkey")],
        "revenue",
        out_col="cum_rev",
    )
    total = rev.agg(F.sum("revenue").alias("total_rev"))
    ranked = cum.crossJoin(F.broadcast(total))
    share = F.col("cum_rev") / F.col("total_rev")
    return (
        ranked.select(
            F.when(share <= 0.5, "A").when(share <= 0.8, "B").otherwise("C").alias(
                "abc_class"
            ),
            "revenue",
            "total_rev",
        )
        .groupBy("abc_class")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("revenue"), 2).alias("class_revenue"),
            F.round(F.sum("revenue") / F.max("total_rev") * 100, 4).alias(
                "revenue_pct"
            ),
        )
    )


@query(
    "doc_repetition_stats",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    ws AS (
        SELECT doc_id, len(tk) AS n_words,
               CASE WHEN len(tk) = 0 THEN 0.0
                    ELSE round(1.0 - len(list_distinct(tk)) * 1.0
                               / greatest(len(tk), 1), 4)
               END AS dup_word_frac
        FROM t
    ),
    pg AS (
        SELECT doc_id,
               unnest([tk[i] || ' ' || tk[i + 1]
                       FOR i IN range(1, len(tk))]) AS gr
        FROM t WHERE len(tk) >= 2
    ),
    cnt AS (SELECT doc_id, gr, count(*) AS n FROM pg GROUP BY 1, 2),
    top AS (
        SELECT doc_id, gr, n,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY n DESC, gr DESC) AS rn,
               sum(n) OVER (PARTITION BY doc_id) AS total
        FROM cnt
    )
    SELECT ws.doc_id, ws.n_words, ws.dup_word_frac,
           coalesce(top.gr, '') AS top_ngram,
           coalesce(top.n, 0) AS top_ngram_n,
           coalesce(round(top.n * 1.0 / top.total, 4), 0.0) AS top_ngram_frac
    FROM ws LEFT JOIN (SELECT * FROM top WHERE rn = 1) top USING (doc_id)
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters per document
    (operators.text_analysis.repetition_stats): duplicate-word fraction
    and the most-frequent-bigram share — the boilerplate/degeneracy
    signals a training pipeline thresholds before tokenization.  Exact
    oracle: DuckDB replays tokenization, bigram frequencies, and the
    (count, ngram) tie rule in SQL."""
    from ..operators.text_analysis import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


@query(
    "benchmark_decontamination",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_distinct([array_to_string(tk[i:i + 7], ' ')
                              FOR i IN range(1, len(tk) - 6)]) AS gs
        FROM t WHERE len(tk) >= 8
    ),
    dg AS (SELECT doc_id, len(gs) AS n_doc, unnest(gs) AS g FROM g),
    bg AS (SELECT doc_id AS bench_id, unnest(gs) AS g FROM g
           WHERE doc_id % 10 = 0)
    SELECT dg.doc_id,
           count(DISTINCT dg.g) AS n_shared_ngrams,
           count(DISTINCT bg.bench_id) AS n_bench_docs,
           min(bg.bench_id) AS min_bench_id,
           round(count(DISTINCT dg.g) * 1.0 / max(dg.n_doc), 4)
               AS shared_frac
    FROM dg JOIN bg ON dg.g = bg.g AND dg.doc_id <> bg.bench_id
    GROUP BY dg.doc_id
    """,
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination
    (operators.text_analysis.benchmark_overlap): training docs sharing
    any word 8-gram with an "eval suite" (stand-in: every 10th doc_id;
    in production a separate small table) are flagged with match counts
    and the contaminated fraction of their shingles.  The eval side
    broadcasts by contract; the corpus never shuffles text."""
    from ..operators.text_analysis import benchmark_overlap

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    return benchmark_overlap(docs, bench, n=8)


@query(
    "boilerplate_ngram_stats",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_distinct([array_to_string(tk[i:i + 2], ' ')
                              FOR i IN range(1, len(tk) - 1)]) AS gs
        FROM t WHERE len(tk) >= 3
    ),
    dg AS (SELECT doc_id, unnest(gs) AS g FROM g),
    boiler AS (SELECT g FROM dg GROUP BY g HAVING count(*) >= 5),
    per AS (
        SELECT dg.doc_id, count(*) AS n_grams,
               sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
        FROM dg LEFT JOIN boiler b USING (g) GROUP BY dg.doc_id
    )
    SELECT t.doc_id,
           coalesce(per.n_grams, 0) AS n_grams,
           CAST(coalesce(per.n_boiler, 0) AS BIGINT) AS n_boiler_grams,
           CAST(coalesce(per.n_boiler, 0) * 10000
                // greatest(coalesce(per.n_grams, 0), 1) AS BIGINT)
               AS boiler_frac_e4
    FROM t LEFT JOIN per ON t.doc_id = per.doc_id
    """,
)
def boilerplate_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate phrases
    (operators.text_analysis.boilerplate_ngram_stats): word 3-grams
    present in >= 5 distinct documents are boilerplate; per doc, the
    fraction of its distinct 3-grams that are boilerplate.  Two
    gram-keyed shuffles (frequency agg + join back), map-side partials
    both times; the CCNet-style repeated-content signal at corpus
    scope where repetition_stats is per-document."""
    from ..operators.text_analysis import boilerplate_ngram_stats

    return boilerplate_ngram_stats(
        _t(spark, sf_dir, "documents"), n=3, min_docs=5
    )


@query(
    "pii_scrub_contacts",
    """
    WITH raw AS (
        SELECT c_custkey AS doc_id,
               c_name
               || CASE WHEN c_custkey % 3 = 0
                       THEN ' contact user' || CAST(c_custkey AS VARCHAR)
                            || '@corp.example.com' ELSE '' END
               || CASE WHEN c_custkey % 4 = 0
                       THEN ' see https://docs.example.com/'
                            || lower(c_mktsegment) || '/'
                            || CAST(c_custkey AS VARCHAR) ELSE '' END
               || CASE WHEN c_custkey % 5 = 0
                       THEN ' host 10.' || CAST(c_nationkey AS VARCHAR)
                            || '.0.' || CAST(c_custkey % 200 AS VARCHAR)
                       ELSE '' END AS text
        FROM customer
    ),
    s1 AS (
        SELECT doc_id,
               len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_%-]+')) AS n_url,
               regexp_replace(text, 'https?://[A-Za-z0-9./_%-]+', '<URL>', 'g') AS t1
        FROM raw
    ),
    s2 AS (
        SELECT doc_id, n_url,
               len(regexp_extract_all(t1,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS n_email,
               regexp_replace(t1,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                   '<EMAIL>', 'g') AS t2
        FROM s1
    )
    SELECT doc_id, n_url, n_email,
           len(regexp_extract_all(t2,
               '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS n_ip,
           regexp_replace(t2,
               '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
               '<IP>', 'g') AS clean_text
    FROM s2
    """,
)
def pii_scrub_contacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators.text_analysis.pii_scrub) over a
    deterministic contact-card corpus derived from ``customer`` (the
    documents table contains no PII-shaped tokens, so the gate builds
    input with known URL/email/IPv4 density from the star schema).
    Sequential category redaction — each count evaluated after the
    previous category's replacement, so an email-like path inside a URL
    counts once as URL.  Zero shuffles: the scrub is one codegen span."""
    from ..operators.text_analysis import pii_scrub

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    raw = cust.select(
        k.alias("doc_id"),
        F.concat(
            F.col("c_name"),
            F.when(
                k % 3 == 0,
                F.concat(F.lit(" contact user"), k.cast("string"),
                         F.lit("@corp.example.com")),
            ).otherwise(F.lit("")),
            F.when(
                k % 4 == 0,
                F.concat(F.lit(" see https://docs.example.com/"),
                         F.lower("c_mktsegment"), F.lit("/"), k.cast("string")),
            ).otherwise(F.lit("")),
            F.when(
                k % 5 == 0,
                F.concat(F.lit(" host 10."),
                         F.col("c_nationkey").cast("string"),
                         F.lit(".0."), (k % 200).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(raw)


@query(
    "passage_dedup_stats",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    p AS (
        SELECT doc_id,
               unnest([array_to_string(tk[i:i + 19], ' ')
                       FOR i IN range(1, len(tk) + 1, 20)]) AS p
        FROM t WHERE len(tk) > 0
    ),
    byp AS (SELECT p, count(DISTINCT doc_id) AS docs FROM p GROUP BY p)
    SELECT doc_id,
           count(*) AS n_passages,
           CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_passages,
           CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS dup_passage_frac_e4
    FROM p JOIN byp USING (p)
    GROUP BY doc_id
    """,
)
def passage_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup profile
    (operators.text_analysis.passage_dedup_stats): non-overlapping
    20-word passages; a passage text in >= 2 distinct docs is a
    duplicate.  Passage-keyed frequency agg + same-key join back —
    the C4-style span-level dedup signal document hashing misses."""
    from ..operators.text_analysis import passage_dedup_stats

    return passage_dedup_stats(_t(spark, sf_dir, "documents"), width=20)


@query(
    "bpe_pair_top",
    """
    WITH w AS (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS w
        FROM documents
    ),
    p AS (
        SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair
        FROM w WHERE len(w) >= 2
    )
    SELECT pair, count(*) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def bpe_pair_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE vocabulary-induction step
    (operators.text_analysis.bpe_pair_counts): global adjacent
    character-pair frequencies inside words, top-20 by (count desc,
    pair asc).  The pair alphabet is bounded by |charset|^2, so the
    final aggregate is broadcast-sized at any corpus size; top-k is
    TakeOrderedAndProject, never a global sort."""
    from ..operators.text_analysis import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"), top_k=20)


@query(
    "deterministic_split_docs",
    """
    WITH h AS (
        SELECT doc_id, lang,
               md5('s0:' || CAST(doc_id AS VARCHAR)) AS hx
        FROM documents
    ),
    b AS (
        SELECT doc_id, lang,
               ((((((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1))
               % 1000 AS bucket
        FROM h
    )
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < 800 THEN 'train'
                WHEN bucket < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def deterministic_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment
    (operators.dedup.deterministic_split): engine-portable md5-derived
    bucket (reproducible from the spec on any stack), cumulative-weight
    thresholds, zero shuffles — assignment is a projection fused into
    the scan.  The oracle replays every hex digit of the hash, so the
    driver hash-match proves bit-identical split assignment."""
    from ..operators.dedup import deterministic_split

    docs = _t(spark, sf_dir, "documents")
    return deterministic_split(docs, "doc_id").select(
        "doc_id", "lang", "bucket", "split"
    )


@query(
    "hll_sketch_rollup",
    """
    SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
           count(*) AS n_events,
           true AS users_within_tol
    FROM events
    GROUP BY 1
    """,
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Apache DataSketches HLL, Spark 3.5+
    builtins): per-day user sketches are built ONCE, then weekly uniques
    come from ``hll_union_agg`` over the daily sketch column — no second
    scan of the raw events.  This is the 100 TB cardinality pattern:
    persist fixed-size sketches with each partition's aggregates and
    answer any coarser-grained distinct-count rollup (week, month,
    region, all-time) by unioning kilobytes instead of re-shuffling
    terabytes.  ``approx_distinct_users_daily`` shows the one-shot
    estimate; this query proves the re-aggregation property.

    Verdict oracle: the plan recomputes the exact weekly distinct count
    and pins |union-estimate − exact| ≤ max(5% · exact, 2); DuckDB pins
    the verdict plus exact weekly event counts."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("n_ev"),
    )
    weekly = daily.groupBy(
        F.date_trunc("week", "day").cast("date").alias("week")
    ).agg(
        F.sum("n_ev").cast("long").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    # Exact twin for the verdict only (partial-agg dedup shuffle, no
    # unbounded buffers); production keeps just the sketch path above.
    exact = ev.groupBy(
        F.date_trunc("week", F.to_date("ts")).cast("date").alias("week")
    ).agg(F.count_distinct("user_id").alias("_exact"))
    return weekly.join(exact, "week").select(
        "week",
        "n_events",
        (
            F.abs(F.col("_est") - F.col("_exact"))
            <= F.greatest((F.col("_exact") * 0.05).cast("long"), F.lit(2))
        ).alias("users_within_tol"),
    )


@query(
    "feature_hash_vectors",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS w
        FROM documents
    ),
    d AS (
        SELECT doc_id,
               ((((((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(md5(w), 5, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(md5(w), 6, 1)) - 1))
               % 64 AS dim
        FROM tok
    )
    SELECT doc_id, dim, count(*) AS n
    FROM d GROUP BY doc_id, dim
    """,
)
def feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization
    (operators.text_analysis.feature_hash_counts): 64-dim bag-of-words
    via the engine-portable md5 bucket; sparse (doc, dim, count) rows.
    The oracle replays the hash digit-for-digit, so the driver
    hash-match proves bit-identical feature vectors across engines."""
    from ..operators.text_analysis import feature_hash_counts

    return feature_hash_counts(_t(spark, sf_dir, "documents"), dims=64)


@query(
    "topk_sketch_rollup",
    """
    SELECT event_type AS item, count(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, item
    LIMIT 5
    """,
)
def topk_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items rollup (DataSketches via Spark 4's
    approx_top_k_accumulate/combine/estimate): per-day sketches of the
    event-type stream combine into the global top-k WITHOUT rescanning
    raw events — same persist-sketches-with-partitions pattern as
    ``hll_sketch_rollup``, for heavy hitters instead of cardinality.

    With distinct items ≤ maxItemsTracked the sketch is EXACT, so the
    oracle pins precise counts (the sketch's error bound only engages
    above capacity — capacity 20 ≫ 5 event types by construction)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("approx_top_k_accumulate(event_type, 20)").alias("sk")
    )
    merged = daily.agg(
        F.expr("approx_top_k_combine(sk, 20)").alias("m")
    ).select(F.explode(F.expr("approx_top_k_estimate(m, 5)")).alias("e"))
    return merged.select(
        F.col("e.item").alias("item"),
        F.col("e.count").cast("long").alias("n"),
    )


@query(
    "inverted_index_topk",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    posts AS (
        SELECT term, doc_id, count(*) AS tf
        FROM (SELECT doc_id, unnest(tk) AS term FROM t)
        GROUP BY term, doc_id
    ),
    dfreq AS (SELECT term, count(*) AS df FROM posts GROUP BY term),
    ranked AS (
        SELECT term, doc_id, tf,
               row_number() OVER (
                   PARTITION BY term ORDER BY tf DESC, doc_id) AS rank
        FROM posts
    )
    SELECT r.term, dfreq.df, r.rank, r.doc_id, r.tf
    FROM ranked r JOIN dfreq USING (term)
    WHERE r.rank <= 5
    """,
)
def inverted_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated inverted index (operators.retrieval.inverted_index_topk):
    top-5 posting rows per term by (tf desc, doc_id asc) plus document
    frequency.  Term-keyed shuffle, local per-term sort, rank cutoff
    bounds output; the deterministic tie rule makes the oracle exact."""
    from ..operators.retrieval import inverted_index_topk

    return inverted_index_topk(_t(spark, sf_dir, "documents"), k=5)


@query(
    "bm25_retrieval",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    posts AS (
        SELECT term, doc_id, count(*) AS tf, min(dl) AS dl
        FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM t)
        WHERE term IN ('spark', 'join', 'table')
        GROUP BY term, doc_id
    ),
    dfreq AS (SELECT term, count(*) * 1.0 AS df FROM posts GROUP BY term),
    stats AS (
        SELECT count(*) * 1.0 AS n_docs, avg(len(tk)) AS avgdl FROM t
    )
    SELECT doc_id,
           CAST(floor(sum(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2)
               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           ) * 1000.0) AS BIGINT) AS bm25_e3
    FROM posts JOIN dfreq USING (term) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25_e3 DESC, doc_id
    LIMIT 50
    """,
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (operators.retrieval.bm25_scores) of the corpus
    against the query bag {spark, join, table} — the lexical-retrieval
    primitive for seed-query curation and hard-negative mining.  Term
    filter prunes before any shuffle; corpus constants broadcast; the
    Lucene idf and (k1=1.2, b=0.75) weighting are replayed exactly by
    the oracle.  Gate compares the floor-scaled integer score (float
    sums are accumulation-order-sensitive; the driver hash is
    float-exact) and the top-50 cutoff orders by that integer, so the
    selected row set is cross-engine deterministic."""
    from ..operators.retrieval import bm25_scores

    return bm25_scores(
        _t(spark, sf_dir, "documents"), ["spark", "join", "table"]
    ).select("doc_id", "bm25_e3")


@query(
    "training_split_summary",
    """
    WITH gated AS (
        SELECT doc_id, lang, text,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_words
        FROM documents
        WHERE n_chars >= 100
    ),
    h AS (
        SELECT doc_id, lang, n_words,
               md5('s0:' || CAST(doc_id AS VARCHAR)) AS hx
        FROM gated
    ),
    b AS (
        SELECT doc_id, lang, n_words,
               ((((((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1))
               % 1000 AS bucket
        FROM h
    )
    SELECT CASE WHEN bucket < 800 THEN 'train'
                WHEN bucket < 900 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(floor(avg(n_words) * 100.0) AS BIGINT) AS avg_words_e2
    FROM b
    GROUP BY 1, 2
    """,
)
def training_split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-export accounting: quality gate (length
    floor) → deterministic md5-bucket split → per-(split, lang) doc and
    token totals — the report a data-engineering run emits before
    handing shards to training.  One plan: the gate filter prunes at
    the scan, split assignment is a fused projection
    (operators.dedup.deterministic_split), and the rollup is a single
    hash aggregate; the oracle replays every stage exactly."""
    from ..operators.dedup import deterministic_split

    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
    split = deterministic_split(docs, "doc_id")
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    return (
        split.select(
            "split", "lang", F.size(toks).cast("long").alias("_nw")
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_nw").cast("long").alias("total_words"),
            F.floor(F.avg("_nw") * 100.0).cast("long").alias("avg_words_e2"),
        )
    )


@query(
    "semantic_dedup_embeddings",
    """
    SELECT count(*) AS n_vecs, 0 AS n_unsound_drops
    FROM embeddings
    """,
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (operators.similarity.semantic_dedup): cluster the
    embedding space, drop vectors with a close smaller-id neighbor in
    their cluster.  Cluster assignments depend on the k-means codebook
    (not SQL-replayable), so the verdict oracle pins the operator's
    soundness contract instead: every dropped vector must have an EXACT
    cosine-≥-θ smaller-id neighbor somewhere in the corpus, verified
    in-plan against cosine_pairs_blocked (the zero-driver-state exact
    pair scan) — plus row conservation.  Cluster-boundary recall loss is
    the documented SemDeDup approximation and is exercised separately in
    tests/test_similarity.py with planted duplicates."""
    from ..operators.similarity import cosine_pairs_blocked, semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, threshold=0.9, n_lists=8)
    truth = cosine_pairs_blocked(emb, threshold=0.9, n_blocks=8).select(
        F.least("id_a", "id_b").alias("_sm"),
        F.greatest("id_a", "id_b").alias("vec_id"),
    ).groupBy("vec_id").agg(F.count("*").alias("_w"))
    checked = out.join(truth, "vec_id", "left")
    return checked.agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum(
            ((~F.col("keep")) & F.col("_w").isNull()).cast("long")
        ).cast("long").alias("n_unsound_drops"),
    )


@query(
    "lm_perplexity_scores",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest([{'w1': tk[i], 'w2': tk[i + 1]}
                       FOR i IN range(1, len(tk))]) AS bg
        FROM t WHERE len(tk) >= 2
    ),
    grams AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM g),
    cxy AS (SELECT w1, w2, count(*) AS cxy FROM grams GROUP BY w1, w2),
    cx AS (SELECT w1, count(*) AS cx FROM grams GROUP BY w1),
    v AS (
        SELECT count(DISTINCT w) * 1.0 AS v
        FROM (SELECT unnest(tk) AS w FROM t)
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           CAST(floor(avg(-ln((cxy + 1) / (cx + v))) * 1000.0) AS BIGINT)
               AS avg_nll_e3
    FROM grams JOIN cxy USING (w1, w2) JOIN cx USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
)
def lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality scoring
    (operators.text_analysis.bigram_lm_scores): add-one-smoothed
    corpus-trained bigram model, per-doc mean negative log-probability —
    the statistical fluency filter of CCNet-style pipelines.  The oracle
    replays training and scoring exactly; the gate compares the
    floor-scaled integer score because the double average accumulates in
    engine-specific order (driver hash is float-exact)."""
    from ..operators.text_analysis import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_bigrams", "avg_nll_e3"
    )


@query(
    "mixture_resample_docs",
    """
    WITH h AS (
        SELECT doc_id, source,
               CASE WHEN length(source) = 4 THEN 0.5 ELSE 2.25 END AS rate,
               md5('s1:' || CAST(doc_id AS VARCHAR)) AS hx
        FROM documents
    ),
    b AS (
        SELECT doc_id, source, rate,
               ((((((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1)) * 16
                  + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1))
               % 1000 AS bucket
        FROM h
    )
    SELECT doc_id, source,
           CAST(floor(rate) AS BIGINT)
           + CASE WHEN bucket < CAST(round((rate - floor(rate)) * 1000)
                                    AS BIGINT)
                  THEN 1 ELSE 0 END AS n_copies
    FROM b
    """,
)
def mixture_resample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling (operators.dedup.mixture_resample):
    single-digit sources (src0-src9) downsample at rate 0.5, the rest
    upsample at 2.25 — per-row deterministic copy counts realizing
    fractional repeat factors via the engine-portable md5 bucket.  The
    oracle replays the hash digit-for-digit, so the driver hash-match
    proves bit-identical mixing decisions across engines."""
    from ..operators.dedup import mixture_resample

    docs = _t(spark, sf_dir, "documents")
    rate = F.when(F.length("source") == 4, F.lit(0.5)).otherwise(F.lit(2.25))
    return mixture_resample(docs, rate, "doc_id").select(
        "doc_id", "source", "n_copies"
    )


@query(
    "sequence_packing",
    """
    WITH t AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS pack_tokens
    FROM c
    GROUP BY 1
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: documents (in stable doc_id
    order) are packed into fixed 2048-token training sequences;
    pack_id = floor(exclusive-prefix-tokens / budget), so a document
    starts in the pack its predecessor's budget left open (the simple
    contiguous packing public pipelines use before shuffling packs).

    The prefix sum uses operators.agg.global_cumsum — range-partitioned
    parallel local sums + a P-row broadcast offset frame — NOT a
    single-partition window; the oracle is the naive global window, the
    operator is the one that survives 10^11 rows."""
    from ..operators.agg import global_cumsum

    docs = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    ).cast("long")
    t = docs.select("doc_id", toks.alias("n_tok"))
    c = global_cumsum(t, [F.col("doc_id")], "n_tok", "cum")
    return (
        c.groupBy(
            F.floor((F.col("cum") - F.col("n_tok")) / 2048)
            .cast("long")
            .alias("pack_id")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
        )
    )


@query(
    "quality_percentile_filter",
    """
    WITH t AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tok
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, n_tok,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n_tok DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS n_lang
        FROM t
    )
    SELECT lang,
           count(*) AS n_kept,
           min(n_tok) AS min_tokens,
           max(n_tok) AS max_tokens,
           CAST(sum(n_tok) AS BIGINT) AS kept_tokens
    FROM ranked
    WHERE rn * 4 <= n_lang
    GROUP BY lang
    """,
)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-gated quality filtering: keep each language's top
    quarter of documents by token count (rank*4 <= group size — the
    integer-exact way to say 'top 25%' with no percent_rank float
    boundary), the select-by-score-quantile stage between heuristic
    filters and training.  Ranks are per-lang windows (bounded
    partitions); ties break by doc_id so the kept set is deterministic
    on both engines."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    ).cast("long")
    t = docs.select("doc_id", "lang", toks.alias("n_tok"))
    w = Window.partitionBy("lang").orderBy(F.desc("n_tok"), F.asc("doc_id"))
    ranked = t.select(
        "lang",
        "n_tok",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n_lang"),
    )
    return (
        ranked.filter(F.col("rn") * 4 <= F.col("n_lang"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.min("n_tok").alias("min_tokens"),
            F.max("n_tok").alias("max_tokens"),
            F.sum("n_tok").alias("kept_tokens"),
        )
    )


@query(
    "oov_rate_by_source",
    """
    WITH toks AS (
        SELECT source, unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS term
        FROM documents
    ),
    vocab AS (
        SELECT term FROM (
            SELECT term, count(*) AS c FROM toks GROUP BY term
        ) ORDER BY c DESC, term LIMIT 500
    )
    SELECT t.source,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           CAST(floor(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                      * 10000.0 / count(*)) AS BIGINT) AS oov_rate_e4
    FROM toks t LEFT JOIN vocab v ON t.term = v.term
    GROUP BY t.source
    """,
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary profiling under a truncated vocabulary: build
    the corpus top-500 vocabulary (frequency, ties lexicographic — the
    deterministic truncation a tokenizer build uses), then measure each
    source's OOV token share.  The vocabulary is LIMIT-bounded, so its
    join side is a 500-row broadcast by construction (a legitimate
    forced broadcast — contrast the unbounded dfreq in tfidf);
    top-500 itself is TakeOrdered, never a global sort.  The rate is
    floor-scaled exact-integer arithmetic (identical IEEE op order both
    engines)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("term"),
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(500)
        .select("term", F.lit(True).alias("_in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "term", "left")
    oov = F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
    return joined.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.sum(oov).alias("n_oov"),
        F.floor(F.sum(oov) * 10000.0 / F.count("*"))
        .cast("long")
        .alias("oov_rate_e4"),
    )


@query(
    "stratified_split_quotas",
    """
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n_src
        FROM documents
    ),
    s AS (
        SELECT source,
               CASE WHEN rn * 10 <= n_src * 8 THEN 'train'
                    WHEN rn * 10 <= n_src * 9 THEN 'val'
                    ELSE 'test' END AS split
        FROM r
    )
    SELECT source, split, count(*) AS n_docs
    FROM s
    GROUP BY source, split
    """,
)
def stratified_split_quotas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota-exact stratified splitting: each source contributes exactly
    its 80/10/10 share (integer-exact rank*10 <= n*8 rule) — unlike
    hash-rate splits (deterministic_split_docs) whose per-stratum counts
    are only binomially close to the rates.  Order within a stratum is
    the md5 of the id (stable, content-independent shuffling), ties by
    id; the window partitions by source, so parallelism is |sources| and
    no stratum leaves one task.  This is the split to use when an eval
    set must have an exact size."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = docs.select(
        "source",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n_src"),
    )
    split = (
        F.when(F.col("rn") * 10 <= F.col("n_src") * 8, "train")
        .when(F.col("rn") * 10 <= F.col("n_src") * 9, "val")
        .otherwise("test")
    )
    return (
        r.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "dup_cluster_size_profile",
    """
    WITH g AS (
        SELECT md5(text) AS h, count(*) AS group_size
        FROM documents GROUP BY md5(text)
    )
    SELECT group_size,
           count(*) AS n_groups,
           CAST(group_size * count(*) AS BIGINT) AS n_docs,
           CAST((group_size - 1) * count(*) AS BIGINT) AS n_removable
    FROM g
    GROUP BY group_size
    """,
)
def dup_cluster_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size distribution: how much of the corpus
    is singletons vs 2-dup vs k-dup clusters, and how many rows exact
    dedup would remove — the before/after accounting every dedup run
    reports.  Two hash aggregations (content hash, then size), both
    map-side combined; the content hash is md5 so the oracle replays it
    bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count("*").alias("group_size")
    )
    return g.groupBy("group_size").agg(
        F.count("*").alias("n_groups"),
        (F.col("group_size") * F.count("*")).cast("long").alias("n_docs"),
        ((F.col("group_size") - 1) * F.count("*"))
        .cast("long")
        .alias("n_removable"),
    )


@query(
    "debounce_events",
    """
    WITH o AS (
        SELECT event_type, ts,
               lag(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN prev_ts IS NULL
                           OR ts > prev_ts + INTERVAL 5 SECOND
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM o
    GROUP BY event_type
    """,
)
def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce dedup: an event survives only if the SAME (user, type)
    stream was quiet for >5 s before it — the batch face of retry/
    double-click suppression (the streaming face is
    dropDuplicatesWithinWatermark).  One lag window per (user, type)
    partition — bounded, parallel — and the 5 s guard is INTERVAL
    arithmetic on full timestamps, exact at microsecond precision on
    both engines (no epoch-float rounding)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    o = ev.select(
        "event_type",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    keep = F.col("prev_ts").isNull() | (
        F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 5 SECONDS")
    )
    return o.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
    )


@query(
    "bloom_incremental_dedup",
    """
    WITH seen AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
         batch AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0)
    SELECT (SELECT count(*) FROM batch) AS n_batch,
           (SELECT count(*) FROM batch b
            WHERE EXISTS (SELECT 1 FROM seen s WHERE s.doc_id = b.doc_id))
               AS n_truly_seen,
           0 AS n_false_negatives,
           CAST(TRUE AS BOOLEAN) AS fp_rate_ok
    """,
)
def bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch Bloom dedup (operators.bloom): build the sparse
    (word_idx, word_bits) relation over the 'seen' history, probe a new
    batch, keep only definitely-new keys.  xxhash64 positions are not
    SQL-replayable, so the verdict oracle pins the operator's
    CONTRACT, computed exactly in-plan against a real anti-join:
    n_false_negatives — truly-seen keys the filter called new — must be
    ZERO (the Bloom guarantee), and the false-positive count must stay
    under 3× the (1-e^(-kn/m))^k analytic bound (m = 16n, k = 7 ⇒
    ~0.2%; 3× absorbs small-n variance).  n_batch / n_truly_seen are
    exact cross-engine counts."""
    import math

    from ..operators.bloom import build_bloom, probe_bloom

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    seen = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 0)
    n_seen = seen.count()  # sizing aggregate (documented driver scalar)
    m_bits = max(64, 16 * n_seen)
    k = 7
    words = build_bloom(seen, "doc_id", m_bits, k)
    probed = probe_bloom(batch, words, "doc_id", m_bits, k)
    truth = probed.join(
        seen.withColumn("_truly", F.lit(True)), "doc_id", "left"
    )
    fp_bound = (1.0 - math.exp(-k * n_seen / m_bits)) ** k
    return truth.agg(
        F.count("*").alias("n_batch"),
        F.sum(F.col("_truly").isNotNull().cast("long")).alias("n_truly_seen"),
        F.sum(
            (F.col("_truly").isNotNull() & ~F.col("possibly_seen"))
            .cast("long")
        ).alias("n_false_negatives"),
        (
            F.sum(
                (F.col("_truly").isNull() & F.col("possibly_seen"))
                .cast("long")
            )
            <= F.lit(max(10.0, 3.0 * fp_bound * n_seen))
        ).alias("fp_rate_ok"),
    )


# ---------------------------------------------------------------------------
# Round 3 additions: Markov transition profile, entropy quality signal,
# co-occurrence lift, blocked edit-distance dedup, EWMA smoothing, exact
# weighted median, Pareto skyline, token-sort fingerprint dedup.
# ---------------------------------------------------------------------------

@query(
    "event_transition_matrix",
    """
    WITH o AS (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    c AS (
        SELECT prev_type, event_type, count(*) AS n_transitions
        FROM o WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type
    ),
    t AS (SELECT prev_type, sum(n_transitions) AS tot FROM c
          GROUP BY prev_type)
    SELECT c.prev_type, c.event_type, c.n_transitions,
           CAST((c.n_transitions * 1000000) // t.tot AS BIGINT) AS rate_e6
    FROM c JOIN t USING (prev_type)
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    every (prev_type -> type) pair, the transition count and the
    empirical P(type | prev_type), floor-scaled to an exact integer
    rate (counts*10^6 div total — no float division crosses the gate).
    The lag window partitions by user (bounded, |users|-way parallel);
    the transition aggregate is map-side combined and
    |types|²-bounded.  This is the session-model profile behind
    next-event prediction features and anomaly scores."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = o.groupBy("prev_type", "event_type").agg(
        F.count("*").alias("n_transitions")
    )
    t = c.groupBy("prev_type").agg(F.sum("n_transitions").alias("tot"))
    return (
        c.join(t, "prev_type")
        .select(
            "prev_type",
            "event_type",
            "n_transitions",
            F.expr("(n_transitions * CAST(1000000 AS BIGINT)) div tot")
            .alias("rate_e6"),
        )
    )


@query(
    "token_entropy_quality",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    c AS (
        SELECT doc_id, term, count(*) AS c FROM toks
        WHERE term <> '' GROUP BY doc_id, term
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_distinct,
           CAST(floor(1000.0 * (ln(sum(c)) - sum(c * ln(c)) / sum(c)))
                AS BIGINT) AS entropy_e3
    FROM c GROUP BY doc_id
    """,
)
def token_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution,
    H = ln(n) − Σ c·ln(c)/n — a quality/degeneracy signal: low entropy
    flags repeated-token spam that length or stopword ratios miss
    (complements repetition_stats' bigram view).  One explode → one
    (doc, term) hash aggregate → one per-doc aggregate, all map-side
    combined; entropy crosses the gate floor-scaled at 10⁻³ (the two
    engines' ln agree to ulps; the margin to a grid boundary is ~10
    orders wider)."""
    docs = _t(spark, sf_dir, "documents")
    c = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.col("text"), " "),
                    lambda x: x != F.lit(""),
                )
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c")
    return c.groupBy("doc_id").agg(
        n.cast("long").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.floor(
            1000.0 * (F.log(n) - F.sum(F.col("c") * F.log("c")) / n)
        )
        .cast("long")
        .alias("entropy_e3"),
    )


@query(
    "basket_part_pairs_lift",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pc AS (SELECT l_partkey, count(*) AS c FROM li GROUP BY l_partkey),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
    pr AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_both
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT part_a, part_b, n_both, ca.c AS n_a, cb.c AS n_b,
           CAST((n_both * n.n_orders * 1000000) // (ca.c * cb.c)
                AS BIGINT) AS lift_e6
    FROM pr
    JOIN pc ca ON pr.part_a = ca.l_partkey
    JOIN pc cb ON pr.part_b = cb.l_partkey
    CROSS JOIN n
    ORDER BY n_both DESC, part_a, part_b
    LIMIT 50
    """,
)
def basket_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-50 part pairs by support
    with their lift = N·c(a,b) / (c(a)·c(b)), exact-integer-scaled.
    The pair space is generated by an orderkey-keyed self-join — the
    shuffle is the basket key, fanout is bounded by (basket size)² per
    order (TPC-H: ≤7² rows), never all-pairs over parts.  Lift crosses
    the gate as (N·c_ab·10⁶) div (c_a·c_b) — pure bigint math, no
    float ratio.  TakeOrdered bounds the output at 50 rows."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pc = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    n = li.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    a = li.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_a")
    )
    b = li.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_b")
    )
    pr = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_both"))
    )
    return (
        pr.join(
            pc.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("n_a")),
            "part_a",
        )
        .join(
            pc.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("n_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr(
                "(n_both * n_orders * CAST(1000000 AS BIGINT))"
                " div (n_a * n_b)"
            ).alias("lift_e6"),
        )
        .orderBy(F.desc("n_both"), "part_a", "part_b")
        .limit(50)
    )


@query(
    "dedup_edit_distance_blocked",
    """
    WITH b AS (
        SELECT lang, CAST(floor(n_chars / 20) AS BIGINT) AS len_bucket,
               doc_id, substring(text, 1, 48) AS pfx
        FROM documents
    ),
    p AS (
        SELECT a.lang, b2.doc_id AS id_b,
               levenshtein(a.pfx, b2.pfx) AS dist
        FROM b a JOIN b b2
          ON a.lang = b2.lang AND a.len_bucket = b2.len_bucket
         AND a.doc_id < b2.doc_id
    )
    SELECT lang, count(*) AS n_dup_pairs, min(dist) AS min_dist,
           count(DISTINCT id_b) AS n_docs_removable
    FROM p WHERE dist <= 12 GROUP BY lang
    """,
)
def dedup_edit_distance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein near-dup detection
    (operators.text_dedup.edit_distance_candidates): candidate pairs
    come only from (lang, length-bucket) blocks, scored with the JVM
    built-in edit distance on a 48-char prefix, thresholded at 12
    (this gate's settings; edit_distance_candidates defaults to
    120/25).
    Per language: surviving pair count, closest distance, and documents
    removable (distinct higher ids).  This is the high-precision scorer
    of the fuzzy-dedup family — MinHash/SimHash are the recall path at
    scale; both share the candidates-before-compare contract."""
    from ..operators.text_dedup import edit_distance_candidates

    docs = _t(spark, sf_dir, "documents")
    pairs = edit_distance_candidates(
        docs,
        block_cols=[
            F.col("lang"),
            F.floor(F.col("n_chars") / 20).alias("len_bucket"),
        ],
        prefix_len=48,
        max_dist=12,
    )
    return pairs.groupBy("lang").agg(
        F.count("*").alias("n_dup_pairs"),
        F.min("dist").alias("min_dist"),
        F.countDistinct("id_b").alias("n_docs_removable"),
    )


@query(
    "ewma_monthly_revenue",
    """
    WITH d AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(o_orderdate AS DATE) AS day,
               sum(o_totalprice) AS rev
        FROM orders GROUP BY month, day
    ),
    r AS (
        SELECT month, rev,
               row_number() OVER (PARTITION BY month ORDER BY day) AS rn,
               count(*) OVER (PARTITION BY month) AS n_days
        FROM d
    )
    SELECT month, CAST(max(n_days) AS BIGINT) AS n_days,
           CAST(floor(0.2 * sum(power(0.8, n_days - rn) * rev))
                AS BIGINT) AS ewma_floor
    FROM r GROUP BY month
    """,
)
def ewma_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end exponentially-weighted moving average of daily
    revenue (α = 0.2): y = α·Σ (1−α)^(n−i)·x_i over the month's days.
    The recursive EWMA definition is inherently sequential; the closed
    form turns it into ONE weighted group-by — weights come from the
    day's rank within its month (a window over the per-day aggregate,
    |days|-sized, partitioned by month), so the fact table is touched
    once and nothing sequential survives in the plan.  Gate output is
    floor(dollars): the pow/sum float error is ~10⁻⁷ of a grid step."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.sum("o_totalprice").alias("rev"))
    w = Window.partitionBy("month").orderBy("day")
    r = d.select(
        "month",
        "rev",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("month")).alias("n_days"),
    )
    return r.groupBy("month").agg(
        F.max("n_days").cast("long").alias("n_days"),
        F.floor(
            0.2
            * F.sum(
                F.pow(F.lit(0.8), F.col("n_days") - F.col("rn"))
                * F.col("rev")
            )
        )
        .cast("long")
        .alias("ewma_floor"),
    )


@query(
    "weighted_median_price",
    """
    WITH w AS (
        SELECT l_returnflag AS flag, l_extendedprice AS v,
               CAST(l_quantity AS BIGINT) AS wt
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
    ),
    c AS (
        SELECT flag, v,
               sum(wt) OVER (PARTITION BY flag ORDER BY v) AS cum,
               sum(wt) OVER (PARTITION BY flag) AS tot
        FROM w
    )
    SELECT flag, min(v) AS wmedian FROM c
    WHERE 2 * cum >= tot GROUP BY flag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag
    (operators.agg.weighted_median): the smallest price whose
    cumulative quantity reaches half the flag's total.  The oracle is
    the textbook one-window formulation (each flag on one task — fine
    for DuckDB at sf0.01); the Spark side is the scale-safe two-phase
    histogram prune: a (flag, price-bucket) weight histogram finds the
    crossing bucket, and only that bucket's rows are re-scanned.
    Integer weights make the crossing rule exact on both engines."""
    from ..operators.agg import weighted_median

    li = _t(spark, sf_dir, "lineitem")
    return weighted_median(
        li.select(
            F.col("l_returnflag").alias("flag"),
            "l_extendedprice",
            # TPC-H quantities are integral but stored double; the
            # operator enforces integer weights (a fractional weight
            # would silently zero out under its exact long arithmetic),
            # so the caller asserts integrality with an explicit cast
            F.col("l_quantity").cast("long").alias("l_quantity"),
        ),
        ["flag"],
        "l_extendedprice",
        "l_quantity",
        bucket_width=100.0,
        med_alias="wmedian",
    )


@query(
    "skyline_price_quantity",
    """
    WITH d AS (
        SELECT DISTINCT l_extendedprice, l_quantity FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    r AS (
        SELECT l_extendedprice, l_quantity,
               max(l_quantity) OVER (
                   ORDER BY l_extendedprice DESC, l_quantity DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS mx
        FROM d
    )
    SELECT l_extendedprice, l_quantity FROM r
    WHERE mx IS NULL OR mx < l_quantity
    """,
)
def skyline_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of (price, quantity), both maximized
    (operators.frontier.skyline_2d): line items no other item beats on
    both dimensions.  Spark runs the two-phase distributed scheme —
    parallel per-range local skylines, then one pass over the (tiny)
    survivor union; the oracle runs the same running-max scan as one
    window.  Only comparisons cross the gate — no float arithmetic, so
    doubles compare bit-exactly."""
    from ..operators.frontier import skyline_2d

    li = _t(spark, sf_dir, "lineitem")
    return skyline_2d(li, "l_extendedprice", "l_quantity")


@query(
    "dedup_token_sort_fingerprint",
    """
    WITH f AS (
        SELECT md5(text) AS exact_fp,
               md5(array_to_string(
                   list_sort(list_filter(string_split(text, ' '),
                                         x -> x <> '')),
                   ' ')) AS ts_fp
        FROM documents
    )
    SELECT count(*) AS n_docs,
           count(DISTINCT exact_fp) AS n_exact_clusters,
           count(DISTINCT ts_fp) AS n_tokensort_clusters,
           count(*) - count(DISTINCT exact_fp) AS n_exact_removable,
           count(*) - count(DISTINCT ts_fp) AS n_tokensort_removable
    FROM f
    """,
)
def dedup_token_sort_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sort fingerprint dedup: md5 over the document's SORTED
    token multiset catches reordered-word duplicates (shuffled
    boilerplate, template permutations) that exact hashing misses,
    at exact-dedup cost — one projection + one aggregate, no pairs.
    Output compares cluster counts under both fingerprints; the
    tokenizer and byte-order sort are replayed identically by the
    oracle (array_sort and list_sort both compare UTF-8 bytes)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.col("text"), " "), lambda x: x != F.lit("")
    )
    f = docs.select(
        F.md5("text").alias("exact_fp"),
        F.md5(F.concat_ws(" ", F.array_sort(toks))).alias("ts_fp"),
    )
    return f.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("exact_fp").alias("n_exact_clusters"),
        F.countDistinct("ts_fp").alias("n_tokensort_clusters"),
        (F.count("*") - F.countDistinct("exact_fp")).alias(
            "n_exact_removable"
        ),
        (F.count("*") - F.countDistinct("ts_fp")).alias(
            "n_tokensort_removable"
        ),
    )


# ---------------------------------------------------------------------------
# Round-4 queue (registered and locally verified now; the round-3 driver
# budget is exactly consumed by the 50-entry priority block, so these
# take their driver rows next round): iterative PageRank, record-linkage
# scoring, quantile normalization, incremental aggregate maintenance.
# ---------------------------------------------------------------------------

def _pagerank_oracle(n_iter: int = 10, damping: float = 0.85) -> str:
    """Chained-CTE replay of the fixed-iteration PageRank: DuckDB's
    recursive CTEs disallow aggregates in the recursive term, so the
    (fixed) iteration count unrolls into n_iter identical CTE stages —
    the exact computation, not an approximation.  Damping constants are
    CAST to DOUBLE so both engines evaluate the same IEEE expression
    (DuckDB would otherwise fold 1 - 0.85 in decimal)."""
    head = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    nbrs AS (SELECT u AS a, v AS b FROM e
             UNION ALL SELECT v AS a, u AS b FROM e),
    deg AS (SELECT a, count(*) AS deg FROM nbrs GROUP BY a),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
    r0 AS (SELECT a, deg, 1.0 / nn.n AS rank FROM deg CROSS JOIN nn)"""
    body = ""
    prev = "r0"
    for i in range(1, n_iter + 1):
        body += f""",
    r{i} AS (
        SELECT d.a, d.deg,
               (1 - CAST({damping} AS DOUBLE)) / nn.n
               + CAST({damping} AS DOUBLE) * coalesce(s.m, 0) AS rank
        FROM deg d
        LEFT JOIN (SELECT nbrs.b AS b, sum(r.rank / r.deg) AS m
                   FROM nbrs JOIN {prev} r ON nbrs.a = r.a
                   GROUP BY nbrs.b) s ON d.a = s.b
        CROSS JOIN nn
    )"""
        prev = f"r{i}"
    return head + body + f"""
    SELECT a AS node, deg,
           CAST(floor(rank * 1000000000) AS BIGINT) AS rank_e9
    FROM {prev}
    ORDER BY rank_e9 DESC, node
    LIMIT 100
    """


@query("pagerank_part_graph", _pagerank_oracle())
def pagerank_part_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-occurrence graph (edges = parts
    appearing in the same order), 10 fixed iterations, top-100 by rank
    (operators.graph.pagerank) — the iterative-dataflow capability:
    each round is one edge-keyed shuffle join + hash aggregate, lineage
    cut every 4 rounds.  Gate output floor-scales rank at 10⁻⁹ (error
    budget after 10 rounds of engine-order float sums: ~10⁻⁹ of a grid
    step); the oracle unrolls the same recurrence into chained SQL
    CTEs, so every iteration's join/aggregate algebra is replayed."""
    from ..operators.graph import pagerank

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
    )
    pr = pagerank(edges, n_iter=10, damping=0.85)
    return (
        pr.select(
            "node",
            "deg",
            F.floor(F.col("rank") * 1e9).cast("long").alias("rank_e9"),
        )
        .orderBy(F.desc("rank_e9"), "node")
        .limit(100)
    )


@query(
    "record_linkage_scores",
    """
    WITH b AS (
        SELECT lang, CAST(floor(n_chars / 100) AS BIGINT) AS bkt, doc_id,
               substring(text, 1, 80) AS pfx,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    p AS (
        SELECT a.lang,
               len(list_intersect(a.tk, b2.tk)) AS ovl,
               CASE WHEN len(list_intersect(a.tk, b2.tk)) >= 30
                    THEN 3 * len(list_intersect(a.tk, b2.tk))
                         + (80 - levenshtein(a.pfx, b2.pfx))
               END AS score
        FROM b a JOIN b b2
          ON a.lang = b2.lang AND a.bkt = b2.bkt
         AND a.doc_id < b2.doc_id
    )
    SELECT lang, count(*) AS n_cand_pairs,
           CAST(sum(CASE WHEN score >= 170 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matches,
           max(score) AS max_score
    FROM p GROUP BY lang
    """,
)
def record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter-style record linkage: blocked candidate pairs
    scored on TWO independent similarity signals — prefix edit distance
    (character-level) and distinct-token overlap (bag-level) — combined
    into one integer score, thresholded into match decisions.  Blocks
    are (lang, length bucket): Σ|block|² candidate work, the same
    contract as the dedup family; both signals are JVM built-ins
    (levenshtein, array_intersect), and the score is pure integer math
    so the match cutoff is exact cross-engine.

    Staged comparison (the Fellegi-Sunter production pattern): the
    cheap bag-overlap signal screens every candidate, and the O(L²)
    edit distance runs ONLY where the overlap could still reach the
    match threshold (3·ovl + 80 ≥ 170 ⇒ ovl ≥ 30, past the p99 of
    the overlap distribution) — CASE short-circuits in both engines,
    so the O(L²) scorer runs on <1% of pairs (~40× cheaper than
    scoring every candidate at sf0.1); the score is therefore DEFINED
    on screened pairs (null elsewhere), identically in the oracle."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.col("text"), " "), lambda x: x != F.lit("")
    )
    # tokens ride as xxhash64 bigints: the per-pair intersect hashes
    # 8-byte longs instead of strings and the join payload shrinks ~4x
    # (collision odds ~1e-12 at 100-token docs — see benchmark_overlap)
    base = docs.select(
        "lang",
        F.floor(F.col("n_chars") / 100).alias("bkt"),
        "doc_id",
        F.substring("text", 1, 80).alias("pfx"),
        F.array_distinct(
            F.transform(toks, lambda x: F.xxhash64(x))
        ).alias("tk"),
    )
    a = base.select(
        "lang", "bkt", F.col("doc_id").alias("id_a"),
        F.col("pfx").alias("pa"), F.col("tk").alias("ta"),
    )
    b = base.select(
        "lang", "bkt", F.col("doc_id").alias("id_b"),
        F.col("pfx").alias("pb"), F.col("tk").alias("tb"),
    )
    ovl = F.size(F.array_intersect("ta", "tb"))
    score = F.when(
        ovl >= 30,
        3 * ovl + (F.lit(80) - F.levenshtein("pa", "pb")),
    )
    p = (
        a.join(b, ["lang", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("lang", score.alias("score"))
    )
    return p.groupBy("lang").agg(
        F.count("*").alias("n_cand_pairs"),
        F.sum(
            F.when(F.col("score") >= 170, 1).otherwise(0)
        ).alias("n_matches"),
        F.max("score").alias("max_score"),
    )


@query(
    "score_quantile_normalize",
    """
    WITH r AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n_src
        FROM documents
    )
    SELECT doc_id, source,
           CAST(((rn - 1) * 1000000) // greatest(n_src - 1, 1) AS BIGINT)
               AS pct_e6
    FROM r
    """,
)
def score_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of a quality signal: each
    document's score (length, here) becomes its within-source rank
    percentile — the calibration step that makes thresholds comparable
    across heterogeneous sources (a web crawl's '90th percentile' and a
    book corpus's mean nothing alike in raw units).  Integer-exact:
    pct = (rank-1)·10⁶ div (n-1), no float percentile; windows
    partition by source so parallelism is |sources|-way and no stratum
    serializes the corpus."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = docs.select(
        "doc_id",
        "source",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n_src"),
    )
    return r.select(
        "doc_id",
        "source",
        F.expr(
            "((rn - 1) * CAST(1000000 AS BIGINT))"
            " div greatest(n_src - 1, 1)"
        ).alias("pct_e6"),
    )


@query(
    "incremental_agg_maintenance",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the serving
    aggregate over the base partition merges with the DELTA's partial
    aggregate — never rescanning the base — and the result must equal
    the direct aggregate over everything (the oracle computes exactly
    that, so the gate proves the merge algebra).  Money rides as
    integer cents (round(x·100) on values already 2-decimal), making
    the merge exactly associative — the property that lets count/sum
    partials maintain a 100 TB rollup from each micro-batch at
    delta-sized cost (batch face of streaming/rollup.py)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("_cents"),
    )
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    delta = o.filter(F.col("o_orderkey") % 10 == 0)

    def partial(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.sum("_cents").alias("total_cents"),
        )

    return (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
        )
    )


@query(
    "triangle_count_parts",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 2
    ),
    deg AS (
        SELECT n, count(*) AS d FROM (
            SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e
        ) GROUP BY n
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.v = e2.u
                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    w AS (SELECT sum(d * (d - 1) // 2) AS n_wedges FROM deg)
    SELECT (SELECT count(*) FROM e) AS n_edges,
           (SELECT count(*) FROM deg) AS n_nodes,
           tri.n_triangles,
           CAST(w.n_wedges AS BIGINT) AS n_wedges,
           CAST((tri.n_triangles * 3 * 1000000) // nullif(w.n_wedges, 0)
                AS BIGINT) AS clustering_e6
    FROM tri CROSS JOIN w
    """,
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient on the
    support-≥2 part co-occurrence graph — the ordered wedge-join
    algorithm (Suri & Vassilvitskii '11, public): with edges canonical
    (u < v), each triangle u<v<w matches exactly one (e1=(u,v),
    e2=(v,w), e3=(u,w)) join chain, so two edge-keyed shuffle joins
    count every triangle once, no dedup pass.  The support threshold
    prunes the edge set BEFORE the quadratic wedge stage (the
    standard density knob at web scale); clustering = 3·triangles /
    wedges crosses the gate as exact integer math."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("u", "v")
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = (
        e1.join(e2, "y").join(e3, ["x", "z"])
        .agg(F.count("*").alias("n_triangles"))
    )
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("(d * (d - 1)) div 2"))
        .cast("long")
        .alias("n_wedges"),
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    return (
        n_edges.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_nodes",
            "n_triangles",
            "n_wedges",
            # nullif: a degenerate support>=2 graph (all degree-1
            # nodes) has n_wedges=0 — Spark `div` NULLs on zero but
            # DuckDB `//` raises, so both sides must gate explicitly.
            F.expr(
                "(n_triangles * 3 * CAST(1000000 AS BIGINT))"
                " div nullif(n_wedges, 0)"
            ).alias("clustering_e6"),
        )
    )


@query(
    "dq_expectation_suite",
    """
    SELECT
        (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
            AS pk_dup_orders,
        (SELECT count(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_orderkey = l.l_orderkey))
            AS fk_orphan_lineitems,
        (SELECT count(*) FROM orders WHERE o_orderdate IS NULL
            OR o_totalprice IS NULL) AS null_violations,
        (SELECT count(*) FROM lineitem
         WHERE l_quantity < 1 OR l_quantity > 50
            OR l_discount < 0 OR l_discount > 0.1)
            AS range_violations,
        (SELECT count(*) FROM orders
         WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
            AS domain_violations,
        (SELECT count(*) FROM orders WHERE o_totalprice <= 0)
            AS nonpositive_money
    """,
)
def dq_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation battery as ONE relational verdict row —
    the dbt-test / Great-Expectations surface every serving pipeline
    runs before publishing: primary-key uniqueness, foreign-key
    orphans (left-anti), null contracts, accepted value ranges, domain
    membership, sign checks.  Each expectation is an independent
    aggregate branch crossJoined as 1-row broadcasts; everything is
    map-side combined and the fact tables are scanned once per
    expectation family with column pruning (only the checked columns
    reach the scan)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pk = o.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias(
            "pk_dup_orders"
        )
    )
    fk = (
        li.join(o.select("o_orderkey"),
                li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").alias("fk_orphan_lineitems"))
    )
    nulls = o.agg(
        F.sum(
            (
                F.col("o_orderdate").isNull()
                | F.col("o_totalprice").isNull()
            ).cast("long")
        ).alias("null_violations")
    )
    rng = li.agg(
        F.sum(
            (
                (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50)
                | (F.col("l_discount") < 0)
                | (F.col("l_discount") > 0.1)
            ).cast("long")
        ).alias("range_violations")
    )
    dom = o.agg(
        F.sum(
            (~F.col("o_orderstatus").isin("F", "O", "P")).cast("long")
        ).alias("domain_violations")
    )
    money = o.agg(
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias(
            "nonpositive_money"
        )
    )
    out = pk
    for frame in (fk, nulls, rng, dom, money):
        out = out.crossJoin(F.broadcast(frame))
    return out


@query(
    "snapshot_diff",
    """
    WITH v1 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    v2 AS (
        SELECT o_orderkey, o_orderstatus,
               o_totalprice
               + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END
                   AS o_totalprice
        FROM orders
    ),
    d AS (
        SELECT coalesce(v1.o_orderstatus, v2.o_orderstatus) AS status,
               CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                    WHEN v2.o_orderkey IS NULL THEN 'removed'
                    WHEN v1.o_totalprice <> v2.o_totalprice THEN 'changed'
                    ELSE 'unchanged' END AS kind
        FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    )
    SELECT status, kind, count(*) AS n FROM d GROUP BY status, kind
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (CDC-style diff of two table versions):
    a keyed full-outer join classifies every key as added / removed /
    changed / unchanged and rolls counts up per status — the audit
    report a lake pipeline emits when republishing a table (the
    row-level face of order_reconciliation's totals-only view).  One
    key-shuffled join, AQE-sized; the version deltas here are
    deterministic arithmetic so the oracle replays them exactly."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = o.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_orderstatus").alias("s1"),
        F.col("o_totalprice").alias("p1"),
    )
    v2 = o.select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_orderstatus").alias("s2"),
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 5 == 0, 1).otherwise(0)
        ).alias("p2"),
    )
    d = v1.join(v2, v1["k1"] == v2["k2"], "full_outer").select(
        F.coalesce("s1", "s2").alias("status"),
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("p1") != F.col("p2"), "changed")
        .otherwise("unchanged")
        .alias("kind"),
    )
    return d.groupBy("status", "kind").agg(F.count("*").alias("n"))


@query(
    "daily_value_percentiles",
    """
    SELECT CAST(ts AS DATE) AS day,
           CAST(floor(percentile_cont(0.5)
                WITHIN GROUP (ORDER BY value) * 100) AS BIGINT)
               AS value_p50_e2,
           CAST(floor(percentile_cont(0.95)
                WITHIN GROUP (ORDER BY value) * 100) AS BIGINT)
               AS value_p95_e2,
           CAST(floor(percentile_cont(0.99)
                WITHIN GROUP (ORDER BY value) * 100) AS BIGINT)
               AS value_p99_e2
    FROM events GROUP BY day
    """,
)
def daily_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily P50/P95/P99 of the event value — the latency-dashboard
    shape — via the histogram-selection exact percentile operator
    grouped by day: a per-(day, bucket) count histogram locates the
    rank-crossing buckets, only those slices are rescanned/ranked,
    and only rank-neighbor rows reach the interpolation agg
    (operators.agg.exact_percentiles; same plan contract as
    percentile_summary, here with |days| groups).  Gate
    values floor-scale to integer cents: the event values carry full
    double precision, so a round(,2) gate would sit ON the half-cent
    tie boundary whenever interpolation lands there — the exact
    document_pipeline failure class from round 2; flooring moves the
    risk from tie-rule divergence (engine-dependent) to a ~1e-12
    grid-proximity window."""
    from ..operators.agg import exact_percentiles

    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "value"
    )
    out = exact_percentiles(
        ev,
        ["day"],
        "value",
        [0.5, 0.95, 0.99],
        aliases=["value_p50", "value_p95", "value_p99"],
    )
    return out.select(
        "day",
        F.floor(F.col("value_p50") * 100).cast("long").alias("value_p50_e2"),
        F.floor(F.col("value_p95") * 100).cast("long").alias("value_p95_e2"),
        F.floor(F.col("value_p99") * 100).cast("long").alias("value_p99_e2"),
    )


@query(
    "pattern_three_rising",
    """
    WITH o AS (
        SELECT user_id, value,
               lag(value, 1) OVER w AS v1,
               lag(value, 2) OVER w AS v2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    hits AS (
        SELECT user_id FROM o
        WHERE v2 IS NOT NULL AND v2 < v1 AND v1 < value
    )
    SELECT (SELECT count(*) FROM hits) AS n_matches,
           (SELECT count(DISTINCT user_id) FROM hits) AS n_users,
           (SELECT count(DISTINCT user_id) FROM events) AS n_users_total
    """,
)
def pattern_three_rising(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection (MATCH_RECOGNIZE-lite): occurrences
    of three strictly-rising event values in a row within a user's
    stream.  Row-pattern engines compile such patterns to exactly this
    plan — per-key ordered lag windows plus a predicate — so the
    operator demonstrates the pattern-matching surface without a
    dedicated runtime: one (user)-partitioned window (bounded,
    |users|-way parallel), no state beyond two lags, and the match
    predicate stays in whole-stage codegen.  Doubles are only
    COMPARED, never combined — exact cross-engine."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("v1"),
        F.lag("value", 2).over(w).alias("v2"),
    )
    hits = o.filter(
        F.col("v2").isNotNull()
        & (F.col("v2") < F.col("v1"))
        & (F.col("v1") < F.col("value"))
    )
    h = hits.agg(
        F.count("*").alias("n_matches"),
        F.countDistinct("user_id").alias("n_users"),
    )
    tot = ev.agg(F.countDistinct("user_id").alias("n_users_total"))
    return h.crossJoin(F.broadcast(tot))


@query(
    "higher_order_array_ops",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    )
    SELECT doc_id,
           len(tk) AS n_tokens,
           len(list_filter(tk, x -> len(x) >= 6)) AS n_long,
           CAST(list_sum(list_transform(tk, x -> len(x))) AS BIGINT)
               AS total_chars,
           CAST(list_max(list_transform(tk, x -> len(x))) AS INTEGER)
               AS max_token_len,
           array_to_string(list_transform(tk[1:3], x -> upper(x)), '_')
               AS head_upper
    FROM t WHERE len(tk) > 0
    """,
)
def higher_order_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as first-class relational
    expressions — filter/transform/aggregate/slice lambdas evaluated
    JVM-side inside codegen, zero Python: the idiom that keeps
    nested-data manipulation (token lists, embedding chunks, shingle
    sets) OUT of UDFs.  The oracle replays every lambda with DuckDB's
    list functions; all outputs are integers/strings so the comparison
    is exact."""
    docs = _t(spark, sf_dir, "documents")
    tk = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    t = docs.select("doc_id", tk.alias("tk")).filter(F.size("tk") > 0)
    lens = F.transform(F.col("tk"), lambda x: F.length(x))
    return t.select(
        "doc_id",
        F.size("tk").alias("n_tokens"),
        F.size(
            F.filter(F.col("tk"), lambda x: F.length(x) >= 6)
        ).alias("n_long"),
        F.aggregate(
            lens, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_chars"),
        F.array_max(lens).cast("int").alias("max_token_len"),
        F.concat_ws(
            "_",
            F.transform(
                F.slice(F.col("tk"), 1, 3), lambda x: F.upper(x)
            ),
        ).alias("head_upper"),
    )


@query(
    "winsorized_stats",
    """
    WITH q AS (
        SELECT l_returnflag AS flag,
               percentile_cont(0.01) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS p01,
               percentile_cont(0.99) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS p99
        FROM lineitem GROUP BY l_returnflag
    ),
    w AS (
        SELECT l.l_returnflag AS flag,
               CASE WHEN l.l_extendedprice < q.p01 THEN q.p01
                    WHEN l.l_extendedprice > q.p99 THEN q.p99
                    ELSE l.l_extendedprice END AS v,
               CASE WHEN l.l_extendedprice < q.p01
                      OR l.l_extendedprice > q.p99
                    THEN 1 ELSE 0 END AS clipped
        FROM lineitem l JOIN q ON l.l_returnflag = q.flag
    )
    SELECT flag,
           count(*) AS n_rows,
           CAST(sum(clipped) AS BIGINT) AS n_clipped,
           CAST(floor(avg(v)) AS BIGINT) AS wmean_floor,
           CAST(floor(stddev_pop(v)) AS BIGINT) AS wstd_floor
    FROM w GROUP BY flag
    """,
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust moments per group: clip values at the exact
    P1/P99 (histogram-selection percentiles — no group buffers, no
    fact-sized shuffle), then mean/std of the clipped column — the
    outlier-resistant profile statistics a feature pipeline publishes
    instead of raw moments.  Composition shape: the |groups|-row
    percentile frame broadcasts back onto the fact scan; clip +
    moments stay in whole-stage codegen.  The
    mean/std cross the gate floor-scaled to whole units (error budget
    ~1e-9 of a grid step); clip counts are exact integers."""
    from ..operators.agg import exact_percentiles

    li = _t(spark, sf_dir, "lineitem")
    q = exact_percentiles(
        li.select(F.col("l_returnflag").alias("flag"), "l_extendedprice"),
        ["flag"],
        "l_extendedprice",
        [0.01, 0.99],
        aliases=["p01", "p99"],
    )
    w = (
        li.select(F.col("l_returnflag").alias("flag"), "l_extendedprice")
        .join(F.broadcast(q), "flag")
        .select(
            "flag",
            F.when(F.col("l_extendedprice") < F.col("p01"), F.col("p01"))
            .when(F.col("l_extendedprice") > F.col("p99"), F.col("p99"))
            .otherwise(F.col("l_extendedprice"))
            .alias("v"),
            (
                (F.col("l_extendedprice") < F.col("p01"))
                | (F.col("l_extendedprice") > F.col("p99"))
            )
            .cast("long")
            .alias("clipped"),
        )
    )
    return w.groupBy("flag").agg(
        F.count("*").alias("n_rows"),
        F.sum("clipped").alias("n_clipped"),
        F.floor(F.avg("v")).cast("long").alias("wmean_floor"),
        F.floor(F.stddev_pop("v")).cast("long").alias("wstd_floor"),
    )


@query(
    "gap_fill_forward",
    """
    WITH d AS (
        SELECT user_id, CAST(ts AS DATE) AS day, sum(value) AS v
        FROM events GROUP BY user_id, day
    ),
    bounds AS (
        SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        FROM events
    ),
    grid AS (
        SELECT u.user_id, g.day
        FROM (SELECT DISTINCT user_id FROM events) u
        CROSS JOIN (
            SELECT CAST(unnest(generate_series(lo, hi,
                                               INTERVAL 1 DAY)) AS DATE)
                       AS day
            FROM bounds
        ) g
    ),
    f AS (
        SELECT grid.user_id, grid.day, d.v,
               last_value(d.v IGNORE NULLS) OVER (
                   PARTITION BY grid.user_id ORDER BY grid.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled
        FROM grid LEFT JOIN d
          ON grid.user_id = d.user_id AND grid.day = d.day
    )
    SELECT user_id,
           count(*) AS n_days,
           CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_observed,
           CAST(sum(CASE WHEN v IS NULL AND filled IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           CAST(floor(sum(coalesce(filled, 0))) AS BIGINT)
               AS filled_total_floor
    FROM f GROUP BY user_id
    """,
)
def gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (last observation carried forward): the
    per-(user, day) aggregate is densified onto the full calendar grid
    and missing days inherit the user's most recent value — the
    standard preparation for per-entity daily features.  The grid is a
    bounded cross join (|users| × |days|, generated JVM-side via
    ``sequence``); the fill is one ``last(ignorenulls)`` window per
    user (bounded, |users|-way parallel).  The filled-value total
    crosses the gate floored to whole units (sum-order budget ~1e-9 of
    a grid step); day/fill counts are exact."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum("value").alias("v"))
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"),
        F.max(F.to_date("ts")).alias("hi"),
    )
    days = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(days))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = grid.join(d, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("filled"),
    )
    return f.groupBy("user_id").agg(
        F.count("*").alias("n_days"),
        F.sum(F.col("v").isNotNull().cast("long")).alias("n_observed"),
        F.sum(
            (F.col("v").isNull() & F.col("filled").isNotNull())
            .cast("long")
        ).alias("n_filled"),
        F.floor(F.sum(F.coalesce("filled", F.lit(0.0))))
        .cast("long")
        .alias("filled_total_floor"),
    )


@query(
    "udtf_keyvalue_explode",
    """
    WITH raw AS (
        SELECT 'status=' || o_orderstatus
               || ';prio=' || o_orderpriority
               || CASE WHEN o_orderkey % 3 = 0
                       THEN ';malformed-fragment' ELSE '' END
               || ';key=' || CAST(o_orderkey AS VARCHAR) AS s
        FROM orders
    ),
    parts AS (
        SELECT unnest(string_split(s, ';')) AS p FROM raw
    ),
    kv AS (
        SELECT trim(p[1:strpos(p, '=') - 1]) AS key,
               trim(p[strpos(p, '=') + 1:]) AS value
        FROM parts WHERE strpos(p, '=') > 0
    )
    SELECT key, count(*) AS n_rows,
           count(DISTINCT value) AS n_distinct_values
    FROM kv WHERE key <> '' GROUP BY key
    """,
)
def udtf_keyvalue_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (functions.udtfs.ParseKeyValue): free-form
    ``k=v;k2=v2`` telemetry exploded to (key, value) rows through a
    lateral table function, then aggregated per key.  This is the
    row-to-variable-rows escape hatch used at the pipeline EDGE
    (parse-once-land-typed) — the gate pins that the UDTF's Python
    parse (including malformed-fragment skipping) matches the
    relational replay exactly.  Everything after the UDTF is columnar
    again; the aggregate is map-side combined."""
    from ..functions.udtfs import register_udtfs

    register_udtfs(spark)
    o = _t(spark, sf_dir, "orders")
    raw = o.select(
        F.concat(
            F.lit("status="), F.col("o_orderstatus"),
            F.lit(";prio="), F.col("o_orderpriority"),
            F.when(F.col("o_orderkey") % 3 == 0, ";malformed-fragment")
            .otherwise(""),
            F.lit(";key="), F.col("o_orderkey").cast("string"),
        ).alias("s")
    )
    # A UDTF runs in the Python worker of whatever task feeds it — an
    # under-split scan would serialize the whole parse through ONE
    # worker (measured 2.2 s -> 1.25 s at sf0.1/local[32]).  Arrow
    # UDTFs (useArrow=True) measured WORSE here (16.8 s single-task,
    # 1.56 s rebalanced): per-row yield dominates, not transfer.
    from ..operators.materialize import ensure_min_parallelism

    raw = ensure_min_parallelism(raw)
    raw.createOrReplaceTempView("_udtf_kv_input")
    kv = spark.sql(
        "SELECT t.key, t.value FROM _udtf_kv_input, "
        "LATERAL parse_kv(s) t"
    )
    return (
        kv.filter(F.col("key") != "")
        .groupBy("key")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("value").alias("n_distinct_values"),
        )
    )


@query(
    "conversion_latency_percentiles",
    """
    WITH v AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'purchase'
    ),
    lat AS (
        SELECT p.user_id,
               CAST(epoch_us(p.ts) - epoch_us(prev.ts) AS BIGINT)
                   AS latency_us
        FROM p
        JOIN LATERAL (
            SELECT max(v.ts) AS ts FROM v
            WHERE v.user_id = p.user_id AND v.ts <= p.ts
        ) prev ON prev.ts IS NOT NULL
    )
    SELECT count(*) AS n_conversions,
           CAST(floor(percentile_cont(0.5)
                WITHIN GROUP (ORDER BY latency_us)) AS BIGINT)
               AS latency_p50_us,
           CAST(floor(percentile_cont(0.9)
                WITHIN GROUP (ORDER BY latency_us)) AS BIGINT)
               AS latency_p90_us,
           CAST(max(latency_us) AS BIGINT) AS latency_max_us
    FROM lat
    """,
)
def conversion_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: each purchase pairs with the
    most recent preceding view of the SAME user (the as-of join,
    expressed shuffle-once as a union + one ordered window per user —
    zero join nodes over the big sides), and P50/P90 of the
    view→purchase delay come from the histogram-selection percentile
    operator over the exact integer-microsecond latencies.  The
    latency frame is MATERIALIZED first (round 14, guide §5): it is a
    derived upstream consumed four times (bounds/count, histogram,
    crossing-bucket rescan, and the wrapper's own count/max agg), and
    pinning it replaces four re-executions of the sessionize window
    with one compute + three cheap block reads (measured 1.6 s → 1.2 s
    at sf0.1; at scale it also removes three re-shuffles of the events
    table).  Every value crossing the gate is an integer (epoch-µs
    differences and their floor-interpolated percentiles), so the
    comparison is order-of-operations-proof."""
    from ..operators.agg import exact_percentiles
    from ..operators.materialize import materialize

    ev = _t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("ts"), F.lit(1).alias("_is_view")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ts"), F.lit(0).alias("_is_view")
    )
    # union + per-user ordered window: views sort before a same-ts
    # purchase via the _is_view DESC tiebreak (<= semantics)
    u = v.unionByName(p)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.desc("_is_view"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_view = F.last(
        F.when(F.col("_is_view") == 1, F.col("ts")), ignorenulls=True
    ).over(w)
    lat = (
        u.withColumn("_lv", last_view)
        .filter((F.col("_is_view") == 0) & F.col("_lv").isNotNull())
        .select(
            (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.col("_lv"))
            ).alias("latency_us")
        )
    )
    # four consumers of a derived frame — pin it (docstring above)
    lat = materialize(lat)
    pct = exact_percentiles(
        lat.withColumn("_g", F.lit(1)),
        ["_g"],
        "latency_us",
        [0.5, 0.9],
        aliases=["latency_p50_us", "latency_p90_us"],
    )
    stats = lat.agg(
        F.count("*").alias("n_conversions"),
        F.max("latency_us").alias("latency_max_us"),
    )
    # LEFT join (not crossJoin): with zero conversions the percentile
    # frame is empty but the ungrouped stats agg still emits one row —
    # matching the oracle's always-one-row ungrouped aggregate
    # (n_conversions=0, NULL percentiles).
    return stats.withColumn("_g", F.lit(1)).join(
        F.broadcast(pct), on="_g", how="left"
    ).select(
        "n_conversions",
        F.floor("latency_p50_us").cast("long").alias("latency_p50_us"),
        F.floor("latency_p90_us").cast("long").alias("latency_p90_us"),
        "latency_max_us",
    )


@query(
    "vwap_monthly",
    """
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS pq_cents,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(l_quantity AS BIGINT))
                // sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS vwap_cents
    FROM lineitem GROUP BY month
    """,
)
def vwap_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly volume-weighted average price — the TWAP/VWAP family as
    ONE map-side-combined aggregate: price rides as exact integer
    cents (values are 2-decimal), quantity as integer units, so the
    weighted numerator, the weight total, and their integer-division
    ratio are all exact on both engines — no float mean crosses the
    gate.  The pq/qty pair is also the MERGEABLE form: partials from
    any partitioning (or micro-batch) combine by addition, the same
    algebra incremental_agg_maintenance proves."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    qty = F.col("l_quantity").cast("long")
    return (
        li.groupBy(
            F.to_date(F.date_trunc("month", "l_shipdate")).alias("month")
        )
        .agg(
            F.sum(cents * qty).alias("pq_cents"),
            F.sum(qty).alias("total_qty"),
        )
        .select(
            "month",
            "pq_cents",
            "total_qty",
            F.expr("pq_cents div total_qty").alias("vwap_cents"),
        )
    )


@query(
    "sessionized_funnel_rates",
    """
    WITH ev AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    f AS (
        SELECT *, CASE WHEN us - lag(us) OVER (
                            PARTITION BY user_id ORDER BY us
                        ) <= 1800000000
                       THEN 0 ELSE 1 END AS new_s
        FROM ev
    ),
    n AS (
        SELECT *, sum(new_s) OVER (
                      PARTITION BY user_id ORDER BY us
                      ROWS UNBOUNDED PRECEDING) AS sess
        FROM f
    ),
    v AS (SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
                        OVER (PARTITION BY user_id, sess) AS fv FROM n),
    c AS (SELECT *, min(CASE WHEN event_type = 'click' AND us >= fv
                             THEN us END)
                        OVER (PARTITION BY user_id, sess) AS fc FROM v),
    p AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us >= fc
                             THEN us END)
                        OVER (PARTITION BY user_id, sess) AS fp FROM c),
    s AS (
        SELECT user_id, sess,
               max(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END) AS has_v,
               max(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) AS has_c,
               max(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS has_p
        FROM p GROUP BY user_id, sess
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(has_v) AS BIGINT) AS n_view,
           CAST(sum(has_c) AS BIGINT) AS n_view_click,
           CAST(sum(has_p) AS BIGINT) AS n_full_funnel,
           CAST(sum(has_c) * 10000 // nullif(sum(has_v), 0) AS BIGINT)
               AS click_rate_e4,
           CAST(sum(has_p) * 10000 // nullif(sum(has_c), 0) AS BIGINT)
               AS purchase_rate_e4
    FROM s
    """,
)
def sessionized_funnel_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered in-session funnel (view -> click after the first view ->
    purchase after that click) over 30-minute-gap sessions.

    Session split is gaps-and-islands on exact integer epoch-µs; the
    three funnel stages are conditional-min windows over (user,
    session).  The whole funnel is ONE user-keyed shuffle (verified by
    plan audit): hashpartitioning(user_id) already satisfies the
    (user, session) clustered distribution, so the stage windows and
    the per-session agg reuse the first exchange — no self-joins, no
    second shuffle.  Stage rates cross the gate as integer basis
    points (exact div on both engines).  At 100 TB the single exchange
    keys on user_id: hash-partitioned, skew-safe (a power user's
    events still fit one task — sessions are time-bounded)."""
    gap_us = 30 * 60 * 1_000_000
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", F.unix_micros("ts").alias("us"), "event_type")
    )
    wo = Window.partitionBy("user_id").orderBy("us")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        ev.withColumn(
            "_new",
            F.when(
                F.col("us") - F.lag("us").over(wo) <= gap_us, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn("sess", F.sum("_new").over(run))
    )
    ws = Window.partitionBy("user_id", "sess")
    staged = (
        sess.withColumn(
            "_fv",
            F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(ws),
        )
        .withColumn(
            "_fc",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("us") >= F.col("_fv")),
                    F.col("us"),
                )
            ).over(ws),
        )
        .withColumn(
            "_fp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") >= F.col("_fc")),
                    F.col("us"),
                )
            ).over(ws),
        )
    )
    per_session = staged.groupBy("user_id", "sess").agg(
        F.max(F.col("_fv").isNotNull().cast("int")).alias("has_v"),
        F.max(F.col("_fc").isNotNull().cast("int")).alias("has_c"),
        F.max(F.col("_fp").isNotNull().cast("int")).alias("has_p"),
    )
    return (
        per_session.agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("has_v").cast("long").alias("n_view"),
            F.sum("has_c").cast("long").alias("n_view_click"),
            F.sum("has_p").cast("long").alias("n_full_funnel"),
        )
        .select(
            "n_sessions",
            "n_view",
            "n_view_click",
            "n_full_funnel",
            F.expr("(n_view_click * 10000) div nullif(n_view, 0)")
            .alias("click_rate_e4"),
            F.expr("(n_full_funnel * 10000) div nullif(n_view_click, 0)")
            .alias("purchase_rate_e4"),
        )
    )


@query(
    "near_dup_cluster_canonical",
    """
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               CASE WHEN len(text) < 5 THEN [text]
                    ELSE list_distinct([substr(text, i, 5)
                                        FOR i IN range(1, len(text) - 3)])
               END AS s
        FROM documents
    ),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    toks AS (SELECT doc_id, unnest(s) AS g FROM sh),
    inter AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    e AS (
        SELECT ia AS a, ib AS b
        FROM inter JOIN sizes sa ON ia = sa.doc_id
                   JOIN sizes sb ON ib = sb.doc_id
        WHERE round(c::DOUBLE / (sa.n + sb.n - c), 6) >= 0.5
    ),
    und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
    nodes AS (SELECT DISTINCT a AS nd FROM und),
    reach(nd, m) AS (
        SELECT nd, nd FROM nodes
        UNION
        SELECT r.nd, u.b FROM reach r JOIN und u ON r.m = u.a
    ),
    comp AS (SELECT nd, min(m) AS component FROM reach GROUP BY nd),
    sized AS (
        SELECT cm.nd, cm.component, d.n_chars
        FROM comp cm JOIN documents d ON cm.nd = d.doc_id
    ),
    canon AS (
        SELECT component, nd AS canonical_doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY component
                   ORDER BY n_chars DESC, nd ASC) AS rn
        FROM sized
    )
    SELECT g.component AS cluster_id,
           g.n_docs,
           cn.canonical_doc_id,
           cn.n_chars AS canonical_n_chars
    FROM (SELECT component, CAST(count(*) AS BIGINT) AS n_docs
          FROM sized GROUP BY component) g
    JOIN canon cn ON g.component = cn.component AND cn.rn = 1
    """,
)
def near_dup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup RESOLUTION pipeline — what a curation run
    actually executes after candidate generation: MinHash-LSH verified
    pairs (jaccard >= 0.5) -> connected components (large/small-star,
    O(log n) rounds) -> per-cluster canonical selection (keep the
    longest doc, ties to the smallest id) with one struct-max agg —
    no window sort over clusters needed on the Spark side.

    The oracle replays exact all-pairs Jaccard for the edge set (the
    dedup_minhash_lsh gate already proves LSH recall equals it on this
    corpus) and resolves components with a recursive-CTE transitive
    closure — exact, feasible at sf0.01.  At scale the Spark side is
    the only tractable formulation: edges stay bucketed (LSH banding),
    components converge in log rounds with lineage cuts, and the
    canonical pick is a single groupBy."""
    from ..operators.graph import connected_components
    from ..operators.text_dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5)
    comp = connected_components(pairs, "id_a", "id_b")
    sized = comp.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    return (
        sized.groupBy("component")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.max(
                F.struct(
                    F.col("n_chars").alias("nc"),
                    (-F.col("node")).alias("neg"),
                )
            ).alias("_best"),
        )
        .select(
            F.col("component").alias("cluster_id"),
            "n_docs",
            (-F.col("_best.neg")).alias("canonical_doc_id"),
            F.col("_best.nc").alias("canonical_n_chars"),
        )
    )


@query(
    "rolling_7d_user_value",
    """
    WITH daily AS (
        SELECT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    e AS (
        SELECT *, date_diff('day', DATE '1970-01-01', day) AS ed
        FROM daily
    )
    SELECT user_id, day, cents,
           CAST(sum(cents) OVER (
               PARTITION BY user_id ORDER BY ed
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cents_7d,
           CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY ed
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS days_active_7d
    FROM e
    """,
)
def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-7-day spend: daily pre-aggregation (map-side
    combine collapses events to one row per user-day BEFORE any window)
    then a RANGE frame over integer epoch-days — the frame skips
    calendar gaps correctly, unlike a ROWS frame.  All money rides as
    exact integer cents (values are 2-decimal), so window sums are
    order-proof across engines.  One shuffle for the daily agg; the
    user-keyed window reuses that partitioning profile at scale (the
    window exchange keys on user_id alone — AQE coalesces the tiny
    post-agg map side)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    with_ed = daily.withColumn(
        "_ed", F.datediff(F.col("day"), F.lit("1970-01-01"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("_ed")
        .rangeBetween(-6, Window.currentRow)
    )
    return with_ed.select(
        "user_id",
        "day",
        "cents",
        F.sum("cents").over(w).cast("long").alias("cents_7d"),
        F.count("*").over(w).cast("long").alias("days_active_7d"),
    )


@query(
    "cross_split_contamination",
    """
    WITH sh AS (
        SELECT doc_id,
               CASE WHEN len(text) < 5 THEN [text]
                    ELSE list_distinct([substr(text, i, 5)
                                        FOR i IN range(1, len(text) - 3)])
               END AS s
        FROM documents
    ),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    toks AS (SELECT doc_id, unnest(s) AS g FROM sh),
    inter AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    e AS (
        SELECT ia, ib
        FROM inter JOIN sizes sa ON ia = sa.doc_id
                   JOIN sizes sb ON ib = sb.doc_id
        WHERE round(c::DOUBLE / (sa.n + sb.n - c), 6) >= 0.5
    ),
    sp AS (
        SELECT doc_id,
               CASE WHEN b < 800 THEN 'train'
                    WHEN b < 900 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id,
                   ((((((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)) * 16
                      + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)) * 16
                      + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) * 16
                      + (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1)) * 16
                      + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1))
                   % 1000 AS b
            FROM (SELECT doc_id,
                         md5('s0:' || CAST(doc_id AS VARCHAR)) AS hx
                  FROM documents)
        )
    )
    SELECT least(pa.split, pb.split) AS split_lo,
           greatest(pa.split, pb.split) AS split_hi,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN pa.split <> pb.split THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaking
    FROM e JOIN sp pa ON e.ia = pa.doc_id
           JOIN sp pb ON e.ib = pb.doc_id
    GROUP BY 1, 2
    """,
)
def cross_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test NEAR-DUP leakage audit — the decontamination
    check a training pipeline runs after splitting: MinHash-LSH
    verified near-duplicate pairs (jaccard >= 0.5) whose two members
    landed in different splits leak eval content into training.
    Composition of minhash_near_duplicates (bucketed banding, never
    all-pairs) + deterministic_split (pure hash projection, no
    shuffle) + two id-keyed joins of the tiny pair set against the
    split assignment.  Reported per unordered split pair; same-split
    pairs stay visible (n_leaking = 0 rows) so the gate also counts
    total near-dup pressure.  The oracle replays exact all-pairs
    Jaccard for the edge set and the md5 split digits, so a hash match
    proves bit-identical leak accounting."""
    from ..operators.dedup import deterministic_split
    from ..operators.text_dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5).select(
        "id_a", "id_b"
    )
    sp = deterministic_split(docs, "doc_id").select("doc_id", "split")
    pa = sp.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("_sa")
    )
    pb = sp.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("_sb")
    )
    return (
        pairs.join(pa, "id_a")
        .join(pb, "id_b")
        .groupBy(
            F.least("_sa", "_sb").alias("split_lo"),
            F.greatest("_sa", "_sb").alias("split_hi"),
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum((F.col("_sa") != F.col("_sb")).cast("long"))
            .cast("long")
            .alias("n_leaking"),
        )
    )


@query(
    "contingency_expected_cells",
    """
    WITH obs AS (
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               count(*) AS observed
        FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT status, sum(observed) AS row_total FROM obs GROUP BY 1),
    ct AS (SELECT priority, sum(observed) AS col_total FROM obs GROUP BY 1),
    n AS (SELECT sum(observed) AS total FROM obs)
    SELECT o.status, o.priority,
           CAST(o.observed AS BIGINT) AS observed,
           CAST(rt.row_total * ct.col_total * 1000000 // n.total AS BIGINT)
               AS expected_e6,
           CAST(abs(o.observed * 1000000
                    - rt.row_total * ct.col_total * 1000000 // n.total)
                AS BIGINT) AS abs_dev_e6
    FROM obs o
    JOIN rt ON o.status = rt.status
    JOIN ct ON o.priority = ct.priority
    CROSS JOIN n
    """,
)
def contingency_expected_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table independence analysis (the chi-square setup):
    observed vs expected cell frequencies for status x priority, with
    expected = row_total * col_total / grand_total carried as an EXACT
    integer micro-count (single integer division) — no float crosses
    the gate, so the comparison is engine-order-proof.  One hash agg
    over the fact builds the cells; row/col/grand totals re-aggregate
    the tiny cell frame and broadcast back — the fact is scanned
    once."""
    obs = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").alias("observed"))
    )
    rt = obs.groupBy("status").agg(F.sum("observed").alias("row_total"))
    ct = obs.groupBy("priority").agg(F.sum("observed").alias("col_total"))
    n = obs.agg(F.sum("observed").alias("total"))
    return (
        obs.join(F.broadcast(rt), "status")
        .join(F.broadcast(ct), "priority")
        .crossJoin(F.broadcast(n))
        .select(
            "status",
            "priority",
            F.col("observed").cast("long").alias("observed"),
            F.expr("(row_total * col_total * 1000000) div total")
            .cast("long")
            .alias("expected_e6"),
            F.expr(
                "abs(observed * 1000000"
                " - (row_total * col_total * 1000000) div total)"
            )
            .cast("long")
            .alias("abs_dev_e6"),
        )
    )


@query(
    "rolling_distinct_users_7d",
    """
    WITH pairs AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events
    ),
    rng AS (SELECT min(day) AS lo, max(day) AS hi FROM pairs),
    cover AS (
        SELECT user_id, day,
               CAST(unnest(generate_series(day, day + 6,
                                           INTERVAL 1 DAY)) AS DATE)
                   AS cover_day
        FROM pairs
    )
    SELECT c.cover_day AS day,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS users_7d,
           CAST(count(DISTINCT CASE WHEN c.day = c.cover_day
                                    THEN c.user_id END) AS BIGINT)
               AS users_today
    FROM cover c CROSS JOIN rng
    WHERE c.cover_day BETWEEN rng.lo AND rng.hi
    GROUP BY 1
    """,
)
def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day DISTINCT active users per day — the windowed
    distinct count a RANGE frame cannot express (window COUNT(DISTINCT)
    is unsupported in both engines).  Scale-safe formulation: dedup to
    (user, day) pairs first (map-side combine), then each pair votes
    for the <=7 cover days it makes the user active in (bounded 7x
    fan-out — a projection, not a join), and one hash agg per cover day
    finishes it.  No per-day self-joins, no quadratic day-grid x events
    stage; the fan-out factor is the window length, independent of
    corpus size."""
    ev = _t(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    rng = pairs.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cover = pairs.select(
        "user_id",
        "day",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("cover_day"),
    )
    return (
        cover.crossJoin(F.broadcast(rng))
        .filter(F.col("cover_day").between(F.col("lo"), F.col("hi")))
        .groupBy(F.col("cover_day").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("users_7d"),
            F.countDistinct(
                F.when(F.col("day") == F.col("cover_day"), F.col("user_id"))
            ).alias("users_today"),
        )
    )


@query(
    "user_retention_cohorts",
    """
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
                   AS wk
        FROM events
    ),
    cohort AS (
        SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, uw.wk) // 7 AS BIGINT)
               AS week_offset,
           CAST(count(DISTINCT uw.user_id) AS BIGINT) AS n_users
    FROM uw JOIN cohort c ON uw.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention — the standard product-analytics
    triangle: users grouped by first-active ISO week, distinct actives
    counted at each whole-week offset since the cohort week.  Built
    from one (user, week) dedup (map-side combine), a per-user min
    (the cohort label), and a user-keyed join back — all three
    exchanges key on user_id, so at scale Catalyst reuses one
    partitioning profile; the output is |weeks|² rows regardless of
    event volume.  Offsets ride as exact integer day-diffs div 7."""
    ev = _t(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.to_date(F.date_trunc("week", "ts")).alias("wk"),
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(wk, cohort_week) div 7")
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "top_event_paths",
    """
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        FROM events
    ),
    r AS (
        SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM ev
    ),
    p AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM p GROUP BY path
    """,
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-path (Sankey) analysis: each user's first three events as
    an ordered type sequence, counted across users — sequence-level
    behavior where event_transition_matrix is pairwise.  One user-keyed
    window ranks events (deterministic (ts, event_id) tiebreak), the
    per-user path materializes via sort_array-of-struct (order
    guaranteed inside the agg, independent of partition arrival
    order), and a final path-keyed hash agg counts.  Path cardinality
    is |event_types|³ bounded — the output never scales with users."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    )
    paths = r.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(
        F.count("*").cast("long").alias("n_users")
    )


@query(
    "exact_jaccard_prefix_join",
    """
    WITH sh AS (
        SELECT doc_id,
               CASE WHEN len(text) < 5 THEN [text]
                    ELSE list_distinct([substr(text, i, 5)
                                        FOR i IN range(1, len(text) - 3)])
               END AS s
        FROM documents
    ),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh WHERE len(s) > 0),
    toks AS (SELECT doc_id, unnest(s) AS g FROM sh),
    inter AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT ia AS id_a, ib AS id_b,
           round(c::DOUBLE / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter JOIN sizes sa ON ia = sa.doc_id
               JOIN sizes sb ON ib = sb.doc_id
    WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.8
    """,
)
def exact_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (5-gram shingle Jaccard >= 0.8)
    via prefix filtering (operators.text_dedup.exact_jaccard_join;
    Bayardo et al. WWW'07) — the zero-false-negative complement to the
    MinHash-LSH path, over the SAME similarity definition as
    dedup_minhash_lsh so the two algorithms are directly comparable:
    candidates come only from shared shingles inside each document's
    (|s| - ceil(t|s|) + 1)-prefix under a rarest-first global order
    (join buckets are rare-shingle-bounded), plus the symmetric length
    filter.  The oracle IS the definition (all-pairs exact Jaccard),
    so a hash match proves total recall of the prefix scheme, not just
    precision."""
    from ..operators.text_dedup import exact_jaccard_join

    return exact_jaccard_join(
        _t(spark, sf_dir, "documents"), threshold=0.8, ngram=5
    )


@query(
    "embedding_gram_matrix",
    """
    WITH q AS (
        SELECT vec_id, u.i - 1 AS i, u.v
        FROM (
            SELECT vec_id,
                   unnest(list_transform(embedding,
                       (x, i) -> struct_pack(
                           i := i,
                           v := CAST(floor(x::DOUBLE * 1000) AS BIGINT))))
                       AS u
            FROM embeddings
        )
    )
    SELECT a.i AS i, b.i AS j,
           CAST(sum(a.v * b.v) AS BIGINT) AS gram
    FROM q a JOIN q b ON a.vec_id = b.vec_id
    GROUP BY 1, 2
    """,
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix (PCA/covariance second moments) over the
    embedding corpus (operators.similarity.gram_matrix_quantized):
    Arrow-batched numpy outer-product partials per partition, one
    dim²-row aggregated sum — the corpus itself never shuffles.
    Integer quantization (floor(x·1000)) makes every entry EXACT, so
    the oracle (a relational component self-join) matches
    bit-for-bit regardless of partitioning or summation order.  The
    local eigensolve that turns this into PCA axes is a driver-side
    dim×dim numpy step downstream — the distributed part IS this
    matrix."""
    from ..operators.similarity import gram_matrix_quantized

    emb = _t(spark, sf_dir, "embeddings")
    return gram_matrix_quantized(emb, "embedding", scale=1000)


_BFS_SQL = """
    WITH RECURSIVE co AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM {lineitem}
    ),
    e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM co a JOIN co b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    und AS (SELECT u AS a, v AS b FROM e
            UNION ALL SELECT v AS a, u AS b FROM e),
    src AS (SELECT min(a) AS s FROM und),
    walk(node, hop) AS (
        SELECT s, 0 FROM src
        UNION ALL
        SELECT und.b, walk.hop + 1
        FROM walk JOIN und ON walk.node = und.a
        WHERE walk.hop < 3
    ),
    first_seen AS (SELECT node, min(hop) AS hop FROM walk GROUP BY node)
    SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes
    FROM first_seen GROUP BY hop
"""


@query(
    "recursive_reachability_bfs",
    _BFS_SQL.format(lineitem="lineitem"),
)
def recursive_reachability_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS reachability via a RECURSIVE CTE — Spark 4's
    ``WITH RECURSIVE`` surface, exercised on the support-≥2 part
    co-occurrence graph: nodes first reached at hops 0-3 from the
    smallest part node.  The EXACT SAME SQL text runs on both engines
    (the oracle is this query verbatim), so the gate pins Spark's
    recursive-union fixpoint semantics against DuckDB's.  Spark plans
    each recursive step as a join + union epoch — the same shape as the
    hand-unrolled iteration in operators.graph, now expressed
    declaratively; the depth guard bounds the fan-out (Σ deg^hop from
    ONE source), and the first_seen dedup collapses path multiplicity
    before output."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_bfs_lineitem"
    )
    return spark.sql(_BFS_SQL.format(lineitem="_bfs_lineitem"))


def _zorder_expr(xcol: str, ycol: str, bits: int = 10) -> str:
    """SQL expression interleaving the low ``bits`` of two ints into a
    Z-order (Morton) key — identical arithmetic on Spark and DuckDB:
    bit i of x lands at position 2i, bit i of y at 2i+1."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xcol} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({ycol} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return "(" + " + ".join(terms) + ")"


@query(
    "zorder_layout_profile",
    f"""
    WITH k AS (
        SELECT CAST({_zorder_expr('(l_partkey % 1024)',
                                  '(l_suppkey % 1024)')} AS BIGINT)
                   AS zkey,
               l_partkey % 1024 AS px, l_suppkey % 1024 AS sx
        FROM lineitem
    )
    SELECT CAST(zkey // 4096 AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(px) AS BIGINT) AS min_px,
           CAST(max(px) AS BIGINT) AS max_px,
           CAST(min(sx) AS BIGINT) AS min_sx,
           CAST(max(sx) AS BIGINT) AS max_sx
    FROM k GROUP BY 1
    """,
)
def zorder_layout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys — the lakehouse data-layout
    technique behind multi-column file skipping: interleaving the bit
    planes of (partkey, suppkey) gives a single sort key whose ranges
    are ~square regions of the 2-D key space, so range-partitioned
    files carry TIGHT min/max on BOTH columns and a predicate on
    either prunes files.  The gate profiles the layout: per
    coarse z-bucket (top bits = the file a writer would cut), row
    count and per-dimension min/max — exactly the zone-map stats a
    scan would prune on.  Pure integer bit arithmetic, identical on
    both engines; at write time the same key feeds
    ``df.repartitionByRange(F.expr(zexpr)).sortWithinPartitions``."""
    li = _t(spark, sf_dir, "lineitem")
    z = _zorder_expr("(l_partkey % 1024)", "(l_suppkey % 1024)")
    return (
        li.select(
            F.expr(z).cast("long").alias("zkey"),
            (F.col("l_partkey") % 1024).alias("px"),
            (F.col("l_suppkey") % 1024).alias("sx"),
        )
        .groupBy(F.expr("zkey div 4096").cast("long").alias("zbucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("px").cast("long").alias("min_px"),
            F.max("px").cast("long").alias("max_px"),
            F.min("sx").cast("long").alias("min_sx"),
            F.max("sx").cast("long").alias("max_sx"),
        )
    )


@query(
    "bag_semantics_set_ops",
    """
    WITH a AS (
        SELECT l_partkey AS pk FROM lineitem
        WHERE l_shipdate < DATE '1995-01-01'
    ),
    b AS (
        SELECT l_partkey AS pk FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01'
    ),
    i AS (SELECT pk FROM a INTERSECT ALL SELECT pk FROM b),
    x AS (SELECT pk FROM a EXCEPT ALL SELECT pk FROM b)
    SELECT
        (SELECT count(*) FROM i) AS n_intersect_all,
        (SELECT count(DISTINCT pk) FROM i) AS n_intersect_keys,
        (SELECT count(*) FROM x) AS n_except_all,
        (SELECT count(DISTINCT pk) FROM x) AS n_except_keys,
        (SELECT count(*) FROM a) AS n_a,
        (SELECT count(*) FROM b) AS n_b
    """,
)
def bag_semantics_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag (multiset) set operations — ``INTERSECT ALL`` / ``EXCEPT
    ALL`` — on part-key multisets either side of a ship-date cut:
    multiplicity-aware membership (a part shipped 3× before and 2×
    after contributes 2 to the intersection, 1 to the except), the
    semantics the DISTINCT variants (already gated) silently discard.
    Spark plans both as a single hash aggregation computing per-key
    counts on each side then min/difference of multiplicities — one
    shuffle per operator, no join explosion.  Counts summarize the
    multisets so the gate output is stable and scalar."""
    li = _t(spark, sf_dir, "lineitem")
    cut = F.lit("1995-01-01").cast("date")
    a = li.filter(F.col("l_shipdate") < cut).select(
        F.col("l_partkey").alias("pk")
    )
    b = li.filter(F.col("l_shipdate") >= cut).select(
        F.col("l_partkey").alias("pk")
    )
    i = a.intersectAll(b)
    x = a.exceptAll(b)
    counts = [
        i.agg(
            F.count("*").alias("n_intersect_all"),
            F.countDistinct("pk").alias("n_intersect_keys"),
        ),
        x.agg(
            F.count("*").alias("n_except_all"),
            F.countDistinct("pk").alias("n_except_keys"),
        ),
        a.agg(F.count("*").alias("n_a")),
        b.agg(F.count("*").alias("n_b")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out


@query(
    "countmin_heavy_hitters",
    """
    WITH t AS (
        SELECT user_id, count(*) AS true_cnt
        FROM events GROUP BY user_id
        ORDER BY true_cnt DESC, user_id LIMIT 20
    )
    SELECT user_id, CAST(true_cnt AS BIGINT) AS true_cnt,
           true AS overest_ok, true AS tight_ok
    FROM t
    """,
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan '05) as a relational
    (depth × width) count table: one explode-by-depth pass + ONE hash
    agg builds the sketch (depth·width rows of mergeable state —
    kilobytes at any corpus size, the streaming/rollup-friendly
    heavy-hitter pattern); a point query is min over depth of the
    hashed cells.  The gate estimates the 20 true heaviest users and
    pins the sketch's two deterministic properties as verdict booleans:
    ``overest_ok`` (CMS never underestimates — a broken bucket join or
    hash mismatch would surface as an underestimate or NULL) and
    ``tight_ok`` (overestimate within 4·N/width + 8 on this corpus,
    the min-over-depth expectation with generous slack).  The oracle
    recomputes the exact top-20 (deterministic ties) and pins both
    booleans true."""
    depth, width = 4, 256
    ev = _t(spark, sf_dir, "events").select("user_id")
    n_total = ev.agg(F.count("*").alias("_n"))
    exploded = ev.select(
        F.explode(
            F.array(*[F.lit(d) for d in range(depth)])
        ).alias("d"),
        "user_id",
    )
    sketch = exploded.groupBy(
        "d",
        F.pmod(F.xxhash64("d", "user_id"), F.lit(width)).alias("bucket"),
    ).agg(F.count("*").alias("cnt"))
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "user_id")
        .limit(20)
    )
    probes = top.select(
        "user_id",
        "true_cnt",
        F.explode(
            F.array(*[F.lit(d) for d in range(depth)])
        ).alias("d"),
    ).select(
        "user_id",
        "true_cnt",
        "d",
        F.pmod(F.xxhash64("d", "user_id"), F.lit(width)).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cnt").alias("est"))
    )
    return est.crossJoin(F.broadcast(n_total)).select(
        "user_id",
        F.col("true_cnt").cast("long").alias("true_cnt"),
        (F.col("est") >= F.col("true_cnt")).alias("overest_ok"),
        (
            F.col("est") - F.col("true_cnt")
            <= F.lit(4) * F.col("_n") / F.lit(width) + F.lit(8)
        ).alias("tight_ok"),
    )


@query(
    "recency_decayed_user_value",
    """
    WITH d AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events
    ),
    mx AS (SELECT max(day) AS hi, min(day) AS lo FROM d)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents << date_diff('day', mx.lo, day)) AS BIGINT)
               AS decayed_value_scaled,
           CAST(max(date_diff('day', day, mx.hi)) AS BIGINT)
               AS oldest_age_days
    FROM d CROSS JOIN mx
    GROUP BY user_id
    """,
)
def recency_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed user value (1-day half-life) — the
    recency-weighted engagement feature — computed EXACTLY: with decay
    base 2, ``Σ cents·2^{-age}`` rescaled by ``2^{span}`` becomes
    ``Σ cents << (day - min_day)``, pure integer shifts that any
    partitioning, any summation order, and any engine reproduce
    bit-for-bit (the usual ``exp(-λ·age)`` float formulation drifts
    by summation order and libm).  One hash agg; the date bounds ride
    as a broadcast 1-row frame.  Overflow bound: cents·2^span·rows
    must stay under 2^63 — holds to a ~45-day span at these
    magnitudes; longer horizons re-zero the scale per window (the
    mergeable form: partial sums + the window's base date).  The
    bound is ENFORCED, not assumed: Spark's ``shiftleft`` masks the
    shift amount to 6 bits (Java semantics), so an over-span corpus
    would otherwise produce silently wrong small values — the guarded
    plan raises instead."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.to_date("ts").alias("day"),
    )
    # The guard must be LOAD-BEARING: an assert_true in a side column
    # gets column-pruned by Catalyst and never executes (verified —
    # a 91-day corpus then silently returns masked-shift garbage).
    # Folding the check into `lo` itself, the value every shift
    # consumes, makes it unprunable: over-span corpora raise.
    mx = d.agg(F.max("day").alias("hi"), F.min("day").alias("lo")).select(
        "hi",
        F.expr(
            "CASE WHEN datediff(hi, lo) <= 45 THEN lo"
            " ELSE raise_error('recency_decayed_user_value: date span"
            " exceeds the exact-shift bound (45 days); re-zero per"
            " window') END"
        ).alias("lo"),
    )
    return (
        d.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                F.expr("shiftleft(cents, datediff(day, lo))")
            ).cast("long").alias("decayed_value_scaled"),
            F.max(F.expr("datediff(hi, day)"))
            .cast("long")
            .alias("oldest_age_days"),
        )
    )


@query(
    "cusum_changepoint_daily",
    """
    WITH d AS (
        SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    t AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(cents) AS BIGINT) AS total
        FROM d GROUP BY 1
    ),
    dev AS (
        SELECT d.event_type, d.day,
               d.cents * t.n_days - t.total AS dev_scaled,
               t.n_days
        FROM d JOIN t ON d.event_type = t.event_type
    ),
    cus AS (
        SELECT event_type, day, n_days,
               sum(dev_scaled) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS s
        FROM dev
    ),
    ranked AS (
        SELECT event_type, day, n_days, abs(s) AS a,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY abs(s) DESC, day ASC) AS rn
        FROM cus
    )
    SELECT event_type,
           day AS change_day,
           CAST(a AS BIGINT) AS max_cusum_scaled,
           n_days
    FROM ranked WHERE rn = 1
    """,
)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the day where the
    cumulative deviation from the series mean peaks — the classic
    single-changepoint estimator (Page '54), fully relational: daily
    agg → per-type totals broadcast back → one ordered window for the
    running sum → one window for the argmax (deterministic earliest-day
    ties).  EXACT integer algebra throughout: deviations are scaled by
    n_days (cents·n − total), so no division or float ever enters —
    the running sums and their argmax are bit-identical on any engine
    and partitioning.  Two type-keyed exchanges; the per-type series
    (days) is window-sized, never event-sized."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    t = d.groupBy("event_type").agg(
        F.count("*").alias("n_days"), F.sum("cents").alias("total")
    )
    dev = d.join(F.broadcast(t), "event_type").select(
        "event_type",
        "day",
        "n_days",
        (F.col("cents") * F.col("n_days") - F.col("total")).alias(
            "dev_scaled"
        ),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = dev.withColumn("s", F.sum("dev_scaled").over(w))
    rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.col("day").asc()
    )
    return (
        cus.withColumn("rn", F.row_number().over(rk))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.abs(F.col("s")).cast("long").alias("max_cusum_scaled"),
            F.col("n_days").cast("long").alias("n_days"),
        )
    )


@query(
    "peak_concurrent_sessions",
    """
    WITH ev AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ),
    f AS (
        SELECT user_id, us,
               CASE WHEN us - lag(us) OVER (
                        PARTITION BY user_id ORDER BY us) <= 1800000000
                    THEN 0 ELSE 1 END AS new_s
        FROM ev
    ),
    n AS (
        SELECT user_id, us,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sess
        FROM f
    ),
    s AS (
        SELECT user_id, sess,
               min(us) AS start_us,
               max(us) + 1800000000 AS end_us
        FROM n GROUP BY user_id, sess
    ),
    pts AS (
        SELECT start_us AS t, 1 AS delta FROM s
        UNION ALL
        SELECT end_us AS t, -1 AS delta FROM s
    ),
    swept AS (
        SELECT t, delta,
               sum(delta) OVER (ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS live
        FROM pts
    )
    SELECT CAST(max(live) AS BIGINT) AS peak_concurrent,
           CAST(min(CASE WHEN live = (SELECT max(live) FROM swept)
                         THEN t END) AS BIGINT) AS first_peak_us,
           CAST((SELECT count(*) FROM s) AS BIGINT) AS n_sessions
    FROM swept
    """,
)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via the sweep line — the interval-analytics
    family (max simultaneous sessions, room scheduling, connection
    pools): sessions (30-min inactivity gap, end = last event + gap)
    emit +1/-1 boundary points; one global ordered running sum finds
    the maximum overlap and its first instant.  The (t, delta) tie
    rule sorts a -1 before a +1 at the same instant, so sessions
    touching end-to-start never double-count.  Exact integer epoch-µs
    throughout.  The sweep runs through operators.agg.global_cumsum —
    range-partitioned local sorts on (t, delta) plus a P-row offset
    frame — so the 2·|sessions| boundary frame (which grows linearly
    with users×activity) never funnels through one task: no
    single-partition window anywhere in the plan."""
    from ..operators.agg import global_cumsum

    gap_us = 30 * 60 * 1_000_000
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    wo = Window.partitionBy("user_id").orderBy("us")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        ev.withColumn(
            "_new",
            F.when(
                F.col("us") - F.lag("us").over(wo) <= gap_us, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn("sess", F.sum("_new").over(run))
        .groupBy("user_id", "sess")
        .agg(
            F.min("us").alias("start_us"),
            (F.max("us") + gap_us).alias("end_us"),
        )
    )
    pts = sess.select(
        F.col("start_us").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        sess.select(F.col("end_us").alias("t"), F.lit(-1).alias("delta"))
    )
    # distributed sweep: the (t, delta) range key preserves the
    # -1-before-+1 tie rule inside each range partition's local sort
    swept = global_cumsum(
        pts, [F.asc("t"), F.asc("delta")], "delta", out_col="live"
    )
    peak = swept.agg(F.max("live").alias("peak"))
    return (
        swept.crossJoin(F.broadcast(peak))
        .agg(
            F.max("live").cast("long").alias("peak_concurrent"),
            F.min(
                F.when(F.col("live") == F.col("peak"), F.col("t"))
            ).cast("long").alias("first_peak_us"),
            (F.count("*") / 2).cast("long").alias("n_sessions"),
        )
    )


@query(
    "image_ahash_fingerprints",
    """
    WITH img AS (
        SELECT doc_id, doc_id % 4 AS k,
               CASE WHEN doc_id % 4 = 0 THEN 8 + doc_id % 8
                    ELSE 4 + doc_id % 6 END AS w,
               CASE WHEN doc_id % 4 = 0 THEN 8 + doc_id % 4
                    ELSE 4 + doc_id % 5 END AS h
        FROM documents WHERE doc_id % 4 IN (0, 3)
    ),
    lum AS (
        SELECT doc_id, w, h,
               [ ((doc_id + 3 * (((b // 8) * h // 8) * w
                                 + ((b % 8) * w // 8))) % 256
                  + (doc_id + 3 * (((b // 8) * h // 8) * w
                                   + ((b % 8) * w // 8)) + 1) % 256
                  + (doc_id + 3 * (((b // 8) * h // 8) * w
                                   + ((b % 8) * w // 8)) + 2) % 256) // 3
                 FOR b IN range(0, 64) ] AS ls
        FROM img
    ),
    tot AS (SELECT *, list_sum(ls) AS total FROM lum)
    SELECT doc_id AS media_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(list_sum([CASE WHEN 64 * ls[b + 33] > total
                               THEN (1::BIGINT << b) ELSE 0 END
                          FOR b IN range(0, 32)]) AS BIGINT) AS ahash_hi,
           CAST(list_sum([CASE WHEN 64 * ls[b + 1] > total
                               THEN (1::BIGINT << b) ELSE 0 END
                          FOR b IN range(0, 32)]) AS BIGINT) AS ahash_lo,
           CAST(list_sum([CASE WHEN 64 * x > total THEN 1 ELSE 0 END
                          FOR x IN ls]) AS BIGINT) AS n_bits
    FROM tot
    """,
)
def image_ahash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash fingerprints over REAL decoded images
    (operators.multimodal.ahash_images): the corpus's synthesized
    PPM/PNG payloads are container-decoded (PNG: CRC walk + inflate +
    unfilter) and hashed via an 8×8 integer-NN luma grid with a strict
    mean threshold — the classic near-dup-image key.  The oracle
    recomputes every grid sample arithmetically from the known
    synthetic content formula ((doc_id + i) mod 256), so a hash match
    proves the ENTIRE decode → sample → threshold path byte-exact: a
    single wrong raster byte, NN index, or threshold tie flips bits."""
    from ..operators.multimodal import ahash_images, media_from_documents

    media = media_from_documents(
        _t(spark, sf_dir, "documents").select("doc_id")
    )
    return ahash_images(media)


@query(
    "audio_energy_fingerprints",
    """
    WITH aud AS (
        SELECT doc_id,
               8000 * (1 + doc_id % 2) AS rate,
               200 + (doc_id * 17) % 300 AS n
        FROM documents WHERE doc_id % 4 = 1
    ),
    en AS (
        SELECT doc_id, rate, n,
               [ list_sum([ ((doc_id + i) % 256 - 128)
                            * ((doc_id + i) % 256 - 128)
                            FOR i IN range(f * n // 32,
                                           (f + 1) * n // 32) ])
                 FOR f IN range(0, 32) ] AS es
        FROM aud
    ),
    tot AS (SELECT *, list_sum(es) AS total FROM en)
    SELECT doc_id AS media_id,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum([CASE WHEN 32 * es[f + 1] > total
                               THEN (1::BIGINT << f) ELSE 0 END
                          FOR f IN range(0, 32)]) AS BIGINT) AS afp,
           CAST(list_sum([CASE WHEN 32 * x > total THEN 1 ELSE 0 END
                          FOR x IN es]) AS BIGINT) AS n_bits
    FROM tot
    """,
)
def audio_energy_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio energy-profile fingerprints over REAL decoded PCM
    (operators.multimodal.fingerprint_audio) — the audio analog of
    image_ahash_fingerprints, completing multimodal near-dup parity:
    the corpus's synthesized WAV payloads are container-decoded (RIFF
    chunk walk + fmt validation) and fingerprinted via 32
    integer-split energy windows with a strict mean threshold.  The
    oracle recomputes every window energy arithmetically from the
    known synthetic content formula ((doc_id + i) mod 256 centered at
    128, squared), so a fingerprint match proves the ENTIRE decode →
    window → threshold path byte-exact: one wrong PCM byte, window
    boundary, or threshold tie flips bits."""
    from ..operators.multimodal import (
        fingerprint_audio,
        media_from_documents,
    )

    media = media_from_documents(
        _t(spark, sf_dir, "documents").select("doc_id")
    )
    return fingerprint_audio(media)


@query(
    "video_frame_ahash",
    """
    WITH vid AS (
        SELECT doc_id, 4 + doc_id % 4 AS w, 4 + doc_id % 3 AS h,
               1 + doc_id % 3 AS nf
        FROM documents WHERE doc_id % 4 = 2
    ),
    fr AS (
        SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM vid
    ),
    lum AS (
        SELECT doc_id, w, h, f,
               [ (doc_id + f * 3 * w * h
                  + ((b // 8) * h // 8) * w
                  + ((b % 8) * w // 8)) % 256
                 FOR b IN range(0, 64) ] AS ys
        FROM fr
    ),
    tot AS (SELECT *, list_sum(ys) AS total FROM lum)
    SELECT doc_id AS media_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(list_sum([CASE WHEN 64 * ys[b + 33] > total
                               THEN (1::BIGINT << b) ELSE 0 END
                          FOR b IN range(0, 32)]) AS BIGINT) AS fhash_hi,
           CAST(list_sum([CASE WHEN 64 * ys[b + 1] > total
                               THEN (1::BIGINT << b) ELSE 0 END
                          FOR b IN range(0, 32)]) AS BIGINT) AS fhash_lo,
           CAST(list_sum([CASE WHEN 64 * y > total THEN 1 ELSE 0 END
                          FOR y IN ys]) AS BIGINT) AS n_bits
    FROM tot
    """,
)
def video_frame_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame video aHash over REAL decoded YUV4MPEG2
    (operators.multimodal.ahash_video_frames) — completes the aHash
    family across image/audio/video: each frame's LUMA plane is
    grid-sampled 8×8 (integer NN) and mean-thresholded into a 64-bit
    shot-level near-dup key.  The oracle recomputes every grid sample
    arithmetically from the synthetic content formula (frame f's Y
    byte (y,x) = (doc_id + f·3wh + y·w + x) mod 256), so a hash match
    proves the header parse, frame walk, plane split, NN sampling,
    and threshold all byte-exact."""
    from ..operators.multimodal import (
        ahash_video_frames,
        media_from_documents,
    )

    media = media_from_documents(
        _t(spark, sf_dir, "documents").select("doc_id")
    )
    return ahash_video_frames(media)


@query(
    "dedup_repeated_spans",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    g0 AS (
        SELECT doc_id,
               [ {'pos': i, 'gram': array_to_string(tk[i:i + 7], ' ')}
                 FOR i IN range(1, len(tk) - 6) ] AS gs
        FROM t WHERE len(tk) >= 8
    ),
    g AS (
        SELECT doc_id, u.pos AS pos, u.gram AS gram
        FROM (SELECT doc_id, unnest(gs) AS u FROM g0)
    ),
    dup AS (
        SELECT gram FROM g GROUP BY gram
        HAVING min(doc_id) < max(doc_id)
    ),
    cov AS (SELECT DISTINCT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
    mk AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                      OR pos - lag(pos) OVER w > 7 THEN 1 ELSE 0 END AS brk
        FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    runs AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
        FROM mk
    ),
    sp AS (
        SELECT doc_id, run_id, min(pos) AS s, max(pos) + 7 AS e
        FROM runs GROUP BY doc_id, run_id
    ),
    per AS (
        SELECT doc_id, count(*) AS n_dup_spans,
               sum(e - s + 1) AS covered_tokens,
               max(e - s + 1) AS longest_span
        FROM sp GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(coalesce(per.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(per.covered_tokens, 0) AS BIGINT)
               AS covered_tokens,
           CAST(coalesce(per.longest_span, 0) AS BIGINT) AS longest_span,
           round(coalesce(per.covered_tokens, 0) * 1.0
                 / greatest(len(tk), 1), 4) AS covered_frac
    FROM t LEFT JOIN per USING (doc_id)
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document repeated spans
    (operators.text_dedup.duplicated_spans): the exact substring-level
    dedup profile of Lee et al. '22 at word granularity — positions
    whose 8-gram recurs in another document, merged into maximal spans
    per doc.  Catches verbatim borrowings that document hashing
    (different surroundings) and fixed passage grids (misaligned cuts)
    both miss; the covered_frac column is the drop/trim signal a
    curation pipeline thresholds on."""
    from ..operators.text_dedup import duplicated_spans

    return duplicated_spans(_t(spark, sf_dir, "documents"), width=8)


@query(
    "containment_prefix_join",
    """
    WITH sh AS (
        SELECT doc_id,
               CASE WHEN len(text) < 5 THEN [text]
                    ELSE list_distinct([substr(text, i, 5)
                                        FOR i IN range(1, len(text) - 3)])
               END AS s
        FROM documents
    ),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh WHERE len(s) > 0),
    toks AS (SELECT doc_id, unnest(s) AS g FROM sh),
    inter AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT ia AS contained_id, ib AS container_id,
           round(c::DOUBLE / sa.n, 6) AS containment
    FROM inter JOIN sizes sa ON ia = sa.doc_id
    WHERE c::DOUBLE / sa.n >= 0.8
    """,
)
def containment_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT containment self-join (5-gram shingles, C(A,B) =
    |A∩B|/|A| >= 0.8) via contained-side prefix filtering
    (operators.text_dedup.containment_join) — Broder '97's asymmetric
    resemblance measure, the subsumption-dedup signal Jaccard
    structurally misses (a short doc fully quoted inside a long one
    has J ~= |A|/|B| but containment 1.0).  The oracle is the all-pairs
    definition, so a hash match proves the prefix filter's
    zero-false-negative contract on this corpus."""
    from ..operators.text_dedup import containment_join

    return containment_join(
        _t(spark, sf_dir, "documents"), threshold=0.8, ngram=5
    )
