"""Zero-extra-scan pipeline metrics via ``DataFrame.observe``.

The reference logs row counts and validation outcomes as it goes
(reference ``lambda.py:77-79, 128-131`` print statements).  At 100 TB a
metrics pass CANNOT be a second job — every ``df.count()`` for
bookkeeping is a full re-scan.  ``observe`` attaches aggregates to the
SAME action that writes the data: metrics ride the write job's
task results back to the driver for free.

Caveat (pinned by the test): ``observe`` rejects DISTINCT aggregates
(``INVALID_OBSERVED_METRICS``) — use ``approx_count_distinct``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed(
    df: DataFrame, name: str, *metrics: Column
) -> tuple[DataFrame, Observation]:
    """Attach ``metrics`` to ``df``; returns (df, observation).

    After ANY action on the returned frame (a write, a count), the
    observation's ``.get`` yields the metric values computed during
    that action — no second scan.  Standard usage::

        df2, obs = observed(df, "ingest",
                            F.count(F.lit(1)).alias("rows"),
                            F.sum("amount").alias("total"))
        write_partitioned_parquet(df2, ...)
        metrics = obs.get           # {'rows': ..., 'total': ...}
    """
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def ingest_metrics(
    df: DataFrame, name: str = "ingest"
) -> tuple[DataFrame, Observation]:
    """The per-batch metric set ``run_batch`` returns: ``rows``,
    ``revenue`` (sum of ``TotalRevenue``) and ``approx_distinct_keys``.
    DISTINCT aggregates are disallowed in observed metrics (they'd need
    a second shuffle); the HLL sketch is the observe-compatible form."""
    from ..schema import SALES_KEY_COLUMN

    return observed(
        df,
        name,
        F.count(F.lit(1)).alias("rows"),
        F.sum("TotalRevenue").alias("revenue"),
        F.approx_count_distinct(SALES_KEY_COLUMN, rsd=0.01).alias(
            "approx_distinct_keys"
        ),
    )
