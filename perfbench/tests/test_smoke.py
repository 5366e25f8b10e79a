"""Tiny-size runs of each workload on one shared Spark session: outputs
check out, a planted wrong answer is caught, and the traced spans account
for the batch wall."""

import os

import numpy as np
import pytest

from perfbench import gen, run, trace, workloads

TINY_INGEST = workloads.IngestSize(preseed_rows=3000, file_rows=200,
                                   warmup_files=1)
TINY_QUERY = workloads.QuerySize(orders=900, docs=80)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    saved = dict(os.environ)
    run._isolate(work, min(2, len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    run._stop(s)
    os.environ.clear()
    os.environ.update(saved)


def test_ingest_steady_tiny_traced(spark, tmp_path):
    out = workloads.ingest_steady(spark, str(tmp_path / "w"), seed=5,
                                  seconds=6, traced=True, size=TINY_INGEST)
    assert out.failed == 0, out.problems
    assert len(out.latencies) >= 3 and out.rows > 0
    layers = out.per_layer
    for span in trace.INGEST_SPANS:
        if span != "writers.quarantine":
            assert layers[f"{span}.busy_s"] > 0, span
    assert layers["pipeline.run_batch.jobs"] >= layers["upsert.merge.jobs"] > 0
    assert layers["upsert.merge.rows_rewritten_per_row_in"] > 1
    assert 0 < layers["pipeline.run_batch.core_util"] <= 1


def test_ingest_spans_account_for_the_batch_wall(spark, tmp_path):
    tracer = trace.Tracer(spark.sparkContext)
    tracer.active = True
    stream = gen.SalesStream(9, 2000, 100, invalid_phases=(5, 10))
    os.makedirs(tmp_path / "in")
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
        PipelineConfig, run_batch,
    )

    cfg = PipelineConfig(str(tmp_path / "lake"), str(tmp_path / "wh"),
                         str(tmp_path / "q"))
    with trace.pipeline_spans(tracer, cfg.lake_dir):
        for i in range(3):
            path, _ = stream.write_file(i, str(tmp_path / "in"))
            tracer.op = i
            tracer.begin("pipeline.run_batch")
            assert run_batch(spark, path, cfg)["status"] == "success"
            tracer.end("pipeline.run_batch")
    tracer.resolve()
    for op, rows in trace.per_op(tracer.spans).items():
        wall = rows["pipeline.run_batch"]["wall_s"]
        assert sum(r["busy_s"] for r in rows.values()) == pytest.approx(wall)
        assert set(rows) == set(trace.INGEST_SPANS) - {"writers.quarantine"}
        if op > 0:  # the first batch creates sales_tgt, so reads none
            assert rows["upsert.merge"]["stages"] > 0


def test_query_mix_tiny_traced(spark, tmp_path):
    out = workloads.query_mix(spark, str(tmp_path / "w"), seed=5, seconds=1,
                              traced=True, size=TINY_QUERY)
    assert out.failed == 0, out.problems
    assert out.notes["passes"] == 2
    assert len(out.latencies) == 2  # one latency per pass
    for lane in workloads.LANES:
        assert out.per_layer[f"queries.{lane}.exec_s"] > 0
        assert out.per_layer[f"queries.{lane}.jobs"] > 0
    assert out.per_layer["queries.pagerank_part_graph.build_s"] > 0


def test_planted_wrong_summary_row_fails_the_ingest_run(spark, tmp_path, monkeypatch):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark import pipeline
    from pyspark.sql import functions as F

    real = pipeline.sales_summary

    def wrong(df, *a, **k):
        out = real(df, *a, **k)
        return out.withColumn(
            "max_units_sold",
            F.when(F.col("Country") == "Kenya", F.col("max_units_sold") + 1)
            .otherwise(F.col("max_units_sold")),
        )

    monkeypatch.setattr(pipeline, "sales_summary", wrong)
    out = workloads.ingest_steady(spark, str(tmp_path / "w"), seed=6,
                                  seconds=1, traced=False, size=TINY_INGEST)
    assert out.failed == 1
    assert any("sales_summary[Kenya]" in p for p in out.problems)


def test_planted_wrong_query_row_fails_the_query_run(spark, tmp_path, monkeypatch):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.plans import queries
    from pyspark.sql import functions as F

    real = queries.QUERIES["ref_sales_summary"]

    def wrong(s, d):
        out = real(s, d)
        return out.withColumn("max_units_sold", F.col("max_units_sold") + 1)

    monkeypatch.setitem(queries.QUERIES, "ref_sales_summary", wrong)
    out = workloads.query_mix(spark, str(tmp_path / "w"), seed=5, seconds=0,
                              traced=False, size=TINY_QUERY)
    assert out.failed == 1
    assert out.problems[0].startswith("ref_sales_summary: values differ")


@pytest.mark.xfail(strict=True, reason=(
    "read_sales applies the explicit ingest schema, so a non-numeric value "
    "or a missing column becomes NULL and the file passes validation"))
@pytest.mark.parametrize("kind", ["non_numeric", "missing_column"])
@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_schema_mutations_are_quarantined(spark, tmp_path, kind, fmt):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
        PipelineConfig, run_batch,
    )

    rows = gen.sales_rows(np.random.default_rng(0), np.arange(10**8, 10**8 + 50))
    path = str(tmp_path / f"bad.{fmt}")
    gen.write_sales(path, rows, fmt, kind, np.random.default_rng(1))
    cfg = PipelineConfig(str(tmp_path / "lake"), str(tmp_path / "wh"),
                         str(tmp_path / "q"))
    assert run_batch(spark, path, cfg)["status"] == "failed"


@pytest.mark.xfail(strict=True, reason=(
    "a value of exactly x.xx5 rounds half-up in Spark (e.g. 18332.48) and "
    "by its binary double in DuckDB (18332.47)"))
@pytest.mark.parametrize("lane,seed", [
    ("percentile_summary", 1), ("mad_robust_spread", 13),
    ("q3_shipping_priority", 21),
])
def test_rounding_tie_matches_the_oracle(spark, tmp_path, lane, seed):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.plans.queries import (
        ORACLES, QUERIES,
    )

    from perfbench import checks

    star = gen.write_star_schema(seed, str(tmp_path / "star"))
    oracle = checks.QueryOracle(star, ["customer", "orders", "lineitem"])
    try:
        got = QUERIES[lane](spark, star).toPandas()
        assert oracle.check(got, ORACLES[lane]) == []
    finally:
        oracle.close()
