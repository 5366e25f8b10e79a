"""The command line: its exit code, its last output line, and what it
leaves behind."""

import json
import os
import shutil
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _last_json(stdout: str):
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def test_fails_fast_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_steady",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert _last_json(p.stdout) is None


def test_planted_wrong_answer_exits_nonzero_and_leaves_nothing(tmp_path):
    script = textwrap.dedent(f"""
        import functools, sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from perfbench import run, workloads
        from enterprise_sales_data_pipeline_using_aws_lambda_spark import pipeline

        real = pipeline.sales_summary
        pipeline.sales_summary = lambda df: real(df).withColumn(
            "max_units_sold", F.col("max_units_sold") + 1)
        workloads.WORKLOADS["ingest_steady"] = functools.partial(
            workloads.ingest_steady,
            size=workloads.IngestSize(3000, 200, 1))
        sys.exit(run.main(["--workload", "ingest_steady", "--seed", "3",
                           "--seconds", "2", "--trace", "0"]))
    """)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    tmp_root = os.path.join(REPO, ".perfbench_tmp")
    before = set(os.listdir(tmp_root)) if os.path.isdir(tmp_root) else set()
    p = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 1, p.stderr[-2000:]
    res = _last_json(p.stdout)
    assert res["correct"] is False and res["failed"] == 1
    assert set(res["metrics"]) == {
        "setup_s", "batch_latency_p50_s", "batch_latency_tail_s", "rows_per_s"}
    assert "failed_op_share" in p.stdout
    assert os.listdir(tmp_path) == []  # no spark-warehouse, derby.log, ...
    after = set(os.listdir(tmp_root)) if os.path.isdir(tmp_root) else set()
    assert after <= before  # its work directory is gone


def test_benchmark_json_lists_every_reported_metric():
    from perfbench import run

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    for m in bench["per_layer"]:
        assert m["unit"] == run.layer_units(m["name"])
