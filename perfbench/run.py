"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_steady --seed 1 --seconds 15 --trace 0

Runs one workload on ``local[<nproc>]`` in one process, checks its
outputs, prints every metric by name with its unit and, as the last line
of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics.  All state lives in a temporary directory under
``.perfbench_tmp/`` at the repository root, removed before exit; the
exit code is 0 only when every operation and check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import traceback
from time import perf_counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "4g"

E2E_UNITS = {
    "setup_s": "s",
    "batch_latency_p50_s": "s",
    "batch_latency_tail_s": "s",
    "rows_per_s": "1/s",
}


def layer_units(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("jobs", "stages")):
        return "count"
    if name.endswith("_mb"):
        return "MiB"
    return "ratio"


def per_layer_names() -> list[str]:
    """Every per-layer metric, in a fixed order; each traced run reports
    all of them (0 for a layer its workload does not reach)."""
    from perfbench import trace, workloads

    names = [
        f"{span}.{c}" for span in trace.INGEST_SPANS
        for c in ("busy_s", *trace.COUNTERS)
    ]
    names += [
        "writers.tgt_overwrite.bytes_per_batch_byte",
        "upsert.merge.rows_rewritten_per_row_in",
        "pipeline.run_batch.core_util",
    ]
    names += [
        f"queries.{lane}.{f}" for lane in workloads.LANES
        for f in workloads.LANE_FIELDS
    ]
    return names + ["session.start_s", "session.jvm_peak_rss_mb",
                    "trace.overhead_frac"]


def _isolate(work: str, cpus: int) -> None:
    """Point every Spark and JVM scratch location into ``work`` before
    the JVM starts."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEMORY)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    java_opts = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 f"-Dderby.system.home={work} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


def _jvm_peak_rss_mb(sc) -> float:
    pid = sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # a signal cut a py4j call short; the JVM still goes
        traceback.print_exc()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def rows_per_s(out) -> float:
    # 0 only when every timed operation raised
    return out.rows / out.busy_s if out.busy_s else 0.0


def end_to_end(out) -> dict[str, float]:
    from perfbench.workloads import tail

    value, _ = tail(out.latencies)
    return {
        "setup_s": out.setup_s,
        "batch_latency_p50_s": statistics.median(out.latencies),
        "batch_latency_tail_s": value,
        "rows_per_s": rows_per_s(out),
    }


def report(workload: str, out, metrics: dict[str, float]) -> None:
    """Human-readable lines: every metric by name and unit, plus the
    names the two workloads use for their own throughput figure."""
    from perfbench.workloads import tail

    for name, value in metrics.items():
        unit = E2E_UNITS.get(name) or layer_units(name)
        print(f"{workload} {name} = {value:.6g} {unit}")
    if out.latencies:
        _, pct = tail(out.latencies)
        print(f"{workload} batch_latency_tail_s is p{pct:.0f} of "
              f"{len(out.latencies)} latency samples")
        if workload == "ingest_steady":
            print(f"{workload} ingest_rows_per_s = {rows_per_s(out):.6g} 1/s")
        else:
            print(f"{workload} query_mix_wall_s = {out.notes['query_mix_wall_s']:.6g} s "
                  f"(median of {out.notes['passes']} warm passes)")
            lanes = ", ".join(f"{k} {v:.2f} s" for k, v in out.notes["lanes"].items())
            print(f"{workload} lanes: {lanes}")
    phases = ", ".join(f"{k} {v:.1f} s" for k, v in out.notes["phases"].items())
    print(f"{workload} phases: setup {out.setup_s:.1f} s, {phases}")
    print(f"{workload} failed_op_share = {out.failed / max(out.attempted, 1):.6g} "
          f"({out.failed} of {out.attempted})")
    for p in out.problems:
        print(f"{workload} FAILED: {p}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    from enterprise_sales_data_pipeline_using_aws_lambda_spark import session

    cpus = len(os.sched_getaffinity(0))
    root = os.path.join(REPO, ".perfbench_tmp")
    os.makedirs(root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=root)
    cwd = os.getcwd()
    spark = None
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        _isolate(work, cpus)
        os.chdir(work)
        t0 = perf_counter()
        spark = session.get_spark("perfbench")
        start_s = perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        out = WORKLOADS[args.workload](
            spark, os.path.join(work, "run"), args.seed, args.seconds,
            bool(args.trace),
        )
        out.setup_s += start_s
        if args.trace:
            layers = dict.fromkeys(per_layer_names(), 0)
            layers.update(out.per_layer)
            layers["session.start_s"] = start_s
            layers["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark.sparkContext)
            metrics = layers
        else:
            metrics = end_to_end(out)
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            os.chdir(cwd)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(root)
            except OSError:
                pass  # another run still uses it

    report(args.workload, out, metrics)
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {
            n: {"value": v, "unit": E2E_UNITS.get(n) or layer_units(n)}
            for n, v in metrics.items()
        },
    }))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
