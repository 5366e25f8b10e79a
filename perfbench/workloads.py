"""The benchmark's workloads: closed loops with one client.

``ingest_steady`` feeds small files through ``pipeline.run_batch`` into
a pre-seeded target; ``query_mix`` runs read-only passes over registered
query lanes.  Each returns a :class:`Outcome`; ``run.py`` turns it into
the printed metrics.
"""

from __future__ import annotations

import os
import statistics
from contextlib import nullcontext
from dataclasses import dataclass, field
from time import perf_counter

import pyarrow.parquet as pq

from . import checks, gen, trace


@dataclass
class Outcome:
    setup_s: float
    latencies: list[float]  # timed batches, or timed query passes, in order
    rows: int  # rows committed by the timed batches / read by one pass
    busy_s: float  # summed batch wall / median pass wall
    attempted: int = 0
    failed: int = 0  # operations or checks that did not pass
    problems: list[str] = field(default_factory=list)
    per_layer: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it.  Below 20 samples that percentile would sit under
    the median, so the tail is then the maximum (reported as p100)."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


# ---------------------------------------------------------------------------
# ingest_steady
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class IngestSize:
    preseed_rows: int = 1_000_000
    file_rows: int = 10_000
    warmup_files: int = 2


#: Parquet files the pre-seed target is written as (Spark's own rewrite
#: of ``sales_tgt`` takes over from the first batch).
PRESEED_FILES = 4


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def _dir_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


_EXPECTED_ERROR = {"dup_uuid": "Duplicate uuid", "bad_date": "Invalid date format"}


def ingest_steady(spark, work: str, seed: int, seconds: float, traced: bool,
                  size: IngestSize = IngestSize()) -> Outcome:
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
        PipelineConfig, run_batch,
    )

    t0 = perf_counter()
    stream = gen.SalesStream(
        seed, size.preseed_rows, size.file_rows,
        invalid_phases=(size.warmup_files, size.warmup_files + 5),
    )
    inbox = os.path.join(work, "inbox")
    tgt = os.path.join(work, "wh", "sales_tgt")
    os.makedirs(inbox)
    os.makedirs(tgt)
    preseed = stream.preseed()
    step = -(-preseed.num_rows // PRESEED_FILES)
    for k in range(PRESEED_FILES):
        pq.write_table(preseed.slice(k * step, step),
                       os.path.join(tgt, f"part-{k:05d}.parquet"))
    # one file per measured second in set-up; if the batches run faster,
    # more are written between them, outside the timed calls
    files = [stream.write_file(i, inbox)
             for i in range(size.warmup_files + int(seconds) + 1)]
    setup_s = perf_counter() - t0

    cfg = PipelineConfig(
        lake_dir=os.path.join(work, "lake"),
        warehouse_dir=os.path.join(work, "wh"),
        quarantine_dir=os.path.join(work, "quarantine"),
    )
    tracer = trace.Tracer(spark.sparkContext)
    out = Outcome(setup_s, [], 0, 0.0)
    done: list[tuple[str, str | None]] = []
    traced_ops: dict[int, bool] = {}  # op -> valid
    lat_by_mode: dict[bool, list[float]] = {True: [], False: []}
    ratios: dict[str, list[float]] = {
        "writers.tgt_overwrite.bytes_per_batch_byte": [],
        "upsert.merge.rows_rewritten_per_row_in": [],
    }

    def one_batch(i: int, timed: bool) -> None:
        if i == len(files):
            files.append(stream.write_file(i, inbox))
        path, mutation = files[i]
        valid = mutation is None
        # every invalid batch is traced (they are rare and short); valid
        # ones alternate, so traced and untraced latencies can be compared
        tracer.active = traced and timed and (
            not valid or sum(1 for _, m in done if m is None) % 2 == 1
        )
        tracer.op = i
        tracer.begin("pipeline.run_batch")
        t = perf_counter()
        status = run_batch(spark, path, cfg)
        dt = perf_counter() - t
        tracer.end("pipeline.run_batch")
        out.attempted += 1
        done.append((path, mutation))
        want = "success" if valid else "failed"
        if status.get("status") != want or (
            not valid and _EXPECTED_ERROR[mutation] not in status.get("error", "")
        ):
            out.failed += 1
            out.problems.append(f"{os.path.basename(path)} ({mutation}): {status}")
        if not timed:
            return
        out.latencies.append(dt)
        out.busy_s += dt
        out.rows += size.file_rows if valid else 0
        if tracer.active:
            traced_ops[i] = valid
            if valid:
                ratios["writers.tgt_overwrite.bytes_per_batch_byte"].append(
                    _dir_bytes(tgt) / os.path.getsize(path))
                ratios["upsert.merge.rows_rewritten_per_row_in"].append(
                    _dir_rows(tgt) / size.file_rows)
            tracer.resolve()
        if valid:
            lat_by_mode[tracer.active].append(dt)

    w0 = perf_counter()
    with trace.pipeline_spans(tracer, cfg.lake_dir) if traced else nullcontext():
        for i in range(size.warmup_files):
            one_batch(i, timed=False)
        w1 = perf_counter()
        i = size.warmup_files
        while perf_counter() < w1 + seconds:
            one_batch(i, timed=True)
            i += 1
        tracer.active = False
    w2 = perf_counter()

    valid_files = [p for p, m in done if m is None]
    invalid_files = [p for p, m in done if m is not None]
    results = checks.check_ingest(
        cfg.warehouse_dir, cfg.lake_dir, cfg.quarantine_dir, preseed,
        valid_files, invalid_files,
        {p: size.file_rows for p, _ in done},
    )
    out.attempted += len(results)
    for problems in results.values():
        out.failed += bool(problems)
        out.problems.extend(problems)
    out.notes["phases"] = {"warm-up": w1 - w0, "window": w2 - w1,
                           "checks": perf_counter() - w2}
    if traced:
        out.per_layer = _ingest_layers(tracer, traced_ops, ratios, lat_by_mode,
                                       spark.sparkContext.defaultParallelism)
    return out


def _ingest_layers(tracer, traced_ops, ratios, lat_by_mode, cores) -> dict:
    ops = trace.per_op(tracer.spans)
    valid = {op: ops[op] for op, ok in traced_ops.items() if ok and op in ops}
    invalid = {op: ops[op] for op, ok in traced_ops.items() if not ok and op in ops}
    names = [n for n in trace.INGEST_SPANS if n != "writers.quarantine"]
    layers = trace.layer_medians(valid, names)
    layers.update(trace.layer_medians(invalid, ["writers.quarantine"]))
    for name, vals in ratios.items():
        layers[name] = statistics.median(vals) if vals else 0
    util = [
        o["pipeline.run_batch"]["executor_run_s"]
        / (o["pipeline.run_batch"]["wall_s"] * cores)
        for o in valid.values()
    ]
    layers["pipeline.run_batch.core_util"] = statistics.median(util) if util else 0
    traced, untraced = lat_by_mode[True], lat_by_mode[False]
    layers["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(untraced) - 1.0
        if traced and untraced else 0.0
    )
    return layers


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

#: Registered lanes and the star-schema tables each one reads.
#: ``ref_upsert`` is left out: it runs ``operators.upsert``, which the
#: ingest workload owns, and this workload must not move when that does.
LANES = {
    "ref_sales_summary": ("lineitem",),
    "winsorized_stats": ("lineitem",),
    "pagerank_part_graph": ("lineitem",),
    "dedup_minhash_lsh": ("documents",),
    "triangle_count_parts": ("lineitem",),
}
LANE_FIELDS = ("build_s", "exec_s", "jobs", "stages", "shuffle_write_bytes")


@dataclass(frozen=True)
class QuerySize:
    orders: int = 15_000
    docs: int = 500


def query_mix(spark, work: str, seed: int, seconds: float, traced: bool,
              size: QuerySize = QuerySize()) -> Outcome:
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.materialize import (  # noqa: E501
        release_checkpoints,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.plans.queries import (
        ORACLES, QUERIES,
    )

    t0 = perf_counter()
    star = gen.write_star_schema(seed, os.path.join(work, "star"),
                                 orders=size.orders, docs=size.docs)
    setup_s = perf_counter() - t0
    lanes = tuple(LANES)
    tables = sorted({t for lane in lanes for t in LANES[lane]})
    table_rows = {
        t: pq.ParquetFile(os.path.join(star, f"{t}.parquet")).metadata.num_rows
        for t in tables
    }
    pass_rows = sum(table_rows[t] for lane in lanes for t in LANES[lane])

    out = Outcome(setup_s, [], 0, 0.0)
    tracer = trace.Tracer(spark.sparkContext)

    # warm-up: the cold pass, which also collects every lane's answer for
    # the oracle check
    w0 = perf_counter()
    answers = {}
    for lane in lanes:
        release_checkpoints(spark)
        out.attempted += 1
        try:
            answers[lane] = QUERIES[lane](spark, star).toPandas()
        except Exception as e:  # a lane that raises is a failed operation
            out.failed += 1
            out.problems.append(f"{lane}: raised {type(e).__name__}: {e}")

    w1 = perf_counter()
    passes: list[dict[str, float]] = []
    lat_by_mode: dict[bool, dict[str, float]] = {True: {}, False: {}}
    # at least two passes: one sample is at the mercy of a slow spell of
    # the machine, and a traced run compares each lane traced and not
    while perf_counter() < w1 + seconds or len(passes) < 2:
        p = len(passes)
        walls = {}
        for k, lane in enumerate(lanes):
            release_checkpoints(spark)
            tracer.active = traced and (k + p) % 2 == 1
            tracer.op = p
            out.attempted += 1
            t = perf_counter()
            try:
                with tracer.span(f"queries.{lane}.build"):
                    df = QUERIES[lane](spark, star)
                with tracer.span(f"queries.{lane}.exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                out.failed += 1
                out.problems.append(f"{lane}: raised {type(e).__name__}: {e}")
                continue
            walls[lane] = perf_counter() - t
            lat_by_mode[tracer.active][lane] = walls[lane]
            if tracer.active:
                tracer.resolve()
        tracer.active = False
        passes.append(walls)
        out.latencies.append(sum(walls.values()))

    out.busy_s = statistics.median(out.latencies)
    out.notes["lanes"] = {
        lane: statistics.median(w[lane] for w in passes if lane in w)
        for lane in lanes if any(lane in w for w in passes)
    }
    out.rows = pass_rows
    out.notes["query_mix_wall_s"] = out.busy_s
    out.notes["passes"] = len(passes)

    w2 = perf_counter()
    oracle = checks.QueryOracle(star, tables)
    try:
        for lane, pdf in answers.items():
            out.attempted += 1
            problems = oracle.check(pdf, ORACLES[lane])
            out.failed += bool(problems)
            out.problems.extend(f"{lane}: {p}" for p in problems)
    finally:
        oracle.close()

    out.notes["phases"] = {"warm-up": w1 - w0, "window": w2 - w1,
                           "checks": perf_counter() - w2}
    if traced:
        out.per_layer = _query_layers(tracer, lanes, lat_by_mode)
    return out


def _query_layers(tracer, lanes, lat_by_mode) -> dict:
    ops = trace.per_op(tracer.spans)
    layers = {}
    for lane in lanes:
        b = trace.layer_medians(ops, [f"queries.{lane}.build"])
        e = trace.layer_medians(ops, [f"queries.{lane}.exec"])
        pre = f"queries.{lane}"
        layers[f"{pre}.build_s"] = b[f"{pre}.build.busy_s"]
        layers[f"{pre}.exec_s"] = e[f"{pre}.exec.busy_s"]
        for c in ("jobs", "stages", "shuffle_write_bytes"):
            layers[f"{pre}.{c}"] = b[f"{pre}.build.{c}"] + e[f"{pre}.exec.{c}"]
    ratio = [
        lat_by_mode[True][lane] / lat_by_mode[False][lane]
        for lane in lanes
        if lane in lat_by_mode[True] and lane in lat_by_mode[False]
    ]
    layers["trace.overhead_frac"] = statistics.median(ratio) - 1.0 if ratio else 0.0
    return layers


WORKLOADS = {"ingest_steady": ingest_steady, "query_mix": query_mix}
