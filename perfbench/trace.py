"""Spans around calls into the engine's layers, recorded from outside.

A :class:`Tracer` opens a span per layer call: name, start, end, parent
span and the id of the operation (ingest batch or query pass) it belongs
to.  While a span is innermost, the Spark jobs it launches carry its job
group, so each span's jobs, stages, executor run time and shuffle write
bytes are read back from the status tracker and status store (both work
with ``spark.ui.enabled=false``).  Spans stay in memory; counters are
resolved once an operation has finished, outside its timed region.

The wrappers replace the names ``pipeline`` resolves at call time and put
the originals back on exit; the engine's own files are never edited.
"""

from __future__ import annotations

import functools
import statistics
from contextlib import contextmanager
from dataclasses import dataclass, field
from time import perf_counter

JOB_GROUP = "spark.jobGroup.id"

#: Ingest spans, in the order ``run_batch_frame`` reaches them.
INGEST_SPANS = (
    "readers.read_sales",
    "validate.validate_batch",
    "materialize.pin_valid",
    "writers.lake_append",
    "writers.log_append",
    "writers.read_target",
    "upsert.merge",
    "writers.tgt_overwrite",
    "agg.summary_overwrite",
    "writers.quarantine",
    "pipeline.run_batch",
)
COUNTERS = ("jobs", "stages", "executor_run_s", "shuffle_write_bytes")


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    op: int | None
    group: str
    start: float = 0.0
    end: float | None = None
    job_ids: list = field(default_factory=list)
    counters: dict | None = None


class Tracer:
    """Records spans while ``active``; a no-op otherwise, so the same
    wrapped entry points serve traced and untraced operations."""

    def __init__(self, sc):
        self.sc = sc
        self.active = False
        self.op: int | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups: list[str | None] = []

    def begin(self, name: str) -> Span | None:
        if not self.active:
            return None
        parent = self._stack[-1].id if self._stack else None
        s = Span(name, len(self.spans), parent, self.op,
                 f"perfbench-{len(self.spans)}")
        self.spans.append(s)
        self._stack.append(s)
        self._groups.append(self.sc.getLocalProperty(JOB_GROUP))
        self.sc.setLocalProperty(JOB_GROUP, s.group)
        s.start = perf_counter()
        return s

    def end(self, name: str) -> None:
        """Close the innermost open span called ``name`` and any span
        still open inside it (a layer call that raised mid-span)."""
        if not any(s.name == name for s in self._stack):
            return
        now = perf_counter()
        while True:
            s = self._stack.pop()
            s.end = now
            s.job_ids = list(
                self.sc.statusTracker().getJobIdsForGroup(s.group)
            )
            self.sc.setLocalProperty(JOB_GROUP, self._groups.pop())
            if s.name == name:
                return

    def is_open(self, name: str) -> bool:
        return any(s.name == name for s in self._stack)

    @contextmanager
    def span(self, name: str):
        self.begin(name)
        try:
            yield
        finally:
            self.end(name)

    def resolve(self) -> None:
        """Fill in the counters of every finished span.  Waits for the
        listener bus first so the status store has the last stage."""
        todo = [s for s in self.spans if s.counters is None and s.end is not None]
        if not todo:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in todo:
            c = dict.fromkeys(COUNTERS, 0)
            for jid in s.job_ids:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["executor_run_s"] += st.executorRunTime() / 1000.0
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            s.counters = c


def self_time(span: Span, children: list[Span]) -> float:
    """Span wall minus the part of it its children cover (overlapping
    children count once)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    ):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start) - covered


def per_op(spans: list[Span]) -> dict[int, dict[str, dict]]:
    """op id -> span name -> {busy_s (self time), wall_s, and counters
    summed over the span's subtree}, each summed over the op's spans of
    that name."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def subtree(s: Span) -> dict:
        c = dict(s.counters or dict.fromkeys(COUNTERS, 0))
        for k in kids.get(s.id, []):
            for key, v in subtree(k).items():
                c[key] += v
        return c

    out: dict[int, dict[str, dict]] = {}
    for s in spans:
        if s.end is None:
            continue
        row = out.setdefault(s.op, {}).setdefault(
            s.name, {"busy_s": 0.0, "wall_s": 0.0, **dict.fromkeys(COUNTERS, 0)}
        )
        row["busy_s"] += self_time(s, kids.get(s.id, []))
        row["wall_s"] += s.end - s.start
        for key, v in subtree(s).items():
            row[key] += v
    return out


def layer_medians(ops: dict[int, dict[str, dict]], names) -> dict[str, float]:
    """``<span>.<field>`` -> median over the ops that called the span
    (0 for a layer the workload never reaches)."""
    out = {}
    for name in names:
        rows = [o[name] for o in ops.values() if name in o]
        for key in ("busy_s", *COUNTERS):
            vals = [r[key] for r in rows]
            out[f"{name}.{key}"] = statistics.median(vals) if vals else 0
    return out


@contextmanager
def pipeline_spans(tracer: Tracer, lake_dir: str):
    """Wrap every layer entry point ``pipeline.run_batch_frame`` resolves.

    Two spans cover a pair of calls: ``upsert.merge`` runs from
    ``upsert_keep_last`` through the merge pin (the next ``materialize``),
    and ``agg.summary_overwrite`` from ``sales_summary`` through its
    ``write_serving_table``."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark import (
        pipeline as P,
    )

    orig = {n: getattr(P, n) for n in (
        "read_sales", "validate_batch", "materialize", "append_log_idempotent",
        "read_serving_table", "upsert_keep_last", "write_serving_table",
        "sales_summary", "write_quarantine",
    )}

    def leaf(span_name, fn):
        @functools.wraps(fn)
        def wrapped(*a, **k):
            with tracer.span(span_name):
                return fn(*a, **k)
        return wrapped

    def opener(span_name, fn):
        @functools.wraps(fn)
        def wrapped(*a, **k):
            tracer.begin(span_name)
            return fn(*a, **k)
        return wrapped

    def append_log(spark, df, path, *a, **k):
        name = "writers.lake_append" if path == lake_dir else "writers.log_append"
        with tracer.span(name):
            return orig["append_log_idempotent"](spark, df, path, *a, **k)

    def materialize(*a, **k):
        if tracer.is_open("upsert.merge"):
            try:
                return orig["materialize"](*a, **k)
            finally:
                tracer.end("upsert.merge")
        with tracer.span("materialize.pin_valid"):
            return orig["materialize"](*a, **k)

    def write_serving(df, warehouse_dir, table, *a, **k):
        if table == "sales_summary":
            try:
                return orig["write_serving_table"](df, warehouse_dir, table, *a, **k)
            finally:
                tracer.end("agg.summary_overwrite")
        name = "writers.tgt_overwrite" if table == "sales_tgt" else f"writers.{table}"
        with tracer.span(name):
            return orig["write_serving_table"](df, warehouse_dir, table, *a, **k)

    patched = {
        "read_sales": leaf("readers.read_sales", orig["read_sales"]),
        "validate_batch": leaf("validate.validate_batch", orig["validate_batch"]),
        "materialize": materialize,
        "append_log_idempotent": append_log,
        "read_serving_table": leaf("writers.read_target", orig["read_serving_table"]),
        "upsert_keep_last": opener("upsert.merge", orig["upsert_keep_last"]),
        "write_serving_table": write_serving,
        "sales_summary": opener("agg.summary_overwrite", orig["sales_summary"]),
        "write_quarantine": leaf("writers.quarantine", orig["write_quarantine"]),
    }
    for n, fn in patched.items():
        setattr(P, n, fn)
    try:
        yield
    finally:
        for n, fn in orig.items():
            setattr(P, n, fn)
