"""Spans around the calls into each layer, plus Spark counters per span.

:class:`Tracer` records one :class:`Span` (name, start, end, parent) for
each call into a layer's public function.  Each span runs its Spark jobs
under its own job group, so after the operation the jobs, stages, executor
times and shuffle bytes of every span can be read back from Spark's status
store.  The codegen counter (``CodegenMetrics.METRIC_COMPILATION_TIME``) is
read at both ends of a span.  Spans stay in memory until the run writes
them out.

:func:`traced_layers` swaps each layer entry point for a wrapper that opens
a span and materializes the layer's output (persist + count) before the
span closes, so a lazy plan does its work inside the span of the layer
that built it.  The originals are put back when the block exits.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

# additive per-span counters; self values subtract the children's
GENERIC = ("wall_ms", "driver_gap_ms", "executor_run_ms", "executor_cpu_ms",
           "jobs", "stages", "shuffle_bytes", "codegen_compiles", "rows_out")


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    op: int
    start: float = 0.0          # epoch seconds, comparable to stage times
    end: float = 0.0
    codegen: int = 0            # compiles during the span, children included
    rows_out: int = 0
    extra: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)
    stages: list = field(default_factory=list)   # (start, end, run_ms, cpu_ms, shuffle)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    def to_json(self) -> dict:
        return {"name": self.name, "id": self.id, "parent": self.parent,
                "op": self.op, "start": self.start, "end": self.end,
                "codegen_compiles": self.codegen, "rows_out": self.rows_out,
                "jobs": self.jobs, "stages": self.stages, **self.extra}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._codegen = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                         .METRIC_COMPILATION_TIME())
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = 0

    def codegen_count(self) -> int:
        return int(self._codegen.getCount())

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id",
                                 span.group if span else None)
        self.sc.setLocalProperty("spark.job.description",
                                 span.name if span else None)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, len(self.spans), parent.id if parent else None, self.op)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        c0 = self.codegen_count()
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            s.codegen = self.codegen_count() - c0
            self._stack.pop()
            self._set_group(parent)

    # -- reading Spark's status store after an operation -------------------

    def collect(self, op: int) -> None:
        """Fill jobs and stage timings of every span of one operation."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        for s in self.spans:
            if s.op != op:
                continue
            seen = set()
            for jid in sorted(tracker.getJobIdsForGroup(s.group)):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs.append(jid)
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    stage = _stage_row(store, sid)
                    if stage:
                        s.stages.append(stage)


def _stage_row(store, sid):
    """(start_s, end_s, run_ms, cpu_ms, shuffle_write_bytes) of the last
    attempt of a stage that ran, else None (skipped or evicted)."""
    seq = store.stageData(sid, False, None, False, None)
    if seq.isEmpty():
        return None
    st = seq.apply(seq.size() - 1)
    if not (st.submissionTime().isDefined() and st.completionTime().isDefined()):
        return None
    return (st.submissionTime().get().getTime() / 1e3,
            st.completionTime().get().getTime() / 1e3,
            int(st.executorRunTime()), int(st.executorCpuTime()) / 1e6,
            int(st.shuffleWriteBytes()))


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_self_metrics(spans: list[Span]) -> dict[int, dict]:
    """Per span id: GENERIC counters of the span's own work (its own jobs;
    wall, driver gap and compiles minus those of its children)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = children.get(s.id, [])
        wall = (s.end - s.start) - sum(k.end - k.start for k in kids)
        busy = _covered([(a, b) for a, b, *_ in s.stages], s.start, s.end)
        out[s.id] = {
            "wall_ms": wall * 1e3,
            "driver_gap_ms": max(0.0, wall - busy) * 1e3,
            "executor_run_ms": sum(st[2] for st in s.stages),
            "executor_cpu_ms": sum(st[3] for st in s.stages),
            "jobs": len(s.jobs),
            "stages": len(s.stages),
            "shuffle_bytes": sum(st[4] for st in s.stages),
            "codegen_compiles": s.codegen - sum(k.codegen for k in kids),
            "rows_out": s.rows_out,
        }
    return out


# ---------------------------------------------------------------------------
# layer wrappers
# ---------------------------------------------------------------------------

def _materialize(obj) -> int:
    """persist + count a DataFrame, or each DataFrame of a dict; rows."""
    from pyspark.sql import DataFrame

    if isinstance(obj, DataFrame):
        return obj.persist().count()
    if isinstance(obj, dict):
        return sum(_materialize(v) for v in obj.values())
    return 0


def _wrap(tracer: Tracer, layer: str, fn, output, after):
    """``fn`` inside a span; ``output`` picks what of the result to
    materialize (None: nothing, for orchestration and sinks)."""
    def wrapper(*args, **kwargs):
        with tracer.span(layer) as s:
            s.extra["fn"] = fn.__name__
            out = fn(*args, **kwargs)
            if output:
                s.rows_out = _materialize(output(out))
            if after:
                after(s, out, args)
        return out

    wrapper.__wrapped__ = fn
    return wrapper


def _same(out):
    return out


def _subset_tables(res):
    return res.tables


def _subset_extra(s: Span, res, args) -> None:
    s.extra["iterations"] = res.iterations


def _dump_extra(s: Span, info, args) -> None:
    store = args[0]
    d = os.path.join(store.root, info.directory_name)
    s.extra["bytes_written"] = info.size
    s.extra["files_written"] = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs)


@contextlib.contextmanager
def traced_layers(tracer: Tracer, bench_module):
    """Patch every layer entry point the workloads reach; restore on exit.

    Entry points are patched where the caller looks them up: names imported
    into ``plans.pipeline`` at module load are patched there, names the
    pipeline imports at call time are patched on their own module."""
    import replibyte_spark.catalog as catalog
    import replibyte_spark.functions.pii as pii
    import replibyte_spark.operators.dedup as dedup
    import replibyte_spark.plans.pipeline as pipeline
    import replibyte_spark.sinks.sqldump_sink as sqlsink
    import replibyte_spark.sources.sqldump as sqldump
    from replibyte_spark.sinks.datastore import Datastore

    # (owner, attribute, layer, what to materialize, extra counters)
    targets = [
        (pipeline.DumpPipeline, "run", "plans.pipeline", None, None),
        (pipeline.RestorePipeline, "run", "plans.pipeline", None, None),
        (sqldump, "read_sql_dump", "sources.sqldump", _same, None),
        (catalog, "load_table", "catalog", _same, None),
        (pipeline, "hash_percent_filter", "operators.subset", _same, None),
        (pipeline, "subset_closure", "operators.subset", _subset_tables,
         _subset_extra),
        (pipeline, "apply_transformers", "functions.transformers", _same, None),
        (Datastore, "dump", "sinks.datastore.dump", None, _dump_extra),
        (Datastore, "restore", "sinks.datastore.restore", _same, None),
        (sqlsink, "write_sql_dump", "sinks.sqldump_sink", None, None),
        (pii, "scrub_pii", "functions.pii", _same, None),
        (dedup, "minhash_candidate_pairs", "operators.dedup", _same, None),
        (dedup, "minhash_near_dup_pairs", "operators.dedup", _same, None),
        (dedup, "keep_canonical", "operators.dedup", _same, None),
        (bench_module, "write_parquet", "io.write", None, None),
    ]
    saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, *_ in targets]
    try:
        for owner, attr, layer, output, after in targets:
            setattr(owner, attr, _wrap(tracer, layer, owner.__dict__[attr],
                                       output, after))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


# ---------------------------------------------------------------------------
# per-layer report
# ---------------------------------------------------------------------------

LAYERS = ("sources.sqldump", "catalog", "operators.subset",
          "functions.transformers", "sinks.datastore.dump",
          "sinks.datastore.restore", "sinks.sqldump_sink", "functions.pii",
          "operators.dedup", "plans.pipeline", "io.write")
UNITS = {"wall_ms": "ms", "driver_gap_ms": "ms", "executor_run_ms": "ms",
         "executor_cpu_ms": "ms", "jobs": "count", "stages": "count",
         "shuffle_bytes": "bytes", "codegen_compiles": "count",
         "rows_out": "rows"}
EXTRAS = {"operators.subset.keep_ratio": "ratio",
          "operators.subset.iterations": "count",
          "operators.dedup.candidate_pairs": "count",
          "operators.dedup.verified_pairs": "count",
          "operators.dedup.verify_yield": "ratio",
          "operators.dedup.removed_docs": "count",
          "sinks.datastore.bytes_written": "bytes",
          "sinks.datastore.files_written": "count"}


def op_layers(spans: list[Span]) -> tuple[dict, dict]:
    """For the spans of one op: (layer -> summed self counters,
    layer-specific extras, plus the wall of the top-level spans)."""
    self_m = span_self_metrics(spans)
    per: dict[str, dict] = {}
    by_fn: dict[str, list[Span]] = {}
    for s in spans:
        acc = per.setdefault(s.name, dict.fromkeys(GENERIC, 0))
        for k, v in self_m[s.id].items():
            acc[k] += v
        by_fn.setdefault(s.extra.get("fn"), []).append(s)

    def rows(fn):
        return sum(s.rows_out for s in by_fn.get(fn, []))

    ex = {"top_spans_ms": sum(s.end - s.start for s in spans
                              if s.parent is None) * 1e3}
    if "subset_closure" in by_fn:
        src = rows("read_sql_dump") + rows("load_table")
        ex["operators.subset.keep_ratio"] = rows("subset_closure") / max(src, 1)
        ex["operators.subset.iterations"] = \
            by_fn["subset_closure"][0].extra["iterations"]
    cand = rows("minhash_candidate_pairs")
    if cand:
        ex["operators.dedup.candidate_pairs"] = cand
        ex["operators.dedup.verified_pairs"] = rows("minhash_near_dup_pairs")
        ex["operators.dedup.verify_yield"] = rows("minhash_near_dup_pairs") / cand
        ex["operators.dedup.removed_docs"] = (rows("scrub_pii")
                                              - rows("keep_canonical"))
    for key in ("bytes_written", "files_written"):
        if "dump" in by_fn:
            ex[f"sinks.datastore.{key}"] = sum(s.extra[key]
                                               for s in by_fn["dump"])
    return per, ex


def layer_report(tracer: Tracer, first_op: int, plain: list, traced: list,
                 session_s: float) -> dict:
    """Per-layer metrics: medians over the traced warm ops.

    ``plain`` holds the iteration records of untraced ops, ``traced``
    holds (op id, wall_s, OpResult) of traced ones; a layer an op never
    reached reports 0."""
    from statistics import median

    def spans_of(op):
        return [s for s in tracer.spans if s.op == op]

    ops = [(*op_layers(spans_of(op)), wall, res) for op, wall, res in traced]
    out: dict[str, tuple] = {"session.wall_ms": (session_s * 1e3, "ms")}
    for layer in LAYERS:
        for m in GENERIC:
            out[f"{layer}.{m}"] = (
                median(per.get(layer, {}).get(m, 0) for per, *_ in ops),
                UNITS[m])
    for name, unit in EXTRAS.items():
        out[name] = (median(ex.get(name, 0) for _, ex, *_ in ops), unit)
    out["functions.pii.residual_matches"] = (
        median(res.info.get("residual_matches", 0) for *_, res in ops),
        "count")
    traced_ms = median(wall for *_, wall, _ in ops) * 1e3
    plain_ms = median(it["wall_s"] for it in plain) * 1e3
    first, _ = op_layers(spans_of(first_op))
    out.update({
        "op.traced_wall_ms": (traced_ms, "ms"),
        "op.untraced_wall_ms": (plain_ms, "ms"),
        "op.tracing_overhead_ms": (traced_ms - plain_ms, "ms"),
        "op.uncovered_ms": (median(wall * 1e3 - ex["top_spans_ms"]
                                   for _, ex, wall, _ in ops), "ms"),
        "op.leaked_persistent_rdds": (
            median(it["leaked_rdds"] for it in plain), "count"),
        # the two phases of an untraced op (dump create, dump restore)
        "op.dump_ms": (median(it["dump_s"] for it in plain) * 1e3, "ms"),
        "op.restore_ms": (median(it["restore_s"] for it in plain) * 1e3, "ms"),
    })
    for m in ("jobs", "codegen_compiles", "driver_gap_ms"):
        out[f"first_op.{m}"] = (sum(p[m] for p in first.values()), UNITS[m])
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
