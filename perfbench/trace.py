"""Layer spans for the traced run, with Spark's own counters diffed across
each span.

A span records its name, layer, start, end, parent span and run id. At
every span boundary the tracer waits for Spark's listener bus to drain and
assigns the jobs, stages and SQL executions that finished since the last
boundary to the innermost open span, so each counter lands in exactly one
span. The counters come from the application status store
(``SparkContext.statusStore`` for jobs and stages, the SQL status store for
SQL metrics), which Spark keeps with the UI disabled.

``Tracer.lazy`` runs a layer's public function, forces its result with a
``noop`` write inside the span, then materializes the result outside the
span (``localCheckpoint``) so the next layer starts from computed data.
``Tracer.patched`` applies the same wrapping to the functions that the
engine's own compositions (``run_ingest``, ``run_rollup_job``, the queries,
``run_corpus_export``) call, by swapping module attributes for the duration
of the traced pass. Spans stay in memory until :meth:`Tracer.dump`.

``NullTracer`` has the same interface and does nothing, so the untraced
run executes the very same workload code.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import json
import re
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

COUNTERS = ("jobs", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
            "python_bytes", "scan_bytes", "peak_hash_bytes")

# SQL metric name -> (counter, how to combine task values)
_SQL_METRICS = {
    "data returned from Python workers": ("python_bytes", "sum"),
    "size of files read": ("scan_bytes", "sum"),
    "data size of build side": ("peak_hash_bytes", "max"),
    "peak memory": ("peak_hash_bytes", "max"),
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_SIZE = re.compile(r"([\d.,]+)\s*(EiB|PiB|TiB|GiB|MiB|KiB|B)\b")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")


def parse_size(text: str, how: str) -> int:
    """Bytes from a formatted SQL size metric.

    The store formats one value as ``"12.0 KiB"`` and several task values as
    ``"total (min, med, max (stageId: taskId))\\n12.0 KiB (1.0 KiB, 3.0 KiB,
    4.0 KiB (stage 3.0: task 5))"``. ``how`` is ``"sum"`` for the total or
    ``"max"`` for the largest task value.
    """
    body = text.split("\n", 1)[-1]
    sizes = [float(v.replace(",", "")) * _UNITS[u] for v, u in _SIZE.findall(body)]
    if not sizes:
        return 0
    if how == "max" and len(sizes) >= 4:
        return int(sizes[3])
    return int(sizes[0])


class StatusCounters:
    """Counters of the Spark work finished since the previous :meth:`drain`."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus.waitUntilEmpty()
        self._seen_jobs = set(self._tracker.getJobIdsForGroup())
        self._seen_stages: set[int] = set()
        self._next_exec = self._first_unseen_execution(0)

    def _first_unseen_execution(self, start: int) -> int:
        i, misses, nxt = start, 0, start
        while misses < 3:
            if self._sql.execution(i).isDefined():
                nxt, misses = i + 1, 0
            else:
                misses += 1
            i += 1
        return nxt

    def drain(self) -> dict:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        new_jobs = [j for j in self._tracker.getJobIdsForGroup() if j not in self._seen_jobs]
        for jid in new_jobs:
            self._seen_jobs.add(jid)
            out["jobs"] += 1
            stage_ids = self._store.job(jid).stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # a stage that never ran has no attempt
                    continue
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
        i, misses = self._next_exec, 0
        while misses < 3:
            ui = self._sql.execution(i)
            if ui.isDefined():
                self._read_sql(i, ui.get(), out)
                self._next_exec, misses = i + 1, 0
            else:
                misses += 1
            i += 1
        return out

    def _read_sql(self, exec_id: int, ui, out: dict) -> None:
        wanted = [(int(acc), _SQL_METRICS[name]) for name, acc, _kind
                  in _PLAN_METRIC.findall(ui.metrics().toString())
                  if name in _SQL_METRICS]
        if not wanted:
            return
        values = self._sql.executionMetrics(exec_id)
        for acc, (counter, how) in wanted:
            opt = values.get(acc)
            if not opt.isDefined():
                continue
            v = parse_size(opt.get(), how)
            out[counter] = max(out[counter], v) if how == "max" else out[counter] + v


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    extra: dict = field(default_factory=dict)


def _is_df(x) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(x, DataFrame)


class NullTracer:
    """Untraced execution: every hook is a plain call."""

    enabled = False

    def span(self, name: str, layer: str = "pipeline"):
        return contextlib.nullcontext()

    def call(self, layer: str, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def lazy(self, layer: str, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def patched(self, patches):
        return contextlib.nullcontext()

    def note(self, layer: str, key: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.counters = StatusCounters(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.notes: dict[str, dict[str, float]] = defaultdict(dict)

    def _flush(self) -> None:
        got = self.counters.drain()
        if self._stack:
            c = self._stack[-1].counters
            for k, v in got.items():
                c[k] = max(c[k], v) if k == "peak_hash_bytes" else c[k] + v

    @contextlib.contextmanager
    def span(self, name: str, layer: str = "pipeline"):
        self._flush()
        sp = Span(next(self._ids), name, layer,
                  self._stack[-1].span_id if self._stack else None,
                  self.run_id, time.perf_counter())
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._flush()
            self._stack.pop()
            self.spans.append(sp)

    def call(self, layer: str, fn, *args, **kwargs):
        with self.span(f"{layer}:{getattr(fn, '__name__', 'call')}", layer):
            return fn(*args, **kwargs)

    def lazy(self, layer: str, fn, *args, **kwargs):
        with self.span(f"{layer}:{getattr(fn, '__name__', 'call')}", layer) as sp:
            out = fn(*args, **kwargs)
            for df in self._frames(out):
                df.write.format("noop").mode("overwrite").save()
        with self.span("trace.materialize", "trace"):
            return self._materialize(out, sp)

    @staticmethod
    def _frames(out) -> list:
        if _is_df(out):
            return [out]
        if isinstance(out, tuple):
            return [x for x in out if _is_df(x)]
        return []

    def _materialize(self, out, sp: Span):
        def one(df):
            cp = df.localCheckpoint(eager=True)
            sp.extra["rows_out"] = sp.extra.get("rows_out", 0) + cp.count()
            return cp

        if _is_df(out):
            return one(out)
        if isinstance(out, tuple):
            return tuple(one(x) if _is_df(x) else x for x in out)
        return out

    @contextlib.contextmanager
    def patched(self, patches):
        """Swap ``module.attr`` (or ``module.Class.attr``) for a traced
        wrapper while the block runs. ``patches`` holds
        ``(module, attr, layer, kind)`` with kind ``"lazy"`` or ``"eager"``."""
        undo = []
        try:
            for mod_name, attr, layer, kind in patches:
                owner = importlib.import_module(mod_name)
                *path, last = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                orig = owner.__dict__[last] if isinstance(owner, type) else getattr(owner, last)
                undo.append((owner, last, orig))
                setattr(owner, last, self._wrap(orig, layer, kind))
            yield
        finally:
            for owner, last, orig in reversed(undo):
                setattr(owner, last, orig)

    def _wrap(self, fn, layer: str, kind: str):
        hook = self.lazy if kind == "lazy" else self.call

        def traced(*args, **kwargs):
            return hook(layer, fn, *args, **kwargs)

        traced.__name__ = getattr(fn, "__name__", "traced")
        return traced

    def note(self, layer: str, key: str, value: float) -> None:
        self.notes[layer][key] = value

    # ------------------------------------------------------------ report
    def layer_table(self) -> dict[str, dict[str, float]]:
        """Per layer: self wall time (span minus direct children), the
        counters assigned to its spans, rows out, and any notes."""
        child_time: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        table: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            row = table[sp.layer]
            row["wall_s"] += (sp.end - sp.start) - child_time[sp.span_id]
            for k, v in sp.counters.items():
                row[k] = max(row[k], v) if k == "peak_hash_bytes" else row[k] + v
            row["rows_out"] += sp.extra.get("rows_out", 0)
        for layer, kv in self.notes.items():
            table[layer].update(kv)
        return {k: dict(v) for k, v in table.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id,
                       "spans": [asdict(s) for s in self.spans]}, fh, indent=1)
