"""Spans around calls into the engine's layers, and Spark's own counters
for the jobs each span ran.

With tracing on, each span runs its Spark jobs under its own job group,
so after the traced passes the
in-process status store (readable with ``spark.ui.enabled=false``) tells
which jobs, stages and tasks each span caused. A span's jobs are the
ones submitted while it was the innermost open span.

Layer names follow the package's modules (``operators.assembly`` is
``bigdatagenomic_spark/operators/assembly.py``); several small modules
share one layer, see :data:`MODULE_LAYER`.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

MODULE_LAYER = {
    "operators.relational": "operators.relational",
    "operators.relational_ext": "operators.relational",
    "operators.analytics": "operators.relational",
    "operators.scale": "operators.relational",
    "operators.stats": "operators.relational",
    "operators.text": "operators.text",
    "operators.dedup": "operators.text",
    "operators.llm_prep": "operators.text",
    "operators.curation": "operators.text",
    "operators.similarity": "operators.similarity",
    "operators.graph": "operators.graph",
    "operators.assembly": "operators.assembly",
}

COMMON = (
    "self_s", "driver_s", "jobs", "stages", "stages_skipped", "tasks",
    "task_failures", "executor_cpu_s", "blocked_s", "shuffle_bytes", "spill_bytes",
)
# Per layer, the counters reported: the common set where the layer runs
# Spark jobs, less the pairs that are structurally zero (no jobs in the
# session or planner layers; a text scan shuffles and spills nothing).
LAYER_COUNTERS = {
    "session": ("start_s",),
    "queries": COMMON,
    "plans": ("self_s",),
    "sources.tables": ("self_s", "calls", "fan_out_repartitions"),
    "sources.graphlab_text": (
        "self_s", "driver_s", "jobs", "stages", "tasks", "task_failures",
        "executor_cpu_s", "blocked_s",
    ),
    "sources.writers": COMMON + ("bytes_written",),
    "operators.assembly": COMMON + ("extract_path_s", "merge_path_s", "walk_rows", "contig_bp"),
    "operators.graph": COMMON,
    "operators.relational": COMMON,
    "operators.text": COMMON,
    "operators.similarity": COMMON,
    "pipelines": COMMON,
    "streaming": COMMON + ("batch_s", "add_batch_s", "wal_commit_s", "state_rows", "state_mem_bytes"),
    "trace": ("overhead_ratio",),
}
UNITS = {
    "count": ("jobs", "stages", "stages_skipped", "tasks", "task_failures", "calls",
              "fan_out_repartitions", "walk_rows", "state_rows"),
    "bytes": ("shuffle_bytes", "spill_bytes", "bytes_written", "state_mem_bytes"),
    "bp": ("contig_bp",),
    "ratio": ("overhead_ratio",),
}


def unit_of(counter: str) -> str:
    for unit, names in UNITS.items():
        if counter in names:
            return unit
    return "s"


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    return [
        (f"{layer}.{c}", unit_of(c))
        for layer, counters in LAYER_COUNTERS.items()
        for c in counters
    ]


def layer_of_function(fn) -> str:
    """The layer a registry query is attributed to: its defining module."""
    mod = fn.__module__.removeprefix("bigdatagenomic_spark.")
    return MODULE_LAYER.get(mod, "queries")


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: "Span | None"
    group: str
    start: float = 0.0            # time.time(), comparable with Spark's epoch ms
    end: float = 0.0
    child_s: float = 0.0


class Tracer:
    """Opens spans, each with its own Spark job group; with
    ``enabled=False`` a span costs nothing and sets no group."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._seq = itertools.count(1)
        self.adopted: dict[str, Span] = {}

    def _set_group(self, group: str, desc: str) -> None:
        self.sc.setJobGroup(group, desc, False)

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._seq)
        s = Span(sid, layer, name, parent, f"perfbench-{sid}")
        self._set_group(s.group, f"{layer}:{name}")
        self._stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.end - s.start
                self._set_group(parent.group, f"{parent.layer}:{parent.name}")
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(s)

    def adopt(self, span: Span | None, group: str) -> None:
        """Count jobs of another job group (a streaming query's run id:
        micro-batches run on the query's own thread) as ``span``'s."""
        if span is not None:
            self.adopted[group] = span

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value



# ---------------------------------------------------------------------------
# Spark counters per span, from the in-process status store
# ---------------------------------------------------------------------------

def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _seq(s):
    return [s.apply(i) for i in range(s.length())]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_counters(spark, tracer: Tracer) -> dict[int, dict[str, float]]:
    """Jobs/stages/tasks and task metrics of each span's own jobs."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    spans = tracer.spans
    by_group = {s.group: s for s in spans} | tracer.adopted
    out: dict[int, dict[str, float]] = {s.sid: defaultdict(float) for s in spans}
    jobs = []
    for j in _seq(store.jobsList(None)):
        group = _opt(j.jobGroup())
        if group in by_group:
            jobs.append((j.jobId(), by_group[group], j))
    owner: dict[int, Span] = {}
    for _, span, j in sorted(jobs, key=lambda t: t[0]):
        c = out[span.sid]
        c["jobs"] += 1
        c["stages_skipped"] += j.numSkippedStages()
        c["tasks"] += j.numCompletedTasks() + j.numFailedTasks()
        c["task_failures"] += j.numFailedTasks()
        for sid in _seq(j.stageIds()):
            owner.setdefault(sid, span)
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    intervals: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for st in _seq(store.stageList(None, False, False, empty, None)):
        span = owner.get(st.stageId())
        status = st.status().toString()
        if span is None or status not in ("COMPLETE", "FAILED"):
            continue
        c = out[span.sid]
        c["stages"] += 1
        run_s = st.executorRunTime() / 1e3
        cpu_s = st.executorCpuTime() / 1e9
        c["executor_cpu_s"] += cpu_s
        c["blocked_s"] += max(0.0, run_s - cpu_s - st.jvmGcTime() / 1e3)
        c["shuffle_bytes"] += st.shuffleWriteBytes()
        c["spill_bytes"] += st.diskBytesSpilled()
        c["bytes_written"] += st.outputBytes()
        sub, done = _opt(st.submissionTime()), _opt(st.completionTime())
        if sub is not None and done is not None:
            intervals[span.sid].append((sub.getTime() / 1e3, done.getTime() / 1e3))
    for s in spans:
        c = out[s.sid]
        own = [(max(a, s.start), min(b, s.end)) for a, b in intervals[s.sid]]
        own = [(a, b) for a, b in own if b > a]
        self_s = (s.end - s.start) - s.child_s
        c["self_s"] = self_s
        c["driver_s"] = max(0.0, self_s - _union_s(own))
    return out


def layer_metrics(spark, tracer: Tracer, n_passes: int, overhead_ratio: float) -> dict[str, float]:
    """Per-layer metrics, per traced pass, for every name in
    :func:`per_layer_names` (layers a workload never calls read 0)."""
    totals: dict[str, float] = defaultdict(float)
    counters = span_counters(spark, tracer)
    for span in tracer.spans:
        for k, v in counters[span.sid].items():
            totals[f"{span.layer}.{k}"] += v
    for k, v in tracer.counters.items():
        totals[k] += v
    out = {}
    for name, _ in per_layer_names():
        if name == "trace.overhead_ratio":
            out[name] = overhead_ratio
        elif name == "session.start_s":
            out[name] = totals.get(name, 0.0)
        else:
            out[name] = totals.get(name, 0.0) / max(1, n_passes)
    return out
