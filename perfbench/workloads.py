"""The benchmark's workloads: each is a list of jobs per pass.

A job is one call into the engine forced to completion (a registry
query collected, one contig assembled, one streaming query drained). Its
``run`` is timed; its ``check`` is the oracle verdict, run later,
outside the timed path. Every layer call inside ``run`` sits in a
tracer span, which is free when tracing is off.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen
from oracle import DuckOracle, fold_chain, same_rows
from spans import Tracer, layer_of_function


@dataclass
class Result:
    output: object
    items: int


@dataclass
class Job:
    name: str
    run: Callable[[], Result]
    check: Callable[[object], bool]


@dataclass
class Context:
    spark: object
    tracer: Tracer


class Workload:
    name = ""
    item = ""          # what items_per_s counts
    min_passes = 1     # timed passes run even when --seconds is reached sooner

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir

    def generate(self) -> None:
        """Write the seeded inputs (before the engine starts)."""

    def bind(self, ctx: Context) -> None:
        self.ctx = ctx

    def pass_jobs(self, pass_no: int) -> list[Job]:
        raise NotImplementedError

    def describe(self) -> list[str]:
        return []

    def close(self) -> None:
        pass


def instrument(tracer: Tracer) -> None:
    """Give engine functions that other engine code calls their own
    spans: the scan/fan-out helpers, the graph fixpoint and the assembly
    path walk. Rebinds every module-level name bound to them, so callers
    that imported the function by name are covered too."""
    import sys

    from bigdatagenomic_spark.operators import assembly, graph
    from bigdatagenomic_spark.sources import tables

    def spanned(layer: str, fn, seconds: str | None = None, calls: str | None = None):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            with tracer.span(layer, fn.__name__):
                out = fn(*args, **kwargs)
            if seconds:
                tracer.add(seconds, time.perf_counter() - t0)
            if calls:
                tracer.add(calls, 1)
            if fn is tables.fan_out:
                tracer.add("sources.tables.fan_out_repartitions", out is not args[0])
            return out
        return wrapper

    wrapped = {
        id(tables.load_table): spanned("sources.tables", tables.load_table, calls="sources.tables.calls"),
        id(tables.fan_out): spanned("sources.tables", tables.fan_out, calls="sources.tables.calls"),
        id(graph.connected_components): spanned("operators.graph", graph.connected_components),
        id(assembly.extract_path): spanned(
            "operators.assembly", assembly.extract_path, seconds="operators.assembly.extract_path_s"
        ),
    }
    for name, mod in list(sys.modules.items()):
        if name.startswith("bigdatagenomic_spark"):
            for attr, value in list(vars(mod).items()):
                if id(value) in wrapped:
                    setattr(mod, attr, wrapped[id(value)])


# ---------------------------------------------------------------------------
# genome: the paper's reads -> contig pipeline
# ---------------------------------------------------------------------------

class GenomeWorkload(Workload):
    """Parse a GraphLab read file, assemble every chain from its head to
    its tail, write the annotated reads in the reference's block format.

    The per-pass shape is the CLI's ``assemble`` command (parse and count,
    ``assemble`` with the read-count hint, text sink), run once per chain:
    ``source``/``destination`` are the pipeline's parameters, as in the
    reference.
    """

    name = "genome"
    item = "reads assembled"
    min_passes = 2

    def generate(self) -> None:
        self.path = os.path.join(self.workdir, "reads.txt")
        self.genome = gen.make_genome(self.seed, self.path)
        self.n_edges = sum(len(r.dest_ids) for r in self.genome.reads.values())
        self.strategies: dict[int, str] = {}

    def pass_jobs(self, pass_no: int) -> list[Job]:
        from bigdatagenomic_spark.operators import assembly as asm
        from bigdatagenomic_spark.sources.graphlab_text import read_graphlab_text, reads_to_edges
        from bigdatagenomic_spark.sources.writers import write_best_path_text

        spark, tr = self.ctx.spark, self.ctx.tracer
        g = self.genome
        state: dict[str, object] = {}
        out_dir = os.path.join(self.workdir, f"out-{pass_no}")

        def parse() -> Result:
            with tr.span("sources.graphlab_text", "read_graphlab_text"):
                reads = read_graphlab_text(spark, self.path)
                edges = reads_to_edges(reads)
                counts = (reads.count(), edges.count())
            state.update(reads=reads, edges=edges, n_reads=counts[0])
            return Result(counts, 0)

        def assemble(chain: list[int]) -> Callable[[], Result]:
            def run() -> Result:
                with tr.span("operators.assembly", "assemble"):
                    annotated, assembled = asm.assemble(
                        state["reads"], state["edges"], chain[0], chain[-1],
                        n_reads_hint=state["n_reads"],
                    )
                    t0 = time.perf_counter()
                    with tr.span("operators.assembly", "merge_path"):
                        row = assembled.collect()[0]
                    tr.add("operators.assembly.merge_path_s", time.perf_counter() - t0)
                    tr.add("operators.assembly.contig_bp", row.length)
                state["annotated"] = annotated
                budget = asm.driver_walk_row_budget(spark)
                self.strategies[chain[0]] = "walk" if state["n_reads"] <= budget else "doubling"
                if self.strategies[chain[0]] == "walk":
                    tr.add("operators.assembly.walk_rows", sum(1 for v in g.best_next.values() if v))
                return Result((row.offset, row.length, row.content), len(chain))
            return run

        def check_chain(chain: list[int]) -> Callable[[object], bool]:
            def check(out) -> bool:
                reads = [g.reads[i] for i in chain]
                return tuple(out) == fold_chain([(r.offset, r.length, r.content) for r in reads])
            return check

        def write() -> Result:
            with tr.span("sources.writers", "write_best_path_text"):
                write_best_path_text(state["annotated"], out_dir)
            return Result(out_dir, 0)

        def check_write(path: str) -> bool:
            # block format: "id\tnext\n--Offset: ..\n--Length: ..\n--Content--\n..."
            got: dict[int, int] = {}
            for part in glob.glob(os.path.join(path, "part-*")):
                with open(part) as fh:
                    for line in fh:
                        head = line.rstrip("\n").split("\t")
                        if len(head) == 2 and head[0].isdigit():
                            got[int(head[0])] = int(head[1])
            return got == g.best_next

        chains = sorted(g.chains, key=len)
        return (
            [Job("parse", parse, lambda c: c == (len(g.reads), self.n_edges))]
            + [Job(f"assemble[{len(c)}]", assemble(c), check_chain(c)) for c in chains]
            + [Job("write", write, check_write)]
        )

    def describe(self) -> list[str]:
        lengths = sorted(len(c) for c in self.genome.chains)
        by = defaultdict(int)
        for s in self.strategies.values():
            by[s] += 1
        return [
            f"input: {len(self.genome.reads)} reads, {self.n_edges} edges, "
            f"{len(lengths)} chains of {lengths} reads",
            "extract_path strategy per contig: "
            + ", ".join(f"{k}={v}" for k, v in sorted(by.items())),
        ]


# ---------------------------------------------------------------------------
# registry: relational, text, similarity, pipeline and streaming calls
# ---------------------------------------------------------------------------

EVENT_FIELDS = [
    ("event_id", pa.int64(), "BIGINT"),
    ("ts", pa.timestamp("us", tz="UTC"), "TIMESTAMP"),
    ("user_id", pa.int64(), "BIGINT"),
    ("event_type", pa.string(), "STRING"),
    ("value", pa.float64(), "DOUBLE"),
    ("props", pa.string(), "STRING"),
]


class _Progress:
    """Collects the micro-batch progress of every streaming query."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with outer.cond:
                    outer.batches.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.cond:
                    outer.terminated += 1
                    outer.cond.notify_all()

        self.cond = threading.Condition()
        self.batches: list[dict] = []
        self.terminated = 0
        spark.streams.addListener(Listener())

    def mark(self) -> tuple[int, int]:
        with self.cond:
            return len(self.batches), self.terminated

    def since(self, mark: tuple[int, int], timeout: float = 10.0) -> list[dict]:
        """Batches with input of the one query run since ``mark``, once
        its end has been delivered (progress events arrive before it)."""
        with self.cond:
            self.cond.wait_for(lambda: self.terminated > mark[1], timeout)
            return [b for b in self.batches[mark[0]:] if b["numInputRows"] > 0]


class RegistryWorkload(Workload):
    """Registry queries over generated TPC-H-shaped and text tables, the
    curation pipeline, and a stateful streaming query drained from
    replayed event chunks (``maxFilesPerTrigger=1``: one chunk per
    micro-batch, each batch starting after the previous one commits).

    Each query is checked against its ``oracle_sql`` on DuckDB over the
    same files; the streaming result against the events aggregated in
    Python.
    """

    name = "registry"
    item = "calls completed"
    sf = 0.01
    queries = ("q08_agg_tpch_q1", "q26_cosine_topk", "q_dedup_survivors")
    n_chunks = 2
    events_per_hour = 140
    hours = 12

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.workdir, "tables")
        self.rows = gen.make_tables(self.seed, self.sf_dir, self.sf)
        self.duck: DuckOracle | None = None
        self.first: dict[str, object] = {}
        self.chunk_dir = os.path.join(self.workdir, "chunks")
        self.windows = self._write_chunks()

    def _write_chunks(self) -> dict[tuple, list]:
        """Replay half a day of events as time-ordered chunk files; return
        the expected (hour, event_type) -> [count, value sum].

        The events keep the sf0.1 table's density (about 140 per hour):
        the upsert sink writes one directory per (hour, type), so a
        sparser downscale would inflate the per-window cost."""
        rng = np.random.default_rng(self.seed + 1)
        n = self.events_per_hour * self.hours
        base = int((gen.EVENT_EPOCH - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
        ts = base + np.sort(rng.integers(0, self.hours * 3_600_000_000, n))
        cols = {
            "event_id": np.arange(n),
            "ts": ts,
            "user_id": rng.integers(0, 1500, n),
            "event_type": np.array(gen.EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object),
        }
        events = pa.table({name: pa.array(cols[name], typ) for name, typ, _ in EVENT_FIELDS})
        os.makedirs(self.chunk_dir)
        for i, idx in enumerate(np.array_split(np.arange(n), self.n_chunks), start=1):
            pq.write_table(events.take(idx), os.path.join(self.chunk_dir, f"chunk-{i:03d}.parquet"))
        windows: dict[tuple, list] = defaultdict(lambda: [0, 0.0])
        for t, etype, value in zip(ts.tolist(), cols["event_type"], cols["value"].tolist()):
            w = windows[(t // 3_600_000_000 * 3600, etype)]
            w[0] += 1
            w[1] += value
        return windows

    def bind(self, ctx: Context) -> None:
        super().bind(ctx)
        self.progress = _Progress(ctx.spark)

    def oracle(self) -> DuckOracle:
        if self.duck is None:
            self.duck = DuckOracle(self.sf_dir, list(self.rows))
        return self.duck

    def registry_job(self, name: str) -> Job:
        from bigdatagenomic_spark import queries as registry

        spark, tr = self.ctx.spark, self.ctx.tracer
        fn = registry.queries()[name]
        sql = registry.oracle_sql()[name]
        layer = layer_of_function(fn)

        def run() -> Result:
            with tr.span("queries", name):
                df = fn(spark, self.sf_dir)
            with tr.span("plans", name):
                df._jdf.queryExecution().executedPlan()
            with tr.span(layer, name):
                rows = df.collect()
            return Result(rows, 1)

        def check(rows) -> bool:
            return same_rows(rows, self.oracle().rows(name, sql))

        return Job(name, run, check)

    def pipeline_job(self, pass_no: int) -> Job:
        from bigdatagenomic_spark.pipelines import run_curation_pipeline

        spark, tr = self.ctx.spark, self.ctx.tracer

        def run() -> Result:
            with tr.span("pipelines", "run_curation_pipeline"):
                df, audit = run_curation_pipeline(
                    spark, self.sf_dir, os.path.join(self.workdir, f"pipeline-{pass_no}")
                )
                rows = df.select("doc_id", "shard").collect()
            return Result((rows, [a["rows"] for a in audit]), 1)

        def check(out) -> bool:
            # no oracle exists for the sampled quality stage: stage row
            # counts must not grow, and every pass must give the same rows
            rows, stage_rows = out
            shrinking = all(a >= b for a, b in zip(stage_rows, stage_rows[1:]))
            first = self.first.setdefault("pipeline", out)[0]
            return shrinking and 0 < len(rows) == stage_rows[-1] and same_rows(rows, first)

        return Job("run_curation_pipeline", run, check)

    def stream_job(self, pass_no: int) -> Job:
        from bigdatagenomic_spark.streaming import tumbling_agg
        from bigdatagenomic_spark.streaming.replay import read_event_stream
        from bigdatagenomic_spark.streaming.sinks import run_upsert_sink

        spark, tr = self.ctx.spark, self.ctx.tracer
        schema = ", ".join(f"{n} {t}" for n, _, t in EVENT_FIELDS)
        where = os.path.join(self.workdir, f"stream-{pass_no}")

        def run() -> Result:
            mark = self.progress.mark()
            with tr.span("streaming", "tumbling_agg_upsert") as span:
                events = read_event_stream(spark, self.chunk_dir, schema)
                run_upsert_sink(tumbling_agg(events), os.path.join(where, "table"),
                                ["w_start", "event_type"], os.path.join(where, "ckpt"))
            batches = self.progress.since(mark)
            for run_id in {b["runId"] for b in batches}:
                tr.adopt(span, run_id)
            for b in batches:
                d = b["durationMs"]
                tr.add("streaming.batch_s", d.get("triggerExecution", 0) / 1e3)
                tr.add("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
                tr.add("streaming.wal_commit_s", d.get("walCommit", 0) / 1e3)
                for op in b.get("stateOperators", []):
                    tr.add("streaming.state_rows", op.get("numRowsTotal", 0) / len(batches))
                    tr.add("streaming.state_mem_bytes", op.get("memoryUsedBytes", 0) / len(batches))
            return Result(os.path.join(where, "table"), 1)

        def check(path) -> bool:
            table = pads.dataset(path, format="parquet", partitioning="hive").to_table()
            got = {
                (w, e): (n, v) for w, e, n, v in zip(
                    *(table.column(c).to_pylist() for c in ("w_start", "event_type", "n_events", "sum_value"))
                )
            }
            return set(got) == set(self.windows) and all(
                got[k][0] == n and abs(got[k][1] - s) <= 0.0051
                for k, (n, s) in self.windows.items()
            )

        return Job("tumbling_agg_upsert", run, check)

    def pass_jobs(self, pass_no: int) -> list[Job]:
        jobs = [self.registry_job(q) for q in self.queries]
        return jobs + [self.pipeline_job(pass_no), self.stream_job(pass_no)]

    def describe(self) -> list[str]:
        return [
            f"input: sf{self.sf} tables ({self.rows['lineitem']} lineitem, "
            f"{self.rows['documents']} documents; {self.events_per_hour * self.hours} events "
            f"replayed in {self.n_chunks} chunks)",
            "calls: " + ", ".join(self.queries) + ", run_curation_pipeline, tumbling_agg_upsert",
        ]

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()


WORKLOADS = {w.name: w for w in (GenomeWorkload, RegistryWorkload)}
