"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload genome --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine runs in this process at
``nproc`` cores with a pinned driver heap. Set-up (engine start, input
generation from the seed, one untimed warm-up pass) is timed as
``setup_s``; then whole passes run, at least the workload's
``min_passes`` and until their jobs have taken ``--seconds``;
``items_per_s`` is the median of the passes' rates. Every job's output is checked against an independent
oracle after the timed passes. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Earlier lines are a readable report with sample counts.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import resource
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JOB_TIMEOUT_S = 90
DRIVER_MEMORY = "2g"


def process_age_s() -> float:
    """Seconds since this process started (kernel clock, not import time)."""
    ticks = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19]) / ticks
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start


def percentile(sorted_xs: list[float], p: float) -> float:
    """Linear-interpolated percentile of sorted samples, p in [0, 1]."""
    k = (len(sorted_xs) - 1) * p
    lo, hi = math.floor(k), math.ceil(k)
    return sorted_xs[lo] + (sorted_xs[hi] - sorted_xs[lo]) * (k - lo)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(p, value, beyond): the highest percentile with at least ten
    samples beyond it, floored at the median when there are fewer than
    twenty samples (then ``beyond`` says how many lie past it)."""
    xs = sorted(samples)
    p = max(0.5, 1 - 10 / len(xs))
    value = percentile(xs, p)
    return p, value, sum(1 for x in xs if x > value)


class Runner:
    """Times passes of a workload's jobs; records every outcome."""

    def __init__(self, spark, workload):
        self.spark = spark
        self.workload = workload
        self.outcomes: list[dict] = []    # one per job: name, wall, items, output|error
        self.pass_no = 0

    def run_pass(self, measured: bool) -> float:
        self.pass_no += 1
        busy = 0.0
        for job in self.workload.pass_jobs(self.pass_no):
            rec = {"name": job.name, "check": job.check, "measured": measured, "pass": self.pass_no}
            timer = threading.Timer(JOB_TIMEOUT_S, self._cancel, (rec,))
            timer.start()
            t0 = time.perf_counter()
            try:
                res = job.run()
            except Exception as exc:   # a failing job is a measured outcome, not a crash
                rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"
                rec["trace"] = traceback.format_exc(limit=4)
                res = None
            wall = time.perf_counter() - t0
            timer.cancel()
            rec["wall"] = wall
            if res is not None:
                rec.update(output=res.output, items=res.items)
            self.outcomes.append(rec)
            busy += wall
        return busy

    def _cancel(self, rec: dict) -> None:
        rec["timed_out"] = True
        self.spark.sparkContext.cancelAllJobs()

    def verdicts(self) -> None:
        """Oracle checks, after the timed passes."""
        for rec in self.outcomes:
            if "error" in rec:
                rec["ok"] = False
            elif rec.get("timed_out"):
                rec["ok"], rec["error"] = False, f"timed out after {JOB_TIMEOUT_S}s"
            else:
                try:
                    rec["ok"] = bool(rec["check"](rec["output"]))
                except Exception as exc:
                    rec["ok"], rec["error"] = False, f"oracle raised {type(exc).__name__}: {exc}"
                if not rec["ok"] and "error" not in rec:
                    rec["error"] = "output rejected by the oracle"
            rec.pop("output", None)


def engine_conf(workdir: str) -> dict[str, str]:
    """The engine shape every run pins (and prints)."""
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        # no JVM perf-data file in /tmp: a run writes only in its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_engine(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"   # spark-submit's launcher JVM
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)
    try:
        return measure(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):   # other runs may still use it
            os.rmdir(os.path.dirname(workdir))


def measure(args, workdir: str) -> int:
    from bigdatagenomic_spark import queries as registry  # noqa: F401  (loads every layer)
    from bigdatagenomic_spark.session import get_spark

    from spans import Tracer, layer_metrics
    from workloads import WORKLOADS, Context, instrument

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = os.cpu_count() or 1
    workload = WORKLOADS[args.workload](args.seed, workdir)
    workload.generate()

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=engine_conf(workdir))
    session_start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext, enabled=False)
        if args.trace:
            instrument(tracer)
        workload.bind(Context(spark, tracer))
        runner = Runner(spark, workload)
        runner.run_pass(measured=False)                   # warm-up
        setup_s = process_age_s()

        untraced, traced = [], []
        if args.trace:
            # untraced, traced, traced, untraced: warm-up drift cancels
            # out of the overhead ratio
            for on in (False, True, True, False):
                tracer.enabled = on
                (traced if on else untraced).append(runner.run_pass(measured=True))
            tracer.enabled = False
        # a fixed pass count keeps the sample count, and so the median
        # and the warm-up share, the same from run to run; --seconds only
        # adds passes on a host too fast to fill it
        while (len(untraced) + len(traced) < workload.min_passes
               or sum(untraced) + sum(traced) < args.seconds):
            untraced.append(runner.run_pass(measured=True))
        per_layer = None
        if args.trace:
            overhead = sum(traced) / sum(untraced[:2])
            per_layer = layer_metrics(spark, tracer, len(traced), overhead)
            per_layer["session.start_s"] = session_start_s
        runner.verdicts()
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + jvm_peak_rss_mb(spark)
        shape = {k: spark.conf.get(k) for k in ("spark.master", "spark.driver.memory",
                                                 "spark.sql.shuffle.partitions")}
        described = workload.describe()
    finally:
        workload.close()
        stop_engine(spark)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(untraced) + len(traced)} timed passes")
    print("engine: " + ", ".join(f"{k}={v}" for k, v in shape.items()))
    for line in described:
        print(line)
    print("job walls (s): " + ", ".join(
        f"{r['name']}{'' if r['measured'] else '[warm-up]'}={r['wall']:.3f}" for r in runner.outcomes))
    for r in runner.outcomes:
        if not r["ok"]:
            print(f"FAILED pass {r['pass']} job {r['name']}: {r['error']}")
            print(r.get("trace", "").rstrip())
    if args.trace:
        metrics, lines = per_layer_report(per_layer, len(traced))
    else:
        metrics, lines = end_to_end_report(runner.outcomes, setup_s, rss_mb, workload.item)
    print("\n".join(lines))
    print(json.dumps(result(runner.outcomes, metrics)))
    return 0


def result(outcomes: list[dict], metrics: dict) -> dict:
    """The result line: every measured job counts; a warm-up failure
    makes the run incorrect too."""
    measured = [r for r in outcomes if r["measured"]]
    failed = sum(1 for r in measured if not r["ok"])
    return {
        "correct": all(r["ok"] for r in outcomes),
        "attempted": len(measured),
        "failed": failed,
        "metrics": metrics,
    }


def end_to_end_report(outcomes: list[dict], setup_s: float, rss_mb: float,
                      item: str) -> tuple[dict, list[str]]:
    measured = [r for r in outcomes if r["measured"]]
    timed = [r for r in measured if "items" in r]
    samples = sorted(r["wall"] for r in timed)
    busy = sum(r["wall"] for r in timed)
    items = sum(r["items"] for r in timed)
    passes = sorted({r["pass"] for r in timed})
    rates = [
        sum(r["items"] for r in timed if r["pass"] == p) / sum(r["wall"] for r in timed if r["pass"] == p)
        for p in passes
    ]
    failed = sum(1 for r in measured if not r["ok"])
    p_tail, v_tail, beyond = tail(samples) if samples else (0.5, 0.0, 0)
    rows = [
        ("setup_s", setup_s, "s", "1 set-up: engine start, inputs, warm-up pass"),
        ("items_per_s", statistics.median(rates) if rates else 0.0, "1/s",
         f"median of {len(rates)} passes; {items} {item} over {busy:.3f}s of jobs"),
        ("latency_p50_s", percentile(samples, 0.5) if samples else 0.0, "s", f"{len(samples)} samples"),
        ("latency_tail_s", v_tail, "s",
         f"p{100 * p_tail:.1f} of {len(samples)} samples, {beyond} beyond"),
        ("peak_rss_mb", rss_mb, "MB", "1 sample: driver Python + JVM high-water mark"),
    ]
    lines = [f"  {n} = {v:.6g} {u}  ({c})" for n, v, u, c in rows]
    lines.append(f"  error_rate = {failed / max(1, len(measured)):.6g} 1  "
                 f"({failed} failed of {len(measured)} jobs)")
    return {n: {"value": v, "unit": u} for n, v, u, _ in rows}, lines


def per_layer_report(per_layer: dict[str, float], n_traced: int) -> tuple[dict, list[str]]:
    from spans import per_layer_names

    metrics = {n: {"value": per_layer[n], "unit": u} for n, u in per_layer_names()}
    lines = [f"  {n} = {m['value']:.6g} {m['unit']}  "
             + ("(1 run)" if n in ("session.start_s", "trace.overhead_ratio")
                else f"(per traced pass, {n_traced} passes)")
             for n, m in metrics.items()]
    return metrics, lines


if __name__ == "__main__":
    sys.exit(main())
