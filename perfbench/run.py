"""Benchmark of the KG-construction engine: one workload, one process.

    python3 perfbench/run.py --workload kg_web --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  Each invocation starts one
``local[nproc]`` session and is a closed loop of batch jobs: set-up
(session start, input generation from ``--seed``, a warm-up job), then
jobs back to back, each timed alone and its output checked outside the
timed window, until ``--seconds`` of job time have passed.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns on
the Spark event log, runs an untraced, a traced and an untraced job, and
reports the per-layer metrics: spans from tracing.py, task statistics
from the event log folded per span (eventlog.py).

Stdout: progress lines, then a JSON line with the host context, every
job's samples and the checks, then the result as the last line:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "graph_importer_spark", "__init__.py")

# input generation runs this many times in set-up; setup_s takes the median.
# The repeats also warm the JVM: with one generation, kg_web's warm-up and
# first timed job ran slower on a 4-CPU host and the run was no shorter.
GEN_REPEATS = 3

LAYERS = [
    "extract",
    "mentions",
    "linking",
    "triples",
    "cc",
    "pipeline.rewrite",
    "pipeline.self",
    "materialize",
    "tables",
    "importer",
    "analytics",
]
KINDS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_s": "s",
    "cpu_s": "s",
    "blocked_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "skew": "ratio",
    "slot_util": "ratio",
}
COUNTS = {
    "linking.kept_ratio": "ratio",
    "triples.yield_ratio": "ratio",
    "cc.pairs": "count",
    "cc.iterations": "count",
    "analytics.supersteps": "count",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}
END_TO_END = {
    "job_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "setup_s": "s",
}
# a traced run fails unless the layers' self times cover this share of the job
MIN_COVERAGE = 0.95


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and measure the
    engine's defaults: drop the knobs that change its configuration."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_"):
            del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM the launcher starts: native libraries unpack into
    # java.io.tmpdir, and no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _highest_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples above it."""
    return int(100 * (1 - 10 / n)) if n >= 20 else None


class Run:
    """One session and the jobs run on it."""

    def __init__(self, args, work: str):
        from graph_importer_spark.session import get_spark
        from perfbench import procstat
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.ps = procstat
        self.cores = len(os.sched_getaffinity(0))
        self.wl = WORKLOADS[args.workload](args.seed)
        self.jobs: list[dict] = []
        conf = {
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            os.makedirs(os.path.join(work, "eventlog"))
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "true"  # the layout eventlog.py reads
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.proc = self.spark.sparkContext._gateway.proc
        self.untraced = Tracer(self.spark.sparkContext, enabled=False)

    def host(self) -> dict:
        jvm_property = self.spark.sparkContext._jvm.java.lang.System.getProperty
        return {
            "nproc": self.cores,
            "master": self.spark.sparkContext.master,
            "spark": self.spark.version,
            "java": jvm_property("java.runtime.version"),
            "python": platform.python_version(),
            "seed": self.args.seed,
            "workload": self.args.workload,
            "trace": self.args.trace,
        }

    def setup(self) -> dict:
        gen_s = []
        for i in range(GEN_REPEATS):
            d = os.path.join(self.work, f"input{i}")
            t0 = time.perf_counter()
            self.wl.generate(self.spark, d)
            gen_s.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(os.path.join(self.work, f"input{i - 1}"))
        self.wl.load(self.spark, d)
        wh = os.path.join(self.work, "wh-warm-up")
        t0 = time.perf_counter()
        self.wl.warm_up(self.spark, self.untraced, wh)
        warm_s = time.perf_counter() - t0
        shutil.rmtree(wh)
        self.wl.prepare_check(self.spark)  # the checks' oracles: not set-up
        setup_s = self.session_s + statistics.median(gen_s) + warm_s
        log(f"set-up {setup_s:.3f} s: session {self.session_s:.3f}, gen {gen_s}, warm-up {warm_s:.3f}")
        return {"setup_s": setup_s, "session_s": self.session_s, "gen_s": gen_s, "warmup_s": warm_s}

    def settle(self) -> None:
        """Before each timed job: a full JVM GC, then wait (at most 4 s)
        until G1, which gives memory back concurrently, has stopped
        shrinking the tree's PSS.  Every job starts from the same heap
        state, and its peak memory is its own."""
        self.spark.sparkContext._jvm.System.gc()
        last = self.ps.pss_bytes(self.proc.pid)
        for _ in range(20):
            time.sleep(0.2)
            now = self.ps.pss_bytes(self.proc.pid)
            if now > 0.99 * last:
                return
            last = now

    def job(self, label: str, tracer=None) -> dict:
        """One timed job, then its check.  A job that raises is recorded
        as failed and the run goes on."""
        from perfbench import tracing

        tracer = tracer or self.untraced
        wh = os.path.join(self.work, f"wh{len(self.jobs)}")
        self.settle()
        rec: dict = {"label": label, "load_before": self.ps.loadavg()}
        peak = self.ps.PeakPss(self.proc.pid).start()
        try:
            cpu0 = self.ps.cpu_seconds(self.proc.pid)
            steal0 = self.ps.steal_seconds()
            t0 = time.perf_counter()
            with tracing.installed(tracer):
                res = self.wl.job(self.spark, tracer, wh)
            rec["job_s"] = time.perf_counter() - t0
            rec["cpu_s"] = self.ps.cpu_seconds(self.proc.pid) - cpu0
            rec["steal_s"] = self.ps.steal_seconds() - steal0  # host contention
            rec["peak_pss_mb"] = peak.stop() / 2**20
            rec["load_after"] = self.ps.loadavg()
            rec["rows"] = res.rows
            rec["problems"] = self.wl.check(self.spark, res)
            rec["counts"] = res.counts
            if tracer.enabled:
                rec["rows_of"] = {
                    t: sum(n for _, n in res.cat.file_row_counts(t))
                    for t in dict.fromkeys(t for _, t in tracer.writes)
                }
        except Exception:
            traceback.print_exc()
            rec["problems"] = ["raised: " + traceback.format_exc().strip().splitlines()[-1]]
        finally:
            peak.stop()
            shutil.rmtree(wh, ignore_errors=True)
        rec["ok"] = not rec["problems"]
        took = f"{rec['job_s']:.3f} s, {rec['rows']} rows" if "rows" in rec else "no result"
        if "steal_s" in rec:
            took += f", {rec['steal_s']:.1f} CPU-s stolen by the host"
        log(f"{label}: {took}" + ("" if rec["ok"] else f", FAILED {rec['problems']}"))
        self.jobs.append(rec)
        return rec

    def measure(self) -> dict:
        """Jobs until ``--seconds`` of job time; the metrics are medians
        over the jobs that completed."""
        timed: list[dict] = []
        while sum(r.get("job_s", 0.0) for r in timed) < self.args.seconds:
            timed.append(self.job(f"job {len(timed) + 1}"))
            if "rows" not in timed[-1]:
                break
        done = [r for r in timed if "rows" in r]
        if not done:
            return {}
        return {
            "job_s": statistics.median(r["job_s"] for r in done),
            "rows_per_s": statistics.median(r["rows"] / r["job_s"] for r in done),
            "cpu_s": statistics.median(r["cpu_s"] for r in done),
            "peak_rss_mb": statistics.median(r["peak_pss_mb"] for r in done),
            "samples": len(done),
        }

    def trace(self):
        """Untraced, traced, untraced: the JVM is still getting faster job
        by job after the warm-up, so the traced job is compared with the
        mean of the jobs on either side of it."""
        from perfbench.tracing import Tracer

        tracer = Tracer(self.spark.sparkContext)
        return self.job("untraced"), self.job("traced", tracer), self.job("untraced"), tracer

    def stop(self) -> None:
        """Stop the session, the JVM and every process it started, and
        wait for all of them to end."""
        tree = self.ps.tree(self.proc.pid)
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        self.proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        deadline = time.monotonic() + 30
        for pid in tree:
            while self.ps.alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if self.ps.alive(pid):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                while self.ps.alive(pid):
                    time.sleep(0.05)


def per_layer(cores: int, plain_s: float, traced: dict, tracer, folded: dict) -> tuple[dict, dict]:
    """The per-layer metrics of a traced job, and the report's details."""
    from perfbench.eventlog import UNATTRIBUTED

    out: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        stats = folded[layer].as_dict() if layer in folded else {}
        wall = tracer.self_s.get(layer, 0.0)
        stats["wall_s"] = wall
        stats["slot_util"] = stats.get("task_s", 0.0) / (wall * cores) if wall > 0 else 0.0
        for kind, unit in KINDS.items():
            out[f"{layer}.{kind}"] = (stats.get(kind, 0), unit)
    rows, counts = traced["rows_of"], traced["counts"]

    def ratio(a: str, b: str) -> float:
        return rows.get(a, 0) / rows[b] if rows.get(b) else 0.0

    values = {
        "linking.kept_ratio": ratio("linked", "mentions"),
        "triples.yield_ratio": ratio("triples_raw", "linked"),
        "cc.pairs": counts.get("cc.pairs", 0),
        "cc.iterations": counts.get("cc.iterations", 0),
        "analytics.supersteps": counts.get("analytics.supersteps", 0),
        "spark.failed_tasks": sum(s.failed_tasks for s in folded.values()),
        "trace.overhead_s": traced["job_s"] - plain_s,
    }
    for name, unit in COUNTS.items():
        out[name] = (values[name], unit)
    rows_out: dict[str, int] = {}
    for span, table in dict.fromkeys(tracer.writes):
        rows_out[span] = rows_out.get(span, 0) + rows[table]
    detail = {
        "coverage": sum(tracer.self_s.values()) / traced["job_s"],
        "rows_out": rows_out,
        "span_calls": dict(tracer.calls),
        "unattributed": folded[UNATTRIBUTED].as_dict() if UNATTRIBUTED in folded else None,
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()}, detail


def bench(args, work: str) -> int:
    from perfbench import eventlog

    run = Run(args, work)
    try:
        report: dict = {"host": run.host()}
        log(f"host {report['host']}")
        report["setup"] = run.setup()
        if args.trace:
            before, traced, after, tracer = run.trace()
        else:
            e2e = run.measure()
    finally:
        run.stop()

    if args.trace:
        if not all("rows" in r for r in (before, traced, after)):
            print("perfbench: a job of the traced run did not complete", file=sys.stderr)
            return 1
        plain_s = (before["job_s"] + after["job_s"]) / 2
        folded = eventlog.fold(eventlog.event_files(os.path.join(work, "eventlog")))
        metrics, report["trace"] = per_layer(run.cores, plain_s, traced, tracer, folded)
        if not MIN_COVERAGE <= report["trace"]["coverage"] <= 1.0 + 1e-6:
            traced["problems"].append("layer self times do not account for the job time")
            traced["ok"] = False
    else:
        if not e2e:
            print("perfbench: no job completed", file=sys.stderr)
            return 1
        n = e2e.pop("samples")
        report["job_s"] = {"median": e2e["job_s"], "n": n, "highest_percentile": _highest_percentile(n)}
        # in the report, not a metric: with the engine's elastic heap it is
        # set by G1's sizing and spreads more than any bound allows
        report["peak_rss_mb"] = e2e.pop("peak_rss_mb")
        e2e["setup_s"] = report["setup"]["setup_s"]
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    failed = sum(1 for r in run.jobs if not r["ok"])
    report["jobs"] = run.jobs
    report["failed_frac"] = failed / len(run.jobs)
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(run.jobs), "failed": failed, "metrics": metrics}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(PACKAGE):
        print(
            f"perfbench: the engine package is missing ({PACKAGE}); "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    try:
        return bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run still uses it
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    raise SystemExit(main())
