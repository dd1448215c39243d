#!/usr/bin/env python3
"""Seeded end-to-end and per-layer benchmark of python_fmask_spark.

    python3 perfbench/run.py --workload classify_batches --seed 1 \\
        --seconds 10 --trace 0

Runs one workload (workloads.py) from a fresh process at
``local[<cores>]``: generate the input from ``--seed`` (untimed), set up
(imports, ``session.get_spark``, ``ensure_package_on_executors``,
``sources.register_views``), run the first job in the cold session,
verify its output (untimed; this runs a whole job again and so also
warms the session up), then steady jobs in a closed loop (one job in
flight) until ``--seconds`` of job time has elapsed and at least two
have run.
Outputs are checked between jobs, outside the timed windows.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on the
Spark event log, wraps every layer call in a span (spans.py) and prints
the per-layer metrics instead; it alternates traced and untraced jobs to
report the tracing overhead.

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 1 when
any output check failed and 2 when the program cannot run at all.
Everything the run writes (input, warehouse, Spark local dirs, stage
tables, event log) lives in a temporary directory under
``.perfbench_work/`` at the checkout root (the run reads and writes
nothing outside its checkout) and is removed at exit.  A traced run
writes its spans to stderr at the end, one JSON object per line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import spans as tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# a run stops after this many consecutive failed jobs
MAX_FAILED_IN_A_ROW = 3
MIN_STEADY_JOBS = 2
# no new job starts this long after the process started (the whole
# run must end within 180 s)
START_DEADLINE_S = 90.0
T_PROCESS = time.perf_counter()


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def hermetic_env(work: str, trace: bool) -> None:
    """Point every temp / local / warehouse path of this process and the
    JVM it launches into ``work``; run at the machine's core count."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    # measure the configuration as shipped: drop the caller's tuning
    # overrides, then set only the core count and (traced) the event log
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "eventlog")
    # spark-warehouse/ lands in the JVM's cwd
    os.chdir(work)
    sys.path.insert(0, ROOT)


class RssSampler(threading.Thread):
    """Peak summed VmRSS of this process's descendants (the Spark JVM
    and its Python workers), polled from /proc."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def tree_kb(root: int) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        kids, todo = [], [root]
        while todo:
            p = todo.pop()
            c = [pid for pid, pp in parent.items() if pp == p]
            kids += c
            todo += c
        total = 0
        for pid in kids:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.wait(self.period):
            self.peak_kb = max(self.peak_kb, self.tree_kb(me))

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception:
        # the gateway is broken (a signal cut a call short); closing the
        # JVM's stdin below still ends it
        traceback.print_exc()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_percentile(walls: list[float]):
    """Highest percentile of ``walls`` with >= 10 samples beyond it, as
    (percentile, value), or None with fewer than 11 samples."""
    n = len(walls)
    if n < 11:
        return None
    pct = int(100 * (n - 10) / n)
    return pct, statistics.quantiles(walls, n=100)[pct - 1]


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tracer = tracing.Tracer(f"r{args.seed}", bool(args.trace))
        self.w = WORKLOADS[args.workload](args.seed, work, self.tracer)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.job_roots: list[int] = []
        self.control_walls: list[float] = []
        self.laps: list[tuple[str, float]] = []

    def lap(self, phase: str, since: float) -> float:
        """Record the wall of ``phase`` (begun at ``since``); returns now."""
        now = time.perf_counter()
        self.laps.append((phase, now - since))
        return now

    def note(self, problems: list[str]) -> bool:
        self.problems += problems
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        return not problems

    def timed_job(self, spark, i: int, traced: bool):
        """Run job ``i`` (timed), then check it (untimed).  Returns the
        job wall, or None when it raised or failed its check."""
        self.attempted += 1
        tr = self.tracer
        wall, problems = None, []
        try:
            tr.enabled = bool(self.args.trace) and traced
            t0 = time.perf_counter()
            with tr.span("job") as sp:
                token = self.w.job(spark, i)
            wall = time.perf_counter() - t0
            if sp is not None:
                self.job_roots.append(sp["id"])
        except Exception:
            traceback.print_exc()
            problems = [f"job {i} raised"]
        finally:
            tr.enabled = bool(self.args.trace)
        if wall is not None:
            try:
                problems = self.w.check(spark, i, token)
            except Exception:
                traceback.print_exc()
                problems = [f"check of job {i} raised"]
        if self.note(problems):
            return wall
        self.failed += 1
        return None

    def untimed(self, fn, spark) -> None:
        """A verification step, counted as one attempted operation."""
        self.attempted += 1
        try:
            ok = self.note(fn(spark))
        except Exception:
            traceback.print_exc()
            ok = self.note([f"{fn.__name__} raised"])
        self.failed += not ok

    def execute(self) -> dict:
        args, w, tr = self.args, self.w, self.tracer
        mark = time.perf_counter()
        w.generate()
        self.lap("generate", mark)
        rss = RssSampler()
        rss.start()
        t0 = time.perf_counter()
        from python_fmask_spark import session
        if args.trace:
            tracing.instrument(tr)
        spark = session.get_spark(app_name=f"perfbench-{w.name}")
        try:
            tr.sc = spark.sparkContext
            spark.sparkContext.setLogLevel("ERROR")
            session.ensure_package_on_executors(spark)
            w.register(spark)
            setup_s = time.perf_counter() - t0
            mark = self.lap("setup", t0)
            first = self.timed_job(spark, 0, traced=True)
            mark = self.lap("first job", mark)
            # verification runs a whole job once more, so it is also the
            # warm-up: without it the first steady jobs ran 10-25 %
            # slower than the ones after them
            self.untimed(w.verify, spark)
            mark = self.lap("verify", mark)
            walls: list[float] = []
            i, in_a_row = 1, 0
            while ((sum(walls) + sum(self.control_walls) < args.seconds
                    or len(walls) < MIN_STEADY_JOBS
                    or (args.trace
                        and len(self.control_walls) < MIN_STEADY_JOBS))
                   and time.perf_counter() - T_PROCESS < START_DEADLINE_S):
                # traced runs alternate traced jobs with untraced
                # control jobs (the tracing-overhead baseline)
                control = bool(args.trace) and i % 2 == 0
                wall = self.timed_job(spark, i, traced=not control)
                i += 1
                if wall is None:
                    in_a_row += 1
                    if in_a_row >= MAX_FAILED_IN_A_ROW:
                        break
                    continue
                in_a_row = 0
                (self.control_walls if control else walls).append(wall)
            peak_rss_mb = rss.stop()
            mark = self.lap("steady jobs", mark)
            if args.trace:
                self.untimed(w.trace_extras, spark)
                mark = self.lap("traced extras", mark)
        finally:
            if rss.is_alive():
                rss.stop()
            stop_spark(spark)
        self.lap("stop", mark)
        if args.trace:
            # the first job is the cold one: not a steady sample
            self.job_roots = self.job_roots[1:]
            metrics = self.layer_metrics(first or 0.0, walls, peak_rss_mb)
            units = dict(layers.PER_LAYER)
        else:
            p50 = _p50(walls)
            metrics = {
                "setup_s": setup_s,
                "docs_per_s": w.docs_per_job / p50 if p50 else 0.0,
                "job_s_p50": p50,
            }
            units = dict(layers.END_TO_END)
            self.report(metrics, first, walls, peak_rss_mb)
        return {
            "correct": not self.problems and self.failed == 0
            and bool(walls),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }

    def layer_metrics(self, first: float, walls: list[float],
                      peak_rss_mb: float) -> dict:
        from eventlog import read_groups

        tr, w = self.tracer, self.w
        groups = read_groups(os.path.join(self.work, "eventlog"))
        # the newline ends Spark's console progress line
        print(file=sys.stderr)
        tr.dump(sys.stderr)
        jobs = [layers.job_metrics(tr, groups, r) for r in self.job_roots]
        run_level = {
            "memory.peak_rss_mb": peak_rss_mb,
            "trace.first_job_s": first,
            "trace.job_s_p50": _p50(walls),
            "trace.overhead_ratio": (_p50(walls) / _p50(self.control_walls)
                                     if walls and self.control_walls
                                     else 0.0),
            "similarity.ivf_recall": _p50(w.recalls),
        }
        if w.cell_rows:
            run_level["scene.cell_rows_max"] = max(r[0] for r in w.cell_rows)
            run_level["scene.cell_rows_p50"] = _p50(
                [r[1] for r in w.cell_rows])
        parts = [layers.setup_metrics(tr, groups), run_level, w.extras]
        if w.dist is not None:
            parts.append(layers.distributed_metrics(tr, groups, *w.dist))
        out = layers.assemble(parts, jobs)
        for name, unit in layers.PER_LAYER:
            print(f"layer {name:36s} {out[name]:12.4f} {unit}")
        return out

    def report(self, metrics: dict, first, walls: list[float],
               peak_rss_mb: float) -> None:
        """Human-readable summary (the JSON line follows it).  The cold
        first job is printed but not a metric: one sample per process,
        it spread by more than the 0.25 bound over ten runs."""
        w = self.w
        print(f"workload {w.name} seed {self.args.seed}: "
              f"{len(walls)} steady jobs of {w.docs_per_job} docs: "
              + " ".join(f"{x:.3f}" for x in walls) + " s")
        for name, unit in layers.END_TO_END:
            print(f"  {name:12s} {metrics[name]:12.4f} {unit}")
        print("  first_job_s  " + (f"{first:12.4f} s (cold session)"
                                   if first else "         n/a (failed)"))
        print(f"  peak_rss_mb  {peak_rss_mb:12.4f} MB (JVM + Python workers)")
        tail = tail_percentile(walls)
        print("  job_s_tail   " + (
            f"{tail[1]:12.4f} s (p{tail[0]})" if tail else
            f"         n/a (needs >= 11 steady jobs, have {len(walls)})"))
        print(f"  failed_share {self.failed / max(self.attempted, 1):12.4f}"
              f" ratio ({self.failed} of {self.attempted} jobs and checks)")
        for name in sorted(w.digests):
            print(f"  digest {name} {w.digests[name]}")
        print("  run wall     " + ", ".join(f"{p} {s:.1f} s"
                                            for p, s in self.laps))


def remove_stale_work(work_root: str) -> None:
    """Remove the work dirs of earlier runs whose process is gone (a run
    killed before its clean-up)."""
    for d in os.listdir(work_root):
        parts = d.split("-")
        if len(parts) < 3 or not parts[1].isdigit():
            continue
        try:
            os.kill(int(parts[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(work_root, d), ignore_errors=True)
        except PermissionError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "python_fmask_spark",
                                       "__init__.py")):
        print(f"perfbench: no python_fmask_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    remove_stale_work(work_root)
    work = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=work_root)
    # a SIGTERM (a timeout) unwinds through the finally blocks below, so
    # the JVM is stopped and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        hermetic_env(work, bool(args.trace))
        result = Run(args, work).execute()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
