"""Layered benchmark of pandas_expr_spark.

Run from the root of a checkout::

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One driver process is the only client, in a closed loop: the next query is
submitted only after the previous one has returned.  The session is
``local[<cpus this process may use>]`` built by
``pandas_expr_spark.get_spark()``, the config the oracle check and the test
suite use.  The inputs are the fixed parquet tables under
``perfbench/data/<sf>``; the seed sets the query order of every pass and
the frame that ``pandas_roundtrip`` makes with ``from_pandas``.

A run has three phases:

1. set-up, cold, as a user meets it: import the engine, start the JVM
   and the session, prepare the inputs and run the workload's first query
   once; that is ``setup_s``;
2. a check pass, not timed: every query once, its output compared with
   the DuckDB oracle or plain pandas; the references are then dropped;
3. timed passes for ``--seconds``.  With ``--trace 1`` the passes
   alternate between untraced and traced, and the per-layer metrics come
   from the traced ones.  ``peak_rss_mb`` is the Python driver's peak RSS
   over these passes only.

Every metric is printed by name with its unit; the last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones).
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Files of the checkout the benchmark drives; without them it cannot run.
REQUIRED = ("pandas_expr_spark/__init__.py", "__spark_entry__.py",
            "scripts/check_oracle.py")
OUT_DIR = os.path.join(ROOT, ".perfbench")
# The JVM is still compiling for the first few passes after the check
# pass; the median of three passes is past the slowest of them.
MIN_PASSES = 3
DEFAULT_SF = "sf0.01"

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s",
             "query_tail_s": "s", "peak_rss_mb": "MB", "ok_frac": "ratio"}
LAYER_UNITS = {
    "build.s": "s", "build.self_s": "s", "build.jobs": "count",
    "build.share": "ratio",
    "sources.s": "s", "sources.calls": "count", "sources.jobs": "count",
    "functions.s": "s", "functions.calls": "count",
    "functions.jobs": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.one_task_stages": "count",
    "exec.executor_run_s": "s", "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.failed_tasks": "count",
    "delivery.s": "s", "delivery.topandas_s": "s", "delivery.self_s": "s",
    "delivery.jobs": "count", "delivery.rows": "count",
    "cache.persisted_rdds": "count", "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default=DEFAULT_SF,
                   help="scale directory under perfbench/data")
    return p.parse_args(argv)


def prepare_environment() -> None:
    """Keep every file Spark and its workers write inside the checkout,
    and let the Python workers import the package from it."""
    tmp = os.path.join(OUT_DIR, "tmp")
    local = os.path.join(OUT_DIR, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT, os.path.join(ROOT, "scripts"), HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                 if p])
    sys.path[:0] = paths


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make every process this run starts, at any depth, a child of this
    process once its own parent has gone, so that ``reap_descendants``
    can find it: the JVM's Python workers, for one, are its children."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children() -> list[int]:
    """The pids whose parent is this process."""
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:                     # it ended meanwhile
            continue
        # the command name in parentheses may hold spaces
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(entry))
    return out


def reap_descendants(grace: float = 10.0) -> int:
    """End every process this run started that is still there, and wait
    until each has ended: first SIGTERM and up to ``grace`` seconds, then
    SIGKILL.  Returns how many there were."""
    seen: set[int] = set()
    deadline = time.monotonic() + grace
    while True:
        # children that have ended but are not yet reaped, then the rest
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        alive = children()
        if not alive:
            return len(seen)
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in alive:
            if pid not in seen or sig == signal.SIGKILL:
                seen.add(pid)
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def reset_peak_rss() -> None:
    """Free what is no longer referenced and restart the kernel's record
    of this process's peak RSS from its current RSS."""
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):    # not glibc: the heap stays as is
        pass
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb() -> float:
    """This process's peak RSS since the last ``reset_peak_rss()``."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from ``/proc/stat``:
    the share stolen by other guests explains slow runs on a shared host."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count).  Up to 21 samples that percentile
    would not lie above the median, so the maximum is reported instead."""
    vals = sorted(values)
    k = len(vals) - 11 if len(vals) > 21 else len(vals) - 1
    return vals[k], 100.0 * (k + 1) / len(vals), len(vals)


def layer_metrics(spans) -> dict[str, float]:
    """Per-pass totals of one traced pass."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def subtree(s):
        out = [s]
        for c in children.get(s.id, []):
            out += subtree(c)
        return out

    def jobs(group):
        return sum(len(x.jobs) for s in group for x in subtree(s))

    def named(name):
        return [s for s in spans if s.name == name]

    def layer(prefix):
        # never nested: the engine's calls to its own entry points are not
        # spans
        return [s for s in spans if s.name.startswith(prefix + ".")]

    def secs(group):
        return sum(s.seconds for s in group)

    build, execs, deliv = named("build"), named("exec"), named("delivery")
    sources, fns = layer("sources"), layer("functions")
    in_build = [c for b in build for c in children.get(b.id, [])
                if c.name.startswith(("sources.", "functions."))]
    stages = [st for s in execs for st in s.stages.values()]
    query_s = secs(named("query"))
    topandas = secs(named("delivery.topandas"))
    mb = 1e-6
    return {
        "build.s": secs(build),
        "build.self_s": secs(build) - secs(in_build),
        "build.jobs": jobs(build),
        "build.share": secs(build) / query_s if query_s else 0.0,
        "sources.s": secs(sources), "sources.calls": len(sources),
        "sources.jobs": jobs(sources),
        "functions.s": secs(fns), "functions.calls": len(fns),
        "functions.jobs": jobs(fns),
        "exec.s": secs(execs), "exec.jobs": jobs(execs),
        "exec.stages": len(stages), "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.one_task_stages": sum(1 for s in stages if s["tasks"] == 1),
        "exec.executor_run_s": sum(s["executor_run_ms"] for s in stages) / 1e3,
        "exec.input_mb": sum(s["input_bytes"] for s in stages) * mb,
        "exec.shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in stages) * mb,
        "exec.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) * mb,
        "exec.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "delivery.s": secs(deliv), "delivery.topandas_s": topandas,
        "delivery.self_s": secs(deliv) - topandas,
        "delivery.jobs": jobs(deliv), "delivery.rows": sum(s.rows for s in deliv),
    }


class Run:
    """One benchmark run of one workload."""

    def __init__(self, args):
        self.args = args
        self.work_dir = os.path.join(OUT_DIR, "tmp",
                                     f"{args.workload}-{os.getpid()}")
        self.sf_dir = os.path.join(HERE, "data", args.sf)
        self.rng = random.Random(args.seed)
        self.ctx = None
        self.bad_queries: dict[str, list[str]] = {}
        self.attempted = self.failed = 0
        self.query_s: list[float] = []
        self.by_query: dict[str, list[float]] = {}
        self.pass_s = {False: [], True: []}
        self.persisted: list[int] = []
        self.layers: list[dict] = []
        self.tracer = None

    def log(self, msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    # -- phase 1 ------------------------------------------------------------
    def setup(self, workload) -> float:
        """Seconds from importing the engine to the end of the workload's
        first query, in a fresh JVM."""
        from tracing import NullTracer
        t0 = time.perf_counter()
        from pandas_expr_spark import get_spark
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        self.ctx = workload.prepare(spark, self.sf_dir, self.work_dir,
                                    self.args.seed)
        workload.queries[0].run(NullTracer(), self.ctx)
        return time.perf_counter() - t0

    # -- phase 2 ------------------------------------------------------------
    def check(self, workload) -> None:
        self.bad_queries = workload.check(self.ctx)
        for name, problems in self.bad_queries.items():
            self.log(f"CHECK FAIL {name}: {'; '.join(problems)}")

    # -- phase 3 ------------------------------------------------------------
    def run_pass(self, workload, t) -> tuple[float, list]:
        """Every query once, in an order drawn from the seed; returns the
        pass wall time and (query, seconds, ok) per query."""
        order = list(workload.queries)
        self.rng.shuffle(order)
        results = []
        t0 = time.perf_counter()
        for q in order:
            q0 = time.perf_counter()
            try:
                with t.query(q.name):
                    q.run(t, self.ctx)
                ok = True
            except Exception:               # counted, and the loop goes on
                ok = False
                self.log(f"QUERY FAIL {q.name}\n{traceback.format_exc()}")
            results.append((q.name, time.perf_counter() - q0, ok))
        return time.perf_counter() - t0, results

    def timed_pass(self, workload, traced: bool) -> None:
        from tracing import NullTracer
        if traced:
            first, harvest0 = len(self.tracer.spans), self.tracer.harvest_s
            self.tracer.install()
            try:
                wall, results = self.run_pass(workload, self.tracer)
            finally:
                self.tracer.uninstall()
            wall -= self.tracer.harvest_s - harvest0
            self.layers.append(layer_metrics(self.tracer.spans[first:]))
        else:
            wall, results = self.run_pass(workload, NullTracer())
            for name, sec, _ in results:
                self.query_s.append(sec)
                self.by_query.setdefault(name, []).append(sec)
        for name, _, ok in results:
            self.attempted += 1
            self.failed += (not ok) or name in self.bad_queries
        self.pass_s[traced].append(wall)
        self.persisted.append(
            self.ctx.spark.sparkContext._jsc.getPersistentRDDs().size())

    def measure(self, workload) -> None:
        """Whole timed passes while the next one is expected to end within
        the time given, and at least ``MIN_PASSES``; with ``--trace 1`` they
        alternate untraced, traced, untraced, ..."""
        from tracing import Tracer
        if self.args.trace:
            self.tracer = Tracer(self.ctx.spark)
        t0 = time.perf_counter()
        passes = 0
        while True:
            p0 = time.perf_counter()
            self.timed_pass(workload, traced=bool(self.args.trace
                                                  and passes % 2))
            passes += 1
            now = time.perf_counter()
            if passes >= MIN_PASSES and \
                    now - t0 + (now - p0) > self.args.seconds:
                break

    def stop(self) -> None:
        from pyspark import SparkContext
        if self.ctx is not None:
            self.ctx.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.work_dir, ignore_errors=True)


def main(argv=None) -> int:
    become_subreaper()
    try:
        return bench(argv)
    finally:
        left = reap_descendants()
        if left:
            print(f"perfbench: ended {left} process(es) left running",
                  file=sys.stderr, flush=True)


def bench(argv) -> int:
    args = parse_args(argv)
    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a pandas_expr_spark checkout, missing "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    prepare_environment()
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    run = Run(args)
    try:
        t0 = time.perf_counter()
        setup = run.setup(workload)
        t1 = time.perf_counter()
        run.check(workload)
        reset_peak_rss()
        steal0, ticks0 = cpu_ticks()
        t2 = time.perf_counter()
        run.measure(workload)
        peak_mb = peak_rss_mb()
        steal1, ticks1 = cpu_ticks()
        run.log(f"phases: setup {t1 - t0:.1f} s, check {t2 - t1:.1f} s, "
                f"timed passes {time.perf_counter() - t2:.1f} s")
        if run.tracer is not None:
            run.tracer.write(os.path.join(
                OUT_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        run.stop()

    med = statistics.median
    tail_s, tail_pct, tail_n = tail(run.query_s)
    e2e = {
        "setup_s": setup,
        "pass_s": med(run.pass_s[False]),
        "query_p50_s": med(run.query_s),
        "query_tail_s": tail_s,
        "peak_rss_mb": peak_mb,
        "ok_frac": 1.0 - run.failed / run.attempted,
    }
    print(f"workload {args.workload}: seed {args.seed}, {args.sf}, "
          f"{os.environ['SPARK_GRAFT_CPUS']} cpus, closed loop, 1 client")
    print(f"CPU time stolen by other guests during the timed passes: "
          f"{100.0 * (steal1 - steal0) / max(ticks1 - ticks0, 1):.1f}%")
    print(f"passes: untraced {len(run.pass_s[False])}, "
          f"traced {len(run.pass_s[True])}; query samples {len(run.query_s)}")
    for traced, times in run.pass_s.items():
        if times:
            print(f"{'traced' if traced else 'untraced'} pass times: "
                  f"{' '.join(f'{t:.3f}' for t in times)} s")
    print("query medians: " + ", ".join(
        f"{n} {med(v):.3f}" for n, v in run.by_query.items()) + " s")
    for name, value in e2e.items():
        print(f"{name} = {value:.6g} {E2E_UNITS[name]}")
    print(f"query_tail_s is p{tail_pct:.1f} of {tail_n} samples")
    print(f"failed_frac = {run.failed / run.attempted:.6g} ratio "
          f"({run.failed} of {run.attempted})")
    print(f"cache.persisted_rdds after each pass: "
          f"{' '.join(map(str, run.persisted))}")
    if args.trace:
        layers = {k: med([p[k] for p in run.layers]) for k in run.layers[0]}
        layers["cache.persisted_rdds"] = run.persisted[-1]
        untraced = med(run.pass_s[False])
        layers["trace.overhead_frac"] = (med(run.pass_s[True]) - untraced) \
            / untraced
        for name, value in layers.items():
            print(f"{name} = {value:.6g} {LAYER_UNITS[name]}")
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not run.bad_queries,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
