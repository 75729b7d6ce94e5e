"""Seeded workload benchmark for photohive_spark on ``local[4]``.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 5 \\
        --trace 0

Runs one workload (extract or relational; see BENCHMARK.json and
README.md) as a closed loop — one client, one Spark action at a time —
against the package's public functions, then checks the outputs.
Human-readable lines (every metric with its unit, failed_frac, the
input's properties and the check's facts) come first; the last line of
stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a traced run, whose spans are written to
``.perfbench/traces/``.

Exits 1 when an output check fails (after printing the result), and fails
without a result when the package is not importable from the working
directory.
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
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3          # timed set-ups per run, after one untimed set-up
                    # that launches the JVM; setup_s is their median
MIN_PASSES = 3      # timed passes per run, even past --seconds
TRACED_MIN = 2      # traced and untraced passes each, in a traced run
CORES = min(4, os.cpu_count() or 1)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the run writes under ``work`` and put the package on
    the Python workers' path. Engine settings come from the package's own
    defaults, so environment overrides of them are dropped."""
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for k in [k for k in os.environ
              if k.startswith("SPARK_GRAFT_") or k == "SPARK_UI"]:
        del os.environ[k]


def _adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so a
    process whose parent ends first (Spark's Python daemon once the JVM is
    gone) is re-parented here and can be waited for. Linux only."""
    import ctypes
    pr_set_child_subreaper = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1,
                                                0, 0, 0)
    except (OSError, AttributeError):
        pass


def _stop_children(timeout: float = 30.0) -> None:
    """Wait until every process this run started has ended: the resource
    tracker that multiprocessing starts, and anything else still alive —
    killed once ``timeout`` seconds have passed."""
    from multiprocessing import resource_tracker
    from perfbench.trace import descendants
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in descendants():
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


class Bench:
    def __init__(self, workload, args, work: str):
        from perfbench.trace import Tracer
        from perfbench.workloads import Ctx
        self.wl, self.args, self.work = workload, args, work
        self.spark = None
        self.ctx = Ctx(Tracer(False))
        self.attempted = self.failed = 0
        self.n_pass = 0

    # ------------------------------------------------------------ session
    def start(self):
        from photohive_spark.session import get_spark
        w = self.work
        self.spark = get_spark(app="perfbench", master=f"local[{CORES}]",
                               extra={
            "spark.driver.memory": "2g",
            "spark.local.dir": f"{w}/spark-local",
            "spark.sql.warehouse.dir": f"{w}/warehouse",
            # no hsperfdata files in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={w}/tmp -XX:-UsePerfData",
        })
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext
        try:
            self.stop()
        except Exception:           # a gateway cut off mid-call
            traceback.print_exc()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is None:
            return
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -------------------------------------------------------------- passes
    def one_pass(self, traced: bool = False) -> float | None:
        """One closed-loop pass; its seconds, or None if it raised (its
        rows then count as failed)."""
        ctx = self.ctx
        ctx.tr.enabled = traced
        ctx.tr.run_id = f"{self.wl.name}-{self.args.seed}-pass{self.n_pass}"
        self.n_pass += 1
        self.attempted += self.wl.rows
        ctx.traced = traced
        if traced:
            ctx.sqlm.mark()
        t0 = time.perf_counter()
        try:
            with ctx.tr.span("pass"):
                self.wl.run_pass(ctx)
        except Exception:
            traceback.print_exc()
            self.failed += self.wl.rows
            return None
        return time.perf_counter() - t0

    def loop(self, seconds: float, traced_every: int = 0):
        """Passes until ``seconds`` have passed (at least MIN_PASSES; with
        ``traced_every`` = 2, passes alternate untraced and traced, at
        least TRACED_MIN of each). -> (untraced seconds, traced seconds,
        peak worker MB)."""
        from perfbench.trace import worker_peak_rss_mb
        plain, traced, rss = [], [], 0.0
        end = time.perf_counter() + seconds
        i = 0
        while (time.perf_counter() < end
               or i < (TRACED_MIN * traced_every if traced_every
                       else MIN_PASSES)):
            is_traced = traced_every and i % traced_every == 1
            dt = self.one_pass(traced=bool(is_traced))
            if dt is not None:
                (traced if is_traced else plain).append(dt)
            rss = max(rss, worker_peak_rss_mb())
            i += 1
        return plain, traced, rss

    # ---------------------------------------------------------------- run
    def run(self) -> tuple[dict, dict]:
        from perfbench.trace import SqlMetrics, worker_peak_rss_mb
        setup_s = []
        # the first set-up launches the JVM and warms it and is not timed
        for r in range(1 if self.args.trace else 1 + SETUPS):
            self.stop()
            t0 = time.perf_counter()
            self.start()
            self.wl.setup(self.spark, self.args.seed, f"{self.work}/data{r}")
            if r:
                setup_s.append(time.perf_counter() - t0)
        # cold_pass_s is a traced-run metric; an untraced run goes straight
        # to the check, which then pays worker boot and JIT instead
        cold_pass_s = self.one_pass() if self.args.trace else None
        t0 = time.perf_counter()
        facts = self.check()
        check_wall = time.perf_counter() - t0
        rss = worker_peak_rss_mb()
        if self.args.trace:
            self.ctx.sqlm = SqlMetrics(self.spark)
            plain, traced, _ = self.loop(self.args.seconds, traced_every=2)
        else:
            plain, traced, rss2 = self.loop(self.args.seconds)
            rss = max(rss, rss2)
        if not plain or (self.args.trace
                         and (not traced or cold_pass_s is None)):
            raise RuntimeError("every timed pass raised")
        facts.update(setup_s_all=setup_s, cold_pass_s=cold_pass_s,
                     check_wall_s=check_wall, pass_s=plain,
                     traced_pass_s=traced)
        if self.args.trace:
            metrics = self.wl.layers(self.ctx)
            metrics["trace.overhead_frac"] = (statistics.median(traced)
                                              / statistics.median(plain) - 1)
            metrics["cold_pass_s"] = cold_pass_s
            self.ctx.tr.write(os.path.join(
                ROOT, ".perfbench", "traces",
                f"{self.wl.name}-seed{self.args.seed}.json"))
        else:
            metrics = {
                "setup_s": statistics.median(setup_s),
                "rows_per_s": self.wl.rows / statistics.median(plain),
                "worker_peak_rss_mb": rss,
            }
        return metrics, facts

    def check(self) -> dict:
        """Run the checked actions, untimed."""
        try:
            n, bad, facts = self.wl.check()
        except Exception:
            traceback.print_exc()
            n, bad, facts = self.wl.rows, self.wl.rows, {"check": "raised"}
        self.attempted += n
        self.failed += bad
        return facts


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops the JVM and waits for its processes
    signal.signal(signal.SIGTERM, lambda sig, _: sys.exit(128 + sig))
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS      # needs photohive_spark
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    _adopt_orphans()
    bench = Bench(WORKLOADS[args.workload](), args, work)
    try:
        values, facts = bench.run()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)   # let clean-up end
        try:
            bench.close()
        finally:
            _stop_children()
            shutil.rmtree(work, ignore_errors=True)

    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise SystemExit(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {}
    for m in wanted:
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{args.workload}  {m['name']} = {v:.6g} {m['unit']}")
    failed_frac = bench.failed / max(1, bench.attempted)
    print(f"{args.workload}  failed_frac = {failed_frac:.6g} "
          f"({bench.failed} of {bench.attempted} rows)")
    print("properties " + json.dumps(bench.wl.props, sort_keys=True))
    print("checks " + json.dumps(facts, sort_keys=True))
    correct = bench.failed == 0
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
