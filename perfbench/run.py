"""Benchmark of the A-share pipeline engine: one workload per run.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Workloads (see ``workloads.py``):
``backfill``, ``nightly_delta`` and ``analyst_queries``. Load is one
client in a closed loop on ``local[nproc]``: the next operation starts
when the previous one returns.

Each run gets its own scratch directory for ``TMPDIR``, the JVM temp
dir, ``SPARK_LOCAL_DIRS`` and the SQL warehouse. What is left there once
the session has stopped is reported as leaked scratch, then removed, so
one run's leaks never slow the next.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run.
Output checks run outside the timed window; a failed check counts the
operation as failed and makes ``correct`` false. Exits non-zero without
a result when the engine cannot be imported or set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = len(os.sched_getaffinity(0))
# The engine's default driver heap is 8g; the benchmark shares its host.
DRIVER_MEM = "2g"
# Operations keep getting faster for a while after the warm-up, so the
# median is taken over the same number of them whatever the host speed.
MIN_OPS = 3


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except FileNotFoundError:
                pass
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc. A child still running
    the JVM's executable is a fork about to exec a helper command: its
    pages are the JVM's own, so it is not counted twice."""

    def __init__(self, root_pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.root_exe = os.readlink(f"/proc/{root_pid}/exe")
        self.period = period
        self.peak_kb = 0
        self.pids: set[int] = set()
        self._stop_event = threading.Event()

    def tree(self) -> list[int]:
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            for task in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else []:
                try:
                    with open(f"/proc/{pid}/task/{task}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
                except OSError:
                    pass
        return out

    def sample(self) -> None:
        total = 0
        for pid in self.tree():
            try:
                if pid != self.root_pid and os.readlink(f"/proc/{pid}/exe") == self.root_exe:
                    continue
                self.pids.add(pid)
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.sample()
            self._stop_event.wait(self.period)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


class Run:
    """One benchmark run: its scratch, its session, its timings."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.dir = os.path.join(ROOT, ".perfbench_runs", f"{workload}-{seed}-{os.getpid()}")
        self.scratch = {k: os.path.join(self.dir, k) for k in ("tmp", "local", "warehouse")}
        self.work = os.path.join(self.dir, "work")
        self.event_log = os.path.join(self.dir, "eventlog")
        for d in (*self.scratch.values(), self.work, self.event_log):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = self.scratch["tmp"]
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = self.scratch["local"]
        os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        # Python workers import the engine by name, whatever the cwd.
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        self.nproc = NPROC
        self.tracer = None
        self.spark = None
        self.sampler = None
        self.stopped = False
        self.setup_parts: dict[str, float] = {}
        self.op_times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.correct = True

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": "file://" + self.scratch["warehouse"],
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + self.scratch["tmp"],
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log,
                "spark.eventLog.compress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        return conf

    def start_session(self) -> None:
        from a_share_data_pipeline_spark import session

        t0 = time.perf_counter()
        if self.tracer is not None:
            self.spark = self.tracer.call("session.get_spark", session.get_spark, "perfbench", extra_conf=self.conf())
            self.tracer.sc = self.spark.sparkContext
        else:
            self.spark = session.get_spark("perfbench", extra_conf=self.conf())
        self.setup_parts["session"] = time.perf_counter() - t0
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.sampler = RssSampler(jvm_pid)
        self.sampler.start()

    def timed_setup(self, part: str, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        self.setup_parts[part] = self.setup_parts.get(part, 0.0) + time.perf_counter() - t0
        return out

    def fail(self, what: str) -> None:
        """A failed output check: the run is not correct."""
        print(f"perfbench: check failed: {what}", file=sys.stderr)
        self.correct = False

    def measure(self, op, check=None) -> None:
        """Closed loop: run ``op(i)`` until ``seconds`` have passed and at
        least ``MIN_OPS`` operations have completed, so a slow window
        still yields a median. Each call is one timed operation;
        ``check(i, result)``, untimed, may return a failure message.
        Stops early after three failures in a row, so a broken engine
        does not spin for the whole window."""
        deadline = time.perf_counter() + self.seconds
        i = streak = 0
        while (time.perf_counter() < deadline or len(self.op_times) < MIN_OPS) and streak < 3:
            self.attempted += 1
            span = self.tracer.open("op") if self.tracer is not None else None
            b0 = self.tracer.bookkeeping if span is not None else 0.0
            t0 = time.perf_counter()
            try:
                result = op(i)
                elapsed = time.perf_counter() - t0
            except Exception:  # noqa: BLE001 — an operation that raises is a failed operation
                traceback.print_exc()
                result, elapsed = None, None
            finally:
                if span is not None:
                    self.tracer.close(span)
                    span.counters["trace_s"] = self.tracer.bookkeeping - b0
            problem = "raised" if elapsed is None else (check(i, result) if check else None)
            if problem:
                self.failed += 1
                streak += 1
                self.fail(f"operation {i}: {problem}")
            else:
                streak = 0
                self.op_times.append(elapsed)
            i += 1

    def stop(self) -> dict[str, float]:
        """Stop the session and every process it started, then measure
        what is left in the run's scratch. Later calls do nothing."""
        from pyspark import SparkContext

        if self.stopped:
            return {}
        self.stopped = True
        out = {}
        if self.sampler is not None:
            self.sampler.stop()
            out["peak_rss_mb"] = self.sampler.peak_kb / 1024
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        for pid in self.sampler.pids if self.sampler else ():
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
        out["leaked_scratch_mb"] = sum(dir_bytes(d) for d in self.scratch.values()) / 2**20
        return out

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import a_share_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if run.trace:
            run.tracer = Tracer(f"{args.workload}-{args.seed}")
            workloads.install_spans(run.tracer)
        summary = workloads.WORKLOADS[args.workload](run)
        summary.update(run.stop())
        summary["setup_s"] = sum(run.setup_parts.values())
        summary["op_p50_s"] = statistics.median(run.op_times)
        summary.update({f"setup.{k}_s": v for k, v in run.setup_parts.items()})
        summary["error_rate"] = run.failed / run.attempted
        metrics = workloads.layer_metrics(run, summary) if run.trace else summary
        result = {
            "correct": run.correct and run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": workloads.contract_metrics(run.trace, metrics),
        }
    except Exception:  # noqa: BLE001 — a run that cannot finish prints no result
        traceback.print_exc()
        run.stop()
        return 1
    finally:
        if run.tracer is not None:
            run.tracer.restore()
        run.cleanup()
    record = {"workload": args.workload, "seed": args.seed, "ops": len(run.op_times),
              "op_times": [round(t, 4) for t in run.op_times],
              "summary": {k: round(v, 6) for k, v in sorted(summary.items())}}
    if run.trace:
        record["layers"] = {k: round(v, 6) for k, v in sorted(metrics.items())}
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
