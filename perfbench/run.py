"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ecog_folder --seed 1 --seconds 10 \
        --trace 0

A run is a closed loop: one client in one process on local[nproc], one pass
at a time. It generates the workload's inputs from the seed, sets up a
Spark session twice, each on a fresh JVM and each followed by its cold
pass, keeps the second session for warm passes for --seconds (at least
two), and then checks the last cold pass's output. Every metric is printed
by name with its unit; the last line of standard output is the JSON result.
With --trace 1 the run instead records spans around each layer and prints
the per-layer metrics (see README.md).

Inputs, Spark's scratch space and the JVM's temp files live in a fresh
directory under .perfbench/ in the checkout, removed at exit. Every process
the run starts is stopped and waited for on a normal end, on an error, on a
pass past the run's deadline, and on SIGINT or SIGTERM.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(1, ROOT)

RUN_LIMIT_S = 170.0
SETUPS = 2      # per untraced run; each on a fresh JVM with a cold pass

END_TO_END = {"pass_s": "s", "cold_pass_s": "s", "setup_s": "s",
              "peak_rss_mb": "MB"}
_GENERIC_LAYERS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "scan.s": "s", "scan.rows": "count", "scan.mb": "MB",
    "dsp.resample_s": "s", "dsp.notch_s": "s", "dsp.car_s": "s",
    "dsp.wavelet_s": "s", "dsp.post_resample_s": "s",
    "dsp.numpy_serial_s": "s",
    "proc.jvm_cpu_s": "s", "proc.python_worker_cpu_s": "s",
    "proc.cpu_util": "ratio", "jvm.gc_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "trace.self_sum_s": "s", "trace.pass_s": "s",
}


def per_layer_units(workloads) -> dict[str, str]:
    units = dict(_GENERIC_LAYERS)
    for w in workloads.values():
        for name in w.layers:
            units[name] = ("count" if name.endswith("rows_shuffled") else
                           "MB" if name.endswith("_mb") else
                           "ratio" if name.endswith("_frac") else "s")
    return units


class Deadline:
    """The run's wall-clock limit and its stop request. Past the limit,
    running Spark jobs are cancelled and `check` raises TimeoutError; after
    SIGTERM or SIGINT, `check` raises SystemExit. The passes call `check`
    between their Spark actions."""

    def __init__(self, seconds: float):
        self.at = time.monotonic() + seconds
        self.signal = None
        self._timer = None

    def arm(self, spark) -> None:
        self.disarm()
        self._timer = threading.Timer(max(0.0, self.at - time.monotonic()),
                                      spark.sparkContext.cancelAllJobs)
        self._timer.daemon = True
        self._timer.start()

    def disarm(self) -> None:
        if self._timer is not None:
            self._timer.cancel()
            self._timer = None

    def check(self) -> None:
        if self.signal is not None:
            raise SystemExit(128 + self.signal)
        if time.monotonic() > self.at:
            raise TimeoutError("run deadline passed")


def _watch_signals(fd: int, deadline: Deadline) -> None:
    """Record SIGTERM or SIGINT and terminate the gateway JVM at once.

    Python runs a signal handler only when the main thread next executes
    bytecode, a main thread waiting on a Spark job may not be woken by the
    signal at all, and Spark's error handling can swallow the handler's
    exception. Ending the JVM closes the socket the main thread waits on,
    and the next `Deadline.check` raises."""
    while True:
        sig = os.read(fd, 1)[0]
        if sig not in (signal.SIGTERM, signal.SIGINT):
            continue
        deadline.signal = sig
        pyspark = sys.modules.get("pyspark")     # never import it from here
        proc = getattr(pyspark and pyspark.SparkContext._gateway, "proc",
                       None)
        if proc is not None:
            proc.terminate()


def _timed(fn, *a, **kw):
    t = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t


def measured_passes(box, wl, spark, seconds: float, deadline) -> dict:
    """Untraced warm passes for `seconds` (at least one) under one job
    group, with the process and scheduler figures per pass."""
    from lifecycle import cpu_seconds

    sc, group = spark.sparkContext, "perfbench-pass"
    gcs = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()

    def gc_s():
        return sum(g.getCollectionTime() for g in gcs) / 1000.0

    def cpu():
        return (cpu_seconds(box.jvm_pid()), box.worker_cpu_s(),
                sum(os.times()[:2]))

    sc.setJobGroup(group, "measured warm passes")
    c0, g0, times = cpu(), gc_s(), []
    t_end = time.monotonic() + seconds
    while not times or time.monotonic() < t_end:
        deadline.check()
        times.append(_timed(wl.run_pass, spark, False, deadline)[1])
    c1, g1 = cpu(), gc_s()
    sc.setLocalProperty("spark.jobGroup.id", None)
    n, wall = len(times), sum(times)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [st.getStageInfo(s) for j in jobs
              for s in st.getJobInfo(j).stageIds]
    d = [b - a for a, b in zip(c0, c1)]
    return {
        "passes": n, "trace.pass_s": statistics.median(times),
        "proc.jvm_cpu_s": d[0] / n, "proc.python_worker_cpu_s": d[1] / n,
        "proc.cpu_util": sum(d) / (wall * box.cores),
        "jvm.gc_s": (g1 - g0) / n,
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(s.numTasks for s in stages if s) / n,
        "spark.failed_tasks": sum(s.numFailedTasks for s in stages if s) / n,
    }


def run(args, out, deadline: Deadline) -> dict:
    """The run itself; returns the result object. `out` collects the
    human-readable lines printed before it."""
    t0 = time.perf_counter()
    import lifecycle
    import workloads
    import_s = time.perf_counter() - t0

    os.makedirs(WORK, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=WORK)
    box = None
    try:
        box = lifecycle.Box(scratch, os.cpu_count() or 1)
        box.start_sampling()
        wl = workloads.ALL[args.workload](args.scale)
        _, gen_s = _timed(wl.prepare, os.path.join(scratch, "in"), args.seed)
        out.append(f"# inputs generated in {gen_s:.3f} s (not timed)")
        setups, colds = [], []      # (start_s, warmup_s); cold pass seconds
        attempted, failed, result = 0, 0, None
        for _ in range(1 if args.trace else SETUPS):
            if setups:
                box.stop()
            spark, start_s = _timed(box.start)
            setups.append((start_s, _timed(wl.warmup, spark)[1]))
            deadline.arm(spark)
            attempted += 1
            try:
                result, cold_s = _timed(wl.run_pass, spark, True, deadline)
                colds.append(cold_s)
            except Exception as e:  # noqa: BLE001 - a failed pass is reported
                failed, result = failed + 1, None
                out.append(f"# cold pass failed: {type(e).__name__}: {e}")
        if args.trace:
            metrics = traced(args, box, wl, spark, deadline, out,
                             {"session.start_s": setups[0][0],
                              "session.warmup_s": setups[0][1]})
            attempted += metrics.pop("passes")
            units = per_layer_units(workloads.ALL)
        else:
            times, cold_attempts = [], attempted
            t_end = time.monotonic() + args.seconds
            while (attempted - cold_attempts < 2          # 2 warm passes
                   or time.monotonic() < t_end):
                attempted += 1
                try:
                    deadline.check()
                    times.append(_timed(wl.run_pass, spark, False,
                                        deadline)[1])
                except Exception as e:  # noqa: BLE001 - counted as failed
                    failed += 1
                    out.append(f"# pass failed: {type(e).__name__}: {e}")
                    if isinstance(e, TimeoutError):
                        break
            out.append(f"# {len(times)} warm passes: "
                       + " ".join(f"{t:.3f}" for t in times))
            metrics = {
                "pass_s": statistics.median(times) if times else float("nan"),
                "cold_pass_s": (statistics.median(colds) if colds
                                else float("nan")),
                "setup_s": import_s + statistics.median(map(sum, setups)),
            }
            out.append("# cold passes: " + " ".join(
                f"{t:.3f}" for t in colds))
            out.append("# set-ups: " + " ".join(
                f"{import_s + sum(s):.3f}" for s in setups))
            units = END_TO_END
        peak = box.stop_sampling()
        if not args.trace:
            metrics["peak_rss_mb"] = peak
        if result is not None:
            try:
                problem = wl.check(spark, result)
            except Exception as e:  # noqa: BLE001 - a malformed result
                problem = f"{type(e).__name__}: {e}"
            if problem:
                failed += 1
                out.append(f"# output check failed: {problem}")
        deadline.disarm()
        out.append(f"# record: {json.dumps(record(box, args, import_s))}")
        box.close()
        box = None
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        try:
            if box is not None:
                box.close()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    out.append(f"# failed_frac {failed / attempted:.4f} "
               f"({failed} of {attempted} passes)")
    for k, v in metrics.items():
        out.append(f"{k} {v:.6g} {units[k]}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def traced(args, box, wl, spark, deadline, out, session: dict) -> dict:
    """Per-layer metrics: the workload's layers at its own size, then the
    untraced passes, then every other workload's layers at smoke size so
    that each per-layer metric is measured on every run."""
    import workloads
    from spans import Tracer

    tracer = Tracer()
    m = dict(session)
    with tracer.span(f"workload.{wl.name}"):
        m.update(wl.trace(spark, tracer, deadline))
    m.update(measured_passes(box, wl, spark, args.seconds, deadline))
    untraced, self_sum = m["trace.pass_s"], m["trace.self_sum_s"]
    out.append(f"# tracing and fusion gap: untraced pass {untraced:.3f} s - "
               f"summed layer self times {self_sum:.3f} s = "
               f"{untraced - self_sum:.3f} s")
    if "dsp.numpy_serial_s" in m:
        out.append("# diagnostic, not a metric: Spark pass / serial NumPy = "
                   f"{m['trace.pass_s'] / m['dsp.numpy_serial_s']:.3f}")
    for name, cls in workloads.ALL.items():
        if name == wl.name:
            continue
        other = cls("smoke")
        other.prepare(os.path.join(box.scratch, "in", name), args.seed)
        other.warmup(spark)
        with tracer.span(f"smoke.{name}"):
            for k, v in other.trace(spark, tracer, deadline).items():
                m.setdefault(k, v)
    units = per_layer_units(workloads.ALL)
    path = os.path.join(WORK, "spans", f"{wl.name}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tracer.write(path)
    out.append(f"# spans written to {os.path.relpath(path, ROOT)}")
    return {"passes": m["passes"], **{k: m[k] for k in units}}


def record(box, args, import_s) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "scale": args.scale,
            "cores": box.cores, "heap": box.heap,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "import_s": round(import_s, 3)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full",
                   help="input size; smoke is for the self-test")
    args = p.parse_args(argv)
    deadline = Deadline(RUN_LIMIT_S)

    def on_signal(signum, _frame):
        deadline.signal = signum
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    wake_r, wake_w = os.pipe()
    os.set_blocking(wake_w, False)
    signal.set_wakeup_fd(wake_w)
    threading.Thread(target=_watch_signals, args=(wake_r, deadline),
                     daemon=True).start()
    out: list[str] = []
    try:
        result = run(args, out, deadline)
    except Exception:
        if deadline.signal is not None:     # the failure the signal caused
            raise SystemExit(128 + deadline.signal) from None
        raise
    finally:
        print("\n".join(out), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
