"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_bench.py -q

They check that the metric names and units match BENCHMARK.json, that a
seed fixes the inputs, that each workload passes a small run (untraced and
traced), and that no process started by a run outlives it: after a normal
end, after SIGTERM or SIGINT in the middle of a pass, after a pass cancelled
by the run's deadline, and in a directory that holds only the benchmark.
"""
from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import lifecycle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from inputs import tree_digest  # noqa: E402

# orphans of a benchmark run are re-parented here, where the checks see them
lifecycle.become_subreaper()


def _descendants() -> list[int]:
    lifecycle._reap()
    parent = {}
    for name in os.listdir("/proc"):
        f = lifecycle._stat_fields(int(name)) if name.isdigit() else None
        if f is not None and f[0] != "Z":
            parent[int(name)] = int(f[1])
    mine, found = {os.getpid()}, True
    while found:
        found = False
        for pid, ppid in parent.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                found = True
    return sorted(mine - {os.getpid()})


def _bench(*args, cwd=ROOT, stderr=subprocess.PIPE):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.Popen(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
        stdout=subprocess.PIPE, stderr=stderr, text=True)


def _leftover_dirs() -> list[str]:
    work = os.path.join(ROOT, ".perfbench")
    return [d for d in os.listdir(work) if d.startswith("run-")] \
        if os.path.isdir(work) else []


def _manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_manifest():
    m = _manifest()
    assert [w["name"] for w in m["workloads"]] == list(workloads.WORKLOADS)
    assert {e["name"]: e["unit"] for e in m["end_to_end"]} == run.END_TO_END
    assert ({e["name"]: e["unit"] for e in m["per_layer"]}
            == run.per_layer_units(workloads.ALL))
    for e in m["end_to_end"]:
        assert e["better"] == "lower" and 0 < e["bound"] <= 0.25
    setup = next(e for e in m["end_to_end"] if e["name"] == "setup_s")
    assert setup["bound"] == max(e["bound"] for e in m["end_to_end"])
    assert m["command"] == ["python3", "perfbench/run.py"]


@pytest.mark.parametrize("name", list(workloads.ALL))
def test_same_seed_gives_same_inputs(tmp_path, name):
    def digest(seed, sub):
        w = workloads.ALL[name]("smoke")
        w.prepare(str(tmp_path / sub), seed)
        return tree_digest(str(tmp_path / sub))

    first = digest(5, "a")
    assert first == digest(5, "b")
    assert first != digest(6, "c")


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("name", list(workloads.ALL))
def test_smoke_run_is_correct_and_leaves_nothing(name, trace):
    p = _bench("--workload", name, "--seed", "3", "--seconds", "1",
               "--trace", trace, "--scale", "smoke")
    out, err = p.communicate(timeout=300)
    assert p.returncode == 0, err[-3000:]
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out
    # untraced: a cold pass per set-up and at least two warm passes
    assert result["attempted"] >= (2 if trace == "1" else run.SETUPS + 2)
    want = (run.END_TO_END if trace == "0"
            else run.per_layer_units(workloads.ALL))
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)) and v["value"] == v[
            "value"], k
    assert _descendants() == []
    assert _leftover_dirs() == []


@pytest.mark.parametrize("sig", [signal.SIGTERM, signal.SIGINT])
def test_signal_mid_pass_stops_every_process(tmp_path, sig):
    # stderr to a file: an undrained pipe would stall Spark's logging
    log = open(tmp_path / "stderr", "w")
    p = _bench("--workload", "ecog_folder", "--seed", "3", "--seconds", "60",
               stderr=log)
    # wait for the Python workers: the run is then inside a pass
    deadline = time.monotonic() + 120
    while not any("pyspark.daemon" in lifecycle.cmdline(pid)
                  for pid in _descendants()):
        assert p.poll() is None and time.monotonic() < deadline
        time.sleep(0.2)
    time.sleep(1.0)
    p.send_signal(sig)
    out, _ = p.communicate(timeout=90)
    log.close()
    assert p.returncode == 128 + sig
    assert '"correct"' not in out
    assert _descendants() == []
    assert _leftover_dirs() == []


def test_deadline_cancels_a_stuck_pass(tmp_path):
    env = dict(os.environ)
    box = lifecycle.Box(str(tmp_path), 2)
    try:
        spark = box.start()
        deadline = run.Deadline(3.0)
        deadline.arm(spark)
        t = time.monotonic()
        with pytest.raises(Exception):
            spark.range(10 ** 13).selectExpr("sum(id * id)").collect()
        assert time.monotonic() - t < 30
        with pytest.raises(TimeoutError):
            deadline.check()
        deadline.disarm()
    finally:
        box.close()
        os.environ.clear()
        os.environ.update(env)
    assert lifecycle.marked_pids(box.marker) == []
    assert _descendants() == []


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", "ecog_folder", "--seed", "1", "--seconds", "1",
               cwd=str(tmp_path))
    out, _ = p.communicate(timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in out
    assert _descendants() == []
