"""End-to-end proof that bench.py can no longer lose the driver record.

The driver parses the trailing JSON out of a ~2 KB COMBINED
stdout+stderr tail of the bench run. Three rounds lost the record three
ways: r5 (the full dict outgrew the tail), r10 (JVM OOM in the final
curve diagnostic before the line printed at all), r11 (the line printed
early, then the curve child's INHERITED stderr buried it under executor
crash spam). The contract that actually failed is therefore the one
asserted here: bench.py is run as the driver runs it — a subprocess
with stderr MERGED into stdout — and the merged output must END with
the parseable headline line, under

  * a forced failure in every scaling section
    (SPARK_GRAFT_BENCH_INJECT_FAIL=sf1,skew,curve — the curve failure
    fires inside the --curve-child subprocess, exercising the rc!=0
    path), and
  * the exact r11 mode: a curve child that floods stderr with executor
    crash spam and then dies by SIGKILL mid-run (inject key
    `curve-kill`) — the spam must land in the child's log file, never
    in this process's captured streams.

Both runs use sf0.001 with a 2-query headline and single passes so the
whole proof costs minutes, not a full bench run.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_bench(tmp_path, inject: str, extra_env: dict | None = None):
    full_out = tmp_path / "full.json"
    curve_log = tmp_path / "curve_stderr.log"
    # cores_scaling relaunches sessions and re-times the expensive sf1
    # faces — far too heavy for these contract tests; off even when the
    # shell exports it, unless a test opts in via extra_env (the
    # fault-isolation test injects a failure into it, which raises before
    # any session work)
    env = dict(
        dict(os.environ, SPARK_GRAFT_BENCH_CORES_SECTION="0"),
        **(extra_env or {}),
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_BENCH_RATIO_RUNS="1",
        SPARK_GRAFT_BENCH_QUERIES="agg_pricing_summary,join_inner_broadcast",
        SPARK_GRAFT_BENCH_SCALE_FORCE="1",
        SPARK_GRAFT_BENCH_INJECT_FAIL=inject,
        SPARK_GRAFT_BENCH_FULL_OUT=str(full_out),
        SPARK_GRAFT_BENCH_CURVE_LOG=str(curve_log),
        # the headline itself must be cheap here; scaling never runs
        SPARK_GRAFT_BENCH_DRIVER_MEM="8g",
    )
    # stderr MERGED into stdout: the driver's tail capture is combined,
    # and the r11 loss happened on the combined stream — assert on it
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        env=env, cwd=REPO, timeout=600)
    return r, full_out, curve_log


def _check_merged_contract(r):
    """rc 0; the merged stdout+stderr ENDS with the headline JSON line,
    which also printed once early (crash-before-end insurance)."""
    assert r.returncode == 0, (
        f"bench.py rc={r.returncode}\nmerged tail:\n{r.stdout[-2000:]}")
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    assert lines, "no output at all"
    head = json.loads(lines[-1])   # the driver's parse: trailing JSON
    assert head["metric"] == "headline_queries_total"
    assert head["unit"] == "sec"
    assert set(head["queries"]) == {
        "agg_pricing_summary", "join_inner_broadcast", "signal_pipeline"}
    assert all(v >= 0 for v in head["queries"].values())
    assert len(lines[-1]) < 1900   # the driver's ~2 KB tail capture
    # the early copy is present too, identical — both failure modes
    # (crash before the end, spam after the early print) stay covered
    assert lines.count(lines[-1]) == 2, (
        f"headline line must appear exactly twice (early + final), "
        f"got {lines.count(lines[-1])}")
    return head


def test_bench_headline_survives_scaling_failures(tmp_path):
    r, full_out, _ = _run_bench(
        tmp_path, inject="sf1,skew,assemble_v3,cores_scaling,curve",
        extra_env={"SPARK_GRAFT_BENCH_CORES_SECTION": "1"})
    _check_merged_contract(r)
    full = json.loads(full_out.read_text())
    for section in ("sf1", "skew", "assemble_v3", "cores_scaling",
                    "signal_multi_series_curve"):
        assert "err" in full[section], (
            f"section {section} should have recorded its injected "
            f"failure, got {full[section]!r}")
        assert "injected failure" in full[section]["err"] or (
            section == "signal_multi_series_curve"
            and "rc=" in full[section]["err"])


def test_bench_refuses_silently_empty_curve(tmp_path):
    """A curve child that exits rc 0 WITHOUT writing its result file
    must yield an err marker in the artifact, never an empty curve
    recorded as success (the r5/r10/r11 silent-loss class)."""
    r, full_out, _ = _run_bench(
        tmp_path, inject="sf1,skew,assemble_v3,curve-silent")
    _check_merged_contract(r)
    full = json.loads(full_out.read_text())
    curve = full["signal_multi_series_curve"]
    assert "err" in curve and "no readable result" in curve["err"], curve


def test_bench_headline_survives_curve_child_sigkill(tmp_path):
    """The exact r11 failure: the curve child floods stderr with
    executor crash spam and dies uncleanly. The spam must land in the
    child's log file — the parent's merged output still ends with the
    headline line, and the artifact records the child's exit."""
    r, full_out, curve_log = _run_bench(
        tmp_path, inject="sf1,skew,assemble_v3,curve-kill")
    _check_merged_contract(r)
    assert "Python worker exited unexpectedly" not in r.stdout, (
        "child crash spam leaked into the parent's captured streams")
    assert curve_log.exists()
    assert "Python worker exited unexpectedly" in curve_log.read_text()
    full = json.loads(full_out.read_text())
    curve = full["signal_multi_series_curve"]
    assert "err" in curve and "rc=" in curve["err"], curve


def test_bench_curve_watchdog_kills_whole_process_group(tmp_path):
    """The r13-ADVICE gap: the watchdog used to SIGKILL only the Python
    curve child, orphaning the gateway JVM it spawned — the wedged,
    CPU-spinning process the watchdog exists to reclaim — with its
    up-to-32g heap alive for the rest of the run. The child now runs
    in its own session/process group and the timeout kills the GROUP:
    inject a child that hangs after spawning a long-lived grandchild
    (the stand-in gateway JVM), run with a tiny watchdog budget, and
    assert the headline survives, the artifact records the watchdog
    kill, and the GRANDCHILD is dead."""
    import errno
    import time

    pidfile = tmp_path / "gateway.pid"
    r, full_out, curve_log = _run_bench(
        tmp_path, inject="sf1,skew,assemble_v3,curve-hang",
        extra_env={"SPARK_GRAFT_BENCH_CURVE_TIMEOUT": "10",
                   "SPARK_GRAFT_BENCH_HANG_PIDFILE": str(pidfile)})
    _check_merged_contract(r)
    full = json.loads(full_out.read_text())
    curve = full["signal_multi_series_curve"]
    assert "err" in curve and "watchdog" in curve["err"], curve
    assert pidfile.exists(), "hang hook never spawned its grandchild"
    gwpid = int(pidfile.read_text())
    # SIGKILL delivery to the group is synchronous; reaping by init is
    # not instantaneous — poll briefly before declaring a leak
    deadline = time.time() + 10
    alive = True
    while time.time() < deadline:
        try:
            os.kill(gwpid, 0)
        except OSError as e:
            if e.errno == errno.ESRCH:
                alive = False
                break
            raise
        time.sleep(0.2)
    assert not alive, (
        f"grandchild (stand-in gateway JVM) pid {gwpid} survived the "
        f"watchdog — process-group kill did not propagate")


# ---------------------------------------------------------------------------
# r13: memory-ceiling adaptation of the multi-series curve (the n=128
# point died on the driver's box four rounds running — SIGKILL-shaped
# Python-worker deaths under a memory cgroup). The contract: a failed
# point retries ONCE on a reduced-parallelism session and records the
# condition; a second failure records an EXPLICIT skip marker (never a
# bare 'err'); SPARK_GRAFT_BENCH_CURVE_MAX_N caps points up front.
# ---------------------------------------------------------------------------
def _fake_curve(monkeypatch, ns, fail_on=None, fail_always=False):
    """Drive bench_multi_series_curve with a stubbed point function:
    `fail_on` fails (once, or always) when run on the 'full' session."""
    import bench

    calls = []

    def fake_point(spark, n):
        calls.append((spark, n))
        if n in (fail_on or ()) and (fail_always or spark == "full"):
            raise RuntimeError(f"worker crashed n={n}")
        return {"n_series": n, "session": spark}

    monkeypatch.setattr(bench, "_curve_point", fake_point)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_CURVE_NS",
                       ",".join(str(n) for n in ns))
    return bench, calls


def test_curve_point_retry_downshifts_and_annotates(monkeypatch):
    bench, calls = _fake_curve(monkeypatch, (16, 32, 64), fail_on={32})
    respawned = []

    def respawn(old):
        respawned.append(old)
        return "lowmem", 12

    curve = bench.bench_multi_series_curve(
        "full", {"base": 1}, respawn=respawn)
    assert curve[1] == {"n_series": 16, "session": "full"}
    # the failed point retried on the downshifted session and says so
    assert curve[2]["session"] == "lowmem"
    assert curve[2]["retry"]["cores"] == 12
    assert "worker crashed" in curve[2]["retry"]["after"]
    # later points STAY downshifted and are annotated
    assert curve[3]["session"] == "lowmem" and curve[3]["cores"] == 12
    assert len(respawned) == 1 and respawned[0] == "full"
    assert not any("err" in e for e in curve)


def test_curve_point_double_failure_is_explicit_skip(monkeypatch):
    bench, _ = _fake_curve(monkeypatch, (16, 32), fail_on={32},
                           fail_always=True)
    curve = bench.bench_multi_series_curve(
        "full", {"base": 1}, respawn=lambda old: ("lowmem", 12))
    e = curve[2]
    assert e["n_series"] == 32
    assert e["skipped"] == "env memory ceiling"
    assert "worker crashed" in e["first_attempt"]
    assert "worker crashed" in e["retry_attempt"]
    assert "err" not in e   # explicit skip, never a bare err


def test_curve_without_respawn_keeps_legacy_err(monkeypatch):
    bench, _ = _fake_curve(monkeypatch, (16,), fail_on={16},
                           fail_always=True)
    curve = bench.bench_multi_series_curve("full", {"base": 1})
    assert "worker crashed" in curve[1]["err"]


def test_curve_max_n_cap_records_explicit_skip(monkeypatch):
    bench, calls = _fake_curve(monkeypatch, (16, 32, 64))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_CURVE_MAX_N", "32")
    curve = bench.bench_multi_series_curve("full", {"base": 1})
    assert curve[1]["n_series"] == 16 and curve[2]["n_series"] == 32
    assert curve[3]["skipped"].startswith("capped by")
    # the capped point never ran
    assert all(n <= 32 for _, n in calls)


def test_curve_child_respawn_end_to_end(tmp_path):
    """The REAL downshift path: run the curve child with a forced
    first-attempt failure at every point (curve-point-once). The child
    must stop its session, relaunch at the reduced core count in the
    SAME process, re-run the point successfully, and record the retry
    condition — proving a local-mode session restart with a different
    master actually works where the driver's box needs it."""
    args = tmp_path / "args.json"
    out = tmp_path / "curve.json"
    args.write_text(json.dumps({"n_series": 8, "ratio": 1.0}))
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_CURVE_NS="2",
        SPARK_GRAFT_BENCH_SIG_SECS="0.5",
        SPARK_GRAFT_BENCH_INJECT_FAIL="curve-point-once",
        SPARK_GRAFT_BENCH_CURVE_LOWMEM_CORES="4",
        SPARK_GRAFT_BENCH_DRIVER_MEM="4g",
    )
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--curve-child",
         str(args), str(out)],
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
        env=env, cwd=REPO, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    curve = json.loads(out.read_text())
    assert curve[0]["n_series"] == 8   # base entry passed through
    point = curve[1]
    assert point["n_series"] == 2, point
    assert point["retry"]["cores"] == 4, point
    assert "curve-point-once" in point["retry"]["after"]
    assert point["spark_one_job"] > 0 and point["numpy_serial"] > 0
    assert "err" not in point and "skipped" not in point


def test_cores_scaling_ratios_survive_sub_millisecond_minimum():
    """A sample under 0.5 ms shows as 0.0; the ratios divide the raw
    samples, so one such sample no longer voids the section."""
    import bench

    e = bench._scaling_entry([0.0004, 0.0010], [0.0012, 0.0020])
    assert e["full"] == {"min": 0.0, "median": 0.001}
    assert e["ratio_min"] == 3.0
    assert e["ratio_median"] == round(0.0016 / 0.0007, 2)
    assert bench._scaling_entry([0.0, 0.0], [0.1, 0.1])["ratio_min"] is None
