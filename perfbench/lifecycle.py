"""Session and process lifetime for one benchmark run.

Every process the run starts (the spark-submit launcher, the gateway JVM,
`pyspark.daemon` and its forked workers) carries the run's marker in its
environment, and the run makes itself a child subreaper, so a worker
orphaned by a dying JVM is re-parented to the run instead of to init.
`Box.close` stops the session, shuts the gateway down, and then waits until
no marked process is left, killing what does not exit in time. The RSS
sampler and the CPU readers read the same processes from /proc.
"""
from __future__ import annotations

import ctypes
import os
import signal
import threading
import time
import uuid

MARKER = "PERFBENCH_RUN"
_PR_SET_CHILD_SUBREAPER = 36
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # the command name may hold spaces; fields after it are fixed
    return raw[raw.rfind(b")") + 2:].decode().split()


def marked_pids(marker: str) -> list[int]:
    """Every live process, other than this one, whose environment holds
    `MARKER=marker`."""
    needle = f"{MARKER}={marker}".encode()
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        env = _read(f"/proc/{name}/environ")
        if env and needle in env.split(b"\0"):
            fields = _stat_fields(int(name))
            if fields and fields[0] != "Z":
                out.append(int(name))
    return out


def cmdline(pid: int) -> str:
    raw = _read(f"/proc/{pid}/cmdline") or b""
    return raw.replace(b"\0", b" ").decode(errors="replace")


def cpu_seconds(pid: int, with_children: bool = False) -> float:
    """utime + stime of `pid`; with reaped children's times when asked."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21]) * _PAGE
    return total / 2 ** 20


def physical_mb() -> int:
    for line in open("/proc/meminfo"):
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def jvm_heap() -> str:
    """An eighth of physical memory, between 1 GiB and 4 GiB."""
    return f"{max(1024, min(4096, physical_mb() // 8))}m"


class Box:
    """Owns one run's scratch directory, its Spark sessions and every
    process they start."""

    def __init__(self, scratch: str, cores: int):
        self.scratch = scratch
        self.cores = cores
        self.heap = jvm_heap()
        self.marker = uuid.uuid4().hex
        self.spark = None
        self._peak = 0.0
        self._sampling = threading.Event()
        self._sampler = None
        become_subreaper()
        tmp = os.path.join(scratch, "tmp")
        os.makedirs(tmp)
        os.environ[MARKER] = self.marker
        # workers import the package from the checkout wherever they run
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        self._tmp = tmp

    # ------------------------------------------------------------ sessions
    def start(self):
        """A new session on a new gateway JVM."""
        from process_nwb_spark.session import get_spark

        # The heap is fixed at its size from the start: grown on demand, the
        # JVM's resident size follows its adaptive sizing and varies by a
        # quarter from run to run. No hsperfdata file goes to the system's
        # temp directory.
        self.spark = get_spark("perfbench", **{
            "spark.driver.memory": self.heap,
            "spark.local.dir": self._tmp,
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{self.heap} -Djava.io.tmpdir={self._tmp} "
                "-XX:-UsePerfData",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self, timeout: float = 30.0) -> None:
        """Stop the session and its JVM, then wait for every marked process.

        The gateway JVM is terminated rather than asked through py4j to
        shut down: `spark.stop()` leaves it running, and a py4j command can
        block for good when the JVM is busy or gone."""
        from pyspark import SparkContext

        spark, self.spark = self.spark, None
        if spark is not None:
            stopper = threading.Thread(target=_stop_quietly, args=(spark,),
                                       daemon=True)
            stopper.start()
            stopper.join(timeout / 2)
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.terminate()
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkContext._active_spark_context = None
        self._wait_marked(timeout)

    def _wait_marked(self, timeout: float) -> None:
        deadline = time.monotonic() + timeout
        sent_term = False
        while True:
            _reap()
            left = marked_pids(self.marker)
            if not left:
                return
            if time.monotonic() > deadline:
                for pid in left:
                    _kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            elif not sent_term and time.monotonic() > deadline - timeout / 2:
                for pid in left:
                    _kill(pid, signal.SIGTERM)
                sent_term = True
            time.sleep(0.05)

    def close(self) -> None:
        self.stop_sampling()
        self.stop()

    # ------------------------------------------------------------ sampling
    def tree(self) -> list[int]:
        return [os.getpid()] + marked_pids(self.marker)

    def start_sampling(self, period: float = 0.1) -> None:
        self._sampling.clear()

        def loop():
            while not self._sampling.wait(period):
                self._peak = max(self._peak, rss_mb(self.tree()))

        self._sampler = threading.Thread(target=loop, daemon=True)
        self._sampler.start()

    def stop_sampling(self) -> float:
        self._sampling.set()
        if self._sampler is not None:
            self._sampler.join()
            self._sampler = None
        return self._peak

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def worker_cpu_s(self) -> float:
        """CPU seconds of the Python workers: each daemon with the workers it
        has reaped, plus the live forked workers."""
        total = 0.0
        jvm = self.jvm_pid()
        for pid in marked_pids(self.marker):
            if pid == jvm or "pyspark.daemon" not in cmdline(pid):
                continue
            f = _stat_fields(pid)
            parent_is_daemon = f is not None and "pyspark.daemon" in cmdline(
                int(f[1]))
            total += cpu_seconds(pid, with_children=not parent_is_daemon)
        return total


def _stop_quietly(spark) -> None:
    try:
        spark.sparkContext.cancelAllJobs()
        spark.stop()
    except Exception:  # noqa: BLE001 - the gateway may already be broken
        pass


def _kill(pid: int, sig: int) -> None:
    try:
        os.kill(pid, sig)
    except ProcessLookupError:
        pass


def _reap() -> None:
    """Collect exit status of any child (orphans re-parented here too)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
