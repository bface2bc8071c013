"""Process, scratch and Spark-session lifecycle for the benchmark.

Everything the benchmark starts lives under one ``BenchSession``:

- one scratch directory inside the checkout (``.perfbench_scratch/<pid>``)
  that receives the Spark local dir, the lexicon sidecars, the event log,
  the warehouse, the shipped package zip, the JVM tmpdir and the generated
  inputs, and that is removed at exit;
- the Spark JVM and its ``pyspark.daemon`` workers.  The benchmark makes
  itself a child subreaper, so a worker whose parent dies is re-parented
  to the benchmark instead of escaping to init; teardown cancels jobs,
  stops the context, closes the JVM's stdin (the gateway exits on EOF),
  then signals and reaps whatever is left and fails if anything survives.

Process-tree CPU and memory are read from ``/proc`` (no third-party
dependency): CPU is utime+stime+cutime+cstime summed over the live tree,
memory is the sum of each live process's ``VmHWM`` (its own peak RSS).
"""
from __future__ import annotations

import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PR_SET_CHILD_SUBREAPER = 36


class Interrupted(BaseException):
    """Raised in the main thread by SIGINT/SIGTERM/SIGALRM.  A BaseException
    so that py4j's and pyspark's ``except Exception`` handlers cannot
    swallow it on its way to the teardown in ``finally``."""


def _raise_interrupted(signum, _frame):
    raise Interrupted(signal.Signals(signum).name)


def install_signal_handlers() -> None:
    """Turn SIGINT/SIGTERM/SIGALRM into ``Interrupted`` so that an
    interrupted or hung run still reaches its teardown."""
    for sig in (signal.SIGINT, signal.SIGTERM, signal.SIGALRM):
        signal.signal(sig, _raise_interrupted)


def shield_teardown(limit_s: int = 60) -> None:
    """Let the teardown finish: ignore further SIGINT/SIGTERM and, should
    it hang, let SIGALRM's default action end this process (the JVM then
    exits on stdin EOF)."""
    signal.signal(signal.SIGINT, signal.SIG_IGN)
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    signal.signal(signal.SIGALRM, signal.SIG_DFL)
    signal.alarm(limit_s)


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


# ---------------------------------------------------------------- /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces: split after its closing paren
    return [str(pid), raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> dict[int, tuple[str, str]]:
    """pid → (comm, start time in ticks) for every live descendant of
    ``root`` (default: this process), zombies excluded."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None or st[2] == "Z":
            continue
        children.setdefault(int(st[3]), []).append(int(name))
        info[int(name)] = (st[1], st[21])
    out: dict[int, tuple[str, str]] = {}
    stack = [root]
    while stack:
        for c in children.get(stack.pop(), ()):
            if c in info and c not in out:
                out[c] = info[c]
                stack.append(c)
    return out


def tree_cpu_s() -> float:
    """user+sys CPU seconds of this process and its live descendants,
    including the already-reaped children each of them waited for."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[13:17])
    return total / CLK_TCK


def tree_peak_rss_mb() -> dict[str, float]:
    """Sum over this process and its live descendants of each one's peak
    resident set (VmHWM), in total and per command name."""
    by_comm: dict[str, float] = {}
    for pid, comm in [(os.getpid(), "driver"), *((p, c) for p, (c, _) in descendants().items())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        by_comm[comm] = by_comm.get(comm, 0.0) + kb / 1024.0
    return {"total": sum(by_comm.values()), **by_comm}


# ---------------------------------------------------------------- session


class BenchSession:
    """Owns the scratch dir, the SparkSession and every process it spawns.

    ``start()`` may be called again after ``stop_context()``: the second
    and later SparkContexts reuse the live JVM, the first launches it."""

    def __init__(self, checkout: str, cores: int):
        self.cores = cores
        self.scratch = os.path.join(checkout, ".perfbench_scratch", str(os.getpid()))
        self.spark = None
        self._seen: dict[int, tuple[str, str]] = {}
        os.makedirs(self.scratch)
        for sub in ("tmp", "local", "sidecar", "warehouse", "eventlog", "inputs"):
            os.makedirs(os.path.join(self.scratch, sub))
        tmp = os.path.join(self.scratch, "tmp")
        # TMPDIR reaches the JVM's children (the pyspark daemon and its
        # workers); tempfile.tempdir covers this process, where the
        # package zip for addPyFile is written
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def start(self, event_log: bool = False):
        """Create the SparkSession (launching the JVM if none is live) and
        ship the package to the Python workers."""
        from post_ocr_corretion_spark.session import ensure_package_shipped, get_spark

        conf = {
            "spark.local.dir": self.path("local"),
            "spark.post_ocr.sidecarDir": self.path("sidecar"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # -XX:-UsePerfData: hsperfdata is always written under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
            "spark.eventLog.enabled": "true" if event_log else "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.dir": "file://" + self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(app_name="perfbench", cores=self.cores, extra_conf=conf)
        ensure_package_shipped(self.spark)
        self.remember_processes()
        return self.spark

    def remember_processes(self) -> None:
        self._seen.update(descendants())

    def stop_context(self) -> None:
        """Cancel running jobs (the pipeline's overlap thread may still be
        inside localCheckpoint), then stop the SparkContext.  The JVM
        stays up for the next ``start()``."""
        spark, self.spark = self.spark, None
        if spark is None:
            return
        self.remember_processes()
        try:
            spark.sparkContext.cancelAllJobs()
        except Exception as e:  # the JVM may already be gone; stop() must still run
            print(f"perfbench: cancelAllJobs failed: {e!r}", file=sys.stderr)
        spark.stop()

    def close(self) -> list[str]:
        """Full teardown; returns a description of every process that
        survived it (empty on success)."""
        from pyspark import SparkContext

        try:
            self.stop_context()
        except Exception as e:  # keep tearing down: the JVM is reaped below
            print(f"perfbench: spark.stop failed: {e!r}", file=sys.stderr)
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception as e:  # py4j raises if the JVM already exited
                print(f"perfbench: gateway shutdown failed: {e!r}", file=sys.stderr)
            if proc is not None:
                proc.stdin.close()  # PythonGatewayServer exits on stdin EOF
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        survivors = self._reap()
        shutil.rmtree(self.scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.scratch))  # only if no concurrent run still uses it
        except OSError:
            pass
        return survivors

    def _reap(self) -> list[str]:
        self.remember_processes()
        for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
            live = self._live()
            if not live:
                break
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + wait_s
            while self._live() and time.monotonic() < end:
                self._wait_children()
                time.sleep(0.05)
        self._wait_children()
        return [f"{pid} ({self._seen[pid][0]})" for pid in self._live()]

    def _live(self) -> list[int]:
        """Processes seen at any point during the run that are still alive
        (same pid AND same start time, so a recycled pid is not blamed)."""
        out = []
        for pid, (_, start) in self._seen.items():
            st = _stat(pid)
            if st is not None and st[21] == start and st[2] != "Z":
                out.append(pid)
        return out

    @staticmethod
    def _wait_children() -> None:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                return
