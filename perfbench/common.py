"""Plumbing shared by the workloads: the Spark session, the generator
process, the memory sampler, process shutdown and small statistics
helpers."""

from __future__ import annotations

import ctypes
import json
import os
import signal
import subprocess
import sys
import threading
import time

#: prctl option that makes orphaned descendants re-parent to the caller
PR_SET_CHILD_SUBREAPER = 36

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpus() -> int:
    """Spark's local parallelism: the box's CPUs, at most 4 so that runs
    on bigger machines stay comparable."""
    return max(1, min(4, os.cpu_count() or 1))


def spark_session(event_log_dir: str | None = None):
    """The package's session factory, sized for this box. Spark's Python
    workers unpickle the ``kafka_py`` source by module path, so the repo
    root goes on ``PYTHONPATH`` before the JVM starts. The event log is
    turned on through submit arguments, from outside the package."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + paths)
    args = "--conf spark.ui.showConsoleProgress=false "
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        args += ("--conf spark.eventLog.enabled=true "
                 "--conf spark.eventLog.compress=false "
                 f"--conf spark.eventLog.dir=file://{event_log_dir} ")
    os.environ["PYSPARK_SUBMIT_ARGS"] = args + "pyspark-shell"
    from aether_firebase_consumer_spark.session import get_spark
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class GeneratorProc:
    """The load generator, one child process that hosts the broker."""

    def __init__(self, plan: dict):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "generator.py"),
             json.dumps(plan)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            cwd=ROOT)
        self._hello: dict | None = None

    def bootstrap(self) -> str:
        if self._hello is None:
            self._hello = self.reply()
        return self._hello["bootstrap"]

    def send(self, **cmd) -> None:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()

    def reply(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(
                f"generator exited with code {self.proc.wait()}")
        out = json.loads(line)
        if "error" in out:
            raise RuntimeError(f"generator: {out['error']}")
        return out

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.send(cmd="stop")
            except OSError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def _stat(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name, so
    field 0 is the state and 1 the parent pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


def _descendants(root: int) -> list[tuple[int, str]]:
    """(pid, state) of every process below ``root``."""
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        st = _stat(pid)
        if st is not None:
            out.append((pid, st[0]))
        todo.extend(kids.get(pid, ()))
    return out


def become_subreaper() -> None:
    """Has the processes orphaned below this one (Spark's Python workers,
    once the JVM has gone) re-parented to it rather than to init, so that
    ``stop_processes`` can wait for them too. Linux only; elsewhere a
    no-op."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_processes(timeout: float = 30.0) -> None:
    """Stops every process this one started and waits until each has
    ended: the Spark context, then its JVM (it exits when its stdin
    closes), then what is left below this process, such as Spark's
    Python workers, which get SIGTERM and, after ``timeout``, SIGKILL."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                sc.stop()
            except Exception:
                pass
        jvm = getattr(SparkContext._gateway, "proc", None)
        if jvm is not None:
            try:
                jvm.stdin.close()
                jvm.wait(timeout=timeout)
            except (OSError, subprocess.TimeoutExpired):
                jvm.kill()
                jvm.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.time() + timeout
    signalled: set[tuple[int, int]] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        below = _descendants(os.getpid())
        if not below:
            return
        live = [pid for pid, state in below if state not in "ZX"]
        sig = signal.SIGKILL if time.time() > deadline else signal.SIGTERM
        for pid in live:
            if (pid, sig) not in signalled:
                signalled.add((pid, sig))
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        time.sleep(0.05)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def tree_rss_mb(root: int, exclude: set[int]) -> float:
    """Resident memory of ``root`` and its descendants, minus the
    subtrees rooted at ``exclude`` and Spark's Python worker pool, whose
    size follows task scheduling rather than the work."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude or _is_python_worker(pid):
            continue
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples the driver process tree (Python and JVM; not the generator
    or the Python workers) from ``/proc`` while running."""

    def __init__(self, exclude: set[int], interval: float = 0.25):
        self.exclude = exclude
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid(), self.exclude))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


def wait_until(t: float) -> None:
    while True:
        left = t - time.time()
        if left <= 0:
            return
        time.sleep(min(left, 0.05))
