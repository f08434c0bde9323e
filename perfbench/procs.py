"""Process bookkeeping read straight from ``/proc`` (no psutil): the
Python-worker RSS sampler, and the shutdown that stops the JVM, its
Python workers and multiprocessing's resource tracker and waits until
every process the run started has exited."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    # "pid (comm) state ppid ..." -- comm may hold spaces and parens
    return int(stat.rsplit(")", 1)[1].split()[1])


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            parent = _ppid(int(entry))
            if parent is not None:
                children.setdefault(parent, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv = fh.read().split(b"\0")
    except OSError:
        return False
    return (os.path.basename(argv[0]).startswith(b"python")
            and any(a.startswith(b"pyspark.") for a in argv))


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class WorkerRss:
    """Samples the summed RSS of this process's Python worker processes
    (the pyspark daemon and the workers it forks) every ``interval``
    seconds on a background thread; ``stop`` returns the peak in MB.
    Forked workers share pages, which each one's RSS counts."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            total = sum(_rss_bytes(p) for p in descendants(me)
                        if _is_python_worker(p))
            self.peak = max(self.peak, total)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / 2**20


def become_subreaper() -> None:
    """Have processes orphaned under this one (the pyspark daemon's
    workers when the JVM exits first) re-parented here instead of to
    init, so that ``reap_all`` sees and waits for them. Best effort:
    without ``prctl`` the orphans are still killed, but not awaited."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap() -> bool:
    """Reap every exited child; False once no child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def reap_all(timeout: float = 30.0) -> None:
    """Wait until every process under this one has exited and been
    reaped, killing whatever is still running after ``timeout``."""
    deadline = time.monotonic() + timeout
    killed = False
    while _reap():
        if time.monotonic() > deadline and not killed:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


def stop_resource_tracker() -> None:
    """Stop multiprocessing's resource tracker (started by a spawn pool's
    semaphores), which would otherwise outlive this process."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session (or, if set-up failed before it returned one, the
    active context), shut the JVM gateway down, and wait until the JVM
    and then its Python workers have exited (killing stragglers after
    ``timeout``)."""
    import subprocess

    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
    reap_all(timeout)
