"""Stopping the processes a benchmark run starts.

A PySpark session runs in a JVM child process (``spark-submit`` execs
``java``), which has children of its own: the launcher that built its
command line (left unreaped by the JVM) and Python worker daemons.
``spark.stop()`` stops the SparkContext but leaves the JVM running; it
exits on its own only once it reads EOF on its stdin, i.e. some time
*after* the Python process has exited, and its children are then
orphaned. A run therefore makes itself the subreaper of its process
tree, so that orphans are reparented to it, and at the end shuts the
gateway down, closes the JVM's stdin and reaps every process below it,
killing any that outlive a grace period.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

#: seconds the process tree gets to exit by itself before it is killed
GRACE_S = 30.0
_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants reparented to this process (Linux)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid`` in the process tree."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # exited while listing
            continue
    out = []
    for p in parent:
        q = parent[p]
        while q > 1 and q != pid:
            q = parent.get(q, 0)
        if q == pid:
            out.append(p)
    return out


def _reap_all(deadline: float) -> bool:
    """Reap children until none is left (True) or the deadline passes
    (False). As subreaper, this process inherits every orphaned
    descendant, so no child left means no descendant left."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            if time.monotonic() >= deadline:
                return False
            time.sleep(0.05)


def stop_spark() -> None:
    """Stop the active SparkContext (if any), shut its JVM down and
    wait until every process this process started has ended."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 - the JVM is stopped below anyway
            pass
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the connection may already be gone
            pass
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        SparkContext._gateway = None
        SparkContext._jvm = None
    if _reap_all(time.monotonic() + GRACE_S):
        return
    for p in _descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if not _reap_all(time.monotonic() + GRACE_S):
        raise RuntimeError(f"processes still running after SIGKILL: {_descendants(os.getpid())}")
