"""Stop every process the benchmark started and wait for each to end.

Spark's JVM outlives the Python process that launched it for as long as
its shutdown takes, and the ``pyspark.daemon`` workers outlive the JVM
for a moment too. A process that calls ``become_subreaper`` adopts such
orphans instead of init, so ``stop_all`` can find every one of them
among its descendants, stop them and wait for each to end.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def descendants(root: int | None = None) -> list[int]:
    """Live (not zombie) processes below ``root``, default this one."""
    root = root or os.getpid()
    parent, live = {}, set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue
        state, ppid = raw[raw.rindex(b")") + 2 :].split()[:2]
        parent[int(name)] = int(ppid)
        if state not in (b"Z", b"X"):
            live.add(int(name))
    out = []
    for pid in parent:
        p = parent[pid]
        while p in parent and p != root:
            p = parent[p]
        if p == root:
            out.append(pid)
    return [p for p in out if p in live]


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace: float = 20.0, limit: float = 40.0) -> list[int]:
    """SIGTERM every descendant, SIGKILL those still alive after
    ``grace`` seconds, and wait until none is left or ``limit`` seconds
    have passed. Returns the pids still alive at the end."""
    t0 = time.monotonic()
    termed: set[int] = set()
    while True:
        _reap()
        alive = descendants()
        late = time.monotonic() - t0
        if not alive or late > limit:
            return alive
        for pid in alive:
            if pid in termed and late < grace:
                continue
            try:
                os.kill(pid, signal.SIGTERM if late < grace else signal.SIGKILL)
            except ProcessLookupError:
                pass
            termed.add(pid)
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then let its JVM exit the way it does when its
    Python parent ends (end of input on its stdin), so its shutdown
    hooks run; ``stop_all`` then ends whatever is left."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 — stop_all ends it
                pass
        stop_all()
