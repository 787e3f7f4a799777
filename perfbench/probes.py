"""Readings the benchmark takes from outside the program.

- ``ProcTree``: RSS and CPU of the driver, its JVM and the Python
  workers, read from ``/proc``; ``RssSampler`` keeps their peaks.
- ``SparkProbe``: job counter marks and per-job stage metrics from the
  SparkContext's status store (populated with the UI off).
- ``jvm_heap``: the driver JVM's committed heap and its heap pools'
  peak use, from the JVM's memory beans.
- ``load_stamp``: core counts and load average, recorded beside every
  run and never used to adjust a metric.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load_stamp() -> dict:
    return {"nproc": nproc(), "loadavg": [round(x, 2) for x in os.getloadavg()]}


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(b")") + 2 :].split()
    # fields after "(comm) ": state ppid ... utime(11) stime cutime cstime ... rss(21)
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), cpu, int(f[21]) * _PAGE


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


class ProcTree:
    """The driver process and every process it started."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def _classify(self, pid: int) -> str:
        # read on every sample: spark-submit execs the JVM in place, so
        # one pid starts as a shell script and becomes the JVM
        if pid == self.root:
            return "driver"
        cmd = _cmdline(pid)
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            return "python"
        if cmd.split(b"\0", 1)[0].endswith(b"/java"):
            return "jvm"
        return "other"

    def read(self) -> dict[str, tuple[float, int]]:
        """Per process kind: (cpu seconds, rss bytes) summed over the tree.

        A Python worker's CPU moves into its parent daemon's reaped-
        children time when it exits, so the ``python`` total only
        grows while the daemon lives."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out: dict[str, tuple[float, int]] = {}
        todo = [(self.root, "")]
        while todo:
            pid, parent = todo.pop()
            if pid not in stats:
                continue
            kind = self._classify(pid)
            if parent == "jvm" and kind != "python":
                # a process the JVM is forking to exec a helper reports
                # the JVM's own pages as its RSS until the exec
                continue
            todo.extend((c, kind) for c in children.get(pid, ()))
            cpu, rss = out.get(kind, (0.0, 0))
            out[kind] = (cpu + stats[pid][1], rss + stats[pid][2])
        return out

    def python_worker_cpu(self) -> float:
        return self.read().get("python", (0.0, 0))[0]


class RssSampler:
    """Background thread that keeps the peak RSS of the process tree,
    in total and for the JVM and the Python processes (driver and
    workers)."""

    def __init__(self, tree: ProcTree, interval: float = 0.2) -> None:
        self._tree = tree
        self._interval = interval
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak = {"total": 0, "jvm": 0, "python": 0, "other": 0}

    def _sample(self) -> None:
        r = self._tree.read()
        rss = {k: v[1] for k, v in r.items()}
        now = {
            "total": sum(rss.values()),
            "jvm": rss.get("jvm", 0),
            "python": rss.get("driver", 0) + rss.get("python", 0),
            "other": rss.get("other", 0),
        }
        with self._lock:
            for k, v in now.items():
                self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> dict[str, int]:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        with self._lock:
            return dict(self.peak)


def jvm_heap(spark) -> tuple[int, dict[str, int]]:
    """The driver JVM's committed heap and, per heap memory pool, the
    most it has held since the JVM started (used bytes, including
    garbage not yet collected), in bytes."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    committed = int(mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted())
    peaks = {}
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().name()) == "HEAP":
            peaks[str(pool.getName())] = int(pool.getPeakUsage().getUsed())
    return committed, peaks


_STAGE_FIELDS = {
    # StageData accessor -> (metric, scale to seconds/bytes)
    "numCompleteTasks": ("tasks", 1),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}
STAGE_METRICS = tuple(dict.fromkeys(["jobs", "stages"] + [m for m, _ in _STAGE_FIELDS.values()]))


class SparkProbe:
    """Job marks and stage metrics from the driver's status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def mark(self) -> int:
        """Id the next job will get; jobs run between two marks have
        ids in [first mark, second mark)."""
        return int(self._dag.numTotalJobs())

    def job_stages(self, lo: int, hi: int) -> dict[int, dict[str, float]]:
        """Metrics of the stages each job in [lo, hi) ran, keyed by job.
        A stage shared by several jobs is billed to the first; skipped
        stages ran earlier and are not billed."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()
        billed: set[int] = set()
        out: dict[int, dict[str, float]] = {}
        for job in range(lo, hi):
            acc = dict.fromkeys(STAGE_METRICS, 0.0)
            acc["jobs"] = 1
            out[job] = acc
            try:
                ids = str(self._store.job(job).stageIds().mkString(","))
            except Py4JJavaError:  # evicted from the store
                continue
            for sid in (int(s) for s in ids.split(",") if s):
                if sid in billed:
                    continue
                billed.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if str(st.status().toString()) != "COMPLETE":
                    continue
                acc["stages"] += 1
                for getter, (metric, scale) in _STAGE_FIELDS.items():
                    acc[metric] += getattr(st, getter)() * scale
        return out
