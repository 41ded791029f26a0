"""What the box gives a run: cores, a fixed CPU probe, the peak memory of
the process tree, and a clean stop of every process Spark started."""

from __future__ import annotations

import os
import threading
import time


class BoxError(RuntimeError):
    """A requested parallelism the box cannot honestly provide."""


def box_cpus() -> int:
    """Cores this process may run on — what ``nproc`` prints (affinity
    mask), not the machine's online count: a ``taskset`` pin wider than
    the box silently narrows to the box, so it shows here."""
    return len(os.sched_getaffinity(0))


def resolve_cpus(requested: int | None) -> int:
    """local[N] width: the box's cores, or a narrower request. A wider
    request is refused — it would run on fewer cores than it claims."""
    n = box_cpus()
    if requested is None:
        return n
    if requested < 1 or requested > n:
        raise BoxError(f"local[{requested}] requested but nproc is {n}")
    return requested


def cpu_probe_ms() -> float:
    """The fixed numpy probe bench.py stamps its runs with: wall time of a
    constant 512x512 matmul loop. Load from other tenants shows here even
    when it does not show in this container's load average."""
    import numpy as np

    a = np.arange(512 * 512, dtype=np.float64).reshape(512, 512) / 1e6
    (a @ a).sum()  # first call pays BLAS start-up, not the box's speed
    t0 = time.perf_counter()
    for _ in range(4):
        (a @ a).sum()
    return (time.perf_counter() - t0) * 1000


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """All live descendants of ``pid`` (default: this process)."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _running(pid: int) -> bool:
    """Alive and not a zombie (an exited process nobody reaped yet)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided among
    the processes mapping it. Summed over a process tree it counts memory
    once — plain RSS double-counts the copy-on-write pages of forked Python
    workers and the whole JVM while it forks a child."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the summed PSS of this process and all its descendants (the
    JVM and its Python workers) on a background thread; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            me = os.getpid()
            total = sum(_pss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def jvm_heap_mb(spark) -> dict[str, float]:
    """The driver JVM's heap: ``committed`` (resident in full, as the heap
    is fixed and touched at start) and, per heap pool and summed as
    ``used``, the peak bytes in use since the JVM started, from the
    memory-pool MXBeans."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    out = {"committed": mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20}
    used = 0.0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP":
            mb = pool.getPeakUsage().getUsed() / 2**20
            out[pool.getName()] = mb
            used += mb
    out["used"] = used
    return out


def stop_spark(spark, timeout_s: float = 60) -> list[int]:
    """Stop the session, shut the JVM down and wait until every process
    the run started has exited. Returns the pids that had to be killed."""
    import signal
    import subprocess

    from pyspark import SparkContext

    pids = descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    alive = pids
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        time.sleep(0.1)
    killed = []
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
            killed.append(p)
        except ProcessLookupError:
            pass
    for p in killed:
        while _running(p):
            time.sleep(0.05)
    return killed
