"""Machine and process probes: box facts, a short CPU probe, the process
tree's peak memory, and Spark's own counters (status store)."""

from __future__ import annotations

import os
import subprocess
import sys
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def phys_mem_mb() -> int:
    return os.sysconf("SC_PHYS_PAGES") * _PAGE // (1 << 20)


def driver_mem(total_mb: int) -> str:
    """Spark driver heap sized from physical memory: an eighth of it,
    between 1 GB and 2 GB (the session default of 24g exceeds small
    boxes outright)."""
    return f"{max(1024, min(2048, total_mb // 8))}m"


_CPU_PROBE = (
    "import hashlib, sys, time, zlib\n"
    "import numpy as np\n"
    "buf = np.random.default_rng(1).integers(0, 255, 40000,"
    " dtype=np.uint8).tobytes()\n"
    "t0 = time.time(); n = 0\n"
    "while time.time() - t0 < float(sys.argv[1]):\n"
    "    for _ in range(5):\n"
    "        hashlib.sha256(buf).digest(); zlib.compress(buf, 6)\n"
    "    n += 5\n"
    "print(n)\n")


def cpu_probe(procs: int, seconds: float) -> float:
    """Aggregate units/s of the sha256+zlib mix the synthetic fetch runs,
    one process per core — the box's speed at the time of the run."""
    ps = [subprocess.Popen([sys.executable, "-c", _CPU_PROBE, str(seconds)],
                           stdout=subprocess.PIPE)
          for _ in range(procs)]
    total = 0
    for p in ps:
        out, _ = p.communicate(timeout=seconds + 30)
        total += int(out)
    return total / seconds


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_mb(pid: int) -> float:
    """Proportional resident memory: pages shared between processes are
    split among them. Plain RSS would count the JVM twice for the instant
    a forked helper (jspawnhelper, chmod) shares its pages."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_rss_mb(root_pid: int) -> dict[str, float]:
    """Resident memory (PSS) of a process and all its descendants, in
    total and per command name (java, python3, ...)."""
    kids = _children_map()
    todo, out = [root_pid], {"total": 0.0}
    while todo:
        pid = todo.pop()
        try:
            mb = _pss_mb(pid)
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        out["total"] += mb
        out[comm] = out.get(comm, 0.0) + mb
        todo.extend(kids.get(pid, ()))
    return out


def jvm_mem_mb(jvm) -> dict[str, float]:
    """What the JVM's own work holds, read through its management beans:
    the heap outside the young allocation space (what survived
    collections, plus humongous objects; G1 changes it only when it
    collects or allocates a humongous object, so it is the heap after the
    last collection, not the heap the collector chose to commit), the
    non-heap in use (metaspace, code cache) and the direct and mapped
    buffers (Arrow, Netty, shuffle)."""
    mf = jvm.java.lang.management.ManagementFactory
    mb = 1 << 20
    heap = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP" and "Eden" not in pool.getName():
            heap += pool.getUsage().getUsed()
    nonheap = mf.getMemoryMXBean().getNonHeapMemoryUsage().getUsed()
    buffers = sum(b.getMemoryUsed() for b in mf.getPlatformMXBeans(
        jvm.java.lang.management.BufferPoolMXBean._java_lang_class))
    return {"heap_survived": heap / mb, "nonheap": nonheap / mb,
            "buffers": buffers / mb}


class MemSampler:
    """Background sampler of the memory the benchmark's process tree
    needs; ``peak_mb`` is the largest total seen. Use as a context
    manager.

    A sample is the PSS of every process in the tree except the JVM,
    plus the JVM's ``jvm_mem_mb`` once ``attach_jvm`` has been called.
    The JVM's own PSS is not used: it follows the heap the collector
    committed, which moves with the heap limit and collection timing
    rather than with what the crawl keeps alive."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}  # split of the peak sample
        self.java_pss_peak_mb = 0.0           # for the record only
        self.error: str | None = None
        self._jvm = None
        self._jvm_lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def attach_jvm(self, jvm) -> None:
        with self._jvm_lock:
            self._jvm = jvm

    def detach_jvm(self) -> None:
        """Stop reading the JVM; call before the session stops."""
        with self._jvm_lock:
            self._jvm = None

    def sample(self) -> None:
        tree = tree_rss_mb(os.getpid())
        java_pss = tree.pop("java", 0.0)
        self.java_pss_peak_mb = max(self.java_pss_peak_mb, java_pss)
        now = {k: v for k, v in tree.items() if k != "total"}
        with self._jvm_lock:
            if self._jvm is not None:
                now.update({f"jvm_{k}": v for k, v in
                            jvm_mem_mb(self._jvm).items()})
        total = sum(now.values())
        if total > self.peak_mb:
            self.peak_mb, self.at_peak = total, now

    def _loop(self) -> None:
        while True:
            try:
                self.sample()
            except Exception as e:  # reported: a dead sampler under-reads
                self.error = repr(e)
                return
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def spark_counters(spark) -> dict:
    """Cumulative Spark counters from the status store: jobs, stages,
    shuffle bytes written/read, and executor run time (task busy ms)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    out = {"stages": 0, "shuffle_write": 0, "shuffle_read": 0,
           "run_ms": 0}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        out["stages"] += 1
        out["shuffle_write"] += s.shuffleWriteBytes()
        out["shuffle_read"] += s.shuffleReadBytes()
        out["run_ms"] += s.executorRunTime()
    out["jobs"] = len(sc.statusTracker().getJobIdsForGroup(None))
    return out


def counters_delta(before: dict, after: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def machine_facts(cores: int) -> dict:
    return {"nproc": usable_cores(), "cores_used": cores,
            "mem_mb": phys_mem_mb(),
            "cpu_probe_units_per_s": round(cpu_probe(cores, 0.5), 1)}
