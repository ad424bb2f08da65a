"""Shared pieces of the benchmark: the Spark session it drives, spans,
process-tree memory, percentiles and host evidence.

Everything here times the engine from outside: it calls the public
functions of ``beam_scala_examples_spark`` and reads Spark's own status
API, and changes no program code.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import subprocess
import threading
import time

import sparkstats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
# Driver heap cap (local mode runs every executor inside the driver JVM),
# below the engine's 8g default to bound the benchmark's footprint on a
# shared host.  No minimum heap is set: the heap grows with use and
# shrinks back to its live data after a full collection.
DRIVER_MEMORY = "3g"
MIB = 1024.0 * 1024.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, attributes), written out
    once at the end of a run.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        """A span measured elsewhere (e.g. a micro-batch from its progress
        event), attached under ``parent``; returns its id."""
        self.spans.append({"id": len(self.spans), "name": name,
                           "parent": parent, "start": start, "end": end,
                           **attrs})
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by that span's children."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0)
        return out


# ---------------------------------------------------------------------------
# Process-tree memory
# ---------------------------------------------------------------------------

def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = [root], [root]
    while frontier:
        frontier = [c for c, pp in parent.items() if pp in frontier]
        tree.extend(frontier)
    return tree


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    between the processes mapping it, so a forked child does not count
    its parent's pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_pss() -> tuple[int, dict[str, float]]:
    """PSS of this process and all its descendants in kB, and in MB per
    process name."""
    total, by_process = 0, {}
    for pid in _tree_pids(os.getpid()):
        kb, name = _pss_kb(pid), _comm(pid)
        total += kb
        by_process[name] = by_process.get(name, 0.0) + kb / 1024.0
    return total, by_process


def retained_mb(spark) -> tuple[float, dict[str, float]]:
    """Memory the program keeps, in MB, and per part: the JVM's live heap
    right after a full collection plus its non-heap memory (metaspace,
    code cache), and the resident memory (PSS) of the Python processes in
    the tree.  That covers memos, persisted relations, streaming state
    and the Python workers, but not garbage the collector has yet to
    reclaim, the free heap G1 keeps committed, or the JVM's native
    allocations (thread stacks, allocator arenas, direct buffers), whose
    resident size follows allocator reuse rather than retained data."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    _, parts = tree_pss()
    parts.pop("java", None)
    parts["java heap, live"] = mx.getHeapMemoryUsage().getUsed() / MIB
    parts["java non-heap"] = mx.getNonHeapMemoryUsage().getCommitted() / MIB
    return sum(parts.values()), parts


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the Python driver, the JVM, Spark's Python workers and the stream
    generator), summed as PSS so shared pages count once."""

    def __init__(self, period_s: float = 0.5) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_by_process: dict[str, float] = {}  # MB, at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        kb, by_process = tree_pss()
        if kb > self.peak_kb:
            self.peak_kb = kb
            self.peak_by_process = by_process
        return kb

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def sample_peak_mb(self) -> float:
        """Peak so far, including a sample taken now."""
        self.sample()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------

def tail(values: list[float], beyond: int = 10) -> dict:
    """The highest percentile with at least ``beyond`` samples above it:
    with n samples, the value at rank n - beyond (1-based).  Below
    2 * ``beyond`` samples that rank would fall under the median, so the
    maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    rank = n - beyond if n >= 2 * beyond else n
    return {"value": xs[rank - 1], "percentile": round(100.0 * rank / n, 1),
            "samples": n, "beyond": n - rank}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# Host evidence and the Spark session
# ---------------------------------------------------------------------------

def host_evidence() -> dict:
    """Load average, foreign JVMs and the CPU probe, from the repo's own
    bench helpers, plus the CPU time counters (for the steal share), so a
    run hit by a load storm is visible."""
    import bench

    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {**bench.capture_evidence(), "cpu_micro_sec": bench.cpu_micro_sec(),
            "cpu_ticks": ticks}


def steal_share(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor gave to others between two
    ``host_evidence`` readings (``/proc/stat`` steal over all ticks)."""
    d = [b - a for a, b in zip(start["cpu_ticks"], end["cpu_ticks"])]
    return d[7] / sum(d) if sum(d) else 0.0


def start_session(app_name: str):
    """The engine's session at local[cores], with every file Spark writes
    kept inside the checkout."""
    from beam_scala_examples_spark.session import get_spark

    n = cores()
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        app_name=app_name,
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={local}"),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            **sparkstats.RETAINED,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
