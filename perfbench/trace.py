"""Spans, Spark status-store readers and the memory sampler.

Spans are recorded by the benchmark around each call it makes into the
program; nothing inside ``yetisearch_spark`` is instrumented. Each span
sets its own Spark job group, so after the timed loop every job, stage
and SQL execution can be attributed to the span that ran it. Spans stay
in memory until the run ends; the Spark status store (which works with
the UI off) is read once, after the loop, outside every timing.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    group: str
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: the same call sites, no spans and no job groups."""

    enabled = False

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        yield attrs


class Tracer:
    """Records nested spans; each span runs under its own job group."""

    enabled = True

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[tuple[int, str, str, int | None]] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent[3]
        group = f"perfbench-{sid}"
        self.sc.setJobGroup(group, name)
        self._stack.append((sid, group, name, request))
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent[1], parent[2])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(sid, name, start, end,
                                   parent[0] if parent else None,
                                   request, group, attrs))


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → wall time minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        last = s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        out[s.id] = s.wall - covered
    return out


# ---------------------------------------------------------------------------
# Spark status store (JVM side; read after the timed loop)
# ---------------------------------------------------------------------------

def _seq(x) -> list:
    return [x.apply(i) for i in range(x.size())]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _count(text: str | None) -> int:
    """A formatted SQL sum metric, such as "10,038"."""
    return int(text.replace(",", "")) if text else 0


@dataclass
class JobStats:
    """Spark work attributed to one span (its own job group only)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_s: float = 0.0            # union of the jobs' wall intervals
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    scan_files: int = 0           # parquet files opened by SQL scans
    postings_meta_scans: int = 0  # postings scans that read no payload
    block_rows_read: int = 0      # postings payload rows handed upward


_SCAN_COLS = re.compile(r"FileScan parquet \[([^\]]*)\]")


class SparkStats:
    """Attributes jobs, stages and SQL scans to spans by job group."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext

    def collect(self, spans: list[Span], payload_cols: set[str]
                ) -> dict[int, JobStats]:
        """Per-span Spark work; ``payload_cols`` are the postings columns
        that hold block data (a postings scan without them is phase 1)."""
        time.sleep(0.5)   # let the listener bus deliver the last events
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs_of = {s.id: sorted(tracker.getJobIdsForGroup(s.group))
                   for s in spans}
        job_span = {j: sid for sid, js in jobs_of.items() for j in js}
        stages = {}
        arr = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        for st in _seq(store.stageList(None, False, False, arr, None)):
            if str(st.status()) == "SKIPPED":
                continue
            stages[(st.stageId(), st.attemptId())] = st
        out = {s.id: JobStats() for s in spans}
        stage_owner: dict[int, int] = {}
        intervals: dict[int, list[tuple[float, float]]] = {}
        for j in sorted(job_span):
            try:
                jd = store.job(j)
            except Py4JJavaError:   # evicted from the store
                continue
            sid = job_span[j]
            st = out[sid]
            st.jobs += 1
            t0, t1 = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if t0 is not None and t1 is not None:
                intervals.setdefault(sid, []).append((t0, t1))
            for stage_id in _seq(jd.stageIds()):
                stage_owner.setdefault(int(stage_id), sid)
        for (stage_id, _), sd in stages.items():
            sid = stage_owner.get(int(stage_id))
            if sid is None:
                continue
            st = out[sid]
            st.stages += 1
            st.tasks += sd.numCompleteTasks()
            st.executor_run_s += sd.executorRunTime() / 1e3
            st.executor_cpu_s += sd.executorCpuTime() / 1e9
            st.jvm_gc_s += sd.jvmGcTime() / 1e3
            st.input_bytes += sd.inputBytes()
            st.input_rows += sd.inputRecords()
            st.output_bytes += sd.outputBytes()
            st.shuffle_read_bytes += sd.shuffleReadBytes()
            st.shuffle_write_bytes += sd.shuffleWriteBytes()
            st.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        for sid, ivs in intervals.items():
            out[sid].job_s = _union(ivs)
        self._sql_scans(job_span, out, payload_cols)
        return out

    def _sql_scans(self, job_span: dict[int, int], out: dict[int, JobStats],
                   payload_cols: set[str]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            it = e.jobs().keysIterator()
            owners = set()
            while it.hasNext():
                j = int(it.next())
                if j in job_span:
                    owners.add(job_span[j])
            if len(owners) != 1:
                continue
            st = out[owners.pop()]
            eid = e.executionId()
            graph = sql.planGraph(eid)
            vals = sql.executionMetrics(eid)
            nodes = {n.id(): n for n in _seq(graph.allNodes())}
            parent = {ed.fromId(): ed.toId() for ed in _seq(graph.edges())}

            def metric(node, name: str) -> int | None:
                for m in _seq(node.metrics()):
                    if m.name() == name:
                        v = vals.get(m.accumulatorId())
                        return _count(v.get() if v.isDefined() else None)
                return None

            for node in nodes.values():
                if not node.name().startswith("Scan parquet"):
                    continue
                desc = node.desc()
                st.scan_files += metric(node, "number of files read") or 0
                if "/postings" not in desc:
                    continue
                cm = _SCAN_COLS.search(desc)
                cols = {c.split("#")[0] for c in cm.group(1).split(",")} \
                    if cm else set()
                if not cols & payload_cols:
                    st.postings_meta_scans += 1
                    continue
                # rows the scan hands to its consumer: the last row count
                # on the pass-through filter/projection chain above it
                rows = "number of output rows"
                cur, n = node, metric(node, rows) or 0
                while True:
                    cur = nodes.get(parent.get(cur.id()))
                    if cur is None or cur.name() not in (
                            "ColumnarToRow", "Filter", "Project"):
                        break
                    r = metric(cur, rows)
                    n = n if r is None else r
                st.block_rows_read += n

    def persisted(self) -> tuple[int, int]:
        """(persisted RDD count, their memory+disk bytes) right now."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        n = b = 0
        for r in infos:
            if r.numCachedPartitions() > 0:
                n += 1
                b += r.memSize() + r.diskSize()
        return n, b


def _union(ivs: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(ivs):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------------------
# Memory of the driver JVM and its Python workers
# ---------------------------------------------------------------------------

def descendants(root: int) -> dict[int, str]:
    """pid → command name of every live descendant of ``root``."""
    kids: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, tail = stat.rsplit(")", 1)
        comm[int(d)] = head.split("(", 1)[1]
        kids.setdefault(int(tail.split()[1]), []).append(int(d))
    out, todo = {}, list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out[p] = comm[p]
        todo.extend(kids.get(p, []))
    return out


#: seconds between two /proc samples
SAMPLE_INTERVAL_S = 0.25


class MemorySampler:
    """Memory held by the driver JVM and its Python workers over a timed
    loop, as a context manager around the loop.

    The driver heap is committed and touched at start-up, so the JVM's
    resident size always holds the whole heap. One thread samples /proc
    for the rest: the JVM's resident memory outside its committed heap
    plus the proportional share (PSS) of its Python worker processes, and
    keeps the peak. PSS counts pages the forked workers share with their
    daemon once; short-lived non-Python children (which briefly map the
    JVM's pages) are left out. When the loop ends a full GC runs and the
    heap still in use is added: persisted frames, the serving caches and
    everything else the program keeps between calls."""

    def __init__(self, spark, jvm_pid: int) -> None:
        self.jvm = jvm_pid
        self._mx = spark._jvm.java.lang.management.ManagementFactory \
            .getMemoryMXBean()
        self._system = spark._jvm.java.lang.System
        self.off_heap_peak_bytes = 0
        self.heap_live_bytes = 0
        self._heap_committed = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="perfbench-memory")

    @property
    def total_bytes(self) -> int:
        return self.off_heap_peak_bytes + self.heap_live_bytes

    def __enter__(self) -> "MemorySampler":
        self._heap_committed = int(self._mx.getHeapMemoryUsage()
                                   .getCommitted())
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._system.gc()
        self.heap_live_bytes = int(self._mx.getHeapMemoryUsage().getUsed())

    def _python_workers(self) -> list[int]:
        return [p for p, comm in descendants(self.jvm).items()
                if comm.startswith("python")]

    def _sample(self, workers: list[int]) -> int:
        total = 0
        try:
            with open(f"/proc/{self.jvm}/statm") as f:
                total += max(0, int(f.read().split()[1]) * self._page
                             - self._heap_committed)
        except OSError:
            pass
        for p in workers:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def _run(self) -> None:
        workers: list[int] = []
        next_scan = 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now >= next_scan:
                workers = self._python_workers()
                next_scan = now + 1.0
            self.off_heap_peak_bytes = max(self.off_heap_peak_bytes,
                                           self._sample(workers))
            self._stop.wait(SAMPLE_INTERVAL_S)
