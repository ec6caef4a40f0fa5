"""Measurement from outside the program: /proc for CPU and memory of
the process tree, Spark's in-process status store for execution
counters, a StreamingQueryListener for micro-batch phases, and an
in-memory span recorder for the traced run."""

from __future__ import annotations

import itertools
import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, comm, utime+stime, cutime+cstime, rss_bytes) of one pid, CPU in seconds."""
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14 rss=21
    return (
        int(f[1]),
        comm,
        (int(f[11]) + int(f[12])) / _CLK,
        (int(f[13]) + int(f[14])) / _CLK,
        int(f[21]) * _PAGE,
    )


def _tree(root: int) -> dict[int, tuple]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                stats[int(name)] = _stat(int(name))
            except (OSError, ValueError, IndexError):
                pass
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


class ProcTree:
    """CPU split and sampled peak RSS of this process and everything it
    started (the JVM and its Python workers)."""

    def __init__(self, interval: float = 0.2):
        self.root = os.getpid()
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def start(self) -> "ProcTree":
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        self._thread.join()

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample_rss()

    def sample_rss(self) -> None:
        """Resident memory of this process and the JVM, plus the
        proportional set size of the Python workers (forked from one
        daemon, so their shared pages count once). Short-lived helper
        children of the JVM are left out: between fork and exec they
        read as a second copy of the JVM's heap."""
        tree = _tree(self.root)
        total = tree[self.root][4]
        for j in (p for p, st in tree.items() if st[1] == "java" and st[0] == self.root):
            total += tree[j][4]
            for pid in _tree_from(tree, j):
                if pid != j and tree[pid][1].startswith("python"):
                    total += _pss(pid)
        self.peak_rss = max(self.peak_rss, total)

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds: the driver Python, the JVM (its own
        threads), and the Python workers under the JVM (with the CPU
        of workers that already exited, via their parents' cutime)."""
        tree = _tree(self.root)
        java = [p for p, st in tree.items() if st[1] == "java"]
        under_java: set[int] = set()
        for j in java:
            under_java |= set(_tree_from(tree, j)) - {j}
        out = {"python": tree[self.root][2], "jvm": 0.0, "pyworker": 0.0}
        for pid, st in tree.items():
            if pid in java:
                out["jvm"] += st[2]
            elif pid in under_java:
                out["pyworker"] += st[2] + st[3]
        out["total"] = out["python"] + out["jvm"] + out["pyworker"]
        return out


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree_from(tree: dict[int, tuple], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(p for p, st in tree.items() if st[0] == pid)
    return out


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def max_job_id(spark) -> int:
    ids = [j.jobId() for j in _jobs(spark)]
    return max(ids, default=-1)


def _jobs(spark):
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm = spark.sparkContext._jvm
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(store.jobsList(None))


EXEC_KEYS = [
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes",
]


def exec_metrics(spark, after_job: int, upto_job: int) -> dict[str, float]:
    """Sum the status store's stage metrics over the jobs with
    ``after_job < jobId <= upto_job``. Skipped stages (reused shuffle
    output) ran no tasks and add nothing."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    stage_ids: set[int] = set()
    for j in _jobs(spark):
        jid = j.jobId()
        if after_job < jid <= upto_job:
            out["jobs"] += 1
            it = j.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
    for sid in sorted(stage_ids):
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # evicted or never submitted (skipped)
            continue
        if s.numCompleteTasks() == 0:
            continue
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks()
        out["executor_run_s"] += s.executorRunTime() / 1e3
        out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        out["gc_s"] += s.jvmGcTime() / 1e3
        out["shuffle_read_bytes"] += s.shuffleReadBytes()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["input_bytes"] += s.inputBytes()
        out["output_bytes"] += s.outputBytes()
    return out


def cache_resident_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def heap_after_gc(spark) -> int:
    """JVM heap in use after full collections: what the driver retains
    (catalogs, cached data, status store), free of when the collector
    last ran. Spark's ContextCleaner frees broadcasts and shuffles only
    after a collection found their driver handles dead, and Python
    proxies hold JVM objects until Python collects them, so collect
    until two readings agree to within 1 MB."""
    import gc

    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(8):
        gc.collect()
        jvm.java.lang.System.gc()
        used = int(bean.getHeapMemoryUsage().getUsed())
        if last is not None and abs(used - last) < 2**20:
            break
        last = used
        time.sleep(0.5)  # the cleaner thread works off its queue
    return used


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around calls into the program, kept in memory. When
    enabled, each span also tags the Spark jobs it starts with its own
    job group, so status-store counters attach to it. Disabled, a span
    only costs two clock reads."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.seconds = 0.0
        self.group = None

    def __enter__(self):
        tr = self.tracer
        if tr.enabled:
            self.id = next(tr._ids)
            self.parent = tr._stack[-1] if tr._stack else None
            tr._stack.append(self.id)
            self.group = f"perfbench-{self.id}"
            tr.spark.sparkContext.setJobGroup(self.group, self.name)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.t0
        tr = self.tracer
        if tr.enabled:
            tr._stack.pop()
            tr.spans.append(
                {
                    "id": self.id,
                    "parent": self.parent,
                    "name": self.name,
                    "start": self.t0,
                    "end": self.t0 + self.seconds,
                    "job_group": self.group,
                    "jobs": jobs_in_group(tr.spark, self.group),
                }
            )
            tr.spark.sparkContext.setJobGroup("perfbench", "between spans")
        return False


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------

PHASES = {
    "latestOffset": "latest_offset_s",
    "getBatch": "get_batch_s",
    "queryPlanning": "query_planning_s",
    "addBatch": "add_batch_s",
    "walCommit": "wal_commit_s",
    "commitOffsets": "commit_offsets_s",
    "triggerExecution": "trigger_s",
}


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress event (the
    per-micro-batch phase split) keyed by query id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list = []
            self.terminated = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append(
                {
                    "id": str(p.id),
                    "name": p.name,
                    "input_rows": int(p.numInputRows),
                    "durations": dict(p.durationMs),
                    "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
                    "state_bytes": sum(int(s.memoryUsedBytes) for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    return _Progress()
