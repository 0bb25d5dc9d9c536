"""Measurement plumbing that sits outside the engine: the per-run
environment stamp, resident memory, and the traced run's
spans and Spark counters.

Spark counters come from the status stores, which Spark fills even with
`spark.ui.enabled=false`:
- `SparkContext.statusStore()` for executor totals, stages and task
  quantiles;
- `sharedState().statusStore()` for SQL executions and their plan graphs;
- `statusTracker()` for the jobs of each span (every span sets its own job
  group).
"""

from __future__ import annotations

import gc
import json
import os
import platform
import re
import subprocess
import time

# physical operators that run Python workers
PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "AggregateInPandas",
                "FlatMapCoGroupsInPandas", "WindowInPandas", "ArrowEvalPython",
                "BatchEvalPython", "MapInArrow", "PythonMapInArrow")
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


def _seq(sc, scala_seq) -> list:
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


# ------------------------------------------------------------ environment

# bench.py's two probes, shortened to fit the benchmark's time budget
SCHED_ROUNDS = 2
DISK_MB = 32


def scheduler_floor(spark) -> float:
    """The bench.py scheduler-floor shape (a no-op one-exchange job with 32
    tasks per stage), repeated SCHED_ROUNDS times; seconds per round."""
    t0 = time.perf_counter()
    for _ in range(SCHED_ROUNDS):
        spark.range(1024).repartition(32).count()
    return (time.perf_counter() - t0) / SCHED_ROUNDS


def disk_mbps(work_dir: str) -> float:
    """The bench.py disk probe shape: write DISK_MB random 1 MiB blocks,
    fsync, delete; MB/s."""
    block = os.urandom(1 << 20)
    path = os.path.join(work_dir, f"diskprobe-{os.getpid()}")
    t0 = time.perf_counter()
    with open(path, "wb") as fh:
        for _ in range(DISK_MB):
            fh.write(block)
        fh.flush()
        os.fsync(fh.fileno())
    dt = time.perf_counter() - t0
    os.unlink(path)
    return DISK_MB / dt


def host_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def env_stamp(spark) -> dict:
    sc = spark.sparkContext
    try:
        java = subprocess.run(["java", "-version"], capture_output=True,
                              text=True, timeout=20).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.TimeoutExpired):
        java = None
    head = None
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        pass
    conf = sc.getConf()
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory", None),
        "host_ram_gb": round(host_ram_bytes() / 2**30, 1),
        "spark": spark.version,
        "java": java,
        "python": platform.python_version(),
        "git_head": head,
    }


# ------------------------------------------------------------ processes

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants() -> list[int]:
    kids, out = _children(), []
    todo = list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


# JVM threads whose work follows the JVM's own warm-up and heap state more
# than the call being measured: the JIT compilers, the garbage collector
# and the VM thread that runs its safepoints. The run keeps the compiler
# threads alive (-XX:-UseDynamicNumberOfCompilerThreads), so none of them
# exits and takes its time out of the per-thread counts.
JVM_BACKGROUND = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread")


def _ticks(path: str, fields: slice) -> int:
    with open(path) as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in f[fields])


def cpu_seconds() -> tuple[float, float]:
    """(all, work): CPU time used so far by this process, the driver JVM
    and the Python workers; and the same less the JVM_BACKGROUND threads.
    Each process counts its own time plus that of the children it has
    reaped, so every CPU second is counted once. Unlike wall time, it does
    not grow when other tenants of the host take the cores."""
    total = background = 0
    for pid in [os.getpid(), *_descendants()]:
        try:
            total += _ticks(f"/proc/{pid}/stat", slice(11, 15))   # utime stime cutime cstime
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if fh.read().startswith(JVM_BACKGROUND):
                        # the thread's own utime stime; its cutime and
                        # cstime are its process's
                        background += _ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
        except (OSError, ValueError, IndexError):
            pass
    tck = os.sysconf("SC_CLK_TCK")
    return total / tck, (total - background) / tck


def drain(spark) -> None:
    """Collect garbage in Python and the JVM and give Spark's cleaner a
    moment, so one call's leftovers are not freed on the next call's time
    (the same drain bench.py runs between queries)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.1)


def stop_session(spark, timeout: float = 60) -> None:
    """Stop Spark, then end the driver JVM and wait until it and every
    process under it (the Python worker daemon and workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()   # the JVM exits when its stdin closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    while _descendants() and time.monotonic() < deadline:
        time.sleep(0.2)


def dir_stats(path: str) -> dict:
    """Non-empty data files under `path`, their bytes, and the writers
    that made them: Spark's `part-NNNNN-...` names carry the writing
    task's partition, and any other file counts as its own writer."""
    files, size, writers = 0, 0, set()
    for d, _, names in os.walk(path):
        for n in names:
            s = os.path.getsize(os.path.join(d, n))
            if s and not n.startswith((".", "_")):
                files += 1
                size += s
                writers.add(n[:10] if re.match(r"part-\d{5}", n) else n)
    return {"files": files, "bytes": size, "writers": len(writers)}


# ------------------------------------------------------------ memory

def rss_mb() -> float:
    """Summed RSS of this process's descendants (the driver JVM and the
    Python workers it forks). Sampled between operations, outside every
    timed region, so sampling costs no measured CPU time."""
    total = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, ValueError, IndexError):
            pass
    return total / 2**20


# ------------------------------------------------------------ tracing

class Tracer:
    """In-memory spans: name, start, end, parent, op id, and the executor
    counter deltas at the span's boundaries. Each span runs its jobs under
    its own job group, so jobs, stages and SQL executions are attributed to
    the innermost span after the run (`attribute`)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = None
        self.tracing = True

    def executor_totals(self) -> dict:
        tot = {"tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_read": 0, "shuffle_write": 0}
        for e in _seq(self.sc, self.sc._jsc.sc().statusStore().executorList(True)):
            tot["tasks"] += e.totalTasks()
            tot["run_ms"] += e.totalDuration()
            tot["gc_ms"] += e.totalGCTime()
            tot["shuffle_read"] += e.totalShuffleRead()
            tot["shuffle_write"] += e.totalShuffleWrite()
        return tot

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def attribute(self) -> None:
        """Fill each span's jobs/stages/SQL counters from the status stores,
        and its self time."""
        sc, jvm = self.sc, self.sc._jvm
        store = sc._jsc.sc().statusStore()
        stages = {}
        for s in _seq(sc, store.stageList(None, False, False,
                                          sc._gateway.new_array(jvm.double, 0),
                                          jvm.java.util.ArrayList())):
            stages[s.stageId()] = s
        for sp in self.spans:
            jobs = list(sc.statusTracker().getJobIdsForGroup(sp["group"]))
            sp["jobs"] = len(jobs)
            sids = set()
            for j in jobs:
                info = sc.statusTracker().getJobInfo(j)
                if info is not None:
                    sids.update(info.stageIds)
            st = [stages[i] for i in sids if i in stages]
            sp["stages"] = len(st)
            sp["stage_tasks"] = max((s.numTasks() for s in st), default=0)
            sp["spill_bytes"] = sum(s.diskBytesSpilled() + s.memoryBytesSpilled() for s in st)
            sp["task_skew"] = _task_skew(sc, store, st)
            sp["_jobs"] = set(jobs)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for sp in self.spans:
            sp.update(bhj=0, smj=0, python_nodes=0, python_one_partition_inputs=0,
                      join_rows=0)
        by_job = {j: sp for sp in self.spans for j in sp["_jobs"]}
        for ex in _seq(sc, sql.executionsList()):
            jobs = [int(j) for j in _seq(sc, ex.jobs().keys().toSeq())]
            owner = next((by_job[j] for j in jobs if j in by_job), None)
            if owner is not None:
                _plan_counters(sc, sql, ex.executionId(), owner)
        for sp in self.spans:
            del sp["_jobs"]
            sp["self_s"] = sp["end"] - sp["start"]
        # a span's self time leaves out the time its child spans cover
        for sp in self.spans:
            if sp["parent"] is not None:
                self.spans[sp["parent"]]["self_s"] -= sp["end"] - sp["start"]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1, default=str)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> dict:
        t = self.t
        self.rec = {"name": self.name, "op_id": t.op_id,
                    "parent": t._stack[-1] if t._stack else None,
                    "group": f"span-{len(t.spans)}", **self.attrs}
        t.spans.append(self.rec)
        t._stack.append(len(t.spans) - 1)
        t.sc.setJobGroup(self.rec["group"], self.name)
        self.rec["counters_start"] = t.executor_totals()
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc) -> None:
        t = self.t
        self.rec["end"] = time.perf_counter()
        self.rec["counters_end"] = t.executor_totals()
        t._stack.pop()
        if t._stack:
            t.sc.setJobGroup(t.spans[t._stack[-1]]["group"], "")
        else:
            t.sc.setLocalProperty("spark.jobGroup.id", None)


def _task_skew(sc, store, stages) -> float:
    """max/median task run time of the span's longest stage."""
    if not stages:
        return 0.0
    s = max(stages, key=lambda x: x.executorRunTime())
    if s.numTasks() < 2:
        return 1.0
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    dist = store.taskSummary(s.stageId(), s.attemptId(), q)
    if not dist.isDefined():
        return 1.0
    med, mx = _seq(sc, dist.get().executorRunTime())
    return mx / med if med > 0 else 1.0


def _plan_counters(sc, sql, eid: int, sp: dict) -> None:
    graph = sql.planGraph(eid)
    nodes = {n.id(): n for n in _seq(sc, graph.allNodes())}
    metrics = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(sql.executionMetrics(eid))
    children: dict[int, list[int]] = {}   # plan edges point from child to parent
    for e in _seq(sc, graph.edges()):
        children.setdefault(e.toId(), []).append(e.fromId())

    def metric(node, name):
        for m in _seq(sc, node.metrics()):
            if m.name() == name:
                v = metrics.get(m.accumulatorId())
                return int(re.sub(r"[^0-9]", "", v.split("\n")[0].split(" (")[0]) or 0) if v else 0
        return 0

    for nid, n in nodes.items():
        name = n.name()
        if name.startswith("BroadcastHashJoin"):
            sp["bhj"] += 1
        elif name.startswith("SortMergeJoin"):
            sp["smj"] += 1
        if name.startswith(JOIN_NODES):
            sp["join_rows"] += metric(n, "number of output rows")
        if name.startswith(PYTHON_NODES):
            sp["python_nodes"] += 1
            for c in children.get(nid, []):
                child = nodes.get(c)
                if (child is not None and child.name().startswith("AQEShuffleRead")
                        and metric(child, "number of partitions") == 1):
                    sp["python_one_partition_inputs"] += 1
