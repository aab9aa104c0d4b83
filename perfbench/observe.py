"""What the benchmark observes from outside the engine.

- ``ProcTree``: CPU seconds and peak resident memory of this process
  and every descendant (the Spark JVM and its Python workers), read
  from ``/proc``. Spark's ``executorCpuTime`` leaves out Python worker
  time.
- ``Tracer``: one span around each call into a layer. Each span tags
  its Spark jobs with ``sc.setJobGroup(<span id>, <span id>)``, which
  also sets the job description. When the span closes, its stage
  metrics come from the application status store, and its SQL
  operator metrics and plan shape from the SQL status store. Spark
  keeps both stores with the UI off.
- ``host_record``: where and on what the run happened.
"""

from __future__ import annotations

import contextlib
import os
import platform
import re
import time

from py4j.protocol import Py4JJavaError

NLJ_NODES = ("BroadcastNestedLoopJoin", "CartesianProduct")
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin") + NLJ_NODES
PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                "BatchEvalPython", "MapInArrow")
WATCHED_NODES = JOIN_NODES + PYTHON_NODES + ("Generate", "Exchange")


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

class ProcTree:
    """CPU seconds and peak resident memory of the process tree rooted
    at ``root`` (this process). Children that exited count once their parent has reaped
    them (``cutime``/``cstime``)."""

    _TCK = os.sysconf("SC_CLK_TCK")

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _stats(self) -> dict[int, list[str]]:
        out = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            # fields after the parenthesised command name
            out[int(name)] = raw[raw.rindex(")") + 2:].split() + [name]
        return out

    def _tree(self) -> list[list[str]]:
        stats = self._stats()
        children: dict[int, list[int]] = {}
        for pid, f in stats.items():
            children.setdefault(int(f[1]), []).append(pid)
        todo, tree = [self.root], []
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree.append(stats[pid])
            todo.extend(children.get(pid, ()))
        return tree

    def descendants(self) -> list[int]:
        return [int(f[-1]) for f in self._tree()[1:]]

    def cpu_s(self) -> float:
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        return sum(sum(int(v) for v in f[11:15]) for f in self._tree()) / self._TCK

    def peak_rss_bytes(self) -> int:
        """Sum over the live tree of each process's peak resident set
        (``VmHWM``): exact, with no sampling to miss a short peak."""
        total = 0
        for pid in [self.root] + self.descendants():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
            except OSError:  # exited meanwhile
                pass
        return total


# ---------------------------------------------------------------------------
# status-store spans
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'1,234'``, ``'7.3 KiB'``,
    ``'3.4 s'`` or ``'total (min, med, max ...)\\n3.4 s (...)'``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Spans around layer calls, with Spark metrics attributed by the
    span's job group and description. A disabled tracer runs the body
    and records nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._n = 0
        self._seen = 0  # SQL executions already scanned

    @contextlib.contextmanager
    def span(self, layer: str, trace: int):
        """Span around one layer call; ``trace`` names the workload pass
        the call belongs to (the spans of one pass share it)."""
        if not self.enabled:
            yield {}
            return
        self._n += 1
        sid = f"pb{self._n}:{layer}"
        rec = {"id": sid, "trace": trace, "layer": layer}
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        # the group makes the span's job ids one lookup; the description
        # tags its SQL executions
        sc.setJobGroup(sid, sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sc.setJobDescription(prev)
            rec.update(self._spark_metrics(sid))
            self.spans.append(rec)

    # -- status store readers -------------------------------------------------

    def _as_java(self, seq):
        return self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def _spark_metrics(self, sid: str) -> dict:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(sid)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(job_ids), "task_s": 0.0, "cpu_task_s": 0.0, "shuffle_bytes": 0,
               "fetch_wait_s": 0.0, "spill_bytes": 0, "task_skew": 0.0}
        heaviest = None
        for s in stage_ids:
            try:
                st = store.lastStageAttempt(s)
            except Py4JJavaError:  # stage evicted from the store
                continue
            run_ms = st.executorRunTime()
            out["task_s"] += run_ms / 1e3
            out["cpu_task_s"] += st.executorCpuTime() / 1e9
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if heaviest is None or run_ms > heaviest[1]:
                heaviest = (st, run_ms)
        if heaviest is not None and heaviest[0].numTasks() > 1:
            out["task_skew"] = self._task_skew(store, heaviest[0])
        out.update(self._sql_metrics(sid))
        return out

    def _task_skew(self, store, st) -> float:
        q = self.spark.sparkContext._gateway.new_array(self.spark._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(st.stageId(), st.attemptId(), q)
        if not summary.isDefined():
            return 0.0
        run = self._as_java(summary.get().executorRunTime())
        med, top = float(run[0]), float(run[1])
        return top / med if med > 0 else 0.0

    def _new_executions(self):
        """SQL executions recorded since the last call."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        count = sql.executionsCount()
        new = self._as_java(sql.executionsList(self._seen, count - self._seen))
        self._seen = count
        return sql, new

    def _sql_metrics(self, sid: str) -> dict:
        out = {"nlj_nodes": 0, "cand_rows": 0, "py_run_s": 0.0, "py_init_s": 0.0,
               "py_bytes_in": 0, "py_rows_out": 0, "shuffle_records": 0, "generate_rows": 0,
               "files_written": 0, "bytes_written": 0, "rows_written": 0,
               "job_commit_s": 0.0}
        sql, executions = self._new_executions()
        for ex in executions:
            if ex.description() != sid:
                continue
            graph = sql.planGraph(ex.executionId())
            values = dict(self._as_java(sql.executionMetrics(ex.executionId())))
            names = {n.id(): n.name() for n in self._as_java(graph.allNodes())}
            children: dict[int, list[int]] = {}
            for e in self._as_java(graph.edges()):
                children.setdefault(e.toId(), []).append(e.fromId())

            def join_below(nid):
                todo = list(children.get(nid, ()))
                while todo:
                    c = todo.pop()
                    if names[c] in JOIN_NODES:
                        return True
                    todo.extend(children.get(c, ()))
                return False

            for node in self._as_java(graph.allNodes()):
                name = node.name()
                if name not in WATCHED_NODES and not name.startswith("Execute "):
                    continue
                metrics = {m.name(): parse_metric(values.get(m.accumulatorId(), "0"))
                           for m in self._as_java(node.metrics())}
                rows = int(metrics.get("number of output rows", 0))
                if name in NLJ_NODES:
                    out["nlj_nodes"] += 1
                # candidate rows: output of each join with no join below it
                if name in JOIN_NODES and not join_below(node.id()):
                    out["cand_rows"] += rows
                if name in PYTHON_NODES:
                    out["py_run_s"] += metrics.get("time to run Python workers", 0.0)
                    out["py_init_s"] += metrics.get("time to initialize Python workers", 0.0)
                    out["py_bytes_in"] += int(metrics.get("data sent to Python workers", 0))
                    out["py_rows_out"] += rows
                if name == "Generate":
                    out["generate_rows"] = max(out["generate_rows"], rows)
                if name == "Exchange":
                    out["shuffle_records"] += int(metrics.get("shuffle records written", 0))
                if "number of written files" in metrics:
                    out["files_written"] += int(metrics["number of written files"])
                    out["bytes_written"] += int(metrics.get("written output", 0))
                    out["rows_written"] += rows
                    out["job_commit_s"] += metrics.get("job commit time", 0.0)
        return out

    def cached_bytes(self) -> int:
        """Bytes that cached RDDs hold in memory and on disk."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        return sum(r.memoryUsed() + r.diskUsed() for r in self._as_java(store.rddList(True)))


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------

def host_probe(seconds: float = 0.2) -> float:
    """Single-thread numpy matmul iterations per second: a host-speed
    reading, so runs in throttled windows can be told apart."""
    import numpy as np

    a = np.random.default_rng(1).normal(size=(160, 160))
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        a = a @ a
        a /= np.abs(a).max()
        n += 1
    return n / (time.perf_counter() - t0)


def host_record(spark, nproc: int) -> dict:
    import pyarrow

    jvm = spark._jvm
    conf = spark.sparkContext.getConf()
    return {
        "nproc": nproc,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": conf.get("spark.driver.memory", ""),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "host_probe_iters_per_s": host_probe(),
    }
