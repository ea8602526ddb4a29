"""Traced-run instrumentation, kept entirely outside the package.

* ``Tracer.span`` records one span (name, operation id, parent id, start,
  end) around a public call.  A leaf span also runs its Spark jobs under its
  own job group, and on exit reads
  - the SQL metrics of every SQL execution that ran inside it (including
    executions a call runs while it builds its plan, and every
    ``ShuffleQueryStage`` of an adaptive plan: the SQL status store keeps
    the final plan graph, walked node by node), and
  - StatusTracker job, stage and completed-task counts for its job group.
* ``process_rss_mb`` reads resident memory of the driver and the Python
  workers from ``/proc``.

Spans are kept in memory and written as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager

# display name in the SQL status store -> the metric key the plan nodes
# carry (SparkPlan.metrics), as verified on Spark 4.1.2
SQL_METRIC_KEYS = {
    "time to start Python workers": "pythonBootTime",
    "time to initialize Python workers": "pythonInitTime",
    "time to run Python workers": "pythonTotalTime",
    "data sent to Python workers": "pythonDataSent",
    "data returned from Python workers": "pythonDataReceived",
    "shuffle bytes written": "shuffleBytesWritten",
    "shuffle write time": "shuffleWriteTime",
    "shuffle records written": "shuffleRecordsWritten",
    "size of files read": "filesSize",
    "written output": "numOutputBytes",
}
# (plan node, display name) -> key, for display names many node types share
NODE_METRIC_KEYS = {
    ("Filter", "number of output rows"): "filterOutputRows",
}

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}
_VALUE = re.compile(r"^([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric value -> number (bytes for sizes, ms for
    timings).  A metric updated by several tasks reads 'total (min, med,
    max ...)' on its first line and the total leads the second."""
    m = _VALUE.match(text.strip().split("\n")[-1])
    if not m:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _seq(jseq) -> list:
    """A Scala Seq reached through py4j, as a Python list."""
    return [jseq.apply(i) for i in range(jseq.length())]


def plan_metrics(store, eid: int) -> dict[str, float]:
    """Sum each known metric over every node of one SQL execution's final
    plan graph; the graph of an adaptive plan holds each
    ``ShuffleQueryStage`` and the exchange below it."""
    values: dict[int, str] = {}
    it = store.executionMetrics(eid).iterator()
    while it.hasNext():
        kv = it.next()
        values[kv._1()] = kv._2()
    out: dict[str, float] = {}
    for node in _seq(store.planGraph(eid).allNodes()):
        name = node.name()
        for metric in _seq(node.metrics()):
            label = metric.name()
            key = (NODE_METRIC_KEYS.get((name, label))
                   or SQL_METRIC_KEYS.get(label))
            text = values.get(metric.accumulatorId()) if key else None
            num = parse_metric(text) if text is not None else None
            if num is not None:
                out[key] = out.get(key, 0.0) + num
    return out


class Tracer:
    """In-memory span recorder for one traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_exec = 0

    def _sync_exec(self) -> int:
        """Next SQL execution id not yet seen (ids are sequential)."""
        self._jsc.listenerBus().waitUntilEmpty()
        while self._store.execution(self._next_exec).isDefined():
            self._next_exec += 1
        return self._next_exec

    def _jobs(self, group: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages, tasks = set(), 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(jobs), len(stages), tasks

    @contextmanager
    def span(self, name: str, op: str, leaf: bool = True):
        """Time a block; a leaf span also collects Spark metrics and counts
        for the jobs it ran.  Yields the span record."""
        sid = len(self.spans) + 1
        rec = {"id": sid, "op": op, "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-span-{sid}"
        if leaf:
            first = self._sync_exec()
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if leaf:
                self.sc.setJobGroup("perfbench-untraced", "")
                last = self._sync_exec()
                sql: dict[str, float] = {}
                for eid in range(first, last):
                    for k, v in plan_metrics(self._store, eid).items():
                        sql[k] = sql.get(k, 0.0) + v
                rec["sql"] = sql
                rec["sql_executions"] = last - first
                rec["jobs"], rec["stages"], rec["tasks"] = self._jobs(group)

    def select(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def seconds(span: dict) -> float:
    return span["end"] - span["start"]


def sql_sum(spans, key: str) -> float:
    """One SQL metric summed over leaf spans."""
    return sum(s.get("sql", {}).get(key, 0.0) for s in spans)


def median(xs) -> float:
    """Median, 0 for no samples (no operation of the kind was correct)."""
    return statistics.median(xs) if xs else 0.0


def _proc_status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(line.rstrip("\n").split(":\t", 1)
                        for line in f if ":\t" in line)
    except OSError:
        return {}


def _kb(status: dict[str, str], key: str) -> float:
    return float(status.get(key, "0 kB").split()[0])


def descendants(root: int) -> list[int]:
    """Live processes below ``root`` in the process tree."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            ppid = _proc_status(int(d)).get("PPid")
            if ppid:
                kids.setdefault(int(ppid), []).append(int(d))
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def alive(pid: int) -> bool:
    return _proc_status(pid).get("State", "Z").split()[0] not in ("Z", "X")


def process_rss_mb() -> tuple[float, float]:
    """(driver RSS, peak Python-worker RSS) in MiB.  The driver is this
    process plus its JVM; workers are the Python processes below the JVM,
    read at their high-water mark (VmHWM)."""
    driver = _kb(_proc_status(os.getpid()), "VmRSS")
    peak = 0.0
    for pid in descendants(os.getpid()):
        st = _proc_status(pid)
        if st.get("Name") == "java":
            driver += _kb(st, "VmRSS")
        elif st.get("Name", "").startswith("python"):
            peak = max(peak, _kb(st, "VmHWM"))
    return driver / 1024, peak / 1024
