"""In-memory spans plus the Spark counters attributed to them.

A span records name, start, end, parent and op id. A span opened with
``jobs=True`` also tags every Spark job launched inside it with its own
job group (``SparkContext.setJobGroup``); when it closes, the status
tracker and status store give that group's jobs, stages, tasks, shuffle
bytes, spill and executor run time. Spans are kept in memory and written
out by the caller when the run ends. The SQL status store also gives the
final plan (after adaptive re-planning) of each SQL execution, for the
plan fingerprint.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_ms",
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None, jobs: bool = False):
        parent = self._open[-1] if self._open else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op}
        self.spans.append(rec)
        self._open.append(rec["id"])
        group = f"perfbench-span-{rec['id']}"
        if jobs:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._open.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec["counters"] = self._counters(group)

    def _counters(self, group: str) -> dict[str, int]:
        # The status store is fed by the asynchronous listener bus.
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["executor_run_ms"] += st.executorRunTime()
        return out

    def newest_execution(self) -> int:
        """Id of the newest SQL execution so far, or -1."""
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def plan_nodes(self, after: int) -> list[str]:
        """Operator names in the final plans of the SQL executions newer
        than ``after``: with adaptive execution on, the plans as they ran,
        not the initial ones ``queryExecution().executedPlan()`` gives."""
        self._jsc.listenerBus().waitUntilEmpty()
        n = self._sql.executionsCount()
        tail = self._sql.executionsList(max(n - 32, 0), 32)
        names = []
        for i in range(tail.size()):
            eid = tail.apply(i).executionId()
            if eid > after:
                nodes = self._sql.planGraph(eid).allNodes()
                names += [nodes.apply(j).name() for j in range(nodes.size())]
        return names

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part covered
        by child spans (children never overlap: one closed-loop client)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, covered in zip(self.spans, child_time):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out


_PY_EVAL = re.compile(r"Python|InPandas|InArrow")


def plan_fingerprint(node_names: list[str]) -> dict[str, int]:
    """Operator counts over plan node names (``Tracer.plan_nodes``)."""
    out = dict.fromkeys(("exchanges", "broadcasts", "scans", "python_evals", "rdd_scans"), 0)
    for node in node_names:
        if node == "Exchange":
            out["exchanges"] += 1
        elif node == "BroadcastExchange":
            out["broadcasts"] += 1
        elif node.startswith("Scan ExistingRDD") or node == "LocalTableScan":
            out["rdd_scans"] += 1
        elif node.startswith(("Scan ", "BatchScan", "InMemoryTableScan")):
            out["scans"] += 1
        elif _PY_EVAL.search(node):
            out["python_evals"] += 1
    return out
