"""Reader for Spark's JSON event log (uncompressed, non-rolling).

The benchmark drives one phase at a time, so a phase is the wall-clock
window of its span: the jobs submitted in it and their stages.  That also
catches jobs of threads that drop local properties (the pipeline's
overlap thread), which carry none of the job descriptions and tags the
benchmark sets for readers of the log.

SQL plan nodes are kept with their metric accumulator ids, and task-end
accumulator updates are summed per id, which yields per-node totals such
as the bytes sent to and returned from Python workers.
"""
from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas", "BatchEvalPython", "MapInArrow")
ROW_COUNTERS = ("number of output rows", "records read")


@dataclass
class Stage:
    id: int
    submit_ms: int = 0
    complete_ms: int = 0
    run_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    failed_tasks: int = 0
    accums: set[int] = field(default_factory=set)


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    exec_id: int | None = None


@dataclass
class PlanNode:
    name: str
    text: str
    metrics: dict[str, int]
    children: list[PlanNode]


@dataclass
class PhaseStats:
    jobs: int
    executor_cpu_s: float
    gc_s: float
    spill_bytes: int
    shuffle_write_bytes: int
    tasks_failed: int


class EventLog:
    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not os.path.basename(f).startswith(".")]
        if len(files) != 1:
            raise FileNotFoundError(f"expected one event log under {log_dir}, found {files}")
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.plans: dict[int, list[PlanNode]] = {}
        self.accum: dict[int, int] = {}
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(e["Job ID"], e["Submission Time"], exec_id=int(eid) if eid is not None else None)
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"])).submit_ms = info.get("Submission Time", 0)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit_ms = st.submit_ms or info.get("Submission Time", 0)
            st.complete_ms = info.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            # AQE re-plans keep node metrics under new accumulator ids; keep
            # every version so no id is orphaned
            self.plans.setdefault(e["executionId"], []).append(self._plan(e["sparkPlanInfo"]))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.accum[acc_id] = self.accum.get(acc_id, 0) + int(value)

    def _task(self, e: dict) -> None:
        st = self.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
        info = e["Task Info"]
        if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
            st.failed_tasks += 1
        for acc in info.get("Accumulables", ()):
            if acc.get("Metadata") == "sql" and "Update" in acc:
                try:
                    self.accum[acc["ID"]] = self.accum.get(acc["ID"], 0) + int(acc["Update"])
                except ValueError:
                    continue
                st.accums.add(acc["ID"])
        m = e.get("Task Metrics")
        if not m:
            return
        st.run_ms.append(m["Executor Run Time"])
        st.cpu_ns += m["Executor CPU Time"]
        st.gc_ms += m["JVM GC Time"]
        st.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        st.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]

    def _plan(self, info: dict) -> PlanNode:
        return PlanNode(
            info["nodeName"],
            info.get("simpleString", ""),
            {m["name"]: m["accumulatorId"] for m in info.get("metrics", ())},
            [self._plan(c) for c in info.get("children", ())],
        )

    # ------------------------------------------------------------ queries

    def jobs_between(self, start_s: float, end_s: float) -> list[Job]:
        """Jobs submitted inside the wall-clock window [start_s, end_s]."""
        lo, hi = start_s * 1000 - 1, end_s * 1000 + 1
        return [j for j in self.jobs.values() if lo <= j.submit_ms <= hi]

    def stages_between(self, start_s: float, end_s: float) -> list[Stage]:
        """Stages submitted inside the window that ran tasks."""
        lo, hi = start_s * 1000 - 1, end_s * 1000 + 1
        return [s for s in self.stages.values() if s.run_ms and lo <= s.submit_ms <= hi]

    @staticmethod
    def union_s(intervals: list[tuple[int, int]]) -> float:
        total, cur_lo, cur_hi = 0, None, None
        for lo, hi in sorted(intervals):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total / 1000.0

    def phase(self, start_s: float, end_s: float) -> PhaseStats:
        """Totals over the jobs (and their stages) submitted in the window."""
        stages = self.stages_between(start_s, end_s)
        return PhaseStats(
            jobs=len(self.jobs_between(start_s, end_s)),
            executor_cpu_s=sum(s.cpu_ns for s in stages) / 1e9,
            gc_s=sum(s.gc_ms for s in stages) / 1000.0,
            spill_bytes=sum(s.spill_bytes for s in stages),
            shuffle_write_bytes=sum(s.shuffle_write_bytes for s in stages),
            tasks_failed=sum(s.failed_tasks for s in stages),
        )

    def nodes(self, exec_ids: set[int]) -> list[tuple[PlanNode, PlanNode | None]]:
        """(node, its input) for every plan node of the given SQL executions,
        each set of accumulators once.  The input is the nearest node down
        the first-child chain that counts rows."""
        out, seen = [], set()

        def walk(n: PlanNode) -> None:
            key = tuple(sorted(n.metrics.values()))
            if key not in seen or not key:
                seen.add(key)
                child = n.children[0] if n.children else None
                while child is not None and not set(child.metrics) & set(ROW_COUNTERS) and child.children:
                    child = child.children[0]
                out.append((n, child))
            for c in n.children:
                walk(c)

        for eid in exec_ids:
            for root in self.plans.get(eid, ()):
                walk(root)
        return out

    def rows(self, node: PlanNode) -> int:
        return next((self.metric(node, name) for name in ROW_COUNTERS if name in node.metrics), 0)

    def metric(self, node: PlanNode, name: str) -> int:
        acc = node.metrics.get(name)
        return self.accum.get(acc, 0) if acc is not None else 0

    def python_boundary(self, start_s: float, end_s: float) -> dict:
        """Arrow/Python boundary totals for the Python-UDF plan nodes of the
        SQL executions whose jobs ran in the window."""
        exec_ids = {j.exec_id for j in self.jobs_between(start_s, end_s) if j.exec_id is not None}
        rows_in = bytes_in = bytes_out = 0
        accs: set[int] = set()
        for node, child in self.nodes(exec_ids):
            if not node.name.startswith(PYTHON_NODES):
                continue
            bytes_in += self.metric(node, "data sent to Python workers")
            bytes_out += self.metric(node, "data returned from Python workers")
            if child is not None:
                rows_in += self.rows(child)
            accs.update(node.metrics.values())
        stages = [s for s in self.stages_between(start_s, end_s) if s.accums & accs]
        runs = [r for s in stages for r in s.run_ms]
        skew = max(runs) / statistics.median(runs) if runs and statistics.median(runs) > 0 else 1.0
        return {
            "executor_run_s": sum(runs) / 1000.0,
            "python_rows_in": rows_in,
            "python_bytes_in": bytes_in,
            "python_bytes_out": bytes_out,
            "task_max_over_median": skew,
        }

    def exchange_stats(self, start_s: float, end_s: float, marker: str) -> tuple[int, float]:
        """(shuffle bytes written, union of writing-stage walls in s) for the
        Exchange nodes whose plan text contains ``marker``."""
        exec_ids = {j.exec_id for j in self.jobs_between(start_s, end_s) if j.exec_id is not None}
        written, accs = 0, set()
        for node, _ in self.nodes(exec_ids):
            if node.name.startswith("Exchange") and marker in node.text:
                written += self.metric(node, "shuffle bytes written")
                accs.update(node.metrics.values())
        stages = [s for s in self.stages_between(start_s, end_s) if s.accums & accs and s.shuffle_write_bytes]
        return written, self.union_s([(s.submit_ms, s.complete_ms) for s in stages])
