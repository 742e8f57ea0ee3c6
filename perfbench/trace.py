"""Spans around operator calls, with counters read from Spark's
in-process status store (no UI, no event log, no network).

A span is opened by the benchmark around one call into an operator's
public function. With tracing on, closing the span drains the listener
bus and attributes to it every job and every SQL execution that started
since the previous span closed (the driver submits them one step at a
time, so job and execution ids are a clean partition of the run):

* job and stage rows from ``SparkContext.statusStore()``: task counts,
  executor run/CPU time, shuffle bytes, spill bytes, task-time skew, and
  the step's driver-only time (wall time minus the union of its job
  intervals);
* SQL metrics of the Python-boundary and Exchange nodes from the SQL
  status store's plan graphs. Values come from the live accumulators
  when they are still registered, and from the store's formatted
  strings otherwise (``parsed`` counts those fallbacks).

With tracing off a span records only its start and end.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

# SQL metric display names (Spark 4.1) -> trace counter names
NODE_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_total_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "number of output rows": "rows_out",
    "shuffle bytes written": "shuffle_bytes_written",
    "shuffle records written": "shuffle_records_written",
}
# plan nodes whose metrics the trace keeps: the Arrow/Python boundary
# and the shuffle exchanges
_KEPT_NODE = re.compile(r"Python|Pandas|Arrow|^Exchange")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def parse_metric_string(text: str) -> float:
    """Total of a formatted SQL metric ('1,234', '12.5 MiB', '3.2 s',
    or 'total (min, med, max ...)\\n<total> (...)'), in bytes, ms or
    plain units."""
    line = text.strip().split("\n")[-1] if "\n" in text else text.strip()
    m = re.match(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return val * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return val * _TIME_UNITS[unit]
    return val


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [a, b] intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Collects spans for one benchmark run; ``enabled`` switches the
    status-store counters on."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._gateway = spark.sparkContext._gateway
        self._last_job = -1
        self._last_exec = 0
        self._seen_acc: set[int] = set()
        if enabled:
            self.skip_to_now()

    def skip_to_now(self) -> None:
        """Attribute nothing that ran before this point to a span."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._sc.statusStore().jobsList(None)
        if jobs.size():
            self._last_job = max(jobs.apply(i).jobId() for i in range(jobs.size()))
        self._last_exec = int(self._sql_store().executionsCount())

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def span(self, name: str, parent: int | None = None, counters: bool = True):
        """Open a span; yields its record (callers may add fields)."""
        rec = {"id": len(self.spans), "name": name, "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            if self.enabled and counters:
                t1 = time.perf_counter()
                rec.update(self._collect(rec["start"], rec["end"]))
                rec["collect_s"] = time.perf_counter() - t1

    # -- status store readers ------------------------------------------

    def _collect(self, start: float, end: float) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)  # newest first
        new_jobs = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            new_jobs.append(j)
        if new_jobs:
            self._last_job = max(j.jobId() for j in new_jobs)

        intervals = []
        stage_ids = set()
        for j in new_jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                a = sub.get().getTime() / 1e3
                b = done.get().getTime() / 1e3 if done.isDefined() else end
                intervals.append((max(a, start), min(b, end)))
            ids = j.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
        intervals = [(a, b) for a, b in intervals if b > a]

        out = {
            "jobs": len(new_jobs), "stages": 0, "tasks": 0,
            "executor_run_s": 0.0, "jvm_cpu_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "task_skew": 0.0,
            "driver_only_s": max(0.0, (end - start) - union_length(intervals)),
        }
        heaviest = None
        for sid in sorted(stage_ids):
            s = store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue  # skipped (reused shuffle output) or never run
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["jvm_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.numCompleteTasks() > 1 and (
                heaviest is None or s.executorRunTime() > heaviest[2]
            ):
                heaviest = (sid, s.attemptId(), s.executorRunTime())
        if heaviest is not None:
            q = self._gateway.new_array(self._jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summ = store.taskSummary(heaviest[0], heaviest[1], q)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                out["task_skew"] = mx / med if med > 0 else 0.0
        out["nodes"] = self._sql_nodes()
        return out

    def _sql_nodes(self) -> list[dict]:
        sql = self._sql_store()
        count = int(sql.executionsCount())
        if count <= self._last_exec:
            return []
        execs = sql.executionsList(self._last_exec, count - self._last_exec)
        self._last_exec = count
        rows = []
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            graph = sql.planGraph(eid)
            nodes = graph.allNodes()
            by_id = {}
            for k in range(nodes.size()):
                node = nodes.apply(k)
                by_id[node.id()] = node
            children: dict[int, list[int]] = {}
            edges = graph.edges()
            for k in range(edges.size()):
                e = edges.apply(k)
                children.setdefault(e.toId(), []).append(e.fromId())
            reader = _MetricReader(self._jvm, sql, eid)
            for nid, node in by_id.items():
                name = node.name()
                if not _KEPT_NODE.search(name):
                    continue
                values, acc_ids = reader.read(node)
                if acc_ids & self._seen_acc:
                    # a cached plan's node reappears under every scan of
                    # the cache, with the accumulators of the execution
                    # that filled it: count it once, where it ran
                    continue
                self._seen_acc |= acc_ids
                row = {"execution": int(eid), "node": name, "desc": node.desc()[:160], **values}
                # input rows of the node: output rows of the nearest
                # descendant that counts them
                queue = list(children.get(nid, []))
                while queue:
                    below_id = queue.pop(0)
                    if below_id not in by_id:
                        continue
                    below, _ = reader.read(by_id[below_id])
                    if "rows_out" in below:
                        row["rows_in"] = below["rows_out"]
                        break
                    queue.extend(children.get(below_id, []))
                row["parsed"] = reader.parsed
                rows.append(row)
        return rows

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, fh, indent=1)


class _MetricReader:
    """Reads the kept SQL metrics of plan-graph nodes of one execution:
    live accumulator values when still registered, the store's
    formatted totals otherwise (counted in ``parsed``)."""

    def __init__(self, jvm, sql_store, execution_id: int) -> None:
        self._acc = jvm.org.apache.spark.util.AccumulatorContext
        self._sql = sql_store
        self._eid = execution_id
        self._formatted = None
        self.parsed = 0

    def read(self, node) -> tuple[dict, set[int]]:
        """(kept metric values, their accumulator ids) of one node."""
        out, ids = {}, set()
        metrics = node.metrics()
        for m in range(metrics.size()):
            metric = metrics.apply(m)
            key = NODE_METRICS.get(metric.name())
            if key is None:
                continue
            ids.add(int(metric.accumulatorId()))
            acc = self._acc.get(metric.accumulatorId())
            if acc.isDefined():
                out[key] = float(acc.get().value())
                continue
            if self._formatted is None:
                self._formatted = self._sql.executionMetrics(self._eid)
            text = self._formatted.get(metric.accumulatorId())
            out[key] = parse_metric_string(text.get()) if text.isDefined() else 0.0
            self.parsed += 1
        return out, ids

