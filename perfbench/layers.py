"""Offline per-layer accounting: spans, Spark event logs, sample stats.

Everything here is pure Python over plain data (span dicts, event-log JSON
lines, latency lists), so the unit tests in ``perfbench/tests`` drive it
without a SparkSession.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

import numpy as np

MIN_BEYOND = 10
_HD_GRID = 100_000  # integration points for the Beta weights

_SQL = "org.apache.spark.sql.execution.ui."
_BROADCAST_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
_SHUFFLE_JOINS = ("SortMergeJoin", "ShuffledHashJoin",
                  "CartesianProduct")
PY_EVAL_METRICS = {
    # SQL metric name on the Arrow/Python evaluation nodes -> layer key
    "time to run Python workers": "py_eval_s",
    "data sent to Python workers": "py_in_bytes",
    "data returned from Python workers": "py_out_bytes",
}
WRITE_METRICS = {"number of written files": "files_written"}
_TIME_SCALE = {"timing": 1e3, "nsTiming": 1e9}


def tail_percentile(samples: list[float],
                    min_beyond: int = MIN_BEYOND) -> dict:
    """The highest percentile that still has at least ``min_beyond``
    samples beyond it, but never below the median.

    With ``n`` sorted samples that is the value at 1-based rank
    ``n - min_beyond``, i.e. percentile ``100 * (n - min_beyond) / n``.
    Below ``2 * min_beyond`` samples the rank is clamped to the median's
    (``ceil(n / 2)``), and the returned ``beyond`` count shows that the
    tail is not resolved at that sample size.
    """
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    rank = max(n - min_beyond, -(-n // 2))
    return {"percentile": 100.0 * rank / n, "value": xs[rank - 1], "n": n,
            "beyond": n - rank}


def harrell_davis(samples: list[float], p: float = 0.5) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a mean of all order
    statistics, weighted by a Beta(p(n+1), (1-p)(n+1)) distribution over
    their ranks. Where a mix of query types leaves gaps between the sample
    values, it moves smoothly as they shift, while a single order
    statistic jumps from one query's values to the next one's."""
    if not samples:
        raise ValueError("no samples")
    xs = np.sort(np.asarray(samples, dtype=float))
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    u = (np.arange(_HD_GRID) + 0.5) / _HD_GRID
    log_pdf = (a - 1) * np.log(u) + (b - 1) * np.log1p(-u)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])
    edges = np.interp(np.arange(n + 1) / n,
                      np.arange(_HD_GRID + 1) / _HD_GRID, cdf / cdf[-1])
    return float(np.diff(edges) @ xs)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span: tuple[float, float],
              children: list[tuple[float, float]]) -> float:
    """Span length minus the part covered by its (possibly overlapping)
    child intervals, each clipped to the span."""
    a, b = span
    clipped = [(max(a, x), min(b, y)) for x, y in children
               if min(b, y) > max(a, x)]
    return (b - a) - union_length(clipped)


def _number(value):
    """An accumulator update as a number; SQL metrics arrive as strings."""
    if isinstance(value, (int, float)):
        return value
    try:
        return float(value)
    except (TypeError, ValueError):
        return None


def _walk_plan(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk_plan(child)


class EventLog:
    """Accumulates one Spark event log (JSON lines) into per-job, per-stage
    and per-SQL-execution records.

    Task metrics are summed per job group (``spark.jobGroup.id``). SQL
    metrics are summed by accumulator id from both task-end accumulables
    and driver-side accumulator updates, then named through the metric
    ids found in the physical plans.
    """

    def __init__(self) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_submitted: set[int] = set()
        self.task = defaultdict(lambda: defaultdict(float))  # group -> sums
        self.accum = defaultdict(float)  # accumulator id -> summed update
        self.metric_name: dict[int, str] = {}
        self.metric_type: dict[int, str] = {}
        self.final_plan: dict[int, dict] = {}  # executionId -> last plan

    @classmethod
    def from_lines(cls, lines) -> EventLog:
        log = cls()
        log.add_lines(lines)
        return log

    def add_lines(self, lines) -> None:
        for line in lines:
            if line.strip():
                self.add(json.loads(line))

    def add(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            stage_ids = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"], "end": None,
                "stages": stage_ids, "ok": None}
            for s in stage_ids:
                self.stage_job.setdefault(s, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"]
                job["ok"] = ev["Job Result"]["Result"] == "JobSucceeded"
        elif kind == "SparkListenerStageSubmitted":
            self.stages_submitted.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            self._task_end(ev)
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev.get("accumUpdates", []):
                self.accum[acc_id] += value

    def _plan(self, execution_id: int, plan: dict) -> None:
        self.final_plan[execution_id] = plan
        for node in _walk_plan(plan):
            for m in node.get("metrics", []):
                self.metric_name[m["accumulatorId"]] = m["name"]
                self.metric_type[m["accumulatorId"]] = m.get("metricType")

    def _task_end(self, ev: dict) -> None:
        job = self.jobs.get(self.stage_job.get(ev["Stage ID"], -1))
        sums = self.task[job["group"] if job else None]
        info = ev.get("Task Info", {})
        sums["tasks"] += 1
        if info.get("Failed") or info.get("Killed"):
            sums["tasks_failed"] += 1
        for acc in info.get("Accumulables", []):
            value = _number(acc.get("Update"))
            if "ID" in acc and value is not None:
                self.accum[acc["ID"]] += value
        m = ev.get("Task Metrics") or {}
        if not m:
            return
        sr = m.get("Shuffle Read Metrics", {})
        sums["run_ms"] += m.get("Executor Run Time", 0)
        sums["cpu_ns"] += m.get("Executor CPU Time", 0)
        sums["gc_ms"] += m.get("JVM GC Time", 0)
        sums["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        sums["shuffle_write_bytes"] += m.get(
            "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        sums["shuffle_read_bytes"] += (sr.get("Local Bytes Read", 0)
                                       + sr.get("Remote Bytes Read", 0))
        sums["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        sums["output_bytes"] += m.get(
            "Output Metrics", {}).get("Bytes Written", 0)

    # -- views ------------------------------------------------------------

    def task_totals(self, groups=None) -> dict[str, float]:
        """Task-metric sums over the given job groups (all if None)."""
        out: dict[str, float] = defaultdict(float)
        for g, sums in self.task.items():
            if groups is None or g in groups:
                for k, v in sums.items():
                    out[k] += v
        return dict(out)

    def sql_metric_totals(self, names: dict[str, str]) -> dict[str, float]:
        """Summed SQL-metric values, keyed by ``names[metric name]``.
        Timing metrics are converted to seconds (``timing`` is in ms,
        ``nsTiming`` in ns); sizes stay in bytes."""
        out = {key: 0.0 for key in names.values()}
        for acc_id, value in self.accum.items():
            key = names.get(self.metric_name.get(acc_id, ""))
            if key:
                out[key] += value / _TIME_SCALE.get(
                    self.metric_type.get(acc_id), 1.0)
        return out

    def stage_counts(self, groups=None) -> tuple[int, int]:
        """(stages listed by the selected jobs, of those skipped).

        A stage id is shared by every job that depends on it but runs
        once, in the first job that lists it; each other listing (and a
        stage never submitted at all) is a skip, as in the Spark UI."""
        selected = {jid for jid, job in self.jobs.items()
                    if groups is None or job["group"] in groups}
        listed = sum(len(self.jobs[j]["stages"]) for j in selected)
        ran = sum(1 for s in self.stages_submitted
                  if self.stage_job.get(s) in selected)
        return listed, listed - ran

    def join_counts(self) -> tuple[int, int]:
        """(broadcast joins, shuffle joins) that ran: counted in the last
        physical plan of each SQL execution, i.e. after AQE re-planned
        joins on runtime sizes."""
        bcast = shuffle = 0
        for plan in self.final_plan.values():
            for node in _walk_plan(plan):
                name = node.get("nodeName", "")
                bcast += name.startswith(_BROADCAST_JOINS)
                shuffle += name.startswith(_SHUFFLE_JOINS)
        return bcast, shuffle


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
