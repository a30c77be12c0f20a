# -*- coding: utf-8 -*-
"""Per-pass Spark counters read from the session's status stores.

Spark keeps job, task and SQL-operator metrics in its in-memory status
stores even with ``spark.ui.enabled=false``. This module reads them for the
work submitted under one job group:

- jobs, completed tasks and failed tasks from the core ``AppStatusStore``;
- per-operator SQL metrics (bytes sent to and returned from Python workers,
  Python worker start-up and run time, shuffle bytes written, spill) from
  ``sharedState().statusStore()`` for every SQL execution whose jobs belong
  to the group.

SQL metric values arrive as display strings (``"1610.5 KiB"``,
``"total (min, med, max ...)\\n8.2 s (...)"``); ``parse_metric`` turns the
total back into bytes, seconds or a count.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager
from typing import Dict, Iterator, Optional

# SQL metric display name -> counter name reported by the benchmark
SQL_COUNTERS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "shuffle bytes written": "shuffle_write_bytes",
    "spill size": "spill_bytes",
}
COUNTERS = ("jobs", "tasks", "failed_tasks") + tuple(SQL_COUNTERS.values())

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(metric_type: str, text: str) -> float:
    """The total of one SQL metric display string: bytes for ``size``,
    seconds for ``timing``/``nsTiming``, a count for ``sum``."""
    total_line = text.strip().split("\n")[-1]
    token = total_line.split(" (")[0].strip()
    if metric_type == "sum":
        return float(token.replace(",", ""))
    number, unit = token.split()
    number = float(number.replace(",", ""))
    if metric_type == "size":
        return number * _SIZE_UNITS[unit]
    if metric_type in ("timing", "nsTiming"):
        return number * _TIME_UNITS[unit]
    raise ValueError(f"unsupported metric type {metric_type!r}")


class StatusHarvester:
    """Tags work with a job group and reads its counters afterwards."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        self._ids = itertools.count()

    @contextmanager
    def group(self, label: str, sql: bool = True) -> Iterator[Dict[str, float]]:
        """Run the body under a fresh job group; on exit the yielded dict
        holds that group's counters (``COUNTERS``; the SQL ones stay 0
        unless ``sql``)."""
        group_id = f"perfbench-{next(self._ids)}-{label}"
        counters: Dict[str, float] = {}
        self._sc.setJobGroup(group_id, label)
        try:
            yield counters
        finally:
            self._sc._jsc.clearJobGroup()
            counters.update(self.counters(group_id, sql))

    def _drain_listener_bus(self) -> None:
        # metrics reach the stores through the asynchronous listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def counters(self, group_id: str, sql: bool = True) -> Dict[str, float]:
        self._drain_listener_bus()
        jsc = self._sc._jsc.sc()
        job_ids = set(int(j) for j in jsc.statusTracker().getJobIdsForGroup(group_id))
        out = {name: 0.0 for name in COUNTERS}
        store = jsc.statusStore()
        for job_id in job_ids:
            job = store.job(job_id)
            out["jobs"] += 1
            out["tasks"] += job.numCompletedTasks()
            out["failed_tasks"] += job.numFailedTasks()
        if not (sql and job_ids):
            return out
        sql_store = self._spark._jsparkSession.sharedState().statusStore()
        executions = sql_store.executionsList()
        for index in range(executions.size()):
            execution = executions.apply(index)
            jobs = execution.jobs()
            if not any(jobs.contains(job_id) for job_id in job_ids):
                continue
            for name, value in self._execution_totals(sql_store, execution).items():
                out[name] += value
        return out

    @staticmethod
    def _execution_totals(sql_store, execution) -> Dict[str, float]:
        values = sql_store.executionMetrics(execution.executionId())
        metrics = execution.metrics()
        totals: Dict[str, float] = {}
        seen = set()
        for index in range(metrics.size()):
            metric = metrics.apply(index)
            counter = SQL_COUNTERS.get(metric.name())
            accumulator = metric.accumulatorId()
            # adaptive re-planning lists an operator's metric more than once
            if counter is None or accumulator in seen:
                continue
            seen.add(accumulator)
            text: Optional[str] = values.get(accumulator)
            text = text.get() if text is not None and text.isDefined() else None
            if text:
                totals[counter] = totals.get(counter, 0.0) + parse_metric(metric.metricType(), text)
        return totals
