"""Spark's own counters for the actions of one job group, read through py4j.

Three status stores are read, all populated with ``spark.ui.enabled=false``:

* ``statusTracker`` -- the job ids of a job group;
* the core status store (``statusStore().job`` / ``lastStageAttempt`` /
  ``taskList``) -- job and stage times, executor run/CPU/GC time, input,
  output and shuffle bytes, per-task durations;
* the SQL status store's ``executionMetrics`` -- per-operator SQL metrics
  such as "time to run Python workers", "data sent to Python workers",
  "data returned from Python workers" and "number of files read".  These
  arrive as formatted strings ("5.8 s", "54.4 MiB", "10,000", or a
  "total (min, med, max ...)" block) and are parsed back to seconds, bytes
  and counts.

The stores are updated asynchronously by the listener bus, so ``read``
waits until every job of the group has reached a final state.
"""
from __future__ import annotations

import re
import time
from typing import Dict, List, Optional

from py4j.protocol import Py4JJavaError

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> Optional[float]:
    """'5.8 s' -> 5.8, '54.4 MiB' -> bytes, '10,000' -> 10000.0; for a
    'total (min, med, max ...)' block, the total on its second line.  None
    for a metric shown without a total (a '(min, med, max ...)' block)."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return None
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    return number


def _ms(option_date) -> float:
    return float(option_date.get().getTime()) if option_date.isDefined() else float("nan")


class SparkCounters:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc._jsc.clearJobGroup()

    def read(self, group: str, timeout_s: float = 30.0) -> Dict:
        """{'jobs': [...], 'sql': [...]} for every action run under ``group``."""
        deadline = time.time() + timeout_s
        while True:
            job_ids = sorted(self._sc.statusTracker().getJobIdsForGroup(group))
            try:
                jobs = [self._job(j) for j in job_ids]
                if all(j["status"] != "RUNNING" for j in jobs):
                    break
            except Py4JJavaError:  # the listener has not recorded the job yet
                if time.time() > deadline:
                    raise
            if time.time() > deadline:
                raise TimeoutError(f"jobs of group {group} did not finish in the status store")
            time.sleep(0.05)
        return {"jobs": jobs, "sql": self._executions(set(job_ids), deadline)}

    def _job(self, job_id: int) -> Dict:
        data = self._store.job(job_id)
        stage_ids = data.stageIds()
        stages = []
        for k in range(stage_ids.size()):
            stage = self._stage(stage_ids.apply(k))
            if stage is not None:
                stages.append(stage)
        return {
            "id": job_id,
            "status": data.status().toString(),
            "submit_ms": _ms(data.submissionTime()),
            "end_ms": _ms(data.completionTime()),
            "stages": stages,
        }

    def _stage(self, stage_id: int):
        sd = self._store.lastStageAttempt(stage_id)
        if sd.status().toString() == "SKIPPED":
            return None
        tasks = self._store.taskList(stage_id, sd.attemptId(), sd.numTasks())
        task_ms = []
        for k in range(tasks.size()):
            duration = tasks.apply(k).duration()
            if duration.isDefined():
                task_ms.append(float(duration.get()))
        return {
            "id": stage_id,
            "submit_ms": _ms(sd.submissionTime()),
            "end_ms": _ms(sd.completionTime()),
            "num_tasks": sd.numTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "input_bytes": sd.inputBytes(),
            "output_bytes": sd.outputBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "task_ms": task_ms,
        }

    def _executions(self, job_ids: set, deadline: float) -> List[Dict]:
        """SQL executions whose jobs belong to the group, with their metrics
        summed by metric name (one operator kind can appear several times)."""
        out = []
        executions = self._sql.executionsList()
        for k in range(executions.size()):
            e = executions.apply(k)
            jobs_it = e.jobs().keys().iterator()
            exec_jobs = set()
            while jobs_it.hasNext():
                exec_jobs.add(int(jobs_it.next()))
            if not exec_jobs & job_ids:
                continue
            while e.completionTime().isEmpty() and time.time() < deadline:
                time.sleep(0.05)
                e = self._sql.execution(e.executionId()).get()
            names = {}
            plan_metrics = e.metrics()
            for m in range(plan_metrics.size()):
                pm = plan_metrics.apply(m)
                names[pm.accumulatorId()] = pm.name()
            metrics: Dict[str, float] = {}
            values = self._sql.executionMetrics(e.executionId()).iterator()
            while values.hasNext():
                kv = values.next()
                name = names.get(kv._1())
                value = parse_metric(kv._2())
                if name is not None and value is not None:
                    metrics[name] = metrics.get(name, 0.0) + value
            out.append(
                {
                    "id": e.executionId(),
                    "jobs": sorted(exec_jobs),
                    "submit_ms": float(e.submissionTime()),
                    "end_ms": _ms(e.completionTime()),
                    "metrics": metrics,
                }
            )
        return out
