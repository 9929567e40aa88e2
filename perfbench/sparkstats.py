"""Spark's own metrics for the actions run between two marks.

Reads, through py4j, the session's SQL status store (per-node plan
metrics: bytes into and out of Python workers, Python run and init
time, shuffle bytes written) and the application status store (jobs,
stages, per-task run-time quantiles). Work is attributed by id range:
every SQL execution and job that starts after ``mark()`` belongs to the
interval. That also catches jobs submitted from worker threads, which
do not inherit a job group.

The listener bus is asynchronous, so both ``mark()`` and ``since()``
first wait until it has delivered every pending event.
"""

from __future__ import annotations

import html
import re
from dataclasses import dataclass

_UNIT = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(KiB|MiB|GiB|TiB|B|ms|s|m|h)\b")
# one node per line; cluster labels carry no labelType and are skipped
_LABEL = re.compile(r'labelType="html" label="(.*?)" tooltip="')
_DIST = " total (min, med, max (stageId: taskId))"


def _values(text: str) -> list[float]:
    """Numbers with units in a rendered metric, in base units (bytes or
    seconds): ``[total]`` or ``[total, min, med, max]``."""
    return [float(n.replace(",", "")) * _UNIT[u] for n, u in _VALUE.findall(text)]


def parse_dot(dot: str) -> list[tuple[str, dict[str, list[float]]]]:
    """``(node name, {metric: values})`` for every node of a plan graph
    rendered by ``SparkPlanGraph.makeDotFile``."""
    nodes = []
    for label in _LABEL.findall(dot):
        parts = [html.unescape(p) for p in label.split("<br>")]
        name = next((p[3:-4] for p in parts if p.startswith("<b>")), None)
        if name is None:
            continue
        metrics: dict[str, list[float]] = {}
        i = parts.index(f"<b>{name}</b>") + 1
        while i < len(parts):
            p = parts[i]
            if p.endswith(_DIST) and i + 1 < len(parts):
                metrics[p[: -len(_DIST)]] = _values(parts[i + 1])
                i += 2
                continue
            key, sep, val = p.rpartition(": ")
            if sep:
                metrics[key] = _values(val)
            i += 1
        nodes.append((name, metrics))
    return nodes


@dataclass(frozen=True)
class Mark:
    job: int
    # A job's final stage is always new and takes the next stage id, so
    # stages with a larger id than the last job's were created later.
    # Reused shuffle stages keep their old id and are not counted again.
    stage: int
    execution: int


@dataclass
class Interval:
    """What Spark did between a mark and ``since``."""

    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: float = 0.0
    py_bytes_in: float = 0.0
    py_bytes_out: float = 0.0
    py_run_s: float = 0.0
    py_init_s: float = 0.0
    # max / median per-task Python run time of the Python node that ran longest
    py_task_skew: float = 0.0
    # max / median task run time of the stage with the most task time
    task_skew: float = 0.0


class SparkStats:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _job_ids(self) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(None))

    def mark(self) -> Mark:
        self._drain()
        job = max(self._job_ids(), default=-1)
        info = self._tracker.getJobInfo(job) if job >= 0 else None
        stage = max(info.stageIds, default=-1) if info is not None else -1
        return Mark(job, stage, self._sql.executionsCount())

    def since(self, mark: Mark) -> Interval:
        self._drain()
        out = Interval()
        py_worst = (0.0, 0.0)
        for eid in range(mark.execution, self._sql.executionsCount()):
            if not self._sql.execution(eid).isDefined():
                continue
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for name, m in parse_dot(dot):
                if name == "Exchange":
                    out.shuffle_bytes += m.get("shuffle bytes written", [0.0])[0]
                if "data sent to Python workers" in m:
                    out.py_bytes_in += m["data sent to Python workers"][0]
                    out.py_bytes_out += m.get("data returned from Python workers", [0.0])[0]
                    run = m.get("time to run Python workers", [0.0])
                    out.py_run_s += run[0]
                    out.py_init_s += m.get("time to initialize Python workers", [0.0])[0]
                    if len(run) == 4 and run[0] > py_worst[0] and run[2] > 0:
                        py_worst = (run[0], run[3] / run[2])
        out.py_task_skew = py_worst[1]
        heaviest = (0.0, 0, 0)
        stages: set[int] = set()
        for jid in self._job_ids():
            if jid <= mark.job:
                continue
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            out.jobs += 1
            stages.update(sid for sid in info.stageIds if sid > mark.stage)
        for sid in sorted(stages):
            st = self._tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks == 0:
                continue
            out.tasks += st.numCompletedTasks
            sd = self._app.lastStageAttempt(sid)
            if sd.executorRunTime() > heaviest[0]:
                heaviest = (sd.executorRunTime(), sid, sd.attemptId())
        if heaviest[0] > 0:
            summary = self._app.taskSummary(heaviest[1], heaviest[2], self._quantiles)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                if rt.apply(0) > 0:
                    out.task_skew = rt.apply(1) / rt.apply(0)
        return out
