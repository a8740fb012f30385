"""Spark's own plan-node metrics, read after each call through the SQL
status store (``spark._jsparkSession.sharedState().statusStore()``),
which is populated with the UI off.

Node metric values come back as Spark's display strings, e.g.
``"346,525"``, ``"25 ms"`` or, for per-task metrics,
``"total (min, med, max (stageId: taskId))\\n1.2 s (156 ms, 362 ms,
382 ms (stage 4.0: task 9))"``; ``parse_metric`` turns them into base
units (seconds, bytes, counts).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_TOKEN = re.compile(r"(\d[\d,]*(?:\.\d+)?)\s*(ns|ms|KiB|MiB|GiB|TiB|B|s|m|h)?(?![\w])")
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")

PY_WORKER_TIME = "time to run Python workers"


def parse_metric(text: str) -> tuple[list[float], int | None]:
    """[total] or [total, min, med, max] in base units, and the stage
    that holds the max task (None for plain values)."""
    line = text.strip().splitlines()[-1]
    stage = None
    m = _STAGE.search(line)
    if m:
        stage = int(m.group(1))
        line = line[: m.start()]
    return [float(n.replace(",", "")) * _UNITS.get(u or "", 1.0)
            for n, u in _TOKEN.findall(line)], stage


@dataclass
class Execution:
    id: int
    description: str
    start_ms: int
    end_ms: int | None
    job_ids: list[int]
    # (node name, {metric name: display string}) per plan node
    nodes: list[tuple[str, dict[str, str]]] = field(default_factory=list)


@dataclass
class Layers:
    """Plan-node metrics summed over a set of SQL executions."""

    scan_s: float = 0.0
    input_bytes: float = 0.0
    python_worker_s: float = 0.0
    shuffle_write_s: float = 0.0
    shuffle_bytes: float = 0.0
    shuffle_records: float = 0.0
    fetch_wait_s: float = 0.0
    reduce_stages: set[int] = field(default_factory=set)
    sink_files: float = 0.0
    sink_bytes: float = 0.0
    jobs: int = 0
    tasks: int = 0
    task_skew: float = 0.0
    covered_s: float = 0.0


class StatusStore:
    def __init__(self, spark) -> None:
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final metrics of the executions that ended."""
        self._sc.listenerBus().waitUntilEmpty()

    def last_id(self) -> int:
        self.drain()
        execs = self._store.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    def executions_after(self, after_id: int) -> list[Execution]:
        self.drain()
        execs = self._store.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= after_id:
                continue
            end = e.completionTime()
            jobs = str(e.jobs().keys().mkString(","))
            ex = Execution(
                id=eid, description=str(e.description())[:120],
                start_ms=int(e.submissionTime()),
                end_ms=int(end.get().getTime()) if end.isDefined() else None,
                job_ids=[int(j) for j in jobs.split(",") if j],
            )
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                n = nodes.apply(j)
                ms = n.metrics()
                vals = {}
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        vals[str(m.name())] = str(v.get())
                if vals:
                    ex.nodes.append((str(n.name()), vals))
            out.append(ex)
        return sorted(out, key=lambda x: x.id)

    def _reduce_task_skew(self, stage_id: int) -> float:
        """max / median executor run time over the tasks of one stage."""
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        app = self._sc.statusStore()
        attempt = self.spark.sparkContext.statusTracker().getStageInfo(stage_id)
        if attempt is None:
            return 0.0
        summary = app.taskSummary(stage_id, attempt.currentAttemptId, q)
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / med if med > 0 else 0.0

    def layers(self, execs: list[Execution], window: tuple[float, float] | None = None) -> Layers:
        out = Layers()
        tracker = self.spark.sparkContext.statusTracker()
        stages: set[int] = set()
        for ex in execs:
            out.jobs += len(ex.job_ids)
            for jid in ex.job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
            for name, vals in ex.nodes:
                if "scan time" in vals:
                    out.scan_s += parse_metric(vals["scan time"])[0][0]
                if "size of files read" in vals:
                    out.input_bytes += parse_metric(vals["size of files read"])[0][0]
                if PY_WORKER_TIME in vals:
                    out.python_worker_s += parse_metric(vals[PY_WORKER_TIME])[0][0]
                if name == "Exchange":
                    get = lambda k: parse_metric(vals[k])[0][0] if k in vals else 0.0  # noqa: E731
                    out.shuffle_write_s += get("shuffle write time")
                    out.shuffle_bytes += get("shuffle bytes written")
                    out.shuffle_records += get("shuffle records written")
                    out.fetch_wait_s += get("fetch wait time")
                    if "local bytes read" in vals:
                        stage = parse_metric(vals["local bytes read"])[1]
                        if stage is not None:
                            out.reduce_stages.add(stage)
                if "number of written files" in vals:
                    out.sink_files += parse_metric(vals["number of written files"])[0][0]
                if "written output" in vals:
                    out.sink_bytes += parse_metric(vals["written output"])[0][0]
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is not None:
                out.tasks += info.numCompletedTasks + info.numFailedTasks
        out.task_skew = max((self._reduce_task_skew(s) for s in out.reduce_stages), default=0.0)
        if window is not None:
            out.covered_s = covered_seconds(execs, *window)
        return out

    def storage_mb(self) -> float:
        infos = self._sc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2.0**20


def covered_seconds(execs: list[Execution], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] (epoch seconds) covered by any execution."""
    spans = sorted(
        (max(e.start_ms / 1e3, t0), min((e.end_ms or t1 * 1e3) / 1e3, t1)) for e in execs
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered
