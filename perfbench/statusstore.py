"""Read Spark's driver-side status stores from outside the program.

Both stores stay populated with ``spark.ui.enabled=false``:

* the core ``AppStatusStore`` (jobs, stages, tasks: exact numeric fields);
* the SQL ``SQLAppStatusStore`` (executions, plan graphs, and per-node SQL
  metrics, which it keeps only as formatted strings such as ``"13.4 MiB"``
  or ``"total (min, med, max ...)\\n765 ms (...)"``).

``Scope`` snapshots the id watermarks before a call; ``Scope.collect()``
afterwards returns only the jobs, stages and executions that call started.
"""

from __future__ import annotations

import re
import statistics

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric total → number (bytes, seconds or a count)."""
    if not text:
        return 0.0
    m = _VALUE.match(text.strip().splitlines()[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


class Scope:
    def __init__(self, spark):
        self.gw = spark.sparkContext._gateway
        self.core = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.job0 = max((j["id"] for j in self._jobs()), default=-1)
        self.stage0 = max((s["id"] for s in self._stages()), default=-1)
        self.exec0 = max((e.executionId() for e in _iter(self.sql.executionsList())),
                         default=-1)

    def _jobs(self) -> list[dict]:
        out = []
        for j in _iter(self.core.jobsList(self.gw.jvm.java.util.ArrayList())):
            out.append({
                "id": j.jobId(), "name": j.name(),
                "start_ms": _ms(j.submissionTime()), "end_ms": _ms(j.completionTime()),
                "stage_ids": list(_iter(j.stageIds())),
                "failed_tasks": j.numFailedTasks(),
            })
        return out

    def _stages(self) -> list[dict]:
        empty = self.gw.jvm.java.util.ArrayList()
        quantiles = self.gw.new_array(self.gw.jvm.double, 0)
        out = []
        for s in _iter(self.core.stageList(empty, False, False, quantiles, empty)):
            if s.status().toString() == "SKIPPED":
                continue
            out.append({
                "id": s.stageId(), "attempt": s.attemptId(), "name": s.name(),
                "tasks": s.numTasks(), "failed_tasks": s.numFailedTasks(),
                "start_ms": _ms(s.submissionTime()), "end_ms": _ms(s.completionTime()),
                "run_s": s.executorRunTime() / 1e3, "cpu_s": s.executorCpuTime() / 1e9,
                "input_bytes": s.inputBytes(), "output_bytes": s.outputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_write_s": s.shuffleWriteTime() / 1e9,
                "spill_bytes": s.memoryBytesSpilled(),
                "peak_execution_bytes": s.peakExecutionMemory(),
            })
        return out

    def task_seconds(self, stage: dict) -> list[float]:
        tasks = self.core.taskList(stage["id"], stage["attempt"], 1_000_000)
        return [t.duration().get() / 1e3 for t in _iter(tasks) if t.duration().isDefined()]

    def _executions(self) -> list[dict]:
        out = []
        for e in _iter(self.sql.executionsList()):
            eid = e.executionId()
            if eid <= self.exec0:
                continue
            values = {kv._1(): kv._2() for kv in _iter(self.sql.executionMetrics(eid))}
            nodes = []
            for n in _iter(self.sql.planGraph(eid).allNodes()):
                nodes.append({
                    "name": n.name(),
                    "metrics": {m.name(): parse_metric(values.get(m.accumulatorId()))
                                for m in _iter(n.metrics())},
                })
            out.append({
                "id": eid, "description": e.description(),
                "start_ms": float(e.submissionTime()), "end_ms": _ms(e.completionTime()),
                "stage_ids": set(_iter(e.stages())), "nodes": nodes,
            })
        return out

    def collect(self) -> "Collected":
        return Collected(
            self,
            [j for j in self._jobs() if j["id"] > self.job0],
            [s for s in self._stages() if s["id"] > self.stage0],
            self._executions(),
        )


def union_s(intervals) -> float:
    """Total length (s) of the union of [start_ms, end_ms] intervals."""
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[0] is not None and i[1] is not None):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


class Collected:
    """The jobs, stages and SQL executions one call started."""

    def __init__(self, scope: Scope, jobs, stages, executions):
        self.scope, self.jobs, self.stages, self.executions = scope, jobs, stages, executions

    def node_sum(self, prefix: str, metric: str) -> float:
        return sum(n["metrics"].get(metric, 0.0) for e in self.executions
                   for n in e["nodes"] if n["name"].startswith(prefix))

    def exec_seconds(self, pred) -> float:
        return sum((e["end_ms"] - e["start_ms"]) / 1e3 for e in self.executions
                   if e["end_ms"] is not None and pred(e))

    def stage_sum(self, key: str) -> float:
        return sum(s[key] for s in self.stages)

    def scan_stage(self) -> dict | None:
        """The stage that reads the input files: in the execution whose scans
        read the most file bytes, its stage with the most input bytes (later
        stages of a run read cached blocks, which also count as input)."""
        def file_bytes(e):
            return sum(n["metrics"].get("size of files read", 0.0)
                       for n in e["nodes"] if n["name"].startswith("Scan"))

        top = max(self.executions, key=file_bytes, default=None)
        if top is None or not file_bytes(top):
            return None
        return max((s for s in self.stages if s["id"] in top["stage_ids"]),
                   key=lambda s: s["input_bytes"], default=None)

    def task_skew(self) -> tuple[float, float]:
        """(max / median, max - median) task seconds of the stage with the
        most executor run time: the stage that sets the wall."""
        widest = max(self.stages, key=lambda s: s["run_s"], default=None)
        task_s = self.scope.task_seconds(widest) if widest else []
        if not task_s:
            return 0.0, 0.0
        med = statistics.median(task_s)
        return (max(task_s) / med if med else 0.0), max(task_s) - med

    def engine_layers(self, wall_s: float) -> dict[str, float]:
        """Engine rows of the layer table (exchange, tasks, memory, driver,
        scan, write, Python map)."""
        scan = self.scan_stage()
        skew, straggler = self.task_skew()
        write = "Execute InsertIntoHadoopFsRelationCommand"
        return {
            "sources.scan_s": self.node_sum("Scan", "scan time"),
            "sources.scan_bytes": self.node_sum("Scan", "size of files read"),
            "sources.scan_tasks": scan["tasks"] if scan else 0,
            "sources.write_s": self.node_sum(write, "task commit time")
            + self.node_sum(write, "job commit time"),
            "sources.write_bytes": self.stage_sum("output_bytes"),
            "sources.write_files": self.node_sum(write, "number of written files"),
            "extract.python_run_s": self.node_sum("MapInPandas", "time to run Python workers"),
            "extract.python_boot_s": self.node_sum("MapInPandas", "time to start Python workers"),
            "extract.python_init_s": self.node_sum(
                "MapInPandas", "time to initialize Python workers"),
            "extract.arrow_sent_bytes": self.node_sum(
                "MapInPandas", "data sent to Python workers"),
            "extract.arrow_received_bytes": self.node_sum(
                "MapInPandas", "data returned from Python workers"),
            "udf.python_run_s": sum(
                self.node_sum(p, "time to run Python workers")
                for p in ("ArrowEvalPython", "BatchEvalPython")),
            "xengine.truncate_s": self.exec_seconds(
                lambda e: e["description"].startswith("localCheckpoint")),
            "exchange.write_bytes": self.stage_sum("shuffle_write_bytes"),
            "exchange.write_s": self.stage_sum("shuffle_write_s"),
            "exchange.read_bytes": self.stage_sum("shuffle_read_bytes"),
            "tasks.count": self.stage_sum("tasks"),
            "tasks.failed": self.stage_sum("failed_tasks"),
            "tasks.executor_run_s": self.stage_sum("run_s"),
            "tasks.executor_cpu_s": self.stage_sum("cpu_s"),
            "tasks.max_over_median": skew,
            "tasks.straggler_s": straggler,
            "memory.peak_execution_bytes": max(
                (s["peak_execution_bytes"] for s in self.stages), default=0),
            "memory.spill_bytes": self.stage_sum("spill_bytes"),
            "driver.jobs": len(self.jobs),
            "driver.stages": len(self.stages),
            "driver.idle_s": max(
                0.0, wall_s - union_s((s["start_ms"], s["end_ms"]) for s in self.stages)),
        }
