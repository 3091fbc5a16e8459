"""The benchmark's one reader of Spark's status stores.

Both stores work with ``spark.ui.enabled=false``:

- the application store (``SparkContext.statusStore``) has every job with
  its job group and stage ids, and every stage's executor CPU, run, GC,
  input, shuffle and spill totals;
- the SQL store (``SharedState.statusStore``) has every SQL execution's
  physical plan graph and its per-node metric values.

Store objects are serialized to JSON inside the JVM with the Jackson
mapper Spark's REST API uses, so a read costs a few Py4J calls instead of
one per field.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

PYTHON_TIME_METRICS = (
    "time to run Python workers",
    "time to initialize Python workers",
    "time to start Python workers",
)


def parse_metric(text: str) -> float:
    """SQL-store metric string -> number: seconds for timings, bytes for sizes.

    A metric with several task values reads
    ``total (min, med, max (stageId: taskId))\\n<total> (<min>, ...)``; the
    total is the first value on the last line.
    """
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        raise ValueError(f"unparseable metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS[m.group(2)] if m.group(2) else num


def node_type(name: str) -> str:
    """'Scan parquet ' -> 'Scan'; 'WholeStageCodegen (3)' -> 'WholeStageCodegen';
    'Execute InsertIntoHadoopFsRelationCommand' -> 'InsertIntoHadoopFsRelationCommand'."""
    words = name.split()
    if words and words[0] == "Execute" and len(words) > 1:
        words = words[1:]
    return words[0] if words else "?"


class StatusReader:
    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jsc = sc._jsc

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def execution_mark(self) -> int:
        """Number of SQL executions so far; pass it to ``executions``."""
        return self._sql.executionsCount()

    def jobs(self, groups: set[str]) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = defaultdict(list)
        for job in self._json(self._app.jobsList(None)):
            if job.get("jobGroup") in groups:
                out[job["jobGroup"]].append(job)
        return out

    def stages(self, stage_ids: set[int], with_tasks: bool = False) -> dict[int, dict]:
        """Latest attempt of each stage; ``with_tasks`` adds per-task data."""
        store = self._app
        every = store.stageList(
            None, False, False,
            getattr(store, "stageList$default$4")(), getattr(store, "stageList$default$5")(),
        )
        out = {}
        for st in self._json(every):
            sid = st["stageId"]
            if sid in stage_ids and (sid not in out or st["attemptId"] > out[sid]["attemptId"]):
                out[sid] = st
        if with_tasks:
            for sid, st in out.items():
                st["tasks"] = self._json(store.taskList(sid, st["attemptId"], 2**31 - 1))
        return out

    def executions(self, mark: int, groups: set[str]) -> dict[str, list[dict]]:
        """SQL executions since ``mark``, keyed by the job group they ran under.

        Each carries ``nodes``: its plan-graph nodes with metric values.
        """
        n = self._sql.executionsCount() - mark
        out: dict[str, list[dict]] = defaultdict(list)
        if n <= 0:
            return out
        for ex in self._json(self._sql.executionsList(mark, n)):
            if ex.get("description") not in groups:
                continue
            values = ex.get("metricValues") or self._json(self._sql.executionMetrics(ex["executionId"]))
            nodes = []
            for node in self._json(self._sql.planGraph(ex["executionId"]).allNodes()):
                metrics = {}
                for m in node["metrics"]:
                    v = values.get(str(m["accumulatorId"]))
                    if v is not None and m["metricType"] != "average":
                        metrics[m["name"]] = parse_metric(v)
                nodes.append({"type": node_type(node["name"]), "metrics": metrics})
            ex.pop("physicalPlanDescription", None)
            ex.pop("metricValues", None)
            ex.pop("metrics", None)
            ex["nodes"] = nodes
            out[ex["description"]].append(ex)
        return out

    def session_state(self) -> tuple[int, int]:
        """(persisted RDDs, bytes they hold in memory and on disk)."""
        infos = self._jsc.sc().getRDDStorageInfo()
        cached = sum(i.memSize() + i.diskSize() for i in infos)
        return self._jsc.getPersistentRDDs().size(), cached
