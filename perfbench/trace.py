"""Per-layer numbers from Spark's own status stores (no UI, no program hooks).

After an action, ``Tracer.since(mark)`` waits for the listener bus to drain
and returns every SQL execution that started after ``mark``, with

* the plan-graph node metrics (``SQLAppStatusStore.executionMetrics``), which
  Spark formats as strings — ``total (min, med, max ...)\\n19.0 s (...)`` —
  and ``_value`` parses back to seconds / bytes / counts;
* the stage and task data of the execution's stages
  (``AppStatusStore.lastStageAttempt`` / ``taskList``), which are raw numbers.

``layers()`` rolls a list of executions up into the ``<layer>.<metric>``
names the benchmark reports.
"""

from __future__ import annotations

import re
import statistics
import time

_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_SCALE = {
    "": 1.0, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
}

PYTHON_RUN = "time to run Python workers"
PYTHON_INIT = "time to initialize Python workers"
PYTHON_IN = "data sent to Python workers"
PYTHON_OUT = "data returned from Python workers"


def _value(text: str | None) -> float:
    """Total of one formatted SQL metric, in seconds, bytes or units."""
    if not text:
        return 0.0
    if "\n" in text:  # multi-task form: the total follows the header line
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self, spark):
        self.sc = spark._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc.statusStore()
        #: wall seconds spent inside the tracer itself (its overhead)
        self.spent_s = 0.0

    def mark(self) -> int:
        """Id of the newest execution so far (-1 if none)."""
        t0 = time.perf_counter()
        self.sc.listenerBus().waitUntilEmpty()
        n = self.sql_store.executionsCount()
        newest = -1
        if n:
            newest = max(e.executionId()
                         for e in _iter(self.sql_store.executionsList(max(n - 64, 0), 64)))
        self.spent_s += time.perf_counter() - t0
        return newest

    def since(self, mark: int) -> list[dict]:
        """Every execution after ``mark``, once each has completed."""
        t0 = time.perf_counter()
        self.sc.listenerBus().waitUntilEmpty()
        out = []
        exec_id = mark + 1
        while True:
            opt = self.sql_store.execution(exec_id)
            if not opt.isDefined():
                break
            give_up = time.perf_counter() + 10
            while not opt.get().completionTime().isDefined() and time.perf_counter() < give_up:
                time.sleep(0.02)  # the end event is still being folded in
                opt = self.sql_store.execution(exec_id)
            out.append(self._execution(opt.get()))
            exec_id += 1
        self.spent_s += time.perf_counter() - t0
        return out

    def _execution(self, e) -> dict:
        eid = e.executionId()
        metrics = self.sql_store.executionMetrics(eid)
        nodes = []
        for node in _iter(self.sql_store.planGraph(eid).allNodes()):
            vals = {}
            for m in _iter(node.metrics()):
                v = metrics.get(m.accumulatorId())
                vals[m.name()] = _value(v.get() if v.isDefined() else None)
            nodes.append({"name": node.name(), "desc": node.desc(), "metrics": vals})
        stages = []
        for sid in _iter(e.stages()):
            try:
                st = self.app_store.lastStageAttempt(sid)
            except Exception:  # stage never ran (skipped by AQE reuse)
                continue
            tasks = self.app_store.taskList(sid, st.attemptId(), 1 << 20)
            run_ms = []
            for t in _iter(tasks):
                tm = t.taskMetrics()
                if tm.isDefined():
                    run_ms.append(tm.get().executorRunTime())
            stages.append({
                "run_ms": run_ms,
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "shuffle_write_records": st.shuffleWriteRecords(),
                "fetch_wait_ms": st.shuffleFetchWaitTime(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            })
        end = e.completionTime()
        start = e.submissionTime()
        return {
            "id": eid,
            "wall_s": ((end.get().getTime() - start) / 1e3) if end.isDefined() else 0.0,
            "plan": e.physicalPlanDescription(),
            "nodes": nodes,
            "stages": stages,
        }


def node_sum(execs: list[dict], metric: str, name_has: str = "", desc_has: str = "") -> float:
    return sum(
        n["metrics"].get(metric, 0.0)
        for e in execs for n in e["nodes"]
        if name_has in n["name"] and desc_has in n["desc"]
    )


def layers(execs: list[dict], wall_s: float, cores: int) -> dict[str, float]:
    """Roll executions up into the per-layer metrics shared by every
    workload. ``wall_s`` is the driver-side wall time the executions ran in."""
    run_ms = [ms for e in execs for s in e["stages"] for ms in s["run_ms"]]
    heavy = max((s for e in execs for s in e["stages"]),
                key=lambda s: sum(s["run_ms"]), default=None)
    if heavy and heavy["run_ms"]:
        med = statistics.median(heavy["run_ms"])
        skew = max(heavy["run_ms"]) / med if med > 0 else 1.0
    else:
        skew = 1.0
    stage_sum = lambda k: float(sum(s[k] for e in execs for s in e["stages"]))  # noqa: E731
    return {
        "python.run_s": node_sum(execs, PYTHON_RUN),
        "python.init_s": node_sum(execs, PYTHON_INIT),
        "python.bytes_in": node_sum(execs, PYTHON_IN),
        "python.bytes_out": node_sum(execs, PYTHON_OUT),
        "scan.s": node_sum(execs, "scan time", name_has="Scan"),
        "scan.bytes": node_sum(execs, "size of files read", name_has="Scan"),
        "tasks.busy_frac": (sum(run_ms) / 1e3) / (wall_s * cores) if wall_s > 0 else 0.0,
        "tasks.skew": skew,
        "codegen.s": node_sum(execs, "duration", name_has="WholeStageCodegen"),
        "shuffle.bytes": stage_sum("shuffle_write_bytes"),
        "shuffle.records": stage_sum("shuffle_write_records"),
        "shuffle.fetch_wait_s": stage_sum("fetch_wait_ms") / 1e3,
        "spill.bytes": stage_sum("spill_bytes"),
        # partitioning.spread_unsplittable / cost_salted_repartition are the
        # only repartition(n, col) exchanges: Spark tags them REPARTITION_BY_NUM
        "partitioning.spread_bytes": node_sum(
            execs, "shuffle bytes written", name_has="Exchange", desc_has="REPARTITION_BY_NUM"),
        "trace.gap_s": wall_s - sum(e["wall_s"] for e in execs),
    }


def exchange_bytes(execs: list[dict]) -> float:
    return node_sum(execs, "shuffle bytes written", name_has="Exchange")


def median_dict(dicts: list[dict[str, float]]) -> dict[str, float]:
    keys = dicts[0].keys() if dicts else []
    return {k: statistics.median(d[k] for d in dicts) for k in keys}
