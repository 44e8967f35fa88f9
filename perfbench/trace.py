"""Spans around the benchmark's calls into each layer, plus the per-layer
counters Spark's own status stores hold for those calls.

A span records (id, name, layer, phase, start, end, parent, run). Phase
``build`` is the eager frame construction inside the layer's public
function; phase ``exec`` is the forced execution of the frame it returned.
While a span is open the thread's Spark job group is ``<workload>.<layer>``
and the job description is the phase, so every job and SQL execution the
call starts can be read back by group from ``statusStore()`` (stages,
tasks, executor run time, shuffle, spill) and from the SQL status store
(rows out of the root node). Both stores are populated with
``spark.ui.enabled=false``.

``NullTracer`` has the same interface and does nothing, so untraced runs
execute the same calls without the bookkeeping. One exception: a traced
curate run materializes the LSH pairs at the dedup layer's boundary (see
``workloads.Curate``), so that work is not counted inside the first
connected-components round.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager, nullcontext

LAYERS = ("sources", "mentions", "relations", "canonicalize", "graph",
          "linking", "similarity", "dedup", "curation", "checkpoint")
LAYER_METRICS = (
    ("build_s", "s"), ("exec_s", "s"), ("self_s", "s"),
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_skew", "ratio"), ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"), ("out_rows", "count"),
)
# phases a layer never has: sources and mentions only build lazy frames
# (their work runs in the jobs of the layers that consume them), and
# checkpoint.run_staged only executes stages the curation layer built
NO_PHASE = {("sources", "exec_s"), ("mentions", "exec_s"), ("checkpoint", "build_s")}
_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class NullTracer:
    enabled = False

    def span(self, layer: str, phase: str, name: str):
        return nullcontext()

    def begin_run(self, run_id: int) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self.run_id = -1
        self._stack: list[dict] = []
        self._seen_jobs: set[int] = set()
        self._seen_execs: set[int] = set()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def group(self, layer: str) -> str:
        return f"{self.workload}.{layer}"

    def begin_run(self, run_id: int) -> None:
        self.run_id = run_id

    def set_group(self, layer: str | None, phase: str | None) -> None:
        self.sc.setLocalProperty(_GROUP, self.group(layer) if layer else None)
        self.sc.setLocalProperty(_DESC, phase)

    @contextmanager
    def span(self, layer: str, phase: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "layer": layer, "phase": phase,
             "parent": parent["id"] if parent else None, "run": self.run_id,
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self.set_group(layer, phase)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if parent:
                self.set_group(parent["layer"], parent["phase"])
            else:
                self.set_group(None, None)

    def add_span(self, name: str, layer: str, phase: str, start: float,
                 end: float, parent: int | None) -> None:
        """A span measured by Spark rather than by the benchmark's clock."""
        self.spans.append({"id": len(self.spans), "name": name, "layer": layer,
                           "phase": phase, "parent": parent, "run": self.run_id,
                           "start": start, "end": end})

    # ------------------------------------------------------------ counters

    def _seq(self, scala_seq) -> list:
        return list(self._conv.asJava(scala_seq))

    def drain(self) -> None:
        """Block until the listener bus has delivered every event, so the
        status stores reflect all finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def executions(self) -> list[dict]:
        """SQL executions started since the previous call: id, description,
        job ids, submission/completion times (s) and the row count of the
        topmost plan node that reports one."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for e in self._seq(sql.executionsList()):
            eid = int(e.executionId())
            if eid in self._seen_execs:
                continue
            self._seen_execs.add(eid)
            done = e.completionTime()
            rows = None
            values = sql.executionMetrics(eid)
            for node in self._seq(sql.planGraph(eid).allNodes()):
                for m in self._seq(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        rows = int(v.get().replace(",", "")) if v.isDefined() else 0
                        break
                if rows is not None:
                    break
            out.append({
                "id": eid,
                "description": e.description(),
                "jobs": [int(j) for j in self._seq(e.jobs().keySet())],
                "start": e.submissionTime() / 1000.0,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "rows": rows or 0,
            })
        return out

    def layer_counters(self, executions: list[dict]) -> dict[str, dict]:
        """Counters of the jobs each layer's group started since the last
        call (one run's worth)."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        job_layer: dict[int, str] = {}
        out: dict[str, dict] = {}
        for layer in LAYERS:
            new = [j for j in tracker.getJobIdsForGroup(self.group(layer))
                   if j not in self._seen_jobs]
            self._seen_jobs.update(new)
            stages: set[int] = set()
            for j in new:
                job_layer[j] = layer
                stages.update(int(s) for s in self._seq(store.job(j).stageIds()))
            c = {"jobs": len(new), "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
                 "spill_bytes": 0, "out_rows": 0, "task_skew": 0.0}
            task_ms: list[int] = []
            for sid in stages:
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                c["stages"] += 1
                c["tasks"] += int(st.numCompleteTasks())
                c["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                c["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
                for t in self._seq(store.taskList(sid, st.attemptId(), 100_000)):
                    m = t.taskMetrics()
                    if m.isDefined():
                        task_ms.append(int(m.get().executorRunTime()))
            if task_ms:
                c["task_skew"] = max(task_ms) / max(statistics.median(task_ms), 1.0)
            out[layer] = c
        for e in executions:
            layer = next((job_layer[j] for j in e["jobs"] if j in job_layer), None)
            if layer and e["description"] in ("exec", "write"):
                out[layer]["out_rows"] += e["rows"]
        return out


def layer_times(spans: list[dict], run_id: int) -> dict[str, dict]:
    """Per layer: self_s, the time its spans cover minus the part their
    child spans (calls into other layers) cover; build_s and exec_s are the
    same split by phase, so the three add up across layers."""
    mine = [s for s in spans if s["run"] == run_id]
    kids: dict[int, list[dict]] = {}
    for s in mine:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {layer: {"build_s": 0.0, "exec_s": 0.0, "self_s": 0.0} for layer in LAYERS}
    for s in mine:
        covered, cur = 0.0, s["start"]
        for k in sorted(kids.get(s["id"], []), key=lambda k: k["start"]):
            lo, hi = max(k["start"], cur), min(k["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur = hi
        own = s["end"] - s["start"] - covered
        t = out[s["layer"]]
        t["self_s"] += own
        if s["phase"] in ("build", "exec"):
            t[f"{s['phase']}_s"] += own
    return out
