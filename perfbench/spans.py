"""Spans and Spark counters for the traced run.

Spans are recorded by the benchmark around its calls into the engine's
public API (the engine itself is not instrumented). Each span has a name,
the layer it is charged to, start and end, its parent span and the op it
belongs to. They are kept in memory and written out when the run ends.
With tracing off, ``span`` is a shared no-op context manager.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

# The repository's modules an op calls into (``session`` only starts the
# run), plus ``spark``: the runtime the engine drives (a DataFrame action
# is charged here), ``bench``: the harness's own time inside an op (input
# frames, output checks) and ``trace``: reading a traced op's counters.
LAYERS = ("database", "functions.embedders", "functions.kernels",
          "functions.text", "operators.topk", "operators.ann",
          "operators.dedup", "spark", "bench", "trace")

_NO_SPAN = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []

    def span(self, name: str, layer: str):
        if not self.enabled:
            return _NO_SPAN
        assert layer in LAYERS, layer
        return self._span(name, layer)

    @contextlib.contextmanager
    def _span(self, name: str, layer: str):
        idx = len(self.spans)
        rec = {"name": name, "layer": layer, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        """Durations of the spans called ``name``, less the time of any
        ``trace.counters`` span inside them (counter reading is not the
        layer's work)."""
        excluded = defaultdict(float)
        for s in self.spans:
            if s["name"] == "trace.counters":
                p = s["parent"]
                while p is not None:
                    excluded[p] += s["end"] - s["start"]
                    p = self.spans[p]["parent"]
        return [s["end"] - s["start"] - excluded[i]
                for i, s in enumerate(self.spans) if s["name"] == name]

    def self_seconds(self, only: set[int] | None = None) -> dict[str, float]:
        """Per layer: span durations minus the time their child spans
        cover (children of one span never overlap: one client thread).
        ``only`` restricts the sum to those span indices."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = dict.fromkeys(LAYERS, 0.0)
        for i, s in enumerate(self.spans):
            if only is None or i in only:
                out[s["layer"]] += s["end"] - s["start"] - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def job_counters(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, tasks and failed tasks of one job group,
    from the status tracker (skipped stages ran no task and are not
    counted)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            s = st.getStageInfo(sid)
            if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                continue
            stages += 1
            tasks += s.numCompletedTasks
            failed += s.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


# Physical nodes whose rows cross the JVM/Python boundary.
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")


def python_rows(df) -> int:
    """Rows the Python-boundary nodes of ``df``'s executed plan received
    back from Python (call after an action on ``df``). Descends through
    the adaptive plan and its query stages as ``plans.exchange_metrics``
    does."""
    total = 0

    def walk(node) -> None:
        nonlocal total
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        if name in PYTHON_NODES:
            m = node.metrics()
            if m.contains("pythonNumRowsReceived"):
                total += int(m.apply("pythonNumRowsReceived").value())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return total
