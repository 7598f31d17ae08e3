"""Spans around calls into the program, and Spark plan metrics.

Spans are kept in memory as (name, start, end, parent) and written out
when the run ends.  ``Tracer.wrap`` swaps a public module attribute for
a timing wrapper and ``Tracer.restore`` puts the originals back; callers
that look the attribute up at call time (as the apps do) go through the
wrapper.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None, "parent": parent})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def restore(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": s["start"] - t0, "end": (s["end"] or s["start"]) - t0}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=0)


def run_plan(df):
    """Execute ``df``'s physical plan, discarding rows (a no-op write);
    -> (the executed plan with its SQL metrics filled in, row count)."""
    plan = df._jdf.queryExecution().executedPlan()
    rows = plan.execute().count()
    return plan, rows


def plan_metrics(plan) -> list[tuple[str, dict[str, int]]]:
    """(node name, {metric: value}) for every node of an executed plan,
    descending through adaptive plans and query stages."""
    out = []

    def visit(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            visit(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            visit(node.plan())
            return
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append((node.nodeName(), metrics))
        children = node.children()
        for i in range(children.size()):
            visit(children.apply(i))

    visit(plan)
    return out


def metric_sum(plan, node_prefix: str, metric: str) -> int:
    return sum(m.get(metric, 0) for name, m in plan_metrics(plan) if name.startswith(node_prefix))
