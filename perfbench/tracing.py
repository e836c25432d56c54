"""Traced run support: in-memory spans, Spark SQL metrics per action, and
timers wrapped around the engine's public functions for one iteration.

Spans are recorded from the benchmark's own files around calls into each
layer; nothing inside the engine is changed. SQL metrics are read per
action from ``spark._jsparkSession.sharedState().statusStore()``, which
works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time

_IDS = itertools.count()


class Tracer:
    """Spans ``(id, parent, name, start, end, attrs)`` kept in memory and
    written once, by :meth:`write`, when the run ends."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(_IDS)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter() - self.t0,
               "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def attr_sum(self, name: str, key: str) -> float:
        return sum(s["attrs"].get(key, 0) for s in self.spans
                   if s["name"] == name)

    def coverage(self, root_id: int) -> float:
        """Share of the root span's wall covered by the union of its
        children (direct children tile the iteration)."""
        root = next(s for s in self.spans if s["id"] == root_id)
        iv = sorted((s["start"], s["end"]) for s in self.spans
                    if s["parent"] == root_id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered / max(1e-9, root["end"] - root["start"])

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, f,
                      indent=1)


# ------------------------------------------------------------ SQL metrics

def last_execution_id(spark) -> int:
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max(lst.apply(i).executionId() for i in range(lst.size()))


def _reads_zero(text: str) -> bool:
    """A formatted SQL metric (``'0'``, ``'0.0 B'``, ``'15.5 s (...)'`` or
    ``'total (min, med, max ...)\\n0 ms (...)'``) that reads zero."""
    return float(text.split("\n")[-1].split()[0].replace(",", "")) == 0.0


# raw SQLMetric value -> bytes, seconds or a plain number
_RAW_SCALE = {"size": 1.0, "sum": 1.0, "timing": 1e-3, "nsTiming": 1e-9}


def execution_nodes(spark, execution_id: int) -> list[tuple[int, str, dict]]:
    """``[(node id, node name, {metric name: value})]`` of one execution's
    final (adaptive) plan graph, at full precision from the driver's
    accumulators (the status store keeps rounded strings). A metric is left
    out unless it is a size, count or time and the store shows it non-zero
    for this execution: the plan of a cache built by an earlier action is
    part of the graph, and its accumulators still hold that action's
    values."""
    acc_ctx = spark.sparkContext._jvm.org.apache.spark.util.AccumulatorContext
    store = spark._jsparkSession.sharedState().statusStore()
    vals = store.executionMetrics(execution_id)
    nodes = store.planGraph(execution_id).allNodes()
    out = []
    for i in range(nodes.size()):
        n = nodes.apply(i)
        ms = n.metrics()
        metrics = {}
        for j in range(ms.size()):
            m = ms.apply(j)
            v = vals.get(m.accumulatorId())
            acc = acc_ctx.get(m.accumulatorId())
            scale = _RAW_SCALE.get(m.metricType())
            if (v.isDefined() and not _reads_zero(v.get())
                    and acc.isDefined() and scale is not None):
                metrics[m.name()] = float(acc.get().value()) * scale
        out.append((int(n.id()), str(n.name()), metrics))
    return out


def sum_metric(nodes, node_prefix: str, metric: str) -> float:
    return sum(m.get(metric, 0.0) for _, name, m in nodes
               if name.startswith(node_prefix))


def top_join_rows(nodes) -> float:
    """Output rows of the top-most join (smallest node id: the plan graph
    numbers nodes from the root down)."""
    joins = [(nid, m) for nid, name, m in nodes if name.endswith("Join")]
    if not joins:
        return 0.0
    return min(joins)[1].get("number of output rows", 0.0)


# ----------------------------------------------------------- wrapping

@contextlib.contextmanager
def patched(owner, name: str, make_wrapper):
    """Replace ``owner.name`` by ``make_wrapper(original)`` for the block."""
    orig = getattr(owner, name)
    setattr(owner, name, make_wrapper(orig))
    try:
        yield
    finally:
        setattr(owner, name, orig)
