"""Layer spans for the traced run.

``installed(tracer)`` wraps ``run_pipeline`` and the names it resolves at call
time. Each wrapper opens a span (name, start, end, parent), runs the layer under
a Spark job group of the same name, and forces a returned DataFrame (persist +
count) before the span closes, so the span covers the layer's execution and the
event log's jobs can be attributed to it.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    rows: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur = 0.0, s.start
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, cur), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur = hi
        out.append(s.wall_s - covered)
    return out


class Tracer:
    """Keeps spans in memory; sets the job group of the calling thread."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        outer_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, name)
        try:
            yield s
        finally:
            self.sc.setLocalProperty(GROUP_KEY, outer_group)
            self._stack.pop()
            s.end = time.time()

    def wrap(self, name: str, fn, on_result=None):
        from pyspark.sql import DataFrame

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    s.rows = out.count()
                if on_result is not None:
                    on_result(s, out)
            return out

        return traced


def _verified(s: Span, edges) -> None:
    s.extra["verified"] = edges.where("is_dup").count()


def _groups(s: Span, labels) -> None:
    s.extra["groups"] = labels.select("dup_group").distinct().count()


def _pipeline(s: Span, result) -> None:
    s.rows = result.metrics[-1]["objects"] if result.metrics else 0


def _fit(s: Span, fit) -> None:
    s.rows = fit.metrics[-1]["objects"] if fit.metrics else 0
    s.extra["leaves"] = fit.tree.n_leaves


def layer_patches():
    """(owner, attribute, layer, result hook) for every wrapped entry point."""
    from lmw_tree_spark.operators import emtree, lsh
    from lmw_tree_spark.plans import pipeline
    from lmw_tree_spark.plans.checkpoint import Checkpointer

    return [
        (pipeline, "run_pipeline", "pipeline", _pipeline),
        (pipeline, "extract_signatures", "signature_stage", None),
        (lsh, "candidate_buckets", "lsh.buckets", None),
        (lsh, "edges_from_buckets", "lsh.edges", None),
        (lsh, "verify_edges", "lsh.verify", _verified),
        (pipeline, "connected_components", "ccomp", _groups),
        (emtree, "em_tree_fit", "emtree.fit", _fit),
        (emtree, "assign", "emtree.assign", None),
        (emtree, "cluster_stats", "emtree.assign", None),
        (Checkpointer, "write", "checkpoint", None),
        (Checkpointer, "read", "checkpoint", None),
    ]


@contextlib.contextmanager
def installed(tracer: Tracer):
    """Wrap every layer entry point for the duration of the block."""
    saved = []
    try:
        for owner, attr, layer, hook in layer_patches():
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, tracer.wrap(layer, orig, hook))
        yield tracer
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
