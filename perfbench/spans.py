"""In-memory spans for the traced run, recorded around the engine's public
layer functions from the benchmark's side.

A span holds its name, start, end, parent and the operation id shared by
every span of one query, build, append or merge. Root spans (``op.*``) also
carry the Spark job, stage and task counts of their operation, read with
``setJobGroup`` and ``statusTracker`` (both work with the UI off), and the
time the tracer itself spent on the operation.

``Tracer.install`` wraps the layer functions by replacing module and class
attributes; ``uninstall`` puts the originals back. The engine's own code is
not edited. A wrapper called inside a span of the same name records nothing
(``assign_doc_ids_counted`` calls ``_conv_bases``; both are the docids
layer).
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, list[int]] = {}  # layer counts sampled at query time
        self._stack: list[int] = []
        self._op_seq = 0
        self._patched: list[tuple[object, str, object]] = []

    # --- recording ---

    @contextmanager
    def span(self, name: str):
        if not self.enabled or (
            self._stack and self.spans[self._stack[-1]].name == name
        ):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        op_id = self.spans[parent].op_id if parent is not None else ""
        sp = Span(name, time.perf_counter(), 0.0, parent, op_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, kind: str):
        """Root span of one user operation; counts its Spark jobs and
        records the tracer's own time spent on it (``trace_cost_s``)."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        self._op_seq += 1
        op_id = f"{kind}-{self._op_seq}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(op_id, op_id)
        cost = time.perf_counter() - t0
        try:
            with self.span(f"op.{kind}") as sp:
                sp.op_id = op_id
                yield sp
        finally:
            t0 = time.perf_counter()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sp.attrs.update(spark_counts(sc, op_id))
            sp.attrs["trace_cost_s"] = cost + time.perf_counter() - t0

    # --- wrapping the layer functions ---

    def wrap(self, owner, attr: str, span_name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> None:
        from trinity_spark.operators import docids, topk
        from trinity_spark.operators.indexer import SegmentIndex
        from trinity_spark.plans import planner
        from trinity_spark.sources.store import SegmentStore
        from trinity_spark.streaming import nrt

        self.wrap(planner.QueryPlanner, "plan", "planner.plan_s")
        self.wrap(planner, "routing_decision", "planner.route_s")
        self.wrap(SegmentIndex, "stats_for", "indexer.stats_s")
        self.wrap(topk, "rare_and_topk", "topk.routed_s")
        self.wrap(topk, "pruned_or_topk", "topk.routed_s")
        self.wrap(docids, "_conv_bases", "docids.assign_s")
        self.wrap(nrt, "assign_doc_ids_counted", "docids.assign_s")
        self.wrap(SegmentStore, "commit_segment", "store.commit_s")
        self.wrap(SegmentStore, "update_segment_metrics", "store.manifest_s")
        self.wrap(SegmentStore, "commit_merge", "merge.commit_s")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # --- reading ---

    def self_time(self, i: int) -> float:
        sp = self.spans[i]
        child = sum(
            c.end - c.start for c in self.spans if c.parent == i
        )
        return (sp.end - sp.start) - child

    def named(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op_id": s.op_id, **s.attrs}
            for s in self.spans
        ]


def spark_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed task attempts of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = st.getStageInfo(sid)
            if sinfo is None:
                continue  # skipped stage: its shuffle output was reused
            stages += 1
            tasks += sinfo.numTasks
            failed += sinfo.numFailedTasks + sinfo.currentAttemptId
    return {"spark_jobs": len(jobs), "spark_stages": stages,
            "spark_tasks": tasks, "spark_failed_tasks": failed}
