"""The benchmark's workloads, each a closed loop with one client.

``serve``: set-up builds a single-segment index of the seed's corpus
``SERVE_SETUP_REPS`` times (the last one is served); then the first query and
whole rounds of the query stream until the time is up. The build is the
set-up, so a build-path change shows in ``setup_s`` and
``build_turns_per_s``, and a query-path change in ``query_p50_s``. A traced
run also sends the two ``q_skew`` shapes straight through the ``topk``
layer's pruned routes, whose cost gates stay closed at this corpus size.

``ingest``: set-up builds a smaller base index the same way,
``INGEST_SETUP_REPS`` times, as ``INGEST_BASE_SEGMENTS`` segments. Then a seeded micro-batch of new
conversations is appended with ``append_micro_segment``, made searchable
with ``refresh`` and queried once: the run's first query, which pays the
df-cache refill a refresh causes. Whole rounds of the query stream then run
on the many-segment store until the time is up. Last, every segment is
merged, the store is checked, and one query runs on the merged segment. The
write work is fixed, so the store's shape never depends on the machine's
speed.

Everything here drives the engine through its public API. Input generation
and oracle work stay off the clock.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import pandas as pd

from querygen import routed_queries
from trinity_spark.fixtures import gen_transcripts
from trinity_spark.operators import topk
from trinity_spark.operators.indexer import SegmentIndex, build_index
from trinity_spark.operators.merge import merge_segments
from trinity_spark.plans.ast import Or
from trinity_spark.plans.parser import parse_query
from trinity_spark.plans.planner import QueryPlanner
from trinity_spark.sources.store import SegmentStore
from trinity_spark.streaming.nrt import append_micro_segment

SERVE_TURNS = 20_000
INGEST_BASE_TURNS = 10_000
INGEST_BASE_SEGMENTS = 2
BATCH_TURNS = 2_000
# set-up repetitions; build_turns_per_s takes the median of the warm ones
# (all but the first). A median of three is not thrown by one build that a
# burst of host load slows; more builds do not fit the time budget (a warm
# build takes ~2 s on serve, ~3 s on ingest's two segments).
SERVE_SETUP_REPS = 4
INGEST_SETUP_REPS = 4


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def dir_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def routed_plan(index: SegmentIndex, node, k: int):
    """``node`` straight through a ``topk`` pruned route: ``pruned_or_topk``
    for an OR of terms, ``rare_and_topk`` for an AND. The planner's cost
    gates only open on far larger corpora."""
    if isinstance(node, Or):
        return topk.pruned_or_topk(
            index, [c.term for c in node.children], k, node=node
        )
    return topk.rare_and_topk(index, node, k)


def batch_frame(seed: int) -> pd.DataFrame:
    """The micro-batch: fresh conversations (their own conv_id prefix)."""
    frame = gen_transcripts(BATCH_TURNS, seed=[seed, 7, 1])
    frame["conv_id"] = "nrt0000-" + frame["conv_id"]
    return frame


class Run:
    """One run's engine session, samples and failure count."""

    def __init__(self, spark, tracer, rss, work: str, seed: int,
                 seconds: float, stream: list[dict], round_len: int):
        self.spark = spark
        self.tracer = tracer
        self.rss = rss
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.stream = stream
        self.round_len = round_len
        self.next_query = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.queries: list[dict] = []
        self.read_s = 0.0
        self.setup_walls: list[float] = []
        self.build_walls: list[float] = []
        self.append_walls: list[float] = []
        self.merge: dict = {}
        self.base_turns = 0
        self.live_turns = 0
        self.index_bytes = 0
        self.segments_final = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def setup_index(self, corpus_path: str, n_turns: int, segments: int,
                    reps: int, name: str):
        """Build + open ``reps`` times, ``segments`` segments of equal size;
        returns the last store, its index and a planner over it."""
        t0 = time.perf_counter()
        turns_df = self.spark.read.parquet(corpus_path)  # runs a schema job
        self.read_s = time.perf_counter() - t0
        self.base_turns = self.live_turns = n_turns
        store = None
        for rep in range(reps):
            if store is not None:
                shutil.rmtree(store.base)
            store = SegmentStore(os.path.join(self.work, f"{name}-{rep}"))
            self.attempted += 1
            t0 = time.perf_counter()
            with self.tracer.op("build"), self.tracer.span("indexer.build_s"):
                metas = build_index(
                    self.spark, turns_df, store,
                    rows_per_segment=-(-n_turns // segments),
                    input_desc=corpus_path, docid_map_mode="virtual",
                )
            t1 = time.perf_counter()
            with self.tracer.op("open"), self.tracer.span("indexer.open_s"):
                index = SegmentIndex(self.spark, store)
            t2 = time.perf_counter()
            self.rss.sample()
            self.build_walls.append(t1 - t0)
            self.setup_walls.append(t2 - t0)
            counts = [m.docs_cnt for m in metas]
            if len(counts) != segments or sum(counts) != n_turns:
                self.fail(f"build {rep}: segment doc counts {counts}, want "
                          f"{segments} segments of {n_turns} docs in all")
        return store, index, QueryPlanner(index)

    def query(self, plan, store: SegmentStore, state: int, q: dict,
              kind: str) -> None:
        """Run ``q`` through ``plan(node, k)`` against corpus ``state``.
        ``kind`` says where its wall counts: ``first`` (the run's cold first
        query), ``timed`` (the rounds behind ``query_p50_s``), ``extra``
        (checked, not timed into a percentile) or ``routed`` (a direct
        ``topk`` call)."""
        self.live_counts(store)
        rec = {"id": q["id"], "query": q["query"], "k": q["k"],
               "state": state, "kind": kind}
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op("query"):
                with self.tracer.span("parser.parse_s"):
                    node = parse_query(q["query"])
                df = plan(node, k=q["k"])
                with self.tracer.span("planner.collect_s"):
                    rows = df.collect()
            rec["wall"] = time.perf_counter() - t0
            rec["answer"] = [[int(r["doc_id"]), float(r["score"])] for r in rows]
        except Exception:  # a failed query is counted; the run goes on
            traceback.print_exc()
            self.fail(f"query {q['query']!r}: exception")
        self.rss.sample()
        self.queries.append(rec)

    def planned(self, planner: QueryPlanner, store: SegmentStore, state: int,
                kind: str) -> None:
        """The next stream query through the planner."""
        q = self.stream[self.next_query]
        self.next_query += 1
        self.query(planner.plan, store, state, q, kind)
        if "wall" in self.queries[-1]:
            self.queries[-1]["route"] = planner.last_route.get("path")

    def query_rounds(self, planner: QueryPlanner, store: SegmentStore,
                     state: int) -> None:
        """Whole rounds of the stream, each every class once, until the time
        is up; at least one. The clock is read only between rounds, so the
        class mix never depends on the engine's speed."""
        t0 = time.perf_counter()
        while True:
            for _ in range(self.round_len):
                self.planned(planner, store, state, "timed")
            if time.perf_counter() - t0 >= self.seconds:
                break

    def live_counts(self, store: SegmentStore) -> None:
        """Segments and files live at query time (traced runs only)."""
        if self.tracer.enabled:
            counts = self.tracer.counts
            counts.setdefault("store.segments_live", []).append(
                len(store.segments())
            )
            counts.setdefault("store.files_live", []).append(
                dir_files(store.base)
            )

    def fsck(self, store: SegmentStore, what: str) -> None:
        self.attempted += 1
        rep = store.fsck(self.spark, deep=True)
        if not rep["ok"]:
            self.fail(f"fsck after {what}: {rep['errors']}")

    def finish(self, store: SegmentStore) -> None:
        self.index_bytes = dir_bytes(store.base)
        self.segments_final = len(store.segments())


def serve(run: Run, corpus_path: str) -> list[tuple[int, pd.DataFrame]]:
    store, index, planner = run.setup_index(
        corpus_path, SERVE_TURNS, 1, SERVE_SETUP_REPS, "serve"
    )
    run.planned(planner, store, 0, "first")
    run.query_rounds(planner, store, 0)
    if run.tracer.enabled:  # only topk.routed_s needs them
        for q in routed_queries(run.seed):
            run.query(lambda node, k: routed_plan(index, node, k), store, 0,
                      q, "routed")
    run.fsck(store, "build")
    run.finish(store)
    return [(0, pd.read_parquet(corpus_path))]


def ingest(run: Run, corpus_path: str) -> list[tuple[int, pd.DataFrame]]:
    spark = run.spark
    store, index, planner = run.setup_index(
        corpus_path, INGEST_BASE_TURNS, INGEST_BASE_SEGMENTS,
        INGEST_SETUP_REPS, "ingest"
    )
    base = pd.read_parquet(corpus_path)
    frame = batch_frame(run.seed)
    batch_df = spark.createDataFrame(frame)
    run.attempted += 1
    t0 = time.perf_counter()
    with run.tracer.op("append"):
        with run.tracer.span("nrt.append_s"):
            meta = append_micro_segment(
                spark, store, batch_df, input_desc=f"nrt-{run.seed}"
            )
        with run.tracer.span("indexer.refresh_s"):
            index.refresh()
    run.append_walls.append(time.perf_counter() - t0)
    run.rss.sample()
    want = (run.live_turns, len(frame))
    if meta is None or (meta.doc_lo, meta.docs_cnt) != want:
        run.fail(f"append: got {meta}, want (doc_lo, docs) {want}")
    batches = [(0, base), (run.live_turns, frame)]
    run.live_turns += len(frame)
    run.planned(planner, store, 1, "first")
    run.query_rounds(planner, store, 1)

    segments_in = len(store.segments())
    run.attempted += 1
    t0 = time.perf_counter()
    with run.tracer.op("merge"), run.tracer.span("merge.merge_s"):
        merged = merge_segments(spark, store)
    run.merge = {
        "docs": merged.docs_cnt, "wall": time.perf_counter() - t0,
        "segments_in": segments_in,
        "blocks_reused": merged.metrics.get("blocks_reused", 0),
        "blocks_reencoded": merged.metrics.get("blocks_reencoded", 0),
    }
    run.rss.sample()
    if merged.docs_cnt != run.live_turns:
        run.fail(f"merge: {merged.docs_cnt} docs, want {run.live_turns}")
    with run.tracer.span("indexer.refresh_s"):
        index.refresh()
    run.fsck(store, "merge")
    run.planned(planner, store, 1, "extra")
    run.finish(store)
    return batches


WORKLOADS = {
    "serve": (serve, SERVE_TURNS),
    "ingest": (ingest, INGEST_BASE_TURNS),
}
