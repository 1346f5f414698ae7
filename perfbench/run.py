#!/usr/bin/env python3
"""The repository's benchmark; ``BENCHMARK.json`` at the repo root is its
specification and ``perfbench/README.md`` its design.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S \\
        --trace 0|1

Run from the repository root. One run generates its inputs from the seed,
starts Spark at ``local[<cores>]``, runs the workload (``workloads.py``) as a
closed loop with one client, checks every query answer against
``trinity_spark.oracle`` and the written store with ``fsck(deep=True)``, and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the layer functions are wrapped (``spans.py``) and the metrics are the
per-layer ones. The line before it is the run record: inputs, counts, sample
counts and the executed query stream, enough to replay the run. Scratch data,
the oracle answer cache, run records and span dumps live under
``.perfbench_work/``.

Exit code 0 when every operation succeeded and every answer matched the
oracle, 1 otherwise, 2 when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
STREAM_LEN = 4000  # more queries than any run can send


def metric_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.mean(xs) if xs else 0.0


def _query_walls(run, kind: str) -> list[float]:
    return [q["wall"] for q in run.queries if q["kind"] == kind and "wall" in q]


def _class_median(run) -> float:
    """Median over the query classes of each class's median timed wall, so
    every class weighs the same however many rounds ran."""
    walls: dict[str, list[float]] = {}
    for q in run.queries:
        if q["kind"] == "timed" and "wall" in q:
            walls.setdefault(q["id"], []).append(q["wall"])
    return _median(_median(w) for w in walls.values())


def _spark_conf(run_dir: str) -> dict[str, str]:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "TRINITY_LOCAL_DIR"):
        os.environ[var] = tmp
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        # the benchmark's indexes are a few MB, and the machine is shared
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }


def end_to_end(run, session_s: float) -> dict[str, float]:
    return {
        "setup_s": session_s + run.read_s + _median(run.setup_walls),
        "query_p50_s": _class_median(run),
        # warm builds: the first build in a fresh JVM also pays class
        # loading, code generation and Python worker start (setup_s has it)
        "build_turns_per_s": run.base_turns / _median(run.build_walls[1:]),
        "index_bytes_per_turn": run.index_bytes / run.live_turns,
    }


def per_layer(run, tracer) -> dict[str, float]:
    def self_times(name: str) -> list[float]:
        return [tracer.self_time(i) for i in tracer.named(name)]

    spans = tracer.spans
    queries = tracer.named("op.query")
    writes = [i for i, s in enumerate(spans)
              if s.name in ("op.build", "op.append", "op.merge")]
    timed = [q for q in run.queries if q["kind"] == "timed" and "wall" in q]
    stats = tracer.named("indexer.stats_s")
    merge = run.merge
    blocks = merge.get("blocks_reused", 0) + merge.get("blocks_reencoded", 0)
    return {
        "first_query_s": _median(_query_walls(run, "first")),
        "peak_rss_mb": run.rss.mb(),
        "session.start_s": _median(self_times("session.start_s")),
        "parser.parse_s": _median(self_times("parser.parse_s")),
        "planner.plan_s": _median(self_times("planner.plan_s")),
        "planner.route_s": _median(self_times("planner.route_s")),
        "planner.collect_s": _median(self_times("planner.collect_s")),
        "planner.spark_jobs": _mean(spans[i].attrs["spark_jobs"] for i in queries),
        "planner.spark_tasks": _mean(spans[i].attrs["spark_tasks"] for i in queries),
        # the first call fills the driver's df cache from the term dictionary
        "indexer.stats_s": tracer.self_time(stats[0]) if stats else 0.0,
        "indexer.open_s": _median(self_times("indexer.open_s")),
        "indexer.refresh_s": _median(self_times("indexer.refresh_s")),
        "topk.routed_s": _median(self_times("topk.routed_s")),
        # the planner's own choice; the direct topk calls are not counted
        "topk.routed_share": sum(
            q.get("route") in ("pruned_or", "rare_and") for q in timed
        ) / max(len(timed), 1),
        "docids.assign_s": _median(self_times("docids.assign_s")),
        # blocks_from_turns is lazy: the fused pass runs in build_index's
        # own blocks.count(), so it is build_index's self time
        "fastbuild.encode_s": _median(self_times("indexer.build_s")),
        "store.commit_s": _median(self_times("store.commit_s")),
        "store.manifest_s": _median(self_times("store.manifest_s")),
        "store.segments_live": max(tracer.counts.get("store.segments_live", [0])),
        "store.files_live": max(tracer.counts.get("store.files_live", [0])),
        "nrt.append_s": _median(self_times("nrt.append_s")),
        "append_p50_s": _median(run.append_walls),
        "merge.reencode_s": _median(self_times("merge.merge_s")),
        "merge.commit_s": _median(self_times("merge.commit_s")),
        "merge.reuse_ratio": merge.get("blocks_reused", 0) / blocks if blocks else 0.0,
        "merge.blocks_reencoded": merge.get("blocks_reencoded", 0),
        "merge_docs_per_s": merge["docs"] / merge["wall"] if merge else 0.0,
        "spark.failed_tasks": sum(s.attrs.get("spark_failed_tasks", 0) for s in spans),
        "ops_failed_frac": len(run.failures) / max(run.attempted, 1),
        "trace.query_unattributed_s": _median(tracer.self_time(i) for i in queries),
        "trace.write_unattributed_s": _median(tracer.self_time(i) for i in writes),
        "trace.overhead_s": _median(
            spans[i].attrs["trace_cost_s"] for i in queries),
    }


def check_answers(run, batches, workload: str, seed: int) -> None:
    """Every answered query against the oracle at its corpus state."""
    import oracle_check

    cache = oracle_check.OracleCache(
        os.path.join(WORK, "oracle_cache"), workload, seed,
        oracle_check.source_hash(),
    )
    answered = [q for q in run.queries if "answer" in q]
    want = oracle_check.expected_answers(
        cache, batches, [(q["state"], q["query"], q["k"]) for q in answered]
    )
    for q in answered:
        bad = oracle_check.mismatch(q["answer"], want[(q["state"], q["query"])])
        if bad:
            run.fail(f"query {q['query']!r} (state {q['state']}): {bad}")


def run_record(args, run, cores: int, session_s: float, steal_s: float) -> dict:
    from stats import summary

    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": cores, "master": f"local[{cores}]",
        "corpus_turns": run.base_turns, "live_turns": run.live_turns,
        "segments_final": run.segments_final, "merge": run.merge,
        "session_s": session_s, "read_s": run.read_s, "cpu_steal_s": steal_s,
        "setup_walls": run.setup_walls, "build_walls": run.build_walls,
        "first_query_s": _query_walls(run, "first"),
        "peak_rss_mb": run.rss.mb(),
        "samples": {"query": summary(_query_walls(run, "timed")),
                    "query_class_median": _class_median(run),
                    "routed": _query_walls(run, "routed"),
                    "append": summary(run.append_walls),
                    "setup": summary(run.setup_walls)},
        "failures": run.failures,
        "queries": [{k: v for k, v in q.items() if k != "answer"}
                    for q in run.queries],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    if not os.path.isdir(os.path.join(ROOT, "trinity_spark")):
        print(f"perfbench: no trinity_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    units = metric_units(bool(args.trace))

    import querygen
    import workloads
    from procs import PeakRss, cpu_steal_s, stop_spark
    from spans import Tracer
    from trinity_spark.fixtures import write_transcripts
    from trinity_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    workload, n_turns = workloads.WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _spark_conf(run_dir)

    # inputs, off the clock
    corpus = write_transcripts(os.path.join(run_dir, "corpus"), n_turns, args.seed)
    classes = querygen.default_classes()
    stream = querygen.query_stream(args.seed, STREAM_LEN, classes)
    cores = len(os.sched_getaffinity(0))

    tracer = Tracer(enabled=bool(args.trace))
    rss = PeakRss()
    steal0 = cpu_steal_s()
    t0 = time.perf_counter()
    with tracer.span("session.start_s"):
        spark = get_spark("perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=conf)
    session_s = time.perf_counter() - t0
    rss.sample()
    tracer.spark = spark
    if args.trace:
        tracer.install()
    run = workloads.Run(spark, tracer, rss, run_dir, args.seed, args.seconds,
                        stream, len(classes))
    try:
        batches = workload(run, corpus)
        rss.sample()
    finally:
        tracer.uninstall()
        stop_spark(spark)
    steal_s = cpu_steal_s() - steal0

    check_answers(run, batches, args.workload, args.seed)
    metrics = per_layer(run, tracer) if args.trace else end_to_end(run, session_s)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} != BENCHMARK.json {sorted(units)}")
    record = run_record(args, run, cores, session_s, steal_s)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    stem = os.path.join(WORK, "records", f"{args.workload}-{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(stem + "-spans.json", "w", encoding="utf-8") as f:
            json.dump(tracer.to_json(), f)
    shutil.rmtree(run_dir, ignore_errors=True)

    ok = not run.failures
    print(json.dumps(record, separators=(",", ":")))
    print(json.dumps({
        "correct": ok,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
