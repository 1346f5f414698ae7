"""Self-tests of the benchmark's own helpers (no Spark session).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import oracle_check  # noqa: E402
import querygen  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(200) == 95
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(99) == 75
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(39) == 50
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(19) is None
    for n in range(1, 300):
        p = stats.tail_percentile(n)
        if p is not None:
            assert stats.beyond(n, p) >= stats.MIN_BEYOND
            higher = [c for c in stats.TAIL_CANDIDATES if c > p]
            assert all(stats.beyond(n, c) < stats.MIN_BEYOND for c in higher)


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 50) == 50
    assert stats.summary(xs)["tail_pct"] == 90


def test_query_stream_is_deterministic_per_seed():
    classes = querygen.default_classes()
    a = querygen.query_stream(7, 60, classes)
    assert a == querygen.query_stream(7, 60, classes)
    assert a != querygen.query_stream(8, 60, classes)
    ids = [c["id"] for c in classes]
    assert len(ids) == 18
    assert [q["id"] for q in a[:18]] == ids
    assert [q["id"] for q in a[18:36]] == ids
    # any round-long run of consecutive queries holds every class once
    assert sorted(q["id"] for q in a[5:23]) == sorted(ids)
    assert len({q["query"] for q in a}) > 40  # terms vary round to round


def test_query_stream_parses():
    from trinity_spark.plans.parser import parse_query

    for q in querygen.query_stream(3, 200, querygen.default_classes()):
        assert parse_query(q["query"]) is not None, q


def test_routed_queries_have_the_topk_shapes():
    from trinity_spark.plans.ast import And, Or, Phrase, Token
    from trinity_spark.plans.parser import parse_query

    for seed in range(20):
        routed = querygen.routed_queries(seed)
        assert routed == querygen.routed_queries(seed)
        and_node, or_node = (parse_query(q["query"]) for q in routed)
        assert isinstance(and_node, And)
        assert all(isinstance(c, (Token, Phrase)) for c in and_node.children)
        assert isinstance(or_node, Or)
        assert all(isinstance(c, Token) for c in or_node.children)


def test_oracle_cache_key_tracks_every_hashed_source(tmp_path):
    for rel in oracle_check.HASHED_SOURCES:
        dst = tmp_path / rel
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy(os.path.join(oracle_check.ROOT, rel), dst)
    base = oracle_check.source_hash(str(tmp_path))
    assert base == oracle_check.source_hash()
    seen = {base}
    for rel in oracle_check.HASHED_SOURCES:
        with open(tmp_path / rel, "a", encoding="utf-8") as f:
            f.write("\n# edited\n")
        h = oracle_check.source_hash(str(tmp_path))
        assert h not in seen, rel
        seen.add(h)
    cache_dir = str(tmp_path / "cache")
    paths = {oracle_check.OracleCache(cache_dir, "serve", 1, h).path for h in seen}
    assert len(paths) == len(seen)


def test_oracle_answers_are_cached_and_compared(tmp_path):
    import pandas as pd

    frame = pd.DataFrame({
        "conv_id": ["c1", "c1", "c2"], "turn_idx": [0, 1, 0],
        "text": ["error timeout", "error", "timeout retry"],
    })
    extra = pd.DataFrame({"conv_id": ["d1"], "turn_idx": [0],
                          "text": ["error error"]})
    cache = oracle_check.OracleCache(str(tmp_path), "ingest", 5, "h")
    asked = [(0, "error", 10), (1, "error", 10)]
    want = oracle_check.expected_answers(cache, [(0, frame), (3, extra)], asked)
    assert sorted(d for d, _ in want[(0, "error")]) == [0, 1]
    assert [d for d, _ in want[(1, "error")]][0] == 3
    again = oracle_check.OracleCache(str(tmp_path), "ingest", 5, "h")
    assert len(again.answers) == 2
    got = [[d, s + 1e-12] for d, s in want[(0, "error")]]
    assert oracle_check.mismatch(got, want[(0, "error")]) is None
    assert oracle_check.mismatch(got[::-1], want[(0, "error")])
    bad = [[got[0][0], got[0][1] + 1e-6]] + got[1:]
    assert oracle_check.mismatch(bad, want[(0, "error")])


def test_span_self_time_and_reentrancy():
    tr = Tracer(enabled=True)
    with tr.op("query") as root:
        with tr.span("planner.plan_s"):
            with tr.span("planner.plan_s"):  # same layer: folded
                pass
            with tr.span("indexer.stats_s"):
                pass
    assert [s.name for s in tr.spans] == ["op.query", "planner.plan_s",
                                          "indexer.stats_s"]
    assert all(s.op_id == root.op_id for s in tr.spans)
    plan, stats_ = tr.spans[1], tr.spans[2]
    assert abs(tr.self_time(1) - ((plan.end - plan.start)
                                  - (stats_.end - stats_.start))) < 1e-12
    off = Tracer(enabled=False)
    with off.op("query"), off.span("x"):
        pass
    assert off.spans == []
