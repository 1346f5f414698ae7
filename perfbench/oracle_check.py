"""Expected top-k answers from ``trinity_spark.oracle``, cached on disk.

The oracle is pure Python: it tokenizes every document, so it never runs on
the clock. Answers are cached per (workload, seed) in one JSON file whose
entries are keyed by the live corpus turns, k and the query text; the file
name carries a hash of the fixture generator and the oracle, tokenizer and
BM25 sources, so editing any of them starts a fresh cache.

A run records each query with the corpus *state* it ran against: a list of
document batches ``[(first_doc_id, pandas frame), ...]`` in commit order.
The oracle replays the states in order, extending one index batch by batch.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

from trinity_spark.fixtures import docs_in_stable_order
from trinity_spark.oracle import OracleIndex
from trinity_spark.plans.parser import parse_query

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HASHED_SOURCES = (
    "trinity_spark/fixtures.py",  # corpus, batches and the oracle's docid order
    "trinity_spark/oracle.py",
    "trinity_spark/tokenizer.py",
    "trinity_spark/functions/bm25.py",
)
SCORE_TOL = 1e-9  # the tolerance tests/test_engine.py uses


def source_hash(root: str = ROOT, files: tuple[str, ...] = HASHED_SOURCES) -> str:
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cache_key(turns: int, query: str, k: int) -> str:
    return f"{turns}\t{k}\t{query}"


class OracleCache:
    def __init__(self, cache_dir: str, workload: str, seed: int, src_hash: str):
        os.makedirs(cache_dir, exist_ok=True)
        self.path = os.path.join(cache_dir, f"{workload}-{seed}-{src_hash}.json")
        self.answers: dict[str, list[list]] = {}
        if os.path.exists(self.path):
            with open(self.path, encoding="utf-8") as f:
                self.answers = json.load(f)

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(self.answers, f)
        os.replace(tmp, self.path)


def expected_answers(
    cache: OracleCache,
    batches: list[tuple[int, pd.DataFrame]],
    asked: list[tuple[int, str, int]],
) -> dict[tuple[int, str], list[list]]:
    """Top-k per ``(state, query)`` for ``asked = [(state, query, k), ...]``,
    where state ``i`` holds ``batches[: i + 1]``."""
    turns_at = []
    total = 0
    for _, frame in batches:
        total += len(frame)
        turns_at.append(total)
    missing = [
        (st, q, k) for st, q, k in asked
        if cache_key(turns_at[st], q, k) not in cache.answers
    ]
    if missing:
        last_state = max(st for st, _, _ in missing)
        oracle = None
        for st in range(last_state + 1):
            base, frame = batches[st]
            docs = [(base + d, text) for d, text in docs_in_stable_order(frame)]
            part = OracleIndex.build(docs)
            if oracle is None:
                oracle = part
            else:
                for term, plist in part.postings.items():
                    oracle.postings.setdefault(term, {}).update(plist)
                oracle.n_docs += part.n_docs
            for s, q, k in missing:
                if s == st:
                    node = parse_query(q)
                    top = oracle.topk(node, k) if node is not None else []
                    cache.answers[cache_key(turns_at[st], q, k)] = [
                        [int(d), float(sc)] for d, sc in top
                    ]
        cache.save()
    return {
        (st, q): cache.answers[cache_key(turns_at[st], q, k)] for st, q, k in asked
    }


def mismatch(got: list[list], want: list[list]) -> str | None:
    """None when doc ids match exactly and scores within ``SCORE_TOL``."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"doc ids {[d for d, _ in got]} != oracle {[d for d, _ in want]}"
    for (d, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL:
            return f"doc {d}: score {gs!r} != oracle {ws!r}"
    return None
