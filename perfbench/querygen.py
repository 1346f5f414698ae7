"""Seeded query stream over the fixture vocabulary.

The stream repeats the 18 query classes of ``queries.jsonl`` in rounds. Each
round visits every class once, in the file's order, and fills the class's
template with terms drawn from the seed: stopwords, mid-df topic terms and
the planted rare markers of ``trinity_spark.fixtures``. Any run of
consecutive queries as long as a round holds every class once.

``routed_queries`` gives one query per ``topk`` route, from the two
``q_skew`` shapes, for the direct calls of the serve workload.

The generator is pure Python + numpy and imports nothing from Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np

from trinity_spark import fixtures

_STOP = list(fixtures._STOPWORDS)
_TOPIC = list(fixtures._TOPIC)
# tail of the Zipf vocabulary: df ~ 1 per 40k tokens, so a few docs each
_TAIL = [w for w in fixtures._vocab()[-400:].tolist() if w.startswith("w")]
_RARE = [fixtures._RARE_TOKEN, fixtures._ANCHOR_TOKEN] + _TAIL
_RARE_PHRASES = [fixtures._RARE_PHRASE, fixtures._PHRASE]
_PLANTED_PHRASES = [fixtures._PHRASE, "reset by peer", "connection reset"]

# one template per queries.jsonl class id: slots t* = distinct topic terms,
# s* = distinct stopwords, r = a rare term, rp = a rare marker or planted
# phrase, p = a planted phrase or part of one
TEMPLATES = {
    "q_term": "{t1}",
    "q_and": "{t1} AND {t2}",
    "q_and_implicit": "{t1} {t2}",
    "q_or": "{t1} OR {t2} OR {t3}",
    "q_not": "{t1} NOT {t2}",
    "q_not_prefix": "{t1} -{t2}",
    "q_phrase": '"{p}"',
    "q_phrase2": '"{t1} {t2}"',
    "q_minmatch": "[{t1}, {t2}, {t3}, {t4}] min=2",
    "q_minmatch3": "[{t1}, {t2}, {t3}, {t4}, {t5}] min=3",
    "q_mixed": '("{t1} {t2}" OR {t3}) AND {t4} NOT {t5}',
    "q_rare": "{rp}",
    "q_rare_token": "{r}",
    # the skewed shapes the topk routes serve: stopword AND rare
    # (rare_and) and rare anchor OR stopwords (pruned_or)
    "q_skew": ("{s1} AND {rp}", "{r} OR {s1} OR {s2} OR {s3} OR {s4}"),
    "q_stopword": "{s1}",
    "q_optional": "{t1} <{t2}>",
    "q_strict": "+{t1} +{t2}",
    "q_dup_collapse": "{t1} {t1} {t2}",
}


def load_classes(path: str) -> list[dict]:
    """The classes of ``queries.jsonl``, in the file's order."""
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _fill(qid: str, rng: np.random.Generator) -> str:
    tmpl = TEMPLATES[qid]
    if isinstance(tmpl, tuple):
        tmpl = tmpl[int(rng.integers(len(tmpl)))]
    return _fill_template(tmpl, rng)


def _fill_template(tmpl: str, rng: np.random.Generator) -> str:
    t = rng.choice(_TOPIC, size=5, replace=False).tolist()
    s = rng.choice(_STOP, size=4, replace=False).tolist()
    return tmpl.format(
        t1=t[0], t2=t[1], t3=t[2], t4=t[3], t5=t[4],
        s1=s[0], s2=s[1], s3=s[2], s4=s[3],
        r=_RARE[int(rng.integers(len(_RARE)))],
        rp=_RARE_PHRASES[int(rng.integers(len(_RARE_PHRASES)))],
        p=_PLANTED_PHRASES[int(rng.integers(len(_PLANTED_PHRASES)))],
    )


def query_stream(seed: int, n: int, classes: list[dict]) -> list[dict]:
    """``n`` queries ``{"id", "query", "k"}`` for ``seed``; same seed, same
    stream."""
    rng = np.random.default_rng([seed, 0x51])
    out: list[dict] = []
    while len(out) < n:
        for c in classes:
            out.append({"id": c["id"], "query": _fill(c["id"], rng),
                        "k": int(c.get("k", 10))})
    return out[:n]


def routed_queries(seed: int, k: int = 10) -> list[dict]:
    """The ``q_skew`` AND shape (``rare_and_topk``) and OR shape
    (``pruned_or_topk``), filled for ``seed``."""
    rng = np.random.default_rng([seed, 0x7B])
    return [{"id": "q_skew", "query": _fill_template(t, rng), "k": k}
            for t in TEMPLATES["q_skew"]]


def default_classes() -> list[dict]:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return load_classes(os.path.join(root, "queries.jsonl"))
