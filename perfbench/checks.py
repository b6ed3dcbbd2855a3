"""Result checks against the single-process oracle (``oracle.OracleIndex``).

Exact top-k: the same doc ids in the same order, scores within 1e-9. AND
mode is the oracle's OR scoring restricted to docs holding every term (the
engine sums the same per-term contributions in the same sorted-term order).
"""

from __future__ import annotations

from searchengine_spark.oracle import OracleIndex
from searchengine_spark.tokenizer import tokenize_py

SCORE_TOL = 1e-9


def oracle_topk(oracle: OracleIndex, query: str, mode: str, k: int):
    if mode == "or":
        return oracle.bm25_topk(query, k)
    docs = set(oracle.boolean_and(query))
    if not docs:
        return []
    ranked = oracle.bm25_topk(query, len(oracle.doc_len))
    return [(d, s) for d, s in ranked if d in docs][:k]


def same_topk(got, want) -> bool:
    if [int(d) for d, _ in got] != [int(d) for d, _ in want]:
        return False
    return all(abs(float(a) - float(b)) <= SCORE_TOL for (_, a), (_, b) in zip(got, want))


def live_topk(got, query: str, mode: str, k: int, live_terms: dict[int, frozenset]) -> bool:
    """Churn check before compaction, where scores are not compared: every
    hit is a distinct live doc whose CURRENT content matches the query (so
    no deleted doc and no superseded version of an updated doc can pass),
    and there are min(k, live docs that match) hits (so no live doc and no
    new version goes missing). Every matching doc scores > 0 (idf > 0)."""
    q = set(tokenize_py(query))

    def matches(terms: frozenset) -> bool:
        return q <= terms if mode == "and" else bool(q & terms)

    ids = [int(d) for d, _ in got]
    if len(set(ids)) != len(ids):
        return False
    if not all(d in live_terms and matches(live_terms[d]) for d in ids):
        return False
    return len(ids) == min(k, sum(1 for ts in live_terms.values() if matches(ts)))
