"""Output checks against the NumPy BM25 oracle
(``lucille_spark.query.oracle``).

Each checked answer is one attempted operation and each wrong one a
failed operation; the caller adds both to the result. Checks run after the
timed windows.
"""

from __future__ import annotations

import math

REL_TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def same_ranking(got, want) -> bool:
    """Exact top-k identity: the same doc ids in the same order, scores
    equal to ``REL_TOL``. Holds on a freshly built index, where doc
    ordinal order is doc id order, so engine and oracle break ties alike."""
    return (len(got) == len(want)
            and all(g[0] == w[0] and _close(g[1], w[1])
                    for g, w in zip(got, want)))


def same_topk_up_to_ties(got, ranked, k: int) -> bool:
    """Top-k identity modulo the order of equal scores. ``ranked`` is the
    oracle's full ranking. After ``merge_index`` new and updated docs get
    ordinals above every existing one, so the engine breaks score ties by
    ordinal, not by doc id; any doc of the tied group is a right answer.
    Every hit must still be a matching doc with the oracle's score for it,
    and the score sequence must equal the oracle's top-k scores."""
    if len(got) != min(k, len(ranked)):
        return False
    if len({d for d, _ in got}) != len(got):
        return False
    score = dict(ranked)
    return all(d in score and _close(s, score[d])
               and _close(s, ranked[i][1])
               for i, (d, s) in enumerate(got))


def count_wrong(answers, oracle, k: int, exact: bool = True) -> tuple:
    """``answers``: [(query, engine hits or None)], one pair per checked
    operation; ``None`` (the query raised) is wrong. Returns
    (wrong, examples)."""
    wrong, examples, want = 0, [], {}
    for q, got in answers:
        if q not in want:
            want[q] = oracle.search(q, k=k if exact else 1 << 30)
        if got is None:
            ok = False
        elif exact:
            ok = same_ranking(got, want[q])
        else:
            ok = same_topk_up_to_ties(got, want[q], k)
        if not ok:
            wrong += 1
            if len(examples) < 3:
                examples.append(q)
    return wrong, examples


def batch_rows_to_hits(rows) -> dict:
    """search_batch rows (query_id, rank, doc_id, score) -> id -> hits."""
    out = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out
