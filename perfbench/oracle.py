"""The benchmark's own exact top-k, in NumPy, and the per-operation judge.

Scores are float64 and accumulated left to right over the 64 dimensions,
the same order as the engine's `aggregate(zip_with(...))` kernels, then
rounded to 6 decimals and ordered by (score desc, vec_id asc). The
engine rounds HALF_UP on the decimal form and NumPy rounds half-even on
the binary form, so the two can differ by one unit in the 6th decimal on
a tie; every comparison allows TOL for that, and the k-th score frontier
is tie-tolerant.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

TOL = 1.5e-6
K = 10

# A wrong answer: the program returned rows that contradict the oracle.
WRONG = frozenset({
    "too_many_rows", "duplicate_ids", "unknown_id", "wrong_score",
    "wrong_order", "wrong_ids", "write_rows",
})
# A failure to answer: an exception, or fewer rows than the scope holds.
ERROR = frozenset({"exception", "short_result"})


class State:
    """Live vectors of one corpus, kept sorted by vec_id."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray):
        o = np.argsort(ids, kind="stable")
        self._set(ids[o], vecs[o], labels[o])

    def _set(self, ids, vecs, labels):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.vecs = np.asarray(vecs, dtype=np.float32)
        self.labels = np.asarray(labels, dtype=np.int32)
        self.x = np.asfortranarray(self.vecs, dtype=np.float64)
        sq = np.zeros(len(self.ids))
        for j in range(self.x.shape[1]):
            sq += self.x[:, j] * self.x[:, j]
        self.norms = np.sqrt(sq)

    def __len__(self) -> int:
        return len(self.ids)

    def vector(self, vec_id: int) -> np.ndarray:
        i = np.searchsorted(self.ids, vec_id)
        if i >= len(self.ids) or self.ids[i] != vec_id:
            raise KeyError(vec_id)
        return self.vecs[i]

    def count(self, library: int) -> int:
        return int(np.count_nonzero(self.labels == library))

    def apply(self, library: int, kind: str, ids: np.ndarray, vecs: np.ndarray) -> None:
        """Post-state of one CDC batch (the rows all carry `library`)."""
        keep = ~np.isin(self.ids, ids)
        if kind == "D":
            self._set(self.ids[keep], self.vecs[keep], self.labels[keep])
            return
        all_ids = np.concatenate([self.ids[keep], ids])
        o = np.argsort(all_ids, kind="stable")
        self._set(
            all_ids[o],
            np.concatenate([self.vecs[keep], vecs])[o],
            np.concatenate([self.labels[keep], np.full(len(ids), library, np.int32)])[o],
        )

    def scores(self, q: np.ndarray, metric: str, library: int | None = None):
        """(scope ids, rounded scores) of every vector in scope."""
        m = slice(None) if library is None else self.labels == library
        x, ids, norms = self.x[m], self.ids[m], self.norms[m]
        qd = [float(v) for v in q]
        acc = np.zeros(len(ids))
        if metric == "cosine":
            for j, v in enumerate(qd):
                acc += x[:, j] * v
            qn = math.sqrt(sum(v * v for v in qd))
            if qn == 0.0:
                s = np.zeros(len(ids))
            else:
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = np.where(norms == 0.0, 0.0, acc / (norms * qn))
        elif metric == "euclidean":
            for j, v in enumerate(qd):
                d = x[:, j] - v
                acc += d * d
            s = 1.0 / (1.0 + np.sqrt(acc))
        else:
            raise ValueError(metric)
        return ids, np.round(s, 6)


def topk(ids: np.ndarray, scores: np.ndarray, k: int = K) -> tuple[np.ndarray, np.ndarray]:
    o = np.lexsort((ids, -scores))[:k]
    return ids[o], scores[o]


@dataclass
class Verdict:
    reason: str | None  # None when the result is right
    recall: float

    @property
    def ok(self) -> bool:
        return self.reason is None


def judge(rows, scope_ids: np.ndarray, scope_scores: np.ndarray,
          exact: bool, k: int = K) -> Verdict:
    """Judge one top-k result `rows` = [(vec_id, score), ...] in returned
    order against the exact scores of the searched scope (`scope_ids`
    sorted ascending). Exact searches must return the exact top-k set;
    approximate ones must carry the exact score of every id they return.
    recall = |returned ∩ exact top-k| / k, ties at the k-th score counted
    as hits."""
    k_eff = min(k, len(scope_ids))
    if k_eff == 0:
        return Verdict(None if not rows else "too_many_rows", 1.0)
    ids = np.array([int(r[0]) for r in rows], dtype=np.int64)
    got = np.array([float(r[1]) for r in rows], dtype=np.float64)
    _, best = topk(scope_ids, scope_scores, k_eff)
    kth = best[-1]
    if len(ids) > k_eff:
        return Verdict("too_many_rows", 0.0)
    if len(np.unique(ids)) != len(ids):
        return Verdict("duplicate_ids", 0.0)
    pos = np.searchsorted(scope_ids, ids)
    pos = np.minimum(pos, len(scope_ids) - 1)
    if len(ids) and not np.array_equal(scope_ids[pos], ids):
        return Verdict("unknown_id", 0.0)
    exact_scores = scope_scores[pos]
    if np.any(np.abs(exact_scores - got) > TOL):
        return Verdict("wrong_score", 0.0)
    if any(got[i] < got[i + 1] or (got[i] == got[i + 1] and ids[i] > ids[i + 1])
           for i in range(len(ids) - 1)):
        return Verdict("wrong_order", 0.0)
    hits = int(np.count_nonzero(exact_scores >= kth - TOL))
    recall = min(hits, k_eff) / k_eff
    if len(ids) < k_eff:
        return Verdict("short_result", recall)
    if exact:
        must = scope_ids[scope_scores > kth + TOL]
        if hits < k_eff or not np.all(np.isin(must, ids)):
            return Verdict("wrong_ids", recall)
    return Verdict(None, recall)
