"""Independent correctness oracles and summary statistics.

Nothing here imports the package under test: the oracles are numpy brute
force over the benchmark's own copy of the live vectors, and plain set
arithmetic over curate's outputs.
"""

from __future__ import annotations

import statistics

import numpy as np

#: relative tolerance on a returned distance. The index folds f32 vectors
#: in f64; numpy sums the same f64 terms in another order, so the two agree
#: to ~1e-15. A wrong id or an f32 fold misses by far more.
DIST_RTOL = 1e-9


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile that still has at
    least ten samples beyond it, by nearest rank; None below 11 samples.

    With n samples the value at rank n-10 has exactly ten above it, so the
    percentile is 100·(n-10)/n: p95 at 200 samples, p90 at 100.
    """
    n = len(values)
    if n < 11:
        return None
    ordered = sorted(values)
    return 100.0 * (n - 10) / n, ordered[n - 11]


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles`` gives
    them — the run-to-run spread the benchmark's bounds are judged by."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


class LiveSet:
    """The benchmark's own copy of the vectors an index should hold."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        order = np.argsort(ids, kind="stable")
        self.ids = np.asarray(ids, np.int64)[order]
        self.vecs = np.asarray(vecs, np.float32)[order]
        self._norms = (self.vecs.astype(np.float64) ** 2).sum(axis=1)

    def __len__(self) -> int:
        return len(self.ids)

    def rows_of(self, ids: np.ndarray) -> np.ndarray:
        """Row positions of ``ids``; -1 for ids not in the live set."""
        ids = np.asarray(ids, np.int64)
        pos = np.searchsorted(self.ids, ids)
        pos = np.minimum(pos, len(self.ids) - 1)
        return np.where(self.ids[pos] == ids, pos, -1)

    def exact_l2(self, rows: np.ndarray, q: np.ndarray) -> np.ndarray:
        diff = self.vecs[rows].astype(np.float64) - np.asarray(q, np.float64)
        return np.sqrt((diff * diff).sum(axis=1))

    def top_k(self, q: np.ndarray, k: int) -> np.ndarray:
        """Exact top-k ids by l2 distance, ties broken by id."""
        q64 = np.asarray(q, np.float64)
        # squared distance up to the constant |q|², in f64 for selection;
        # a margin of candidates absorbs the expansion's rounding
        approx = self._norms - 2.0 * (self.vecs.astype(np.float64) @ q64)
        m = min(len(self.ids), 4 * k + 32)
        cand = np.argpartition(approx, m - 1)[:m]
        d = self.exact_l2(cand, q64)
        order = np.lexsort((self.ids[cand], d))
        return self.ids[cand[order[:k]]]


def check_knn(
    ids: list[int], dists: list[float], q: np.ndarray, k: int, live: LiveSet
) -> str | None:
    """Why a top-k answer is wrong, or None when it is right.

    Wrong means: fewer than k rows, an id twice or not live, distances out
    of order, or a distance that differs from the exact distance of its id.
    Recall is measured separately; a right answer may still miss a true
    neighbour.
    """
    if len(ids) < k:
        return f"{len(ids)} rows < k={k}"
    if len(set(ids)) != len(ids):
        return "duplicate ids"
    rows = live.rows_of(np.asarray(ids, np.int64))
    if (rows < 0).any():
        return f"id {ids[int(np.argmax(rows < 0))]} not in the live set"
    got = np.asarray(dists, np.float64)
    if (np.diff(got) < 0).any():
        return "distances not ascending"
    exact = live.exact_l2(rows, q)
    bad = np.abs(got - exact) > DIST_RTOL * np.maximum(1.0, exact)
    if bad.any():
        i = int(np.argmax(bad))
        return f"id {ids[i]}: distance {got[i]!r} != exact {exact[i]!r}"
    return None


def recall_at_k(returned: list[int], exact: np.ndarray, k: int) -> float:
    return len(set(returned[:k]) & set(int(i) for i in exact[:k])) / k


def check_curate(
    input_ids: np.ndarray,
    kept_ids: list[int],
    audit: list[tuple[int, str]],
    planted: dict[str, int],
) -> str | None:
    """Why a curate result is wrong, or None when it is right.

    ``kept`` and ``audit`` must partition the input (each input id exactly
    once across the two), and the audit's per-stage counts must equal the
    planted counts."""
    audit_ids = [i for i, _ in audit]
    everything = list(kept_ids) + audit_ids
    if len(everything) != len(set(everything)):
        return "an id appears twice across kept and audit"
    if set(everything) != set(int(i) for i in input_ids):
        return "kept and audit do not cover exactly the input ids"
    shares: dict[str, int] = {}
    for _, stage in audit:
        shares[stage] = shares.get(stage, 0) + 1
    if shares != planted:
        return f"audit shares {shares} != planted {planted}"
    return None
