"""Ground truth and output checks.

Exact top-k is computed here with numpy under the engine's documented
(distance, id) order. Every answer the benchmark receives goes through a
check; an exception or a wrong answer counts as a failed operation.
"""

from __future__ import annotations

import numpy as np

K = 10
# Distances are compared with a tolerance: the engine rounds some paths to
# 6 decimals and sums in another order than numpy.
DIST_TOL = 1e-4


class Ledger:
    """Operations attempted and failed, with the first few failure notes."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)
        return ok


def sq_l2(Q: np.ndarray, X: np.ndarray) -> np.ndarray:
    """Squared L2 distances (nq, nx) in float64."""
    Q = Q.astype(np.float64)
    X = X.astype(np.float64)
    d = (Q * Q).sum(1)[:, None] - 2.0 * Q @ X.T + (X * X).sum(1)[None, :]
    return np.maximum(d, 0.0)


def exact_topk(Q: np.ndarray, X: np.ndarray, ids: np.ndarray, k: int = K,
               chunk: int = 500) -> tuple[np.ndarray, np.ndarray]:
    """(ids (nq, k), distances (nq, k)) ordered by (distance, id)."""
    out_i = np.empty((len(Q), k), dtype=np.int64)
    out_d = np.empty((len(Q), k))
    for s in range(0, len(Q), chunk):
        d = sq_l2(Q[s:s + chunk], X)
        cand = np.argpartition(d, k + 8, axis=1)[:, : k + 8]
        for r in range(len(d)):
            c = cand[r]
            order = np.lexsort((ids[c], d[r, c]))[:k]
            out_i[s + r] = ids[c[order]]
            out_d[s + r] = d[r, c[order]]
    return out_i, out_d


def ordered(nbr: np.ndarray, dist: np.ndarray) -> bool:
    """Ascending by (distance, id): distances never fall by more than the
    tolerance, and ids at equal returned distances ascend."""
    step = np.diff(dist)
    return bool(np.all(step >= -DIST_TOL) and np.all(np.diff(nbr)[step == 0] > 0))


def valid_answer(nbr: np.ndarray, dist: np.ndarray, q: np.ndarray,
                 vectors: dict[int, np.ndarray], k: int = K) -> bool:
    """An approximate answer is valid when it has k distinct known ids,
    ascends by (distance, id), and each distance is the true distance."""
    if len(nbr) != k or len(set(nbr.tolist())) != k or not ordered(nbr, dist):
        return False
    try:
        V = np.stack([vectors[int(i)] for i in nbr])
    except KeyError:
        return False
    true = sq_l2(q[None, :], V)[0]
    return bool(np.all(np.abs(true - dist) <= DIST_TOL * np.maximum(1.0, true)))


def exact_answer(nbr: np.ndarray, dist: np.ndarray, t_ids: np.ndarray,
                 t_dist: np.ndarray) -> bool:
    """Equal to the exact top-k in (distance, id) order, allowing only a
    swap of ids whose distances tie with the k-th within the tolerance."""
    if len(nbr) != len(t_ids) or not ordered(nbr, dist):
        return False
    if not np.all(np.abs(dist - t_dist) <= DIST_TOL * np.maximum(1.0, t_dist)):
        return False
    if np.array_equal(nbr, t_ids):
        return True
    kth = t_dist[-1]
    differ = set(nbr.tolist()) ^ set(t_ids.tolist())
    return all(
        abs(d - kth) <= DIST_TOL * max(1.0, kth)
        for d, i in zip(np.concatenate([dist, t_dist]), np.concatenate([nbr, t_ids]))
        if int(i) in differ
    )


def recall(nbr: np.ndarray, t_ids: np.ndarray) -> float:
    return len(set(nbr.tolist()) & set(t_ids.tolist())) / len(t_ids)


def split_by_query(res) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """{query_id: (neighbor ids, distances)} ordered by rank, from a result
    with the engine's columns (a pandas DataFrame or a dict of arrays)."""
    query_id, rank, nbr, dist = (np.asarray(res[c]) for c in
                                 ("query_id", "rank", "neighbor_id", "distance"))
    order = np.lexsort((rank, query_id))
    q, n, d = query_id[order], nbr[order], dist[order]
    cuts = np.flatnonzero(np.diff(q)) + 1
    return {
        int(qs[0]): (ns, ds)
        for qs, ns, ds in zip(np.split(q, cuts), np.split(n, cuts), np.split(d, cuts))
        if len(qs)
    }


def pair_recall(near_pairs: np.ndarray, cluster_of: dict[int, int]) -> float:
    """Share of planted near-duplicate pairs that end in one cluster."""
    hit = sum(
        1 for a, b in near_pairs
        if cluster_of.get(int(a), -1) == cluster_of.get(int(b), -2)
    )
    return hit / len(near_pairs)
