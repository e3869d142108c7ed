"""Sequential diversity kernels (numpy, driver/executor-local).

These are the O(small) sequential algorithms the reference runs on
coresets (SURVEY.md §2.1: FarthestPointHeuristic, MatchingHeuristic,
LocalSearch, Diversity evaluators). They only ever run on data that
fits comfortably in one process — a partition's points inside
applyInPandas, or a composed coreset on the driver (p·k'·(m+1) rows)
— never on the full dataset. Everything is deterministic: fixed start
point (min id), ties broken by id.
"""

from __future__ import annotations

import numpy as np

from ..metrics import KERNEL_DISTANCE_EVALS


def pairwise_l2(X: np.ndarray) -> np.ndarray:
    """Dense pairwise Euclidean distances (float64)."""
    X = np.asarray(X, dtype=np.float64)
    sq = (X * X).sum(axis=1)
    d2 = sq[:, None] + sq[None, :] - 2.0 * (X @ X.T)
    np.maximum(d2, 0.0, out=d2)
    KERNEL_DISTANCE_EVALS.add(len(X) * (len(X) - 1) // 2)
    return np.sqrt(d2)


def pairwise_cosine(X: np.ndarray) -> np.ndarray:
    """Pairwise cosine distances 1 - cos(a,b) — the reference's second
    metric family (SURVEY.md §1.1 Distance.scala)."""
    X = np.asarray(X, dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    D = 1.0 - Xn @ Xn.T
    np.maximum(D, 0.0, out=D)
    np.fill_diagonal(D, 0.0)
    KERNEL_DISTANCE_EVALS.add(len(X) * (len(X) - 1) // 2)
    return D


def pairwise(X: np.ndarray, metric: str = "euclidean") -> np.ndarray:
    if metric == "euclidean":
        return pairwise_l2(X)
    if metric == "cosine":
        return pairwise_cosine(X)
    raise ValueError(f"unknown metric: {metric}")


def l2_to_point(X: np.ndarray, c: np.ndarray) -> np.ndarray:
    X = np.asarray(X, dtype=np.float64)
    diff = X - np.asarray(c, dtype=np.float64)[None, :]
    KERNEL_DISTANCE_EVALS.add(len(X))
    return np.sqrt((diff * diff).sum(axis=1))


def cosine_to_point(X: np.ndarray, c: np.ndarray) -> np.ndarray:
    X = np.asarray(X, dtype=np.float64)
    c = np.asarray(c, dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    cn = c / max(float(np.linalg.norm(c)), 1e-300)
    KERNEL_DISTANCE_EVALS.add(len(X))
    return np.maximum(1.0 - Xn @ cn, 0.0)


def dist_to_point(X: np.ndarray, c: np.ndarray, metric: str = "euclidean"):
    if metric == "euclidean":
        return l2_to_point(X, c)
    if metric == "cosine":
        return cosine_to_point(X, c)
    raise ValueError(f"unknown metric: {metric}")


def farthest_first_clusters(
    X: np.ndarray, k: int, start: int = 0, metric: str = "euclidean"
):
    """Gonzalez farthest-first traversal (GMM), 2-approx for
    remote-edge [SURVEY.md §2.1 / PAPER-VLDB17 §2], that also clusters
    every point around the chosen centers in the same distance passes.

    Returns (chosen, dist_when, min_dist, label): chosen[0] = start;
    each next point maximizes distance to the chosen set, ties broken
    by lowest index; dist_when[r] is chosen[r]'s distance to the set
    when it was picked; min_dist[i] is point i's distance to its
    nearest center and label[i] that center's rank. One distance pass
    per center: label moves to a new center only on a strictly
    smaller distance, so on ties the earlier center wins — exactly
    np.argmin over the full (n, k) center-distance matrix, and
    min_dist equals its row minimum bit for bit. `metric` is
    euclidean or cosine (the reference's two distance families).
    """
    n = len(X)
    k = min(k, n)
    chosen = [start]
    dist_when = [0.0]
    min_dist = dist_to_point(X, X[start], metric)
    label = np.zeros(n, dtype=np.int64)
    for rank in range(1, k):
        # argmax with lowest-index tie-break (np.argmax returns first
        # max); chosen points are masked out so duplicate points (all
        # remaining distances 0) never re-select a chosen index
        masked = min_dist.copy()
        masked[np.asarray(chosen)] = -np.inf
        idx = int(np.argmax(masked))
        chosen.append(idx)
        dist_when.append(float(min_dist[idx]))
        d = dist_to_point(X, X[idx], metric)
        label[d < min_dist] = rank
        np.minimum(min_dist, d, out=min_dist)
    return np.array(chosen), np.array(dist_when), min_dist, label


def farthest_first(X: np.ndarray, k: int, start: int = 0, metric: str = "euclidean"):
    """farthest_first_clusters without the labels: returns
    (chosen_indices, dist_when_chosen, min_dist_per_point)."""
    chosen, dist_when, min_dist, _ = farthest_first_clusters(X, k, start, metric)
    return chosen, dist_when, min_dist


def eval_edge(D: np.ndarray) -> float:
    """Remote-edge: min pairwise distance."""
    iu = np.triu_indices(len(D), k=1)
    return float(D[iu].min())


def eval_clique(D: np.ndarray) -> float:
    """Remote-clique: sum of pairwise distances (each unordered pair once)."""
    iu = np.triu_indices(len(D), k=1)
    return float(D[iu].sum())


def eval_star(D: np.ndarray) -> float:
    """Remote-star: min over centers c of sum of d(c, others)."""
    return float((D.sum(axis=1)).min())


def eval_tree(D: np.ndarray) -> float:
    """Remote-tree: MST weight (Prim, O(k^2))."""
    n = len(D)
    if n <= 1:
        return 0.0
    in_tree = np.zeros(n, dtype=bool)
    in_tree[0] = True
    best = D[0].copy()
    total = 0.0
    for _ in range(n - 1):
        best_masked = np.where(in_tree, np.inf, best)
        j = int(np.argmin(best_masked))
        total += float(best_masked[j])
        in_tree[j] = True
        np.minimum(best, D[j], out=best)
    return total


def eval_bipartition(D: np.ndarray, exhaustive_max: int = 14) -> float:
    """Remote-bipartition: min over balanced bipartitions (one side of
    size floor(k/2)) of the total distance crossing the cut
    [SURVEY.md §2.1 evaluator list]. Exhaustive over C(k, k//2) cuts
    up to `exhaustive_max` points; beyond that a deterministic
    best-swap descent from the by-index split (the same
    heuristic-evaluator precedent as eval_cycle's nearest-neighbor
    tour — exact evaluation is NP-hard). Tests cross-check the descent
    against the exhaustive optimum on small sets."""
    import itertools

    n = len(D)
    if n <= 1:
        return 0.0
    half = n // 2
    idx = np.arange(n)

    def cut_of(mask: np.ndarray) -> float:
        return float(D[np.ix_(idx[mask], idx[~mask])].sum())

    if n <= exhaustive_max:
        best = float("inf")
        # fix element 0's side to halve the even-n enumeration; for
        # odd n also enumerate element 0 on the larger side
        sizes = {half - 1}
        if n % 2 == 1:
            sizes.add(n - half - 1)
        for size in sorted(sizes):
            for comb in itertools.combinations(range(1, n), size):
                mask = np.zeros(n, dtype=bool)
                mask[np.array((0,) + comb, dtype=int)] = True
                best = min(best, cut_of(mask))
        return best

    # deterministic best-improvement swap descent; swapping i in S1
    # with j in S2 changes the cut by
    #   delta = (s1sum[i]-s2sum[i]) - (s1sum[j]-s2sum[j]) + 2*D[i,j]
    # where s?sum[v] = sum of D[v, .] over that side — one vectorized
    # delta matrix per pass, O(n^2) per accepted swap.
    mask = np.zeros(n, dtype=bool)
    mask[:half] = True
    for _ in range(2 * n):  # convergence cap (descent, so it halts)
        s1sum = D[:, mask].sum(axis=1)
        s2sum = D[:, ~mask].sum(axis=1)
        g = s1sum - s2sum
        s1, s2 = idx[mask], idx[~mask]
        delta = g[s1][:, None] - g[s2][None, :] + 2.0 * D[np.ix_(s1, s2)]
        pos = np.unravel_index(np.argmin(delta), delta.shape)
        if delta[pos] >= -1e-12:
            break
        i, j = int(s1[pos[0]]), int(s2[pos[1]])
        mask[i], mask[j] = False, True
    return cut_of(mask)


def eval_cycle(D: np.ndarray) -> float:
    """Remote-cycle: TSP-tour weight, deterministic nearest-neighbor
    tour from index 0 (ties -> lowest index), closing the cycle."""
    n = len(D)
    if n <= 1:
        return 0.0
    visited = np.zeros(n, dtype=bool)
    cur, total = 0, 0.0
    visited[0] = True
    for _ in range(n - 1):
        row = np.where(visited, np.inf, D[cur])
        nxt = int(np.argmin(row))
        total += float(row[nxt])
        visited[nxt] = True
        cur = nxt
    return total + float(D[cur, 0])


def matching_heuristic(D: np.ndarray, k: int):
    """Remote-clique matching heuristic [SURVEY.md §2.1]: greedily
    take k//2 mutually-farthest disjoint pairs; returns flat index
    list (pair order preserved). Ties broken by (i, j) lexicographic
    via argmax on the row-major flattened matrix."""
    n = len(D)
    Dw = D.copy()
    np.fill_diagonal(Dw, -np.inf)
    alive = np.ones(n, dtype=bool)
    out = []
    for _ in range(k // 2):
        if alive.sum() < 2:
            break
        sub = np.where(alive[:, None] & alive[None, :], Dw, -np.inf)
        flat = int(np.argmax(sub))
        i, j = divmod(flat, n)
        out.extend([i, j])
        alive[i] = alive[j] = False
    return np.array(out, dtype=int)


def local_search_clique(
    D: np.ndarray, k: int, eps: float = 1e-4, max_rounds: int = 50,
    is_independent=None, init=None,
):
    """Swap local search for remote-clique, optionally under a matroid
    independence oracle over index sets [SURVEY.md §2.1 LocalSearch /
    PAPER-KDD18]. Deterministic: scans swaps in (out_idx, in_idx)
    order, takes the FIRST (1+eps)-improving swap each round."""
    n = len(D)
    if init is None:
        sel = list(range(min(k, n)))
    else:
        sel = list(init)
    sel_set = set(sel)

    def clique_sum(s):
        idx = np.array(s)
        return float(D[np.ix_(idx, idx)].sum() / 2.0)

    cur = clique_sum(sel)
    for _ in range(max_rounds):
        improved = False
        for out_pos in range(len(sel)):
            for cand in range(n):
                if cand in sel_set:
                    continue
                trial = sel.copy()
                trial[out_pos] = cand
                if is_independent is not None and not is_independent(trial):
                    continue
                val = clique_sum(trial)
                if val > cur * (1.0 + eps):
                    sel_set.discard(sel[out_pos])
                    sel_set.add(cand)
                    sel, cur, improved = trial, val, True
                    break
            if improved:
                break
        if not improved:
            break
    return np.array(sorted(sel), dtype=int), cur
