"""Pure-Python/NumPy oracles transcribing the reference semantics.

These are test-only reimplementations of the behavior documented in
SURVEY.md §7 (quirks Q1-Q4) — the same update rule as
``/root/reference/pagerank/src/lib/pagerank.cpp:94-242`` — plus
brute-force graph-algorithm oracles for small graphs.  No Spark here.
"""

from __future__ import annotations

import itertools
from collections import Counter

import numpy as np


def pagerank_oracle(
    edges: list[tuple[int, int]],
    damping: float = 0.85,
    tol: float = 1e-10,
    max_iter: int = 100_000,
    stop_rule: str = "l1",
):
    """Returns (reported_ranks x_{k-1}, converged x_k, iterations, final_l1).

    Q1 zero init; Q2 dangling from current vector (skipped step 0);
    Q3 dense domain [0, max_id]; Q4 reported vector is pre-swap.
    """
    uniq = sorted(set(edges))
    n = max(max(s, d) for s, d in uniq) + 1 if uniq else 0
    out = np.zeros(n, dtype=np.int64)
    for s, _ in uniq:
        out[s] += 1
    in_nbrs: list[list[int]] = [[] for _ in range(n)]
    for s, d in uniq:
        in_nbrs[d].append(s)

    pr = np.zeros(n)
    prev_l1 = 1.0
    it = 0
    final_l1 = 0.0
    while it < max_iter:
        it += 1
        dangling = 0.0 if it == 1 else float(pr[out == 0].sum())
        new_pr = np.zeros(n)
        for v in range(n):
            tmp = sum(pr[u] / out[u] for u in in_nbrs[v])
            new_pr[v] = (tmp + dangling / n) * damping + (1 - damping) / n
        l1 = float(np.abs(new_pr - pr).sum())
        final_l1 = l1
        if stop_rule == "reference":
            if l1 < 1e-5 or abs(l1 - prev_l1) < 1e-7:
                break
        else:
            if l1 < tol:
                break
        prev_l1 = l1
        pr = new_pr
    # pr is x_{k-1} (pre-swap), new_pr is x_k.
    return pr, new_pr, it, final_l1


def pagerank_bincount(src: np.ndarray, dst: np.ndarray, n: int,
                      damping: float = 0.85, tol: float = 1e-10,
                      max_iter: int = 100_000):
    """Vectorised replay of the same update as :func:`pagerank_oracle`
    for graphs too large for its per-vertex loop.  ``src``/``dst`` are
    deduped edges over the domain [0, n).  Returns (reported_ranks
    x_{k-1}, iterations, final_l1) for the L1 rule."""
    out = np.bincount(src, minlength=n).astype(np.float64)
    inv_out = np.divide(1.0, out, out=np.zeros(n), where=out > 0)
    pr = new_pr = np.zeros(n)
    dangling = 0.0
    it, l1 = 0, 0.0
    while it < max_iter:
        it += 1
        contrib = np.bincount(dst, weights=(pr * inv_out)[src], minlength=n)
        new_pr = (contrib + dangling / n) * damping + (1 - damping) / n
        l1 = float(np.abs(new_pr - pr).sum())
        if l1 < tol:
            break
        dangling = float(new_pr[out == 0].sum())
        pr = new_pr
    else:
        pr = new_pr          # a max-iter exit reports the last iterate
    return pr, it, l1


def components_oracle(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find; label = min id in component; over incident vertices."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        for v in (s, d):
            parent.setdefault(v, v)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {v: find(v) for v in parent}


def triangles_oracle(edges: list[tuple[int, int]]) -> int:
    und = set()
    for s, d in edges:
        if s != d:
            und.add((min(s, d), max(s, d)))
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    count = 0
    for a, b in und:
        count += len(adj[a] & adj[b])
    return count // 3


def label_propagation_oracle(edges: list[tuple[int, int]], max_iter: int = 20):
    """Synchronous LPA, min tie-break — mirrors operators/labelprop.py."""
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    labels = {v: v for v in adj}
    seen = set()
    for _ in range(max_iter):
        new = {}
        for v, nbrs in adj.items():
            if not nbrs:
                new[v] = labels[v]
                continue
            cnt = Counter(labels[u] for u in nbrs)
            best = min(((-c, lab) for lab, c in cnt.items()))
            new[v] = best[1]
        changed = sum(1 for v in labels if new[v] != labels[v])
        sig = (changed, tuple(sorted(new.items())))
        labels = new
        if changed == 0 or sig in seen:
            break
        seen.add(sig)
    return labels


F2_EDGES = [(0, 1), (0, 2), (0, 1), (1, 2), (2, 0), (2, 4), (3, 2)]


def ppr_oracle(
    edges: list[tuple[int, int]],
    sources: list[int],
    damping: float = 0.85,
    tol: float = 1e-10,
    max_iter: int = 100_000,
):
    """NumPy personalized-PageRank oracle (zero init, dangling mass
    re-injected through the restart distribution).  Returns
    (converged x_k, iterations, final_l1)."""
    uniq = sorted(set(edges))
    n = max(max(s, d) for s, d in uniq) + 1 if uniq else 0
    out = np.zeros(n, dtype=np.int64)
    for s, _ in uniq:
        out[s] += 1
    in_nbrs: list[list[int]] = [[] for _ in range(n)]
    for s, d in uniq:
        in_nbrs[d].append(s)
    restart = np.zeros(n)
    for s in set(sources):
        restart[s] = 1.0 / len(set(sources))

    pr = np.zeros(n)
    it = 0
    final_l1 = 0.0
    while it < max_iter:
        it += 1
        dangling = float(pr[out == 0].sum())
        new_pr = np.zeros(n)
        for v in range(n):
            tmp = sum(pr[u] / out[u] for u in in_nbrs[v])
            new_pr[v] = (tmp + dangling * restart[v]) * damping \
                + (1 - damping) * restart[v]
        l1 = float(np.abs(new_pr - pr).sum())
        final_l1 = l1
        pr = new_pr
        if l1 < tol:
            break
    return pr, it, final_l1


def weighted_pagerank_oracle(
    edges_w: list[tuple[int, int, float]],
    damping: float = 0.85,
    tol: float = 1e-10,
    max_iter: int = 100_000,
):
    """NumPy weighted-PageRank oracle (zero init, uniform dangling
    redistribution, proportional split).  Parallel edges sum their
    weights.  Returns (converged x_k, iterations, final_l1)."""
    acc: dict[tuple[int, int], float] = {}
    for s, d, w in edges_w:
        acc[(s, d)] = acc.get((s, d), 0.0) + w
    n = max(max(s, d) for s, d in acc) + 1 if acc else 0
    strength = np.zeros(n)
    for (s, _), w in acc.items():
        strength[s] += w
    in_nbrs: list[list[tuple[int, float]]] = [[] for _ in range(n)]
    for (s, d), w in acc.items():
        in_nbrs[d].append((s, w))

    pr = np.zeros(n)
    it = 0
    final_l1 = 0.0
    while it < max_iter:
        it += 1
        dangling = float(pr[strength == 0].sum())
        new_pr = np.zeros(n)
        for v in range(n):
            tmp = sum(pr[u] * w / strength[u] for u, w in in_nbrs[v])
            new_pr[v] = (tmp + dangling / n) * damping + (1 - damping) / n
        l1 = float(np.abs(new_pr - pr).sum())
        final_l1 = l1
        pr = new_pr
        if l1 < tol:
            break
    return pr, it, final_l1
