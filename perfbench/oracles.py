"""Independent oracles the benchmark checks the engine against.

Each one is a plain NumPy / Python re-computation that shares no code
with the program.  ``self_test`` checks every oracle against the golden
values of FIXTURES.md (F2, from the compiled C++ reference, and the F4
exact counts) before any engine output is compared with it, so a bug in
an oracle cannot hide a bug in the engine.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import networkx as nx
import numpy as np

DAMPING = 0.85


@dataclass
class Replay:
    ranks: np.ndarray       # the reported vector
    iterations: int
    final_l1: float


def pagerank_replay(src: np.ndarray, dst: np.ndarray, n: int, tol: float = 1e-10,
                    max_iter: int = 100_000, damping: float = DAMPING) -> Replay:
    """The reference update on deduped edges: zero init, dangling mass
    taken from the current vector, L1 stop checked before the swap, and
    the pre-swap iterate reported on a stop-rule exit (the last iterate
    on a max-iteration exit)."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling_mask = out_deg == 0
    inv_deg = np.zeros(n)
    inv_deg[~dangling_mask] = 1.0 / out_deg[~dangling_mask]
    inv_n = 1.0 / n
    pr = np.zeros(n)
    dangling = 0.0
    l1 = 0.0
    it = 0
    while it < max_iter:
        it += 1
        contrib = np.bincount(dst, weights=(pr * inv_deg)[src], minlength=n)
        new = (contrib + dangling * inv_n) * damping + (1.0 - damping) * inv_n
        l1 = float(np.abs(new - pr).sum())
        if l1 < tol:
            return Replay(pr, it, l1)
        dangling = float(new[dangling_mask].sum())
        pr = new
    return Replay(pr, it, l1)


def components(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """Union-find over the undirected edges: vertex -> min id of its
    component, for every vertex incident to an edge."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src.tolist(), dst.tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def label_propagation(src: np.ndarray, dst: np.ndarray, max_iter: int) -> dict[int, int]:
    """Synchronous LPA on the undirected simple graph: label_0(u) = u;
    each round every vertex takes the most frequent neighbour label,
    ties to the smallest; stop when nothing changes, when the (changed,
    labels) signature repeats, or after ``max_iter`` rounds."""
    keep = src != dst
    a = np.concatenate([src[keep], dst[keep]])
    b = np.concatenate([dst[keep], src[keep]])
    if a.size == 0:
        return {}
    width = int(a.max()) + 1
    pairs = np.unique(a * width + b)
    u, v = pairs // width, pairs % width
    ids = np.unique(u)
    idx_u = np.searchsorted(ids, u)
    idx_v = np.searchsorted(ids, v)
    labels = ids.copy()
    seen: set[tuple[int, bytes]] = set()
    for _ in range(max_iter):
        # count (vertex, neighbour label) pairs, then pick per vertex the
        # largest count and, among equals, the smallest label
        key_l = labels[idx_v]
        order = np.lexsort((key_l, idx_u))
        vu, vl = idx_u[order], key_l[order]
        grp = np.flatnonzero(np.r_[True, (vu[1:] != vu[:-1]) | (vl[1:] != vl[:-1])])
        cnt = np.diff(np.r_[grp, vu.size])
        gu, gl = vu[grp], vl[grp]
        best = np.lexsort((gl, -cnt, gu))
        first = best[np.r_[True, gu[best][1:] != gu[best][:-1]]]
        new = labels.copy()
        new[gu[first]] = gl[first]
        changed = int((new != labels).sum())
        labels = new
        sig = (changed, labels.tobytes())
        if changed == 0 or sig in seen:
            break
        seen.add(sig)
    return dict(zip(ids.tolist(), labels.tolist()))


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b in zip(src.tolist(), dst.tolist()) if a != b)
    return sum(nx.triangles(g).values()) // 3


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


# ------------------------------------------------------------------ self test

_F2 = np.array([[0, 1], [0, 2], [0, 1], [1, 2], [2, 0], [2, 4], [3, 2]])


def _edges(pairs) -> tuple[np.ndarray, np.ndarray]:
    arr = np.unique(np.asarray(pairs, dtype=np.int64), axis=0)
    return arr[:, 0], arr[:, 1]


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(f"oracle self-test failed: {what}")


def self_test() -> None:
    """FIXTURES.md F2 / F4 goldens and a known sha256 vector."""
    s, d = _edges(_F2)
    r = pagerank_replay(s, d, 5)
    _check(r.iterations == 132, f"F2 iterations {r.iterations} != 132")
    _check(abs(r.final_l1 - 8.51080067830251e-11) < 1e-16, f"F2 L1 {r.final_l1!r}")
    golden = [0.214201109530419, 0.15744966015736, 0.347733931598026,
              0.0664141886163887, 0.214201109530419]
    _check(np.allclose(r.ranks, golden, rtol=0, atol=1e-14), f"F2 ranks {r.ranks!r}")
    _check(abs(r.ranks.sum() - 0.999999999432613) < 1e-14, "F2 sum")
    _check(int(np.argmax(r.ranks)) == 2, "F2 top vertex")
    _check(set(components(s, d).values()) == {0}, "F2 components")
    _check(triangle_count(s, d) == 1, "F2 triangles")
    _check(set(label_propagation(s, d, 50).values()) == {0}, "F2 LPA single label")

    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    k4 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    s, d = _edges(k5 + k4)
    cc = components(s, d)
    _check(sorted(set(cc.values())) == [0, 10], "F4 two-cliques components")
    _check(all(cc[v] == (0 if v < 5 else 10) for v in cc), "F4 two-cliques labels")
    _check(triangle_count(s, d) == 14, "F4 two-cliques triangles")
    lpa = label_propagation(s, d, 50)
    _check(all(lpa[v] == (0 if v < 5 else 10) for v in lpa), "F4 two-cliques LPA")

    s, d = _edges([(i, (i + 1) % 8) for i in range(8)])
    _check(len(set(components(s, d).values())) == 1, "F4 cycle components")
    _check(triangle_count(s, d) == 0, "F4 cycle triangles")
    r = pagerank_replay(s, d, 8)
    _check(np.allclose(r.ranks, 1 / 8, atol=1e-9), "F4 cycle ranks")

    s, d = _edges([(i, 0) for i in range(1, 21)])
    _check(triangle_count(s, d) == 0, "F4 star triangles")
    _check(len(set(components(s, d).values())) == 1, "F4 star components")
    r = pagerank_replay(s, d, 21)
    _check(int(np.argmax(r.ranks)) == 0 and abs(r.ranks.sum() - 1) < 1e-8,
           "F4 star dangling hub")

    s, d = _edges([(0, 2)])
    r = pagerank_replay(s, d, 3)
    _check(r.ranks.size == 3 and r.ranks[1] > 0, "F4 id gap keeps vertex 1")

    rng = np.random.default_rng(42)
    m = rng.random((100, 100)) < 0.05
    s, d = np.nonzero(m)
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b in zip(s.tolist(), d.tolist()) if a != b)
    cc = components(s.astype(np.int64), d.astype(np.int64))
    for comp in nx.connected_components(g):
        _check(len({cc[v] for v in comp}) == 1 and cc[min(comp)] == min(comp),
               "G(100, 0.05) components")

    _check(sha256_hex("abc") == "ba7816bf8f01cfea414140de5dae2223"
           "b00361a396177a9cb410ff61f20015ad", "sha256 vector")


if __name__ == "__main__":
    self_test()
    print("oracle self-test ok")
