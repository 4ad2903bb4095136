"""Eigenvector centrality / landmark closeness / bipartite check /
token-budget mixture vs exact fixtures and brute-force Python oracles
(SURVEY.md §5 strategy: constructed graphs with known answers +
replicated deterministic hashes)."""

from __future__ import annotations

import hashlib
import random
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import edges_df
from oracles import F2_EDGES
from pagerank_spark import graph
from pagerank_spark.checkpoint import CheckpointManager
from pagerank_spark.operators.centrality import closeness_centrality
from pagerank_spark.operators.eigencentrality import eigenvector_centrality
from pagerank_spark.operators.mis import maximal_independent_set
from pagerank_spark.operators.structure import bipartite_check


def _und_nbrs(edges):
    nbrs: dict[int, set[int]] = {}
    for s, d in edges:
        if s == d:
            continue
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
    return nbrs
from pagerank_spark.pipeline.curation import (
    _HASH_SPACE,
    token_budget_sample,
    token_budget_stats,
)


# ------------------------------------------------------- eigenvector

def _eigen_numpy(edges, n, iters):
    a = np.zeros((n, n))
    for s, d in set(edges):          # prepare() dedupes parallel edges
        a[s, d] = 1.0
    x = np.ones(n)
    for _ in range(iters):
        x = a.T @ x
        nz = np.linalg.norm(x)
        if nz == 0.0:
            return np.zeros(n)
        x = x / nz
    return x


def _eranks(df):
    return {r["id"]: r["eigen"] for r in df.collect()}


# The power-iteration driver's two backends on a small graph: "auto"
# picks the one-task local loop, "broadcast" the distributed one.
BACKENDS = ("local", "broadcast")


def test_eigen_matches_numpy_oracle(spark):
    g = graph.prepare(edges_df(spark, F2_EDGES))
    want = _eigen_numpy(F2_EDGES, g.n, 7)
    for mode in BACKENDS:
        res = eigenvector_centrality(g, max_iter=7, tol=0.0, gather_mode=mode)
        got = _eranks(res.ranks)
        assert res.iterations == 7
        assert set(got) == set(range(g.n))
        for v in range(g.n):
            assert got[v] == pytest.approx(want[v], rel=1e-12, abs=1e-15)


def test_eigen_converges_unit_norm(spark):
    g = graph.prepare(edges_df(spark, F2_EDGES))
    res = eigenvector_centrality(g, tol=1e-12, max_iter=500)
    assert res.final_l1 < 1e-12
    x = np.array([_eranks(res.ranks)[v] for v in range(g.n)])
    assert np.linalg.norm(x) == pytest.approx(1.0, rel=1e-12)
    # fixpoint property: A^T x is proportional to x (Rayleigh check)
    a = np.zeros((g.n, g.n))
    for s, d in set(F2_EDGES):
        a[s, d] = 1.0
    y = a.T @ x
    lam = float(x @ y)
    np.testing.assert_allclose(y, lam * x, atol=1e-9)


def test_eigen_checkpoint_resume_bit_identical(spark, tmp_path):
    g = graph.prepare(edges_df(spark, F2_EDGES))
    for mode in BACKENDS:
        full_ck = CheckpointManager(spark, str(tmp_path / mode / "efull"),
                                    interval=1)
        full = eigenvector_centrality(g, tol=0.0, max_iter=14,
                                      checkpoint=full_ck, gather_mode=mode)
        part_ck = CheckpointManager(spark, str(tmp_path / mode / "epart"),
                                    interval=1)
        eigenvector_centrality(g, tol=0.0, max_iter=6, checkpoint=part_ck,
                               gather_mode=mode)
        assert part_ck.latest_iteration() == 6
        resumed = eigenvector_centrality(g, tol=0.0, max_iter=14,
                                         checkpoint=part_ck, resume=True,
                                         gather_mode=mode)
        assert resumed.iterations == full.iterations == 14
        assert _eranks(full.ranks) == _eranks(resumed.ranks)


def test_eigen_empty_graph(spark):
    e = spark.createDataFrame([], "src BIGINT, dst BIGINT")
    res = eigenvector_centrality(graph.prepare(e), max_iter=3)
    assert res.iterations == 0
    assert res.ranks.count() == 0


def test_eigen_sink_chain_hits_zero_fixpoint(spark):
    # 1 -> 0: after the first normalize x = (1, 0); the second gather
    # sums only zeros, so the all-zero vector is the fixpoint and the
    # loop must stop on the zero-norm branch, not divide by zero.
    g = graph.prepare(edges_df(spark, [(1, 0)]))
    for mode in BACKENDS:
        res = eigenvector_centrality(g, max_iter=10, tol=0.0,
                                     gather_mode=mode)
        got = _eranks(res.ranks)
        assert res.iterations == 2
        assert got == {0: 0.0, 1: 0.0}


# --------------------------------------------------------- closeness

def test_closeness_path_fixture(spark):
    # path 0-1-2-3, landmark 0: d = 1, 2, 3.
    e = edges_df(spark, [(0, 1), (1, 2), (2, 3)])
    rows = {r["id"]: r for r in closeness_centrality(e, [0]).collect()}
    assert set(rows) == {1, 2, 3}          # the landmark itself absent
    assert rows[1]["closeness_q6"] == 1_000_000
    assert rows[2]["closeness_q6"] == 500_000
    assert rows[3]["closeness_q6"] == 333_333
    assert rows[3]["sum_dist"] == 3 and rows[3]["n_reached"] == 1
    assert rows[3]["closeness"] == pytest.approx(0.333333)


def test_closeness_two_landmarks_mean_inverse(spark):
    # path 0-1-2-3, landmarks {0, 3}: vertex 1 sums d=1 and d=2.
    e = edges_df(spark, [(0, 1), (1, 2), (2, 3)])
    rows = {r["id"]: r for r in closeness_centrality(e, [0, 3]).collect()}
    assert rows[1]["n_reached"] == 2 and rows[1]["sum_dist"] == 3
    assert rows[1]["closeness_q6"] == 666_666
    # endpoints see only the OTHER landmark (their own is at d=0)
    assert rows[0]["n_reached"] == 1 and rows[0]["sum_dist"] == 3


# --------------------------------------------------------- bipartite

def test_bipartite_even_cycle_triangle_and_self_loop(spark):
    # even cycle {0..3} bipartite; triangle {10,11,12} has exactly one
    # parity-conflict edge (11-12 from root 10); {20} self-loop only.
    e = edges_df(spark, [(0, 1), (1, 2), (2, 3), (3, 0),
                         (10, 11), (11, 12), (12, 10),
                         (20, 20)])
    rows = {r["component"]: r for r in bipartite_check(e).collect()}
    assert set(rows) == {0, 10, 20}
    assert rows[0]["n_vertices"] == 4 and rows[0]["is_bipartite"]
    assert rows[0]["odd_edges"] == 0
    assert rows[10]["n_vertices"] == 3 and not rows[10]["is_bipartite"]
    assert rows[10]["odd_edges"] == 1
    assert rows[20]["n_vertices"] == 1 and rows[20]["is_bipartite"]


def test_bipartite_star_and_odd_cycle_5(spark):
    e = edges_df(spark, [(0, 1), (0, 2), (0, 3),
                         (5, 6), (6, 7), (7, 8), (8, 9), (9, 5)])
    rows = {r["component"]: r for r in bipartite_check(e).collect()}
    assert rows[0]["is_bipartite"] and rows[0]["odd_edges"] == 0
    assert not rows[5]["is_bipartite"]
    # 5-cycle parity from root 5: depths 0,1,2,2,1 — edge 7-8 conflicts
    # (2,2) and edge 9-5 conflicts... (1,0) no; exactly the even-depth
    # pair(s): count computed, must be >= 1 witness
    assert rows[5]["odd_edges"] == 1


# ------------------------------------------------- condensation levels

def test_condensation_levels_bridge_and_chain(spark):
    from pagerank_spark.operators.scc import condensation_levels

    # two 3-cycles bridged 2 -> 10, plus a singleton chain 20 -> 21
    e = edges_df(spark, [(0, 1), (1, 2), (2, 0),
                         (10, 11), (11, 12), (12, 10),
                         (2, 10), (20, 21)])
    rows = {r["scc"]: r for r in condensation_levels(e, n=22).collect()}
    assert rows[0]["level"] == 0 and rows[0]["n_members"] == 3
    assert rows[10]["level"] == 1 and rows[10]["n_members"] == 3
    assert rows[20]["level"] == 0 and rows[21]["level"] == 1
    # dense-domain singletons (3..9, 13..19) all sit at level 0
    assert all(rows[v]["level"] == 0 for v in range(3, 10))


def test_condensation_levels_diamond_longest_path(spark):
    from pagerank_spark.operators.scc import condensation_levels

    # diamond 0 -> {1,2} -> 3 plus the long arm 0 -> 4 -> 5 -> 3:
    # level(3) must be the LONGEST path (3), not the shortest (2).
    e = edges_df(spark, [(0, 1), (0, 2), (1, 3), (2, 3),
                         (0, 4), (4, 5), (5, 3)])
    rows = {r["scc"]: r["level"]
            for r in condensation_levels(e, n=6).collect()}
    assert rows == {0: 0, 1: 1, 2: 1, 4: 1, 5: 2, 3: 3}


def test_condensation_levels_rejects_cyclic_labels(spark):
    from pagerank_spark.operators.scc import condensation_levels

    e = edges_df(spark, [(0, 1), (1, 0)])
    bogus = spark.createDataFrame([(0, 0), (1, 1)], "id BIGINT, scc BIGINT")
    with pytest.raises(RuntimeError, match="not a DAG"):
        condensation_levels(e, labels=bogus, max_rounds=5)


# --------------------------------------------------------------- MIS

def _mis_pri(v, seed, rnd):
    h = hashlib.md5(f"mis:{seed}:{rnd}:{v}".encode()).hexdigest()
    return int(h[:15], 16)


def _mis_python(edges, seed, max_rounds=200):
    nbrs: dict[int, set[int]] = {}
    verts = set()
    for s, d in edges:
        verts.add(s)
        verts.add(d)
        if s != d:
            nbrs.setdefault(s, set()).add(d)
            nbrs.setdefault(d, set()).add(s)
    active = set(verts)
    out = {}
    rnd = 0
    while active:
        rnd += 1
        assert rnd <= max_rounds
        pri = {v: _mis_pri(v, seed, rnd) for v in active}
        win = {v for v in active
               if all(pri[v] < pri[u]
                      for u in nbrs.get(v, ()) if u in active)}
        for v in win:
            out[v] = rnd
        removed = set(win)
        for v in win:
            removed |= nbrs.get(v, set()) & active
        active -= removed
    return out


def test_mis_matches_python_luby_replay(spark):
    rnd = random.Random(99)
    edges = list({(rnd.randrange(30), rnd.randrange(30))
                  for _ in range(70)})
    got = {r["id"]: r["mis_round"]
           for r in maximal_independent_set(
               edges_df(spark, edges), seed=7).collect()}
    assert got == _mis_python(edges, 7)


def test_mis_independent_and_maximal(spark):
    rnd = random.Random(5)
    edges = list({(rnd.randrange(60), rnd.randrange(60))
                  for _ in range(200)})
    mis = {r["id"] for r in maximal_independent_set(
        edges_df(spark, edges), seed=1).collect()}
    nbrs = _und_nbrs(edges)
    verts = {v for e in edges for v in e}
    assert all(not (nbrs.get(v, set()) & mis) for v in mis)
    assert all(v in mis or (nbrs.get(v, set()) & mis) for v in verts)


def test_mis_self_loop_only_vertex_round1(spark):
    got = {r["id"]: r["mis_round"]
           for r in maximal_independent_set(
               edges_df(spark, [(0, 1), (5, 5)]), seed=3).collect()}
    assert got[5] == 1                  # isolated in the simple graph
    assert 0 in got or 1 in got


def test_mis_empty_graph(spark):
    e = spark.createDataFrame([], "src BIGINT, dst BIGINT")
    assert maximal_independent_set(e).count() == 0


# ---------------------------------------------------- token budget

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _ntok(text):
    return len(_WS.split(text.strip().lower()))


def _dev(doc_id, seed):
    h = hashlib.md5(f"sample:{seed}:{doc_id}".encode()).hexdigest()
    return int(h[:15], 16)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING,"
                                       " lang STRING")


def test_token_budget_matches_python_oracle(spark):
    rows = [(i, " ".join(f"w{j}" for j in range(3 + i % 5)),
             ["en", "de"][i % 2]) for i in range(40)]
    budgets = {"en": 40, "de": 25}
    got = {(r["doc_id"], r["stratum"], r["n_tok"])
           for r in token_budget_sample(
               _docs(spark, rows), budgets, seed=11).collect()}
    totals: dict[str, int] = {}
    for i, text, lang in rows:
        totals[lang] = totals.get(lang, 0) + _ntok(text)
    want = set()
    for i, text, lang in rows:
        rate = min(1.0, budgets[lang] / totals[lang])
        thr = int(np.floor(rate * float(_HASH_SPACE)))
        if _dev(i, 11) < thr:
            want.add((i, lang, _ntok(text)))
    assert got == want
    assert got                          # the fixture keeps something


def test_token_budget_rate_caps_at_one(spark):
    rows = [(i, "a b c", "en") for i in range(10)]
    kept = token_budget_sample(_docs(spark, rows), {"en": 10**9}).collect()
    assert len(kept) == 10              # rate 1.0 keeps every row


def test_token_budget_drops_unbudgeted_stratum(spark):
    rows = [(1, "a b", "en"), (2, "a b", "fr")]
    kept = token_budget_sample(_docs(spark, rows), {"en": 10**9}).collect()
    assert {r["stratum"] for r in kept} == {"en"}


def test_token_budget_rejects_negative(spark):
    with pytest.raises(ValueError):
        token_budget_sample(_docs(spark, [(1, "a", "en")]),
                            {"en": -1}).collect()


def test_token_budget_stats_consistent_with_sample(spark):
    rows = [(i, " ".join("x" for _ in range(1 + i % 7)),
             ["en", "de", "zh"][i % 3]) for i in range(60)]
    budgets = {"en": 30, "de": 10**9, "zh": 0}
    docs = _docs(spark, rows)
    kept = token_budget_sample(docs, budgets, seed=3).collect()
    stats = {r["stratum"]: r
             for r in token_budget_stats(docs, budgets, seed=3).collect()}
    by_stratum: dict[str, list] = {}
    for r in kept:
        by_stratum.setdefault(r["stratum"], []).append(r["n_tok"])
    for stratum, s in stats.items():
        toks = by_stratum.get(stratum, [])
        assert s["kept_docs"] == len(toks)
        assert s["kept_tok"] == sum(toks)
    assert stats["de"]["rate"] == 1.0
    assert stats["zh"]["kept_docs"] == 0 and stats["zh"]["rate"] == 0.0
    # expectation sanity: en kept mass is in the budget's ballpark
    assert 0 < stats["en"]["kept_tok"] <= stats["en"]["total_tok"]


# ---------------------------------------------------------------------------
# Modularity


def _brute_modularity(edges, labels):
    """Newman Q over the undirected simple graph, per community."""
    und = {tuple(sorted((s, d))) for s, d in edges if s != d}
    m = len(und)
    deg: dict[int, int] = {}
    for lo, hi in und:
        deg[lo] = deg.get(lo, 0) + 1
        deg[hi] = deg.get(hi, 0) + 1
    out = {}
    for c in set(labels.values()):
        e_c = sum(1 for lo, hi in und
                  if labels[lo] == c and labels[hi] == c)
        d_c = sum(v for k, v in deg.items() if labels[k] == c)
        out[c] = (e_c, d_c, e_c / m - (d_c / (2 * m)) ** 2)
    return out


def test_modularity_two_cliques(spark):
    """Two triangles bridged by one edge, labeled by clique: a
    partition with known-good Q (= 2*(3/7 - (7/14)^2) = 0.357142857)."""
    from pagerank_spark.operators import modularity, modularity_score

    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (0, 3)]
    labels = {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}
    exp = _brute_modularity(edges, labels)

    edf = edges_df(spark, edges)
    ldf = spark.createDataFrame(list(labels.items()), "id BIGINT, label BIGINT")
    got = {r["label"]: (r["intra_edges"], r["degree_sum"], r["contribution"])
           for r in modularity(edf, ldf).collect()}
    assert set(got) == set(exp)
    for c in exp:
        assert got[c][0] == exp[c][0]
        assert got[c][1] == exp[c][1]
        assert got[c][2] == pytest.approx(exp[c][2], abs=1e-6)

    q = modularity_score(edf, ldf).collect()[0]
    assert q["n_communities"] == 2
    assert q["modularity"] == pytest.approx(
        sum(v[2] for v in exp.values()), abs=1e-6)


def test_modularity_singleton_partition_and_dupes(spark):
    """Labels = own id (the LPA init): every community contributes
    -(deg/2m)^2 except... intra edges only where an edge joins equal
    labels — here none.  Duplicate and self-loop edges are collapsed
    first, matching the triangles/assortativity convention."""
    from pagerank_spark.operators import modularity

    edges = [(0, 1), (1, 0), (0, 0), (1, 2)]   # dupe + self-loop
    labels = {0: 0, 1: 1, 2: 2}
    exp = _brute_modularity([(0, 1), (1, 2)], labels)
    edf = edges_df(spark, edges)
    ldf = spark.createDataFrame(list(labels.items()), "id BIGINT, label BIGINT")
    got = {r["label"]: (r["intra_edges"], r["degree_sum"], r["contribution"])
           for r in modularity(edf, ldf).collect()}
    assert set(got) == set(exp)
    for c in exp:
        assert got[c] == (exp[c][0], exp[c][1], pytest.approx(exp[c][2], abs=1e-6))


def test_conductance_two_cliques(spark):
    """Same bridged-triangles fixture: each community has exactly the
    one bridge as cut, vol 7 of 2m=14, so phi = 1/7 on both sides."""
    from pagerank_spark.operators import conductance

    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (0, 3)]
    labels = {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}
    edf = edges_df(spark, edges)
    ldf = spark.createDataFrame(list(labels.items()), "id BIGINT, label BIGINT")
    got = {r["label"]: (r["cut_edges"], r["volume"], r["conductance"])
           for r in conductance(edf, ldf).collect()}
    assert got[0] == (1, 7, pytest.approx(1 / 7, abs=1e-6))
    assert got[3] == (1, 7, pytest.approx(1 / 7, abs=1e-6))


def test_conductance_whole_graph_is_null(spark):
    """One community holding all volume: denominator min(vol, 2m-vol)
    = 0, conductance NULL; an isolated-from-it second community of one
    edge gets cut 0 -> conductance 0."""
    from pagerank_spark.operators import conductance

    edges = [(0, 1), (1, 2), (7, 8)]
    labels = {0: 0, 1: 0, 2: 0, 7: 7, 8: 7}
    edf = edges_df(spark, edges)
    ldf = spark.createDataFrame(list(labels.items()), "id BIGINT, label BIGINT")
    got = {r["label"]: (r["cut_edges"], r["volume"], r["conductance"])
           for r in conductance(edf, ldf).collect()}
    assert got[0] == (0, 4, pytest.approx(0.0))
    assert got[7] == (0, 2, pytest.approx(0.0))
