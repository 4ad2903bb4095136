"""Hub-salting equivalence (FIXTURES.md F4 'skew / salting'): the
salted gather join must produce exactly the same results as the plain
join, on a power-law graph with a mega-hub."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pagerank_spark import datagen, graph, skew
from pagerank_spark.operators import pagerank


@pytest.fixture(scope="module")
def hub_graph(spark):
    edges = datagen.power_law_graph(
        spark, n_vertices=2000, n_edges=20_000, seed=42, hub_fraction=0.3)
    return graph.prepare(edges)


def test_salted_gather_equals_plain(spark, hub_graph):
    g = hub_graph
    ranks_w = g.out_deg.select(
        F.col("id").alias("src"),
        (F.lit(1.0) / F.col("out_deg")).alias("w"))

    plain = (g.edges.join(ranks_w, "src").groupBy("dst")
             .agg(F.sum("w").alias("contrib")))
    hot = skew.hot_vertices(g.out_deg, threshold=50)
    salted_edges = skew.salt_edges(g.edges, hot, num_salts=8)
    salted = skew.salted_gather(salted_edges, ranks_w, hot, num_salts=8)

    a = {r["dst"]: r["contrib"] for r in plain.collect()}
    b = {r["dst"]: r["contrib"] for r in salted.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-12)


def test_salt_edges_covers_all_edges(spark, hub_graph):
    g = hub_graph
    hot = skew.hot_vertices(g.out_deg, threshold=50)
    salted = skew.salt_edges(g.edges, hot, num_salts=8)
    assert salted.count() == g.edges.count()
    # hot srcs spread across >1 salt; cold srcs all salt 0
    spread = (salted.join(hot, "src", "left_semi")
              .select("salt").distinct().count())
    assert spread > 1
    cold = (salted.join(hot, "src", "left_anti")
            .select("salt").distinct().collect())
    assert [r["salt"] for r in cold] == [0]


def test_auto_mode_selects_salted_on_power_law(spark, hub_graph):
    # The hub fixture's max out-degree dwarfs |E|/partitions: the auto
    # decision must pick salted and derive a threshold below that hub.
    from pagerank_spark.operators.pagerank import _probe_salting

    mode, thresh = _probe_salting(hub_graph.edges, hub_graph.out_deg)
    assert mode == "salted"
    max_deg = hub_graph.out_deg.agg(F.max("out_deg")).first()[0]
    assert thresh is not None and 0 < thresh < max_deg


def test_auto_mode_selects_shuffle_on_uniform(spark):
    # A near-regular graph (every src degree ~ |E|/|V|, far below the
    # per-partition share) must NOT salt.
    from pagerank_spark.operators.pagerank import _probe_salting

    edges = spark.range(0, 5000).select(
        (F.col("id") % 500).alias("src"),
        ((F.col("id") * 7 + 3) % 500).alias("dst"))
    g = graph.prepare(edges)
    mode, thresh = _probe_salting(g.edges, g.out_deg)
    assert mode == "shuffle" and thresh is None


def test_pagerank_auto_salted_equals_broadcast(spark, hub_graph):
    # Force the auto path off broadcast (broadcast_max_vertices=0):
    # it must flip to salted on this power-law graph and produce the
    # same iterates as the broadcast gather, bit-for-bit at 1e-12.
    g = hub_graph
    base = pagerank(g, max_iter=12, gather_mode="broadcast")
    auto = pagerank(g, max_iter=12, broadcast_max_vertices=0)
    assert base.iterations == auto.iterations
    a = {r["id"]: r["pr"] for r in base.ranks.collect()}
    b = {r["id"]: r["pr"] for r in auto.ranks.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_pagerank_salted_equals_unsalted(spark, hub_graph):
    # fixed 20-iteration horizon: equivalence of the salted plan is
    # exact at every iterate, so a full convergence run adds nothing.
    g = hub_graph
    base = pagerank(g, max_iter=20, gather_mode="broadcast")
    salted = pagerank(g, max_iter=20, salt_threshold=50, num_salts=8)
    assert base.iterations == salted.iterations
    a = {r["id"]: r["pr"] for r in base.ranks.collect()}
    b = {r["id"]: r["pr"] for r in salted.ranks.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def _spy_modes(monkeypatch, module=None):
    """Record the gather mode every plan_gather call in ``module``
    resolves to.  HITS imports plan_gather by name; the PageRank-family
    operators run through the shared driver, which looks it up in
    ``operators/pagerank.py`` (the default ``module``)."""
    import importlib

    pr_mod = importlib.import_module("pagerank_spark.operators.pagerank")
    module = module or pr_mod
    modes = []
    orig = pr_mod.plan_gather

    def wrapper(*a, **kw):
        plan = orig(*a, **kw)
        modes.append(plan.mode)
        return plan

    monkeypatch.setattr(module, "plan_gather", wrapper)
    return modes


def test_ppr_auto_salted_equals_broadcast(spark, hub_graph, monkeypatch):
    # Off-broadcast, the shared degree probe must auto-select salted
    # for the PPR loop (AQE is suspended there — salting is its only
    # skew defence) and reproduce the broadcast iterates bit-for-bit.
    from pagerank_spark.operators import ppr as ppr_mod

    base = ppr_mod.personalized_pagerank(hub_graph, [0], max_iter=10,
                                         gather_mode="broadcast")
    modes = _spy_modes(monkeypatch)
    auto = ppr_mod.personalized_pagerank(hub_graph, [0], max_iter=10,
                                         broadcast_max_vertices=0)
    assert modes == ["salted"]
    a = {r["id"]: r["pr"] for r in base.ranks.collect()}
    b = {r["id"]: r["pr"] for r in auto.ranks.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_weighted_auto_salted_equals_broadcast(spark, hub_graph, monkeypatch):
    from pagerank_spark.operators import weighted as w_mod

    ew = hub_graph.edges.withColumn(
        "weight", (F.col("src") % 3 + 1).cast("double"))
    base = w_mod.weighted_pagerank(ew, max_iter=10, gather_mode="broadcast")
    modes = _spy_modes(monkeypatch)
    auto = w_mod.weighted_pagerank(ew, max_iter=10,
                                   broadcast_max_vertices=0)
    assert modes == ["salted"]
    a = {r["id"]: r["pr"] for r in base.ranks.collect()}
    b = {r["id"]: r["pr"] for r in auto.ranks.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_katz_auto_salted_equals_broadcast(spark, hub_graph, monkeypatch):
    from pagerank_spark.operators import katz as katz_mod

    base = katz_mod.katz_centrality(hub_graph, alpha=0.001, max_iter=6,
                                    tol=0.0, gather_mode="broadcast")
    modes = _spy_modes(monkeypatch)
    auto = katz_mod.katz_centrality(hub_graph, alpha=0.001, max_iter=6,
                                    tol=0.0, broadcast_max_vertices=0)
    assert modes == ["salted"]
    a = {r["id"]: r["katz"] for r in base.ranks.collect()}
    b = {r["id"]: r["katz"] for r in auto.ranks.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_hits_auto_salted_equals_broadcast(spark, hub_graph, monkeypatch):
    # The forward (authority) gather probes OUT-degrees — the hub
    # fixture's skew axis — and must salt; the reversed (hub) gather
    # probes in-degrees and decides independently.
    import importlib

    hits_mod = importlib.import_module("pagerank_spark.operators.hits")

    g = hub_graph
    base = {r["id"]: (r["hub"], r["auth"])
            for r in hits_mod.hits(g.edges, n=g.n, max_iter=6).collect()}
    modes = _spy_modes(monkeypatch, hits_mod)
    monkeypatch.setattr(hits_mod, "BROADCAST_MAX_VERTICES", 0)
    got = {r["id"]: (r["hub"], r["auth"])
           for r in hits_mod.hits(g.edges, n=g.n, max_iter=6).collect()}
    assert len(modes) == 2 and modes[0] == "salted"
    assert got.keys() == base.keys()
    for v in base:
        assert got[v][0] == pytest.approx(base[v][0], abs=1e-12)
        assert got[v][1] == pytest.approx(base[v][1], abs=1e-12)
