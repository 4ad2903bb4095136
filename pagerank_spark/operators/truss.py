"""K-truss decomposition: the maximal subgraph where every edge is
supported by at least k-2 triangles (within the subgraph).

Not in the reference engine (fixed-function PageRank,
``/root/reference/pagerank/src/lib/pagerank.cpp``); the truss is the
edge-analog of the k-core — the standard cohesive-subgraph query a
link-graph analyst runs to find the dense community core — and its
distributed form is exactly this iterated peel (Cohen '08; the shape
used by Pregel/GraphX implementations):

    repeat:  support(e) = #triangles containing e  (over survivors)
             drop every edge with support < k-2
    until the edge set stops shrinking

Scale design: per-round triangle enumeration reuses the
degree-oriented wedge join (operators/triangles.py — O(E^{3/2})
worst-case wedge volume, hub-proof); the edge set only SHRINKS, so
per-round cost decays monotonically — the same property that makes
k-core and large-star/small-star viable at 100 TB.  Round lineage is
truncated with the shared durable CheckpointManager cadence (k-core's
pattern): every ``checkpoint_interval`` rounds the survivors are
written durably and re-read, resetting plan + stats growth and making
deep peels resumable-class artifacts with per-round metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, scoped_checkpoint
from pagerank_spark.graph import symmetrize
from pagerank_spark.operators.triangles import triangles


def k_truss(edges: DataFrame, k: int, max_rounds: int = 1000,
            checkpoint: CheckpointManager | None = None,
            checkpoint_interval: int = 8) -> DataFrame:
    """(lo, hi) — the id-canonical undirected edges of the k-truss.

    ``k <= 2`` returns the whole simple undirected edge set (every
    edge is trivially a 2-truss).
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    spark = edges.sparkSession
    cur = (symmetrize(edges)
           .where(F.col("src") < F.col("dst"))
           .select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
           .persist())
    if k <= 2:
        out = cur.localCheckpoint(eager=True)
        cur.unpersist()
        return out
    with scoped_checkpoint(checkpoint, "truss_ckpt_", lambda root: CheckpointManager(
            spark, root, interval=checkpoint_interval)) as (checkpoint, _):
        n_prev = cur.count()
        rnd = 0
        for _ in range(max_rounds):
            rnd += 1
            sym = cur.select(F.col("lo").alias("src"), F.col("hi").alias("dst")) \
                .unionByName(cur.select(F.col("hi").alias("src"),
                                        F.col("lo").alias("dst")))
            round_caches: list = []
            t = triangles(sym, symmetrized=True, caches=round_caches)
            # Each triangle supports its three edges; normalize every
            # projection to the id-canonical (lo < hi) form (the apex `a`
            # is min by DEGREE order, not id).
            supp_edges = (
                t.select(F.least("a", "b").alias("lo"),
                         F.greatest("a", "b").alias("hi"))
                .unionByName(t.select(F.least("a", "c").alias("lo"),
                                      F.greatest("a", "c").alias("hi")))
                .unionByName(t.select(F.least("b", "c").alias("lo"),
                                      F.greatest("b", "c").alias("hi")))
            )
            strong = (supp_edges.groupBy("lo", "hi")
                      .agg(F.count(F.lit(1)).alias("supp"))
                      .where(F.col("supp") >= k - 2)
                      .select("lo", "hi"))
            nxt = cur.join(strong, ["lo", "hi"], "left_semi")
            if checkpoint.should_checkpoint(rnd):
                nxt = checkpoint.write_state(nxt, rnd).persist()
            else:
                # Lineage MUST truncate every round: the round expression
                # references `cur` four times (symmetrize union, wedge
                # self-join, closing union, support semi-join), so a
                # persist-only chain grows the logical plan ~4^rounds and
                # OOMs the driver on plan analysis alone by round ~8
                # (observed).  The id-canonical survivor set is |E|/2 rows
                # and shrinks monotonically, so an RDD localCheckpoint is
                # cheap here (unlike the |2E| case graph.prepare_prebuilt
                # documents); lazy so it materializes inside the count.
                nxt = nxt.localCheckpoint(eager=False)
            n = nxt.count()
            while round_caches:
                round_caches.pop().unpersist()
            if checkpoint.should_checkpoint(rnd):
                checkpoint.write_metrics(rnd, {"survivors": float(n)})
            cur.unpersist()
            cur = nxt
            if n == n_prev or n == 0:
                break
            n_prev = n
        out = cur.select("lo", "hi").localCheckpoint(eager=True)
        cur.unpersist()
        return out
