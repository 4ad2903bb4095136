"""HITS (hubs & authorities) — Kleinberg's link-analysis companion
to PageRank.

The reference engine computes only PageRank
(``/root/reference/pagerank/src/lib/pagerank.cpp:195-242``); HITS is
the natural second centrality for a link-graph suite (same gather
shape, mutually-recursive instead of self-recursive):

    a_un(v) = Σ_{(u,v) ∈ E} h(u)          (authority: gathered over in-edges)
    h_un(v) = Σ_{(v,w) ∈ E} a_un(w)       (hub: gathered over out-edges)
    a = a_un / ||a_un||₂ ,  h = h_un / ||h_un||₂

Both normalizations fold into ONE scalar collect per iteration: the
hub update is linear, so normalizing ``a_un`` before or after the hub
gather differs only by the scalar ``||a_un||₂``, which cancels inside
``h_un / ||h_un||₂``.  Each iteration is therefore two gathers over
the cached edge table plus a single constant-size aggregate — the
same per-iteration shuffle profile as the PageRank loop (the |E| side
never moves; only the two |V|-row score tables exchange for their
partial aggs).

Physical strategy: each gather runs through the SHARED
``pagerank.plan_gather``, once over the forward edge table keyed by
``src`` (authority gather, probed against OUT-degrees) and once over
the reversed table keyed by the original ``dst`` (hub gather, probed
against IN-degrees).  Below the broadcast bound both plans are
zero-|E|-shuffle broadcast joins over one shared cache; above it each
plan lays out its own copy ONCE (the dual-layout trade: 2x cache
footprint, amortized over every iteration) — and because the loop
runs with AQE suspended, the degree probe's hub-salting is the only
skew defence it gets, upgrading either side independently (a web
graph's in-degree skew is usually much worse than its out-degree
skew).

Init: h = 1 for every vertex in the dense domain [0, N) (the usual
HITS start); vertices with no in-/out-edges settle at score 0 after
the first normalize.  Convergence: L1 delta over (a, h) < ``tol`` or
``max_iter``, whichever first — fixed-k runs match an unrolled SQL
oracle exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, detach, scoped_checkpoint
from pagerank_spark.operators.pagerank import plan_gather

# Broadcast the |V|-row score side below this many vertices — same
# threshold/rationale as operators/pagerank.py gather_mode="auto".
BROADCAST_MAX_VERTICES = 5_000_000


def hits(
    edges: DataFrame,
    n: int | None = None,
    tol: float = 1e-10,
    max_iter: int = 100,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
) -> DataFrame:
    """(id, hub, auth) after HITS power iteration on the directed
    edge table, L2-normalized each step.

    ``n`` is the dense vertex-domain size; derived from the max id
    when omitted.  Parallel edges are deduplicated (reference dedupe
    semantics, ``pagerank.cpp:28-37``: multiplicity never inflates a
    gather).
    """
    from pagerank_spark.session import sized_shuffle, static_plan

    spark = edges.sparkSession
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    if n is None:
        row = e.agg(F.max(F.greatest("src", "dst")).alias("m")).first()
        if row is None or row["m"] is None:
            return spark.createDataFrame([], "id BIGINT, hub DOUBLE, auth DOUBLE")
        n = int(row["m"]) + 1
    # Columnar SQL cache, not an RDD localCheckpoint: compressed
    # columnar blocks are several times smaller at web scale (see
    # graph.prepare_prebuilt), and the static plan above the cache
    # keeps per-iteration re-analysis constant-size.
    e = e.persist()
    e.count()
    loop_width = e.rdd.getNumPartitions()
    # Two gather plans over the SAME cached dedupe, keyed by opposite
    # endpoints.  The reversed frame is a zero-cost projection of the
    # cache below the broadcast bound; above it each plan builds (and
    # owns) its one-time layout — src-keyed for the authority gather,
    # original-dst-keyed for the hub gather — probed against out- and
    # in-degrees respectively (module docstring).
    e_rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    fwd = plan_gather(
        e, e.groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("out_deg")),
        n, broadcast_max_vertices=BROADCAST_MAX_VERTICES)
    rev = plan_gather(
        e_rev, e.groupBy(F.col("dst").alias("id"))
               .agg(F.count(F.lit(1)).alias("out_deg")),
        n, broadcast_max_vertices=BROADCAST_MAX_VERTICES)
    try:
        with static_plan(spark), \
                sized_shuffle(spark, loop_width), \
                scoped_checkpoint(checkpoint, "hits_ckpt_", lambda root: CheckpointManager(
                    spark, root, interval=checkpoint_interval)) as (checkpoint, owned):
            return _hits_loop(spark, fwd, rev, n, tol, max_iter,
                              checkpoint, owned)
    finally:
        fwd.release()
        rev.release()
        e.unpersist()


def _hits_loop(spark, fwd, rev, n: int,
               tol: float, max_iter: int,
               checkpoint: CheckpointManager, owned: bool) -> DataFrame:
    state = (
        spark.range(0, n)
        .select("id", F.lit(1.0).alias("hub"), F.lit(0.0).alias("auth"))
        .persist()
    )
    it = 0
    while it < max_iter:
        it += 1
        # Authority gather: a_un(v) = Σ h(u) over in-edges (u, v).
        hubs = state.select(F.col("id").alias("src"),
                            F.col("hub").alias("w"))
        a_un = (
            fwd.gather(hubs)
            .select(F.col("dst").alias("id"), F.col("contrib").alias("a_un"))
        )
        # Hub gather: h_un(v) = Σ a_un(w) over out-edges (v, w) — a
        # gather over the REVERSED edge table; unnormalized
        # authorities, ||a_un||₂ cancels in h's own normalize (module
        # docstring).
        a_side = a_un.select(F.col("id").alias("src"),
                             F.col("a_un").alias("w"))
        h_un = (
            rev.gather(a_side)
            .select(F.col("dst").alias("id"), F.col("contrib").alias("h_un"))
        )
        raw = (
            state
            .join(a_un, "id", "left")
            .join(h_un, "id", "left")
            .select(
                "id", "hub", "auth",
                F.coalesce(F.col("a_un"), F.lit(0.0)).alias("a_un"),
                F.coalesce(F.col("h_un"), F.lit(0.0)).alias("h_un"),
            )
        )
        raw_cached = None
        if checkpoint.should_checkpoint(it):
            raw = checkpoint.write_state(raw, it).persist()
            raw_cached = raw
        else:
            raw = raw.localCheckpoint(eager=False)
        # ONE constant-size collect: both L2 norms in a single agg.
        norms = raw.agg(
            F.sum(F.col("a_un") * F.col("a_un")).alias("na2"),
            F.sum(F.col("h_un") * F.col("h_un")).alias("nh2"),
        ).first()
        na = math.sqrt(float(norms["na2"] or 0.0))
        nh = math.sqrt(float(norms["nh2"] or 0.0))
        if na == 0.0 or nh == 0.0:
            # Graph with no edges reachable from the init — all-zero
            # scores are the fixpoint.
            state.unpersist()
            state = raw.select("id", F.lit(0.0).alias("hub"),
                               F.lit(0.0).alias("auth")).persist()
            if raw_cached is not None:
                state.count()
                raw_cached.unpersist()
            break
        new_state = raw.select(
            "id",
            (F.col("h_un") / F.lit(nh)).alias("hub"),
            (F.col("a_un") / F.lit(na)).alias("auth"),
            (F.abs(F.col("h_un") / F.lit(nh) - F.col("hub"))
             + F.abs(F.col("a_un") / F.lit(na) - F.col("auth"))).alias("_delta"),
        )
        # Fixed-k mode (tol <= 0, the oracle-matched face) never stops
        # early — skip the convergence aggregate entirely, halving the
        # per-iteration scalar collects.
        if tol > 0.0 or checkpoint.should_checkpoint(it):
            row = new_state.agg(F.sum("_delta").alias("l1")).first()
            l1 = float(row["l1"] or 0.0)
            if checkpoint.should_checkpoint(it):
                checkpoint.write_metrics(it, {"l1": l1})
        else:
            l1 = None
        state.unpersist()
        state = new_state.select("id", "hub", "auth").persist()
        if raw_cached is not None:
            # Release the checkpoint-iteration cache once the new state
            # replaces it (its plan re-reads the durable parquet, so
            # dropping the cache never recomputes the gathers) —
            # otherwise one |V|-row cached table accumulates per
            # cadence hit and survives after hits() returns.
            state.count()
            raw_cached.unpersist()
        if l1 is not None and l1 < tol:
            break
    durable = it > 0 and checkpoint.should_checkpoint(it)
    return detach(state, owned, durable).select("id", "hub", "auth")
