"""SALSA (Stochastic Approach for Link-Structure Analysis).

Beyond-reference link-analysis operator (the reference ships PageRank
only, ``/root/reference/pagerank/src/lib/pagerank.cpp:195-242``):
Lempel & Moran's degree-normalized alternative to HITS, the ranking
used by web-search and social-graph recommender stacks (e.g. the
who-to-follow literature) because it resists the tightly-knit-
community effect that inflates HITS scores.

Per step, over the deduplicated directed edge set E:

    a_un(v) = Σ_{(u,v) ∈ E} h(u) / out_deg(u)    (authority gather)
    h_un(u) = Σ_{(u,v) ∈ E} a_un(v) / in_deg(v)  (hub gather, reversed)
    a = a_un / ||a_un||₁ ,  h = h_un / ||h_un||₁

i.e. exactly the HITS mutual recursion with each contribution split
uniformly across the contributor's edges — one step of the SALSA
bipartite random walk — and L1 (probability) normalization instead of
L2.  As in HITS, the hub update is linear, so the authority
normalization folds into the hub's own normalize (the ``||a_un||₁``
scalar cancels): both norms come from ONE constant-size aggregate per
iteration.

Physical strategy: the per-edge split fractions ``1/out_deg(src)``
(forward) and ``1/in_deg(dst)`` (reverse) are precomputed ONCE into
the two cached edge layouts — the weighted-PageRank trade
(``operators/weighted.py``): the weight never re-normalizes in the
loop, so each iteration is the same join + groupBy-sum matvec as
every other loop here, running through the SHARED
``pagerank.plan_gather`` (broadcast below the module bound; above it
the degree probe picks the one-time re-layout or the hub-salted join
— the loop runs with AQE suspended, so salting is its only skew
defence).  Per-iteration shuffle is the two |V|-row score exchanges;
the |E| sides never move after layout.

Init: h = 1 over the dense domain [0, N) (matches the HITS face so
the two operators are directly comparable); isolated vertices settle
at 0 after the first normalize.  Convergence: L1 delta over (a, h) <
``tol`` or ``max_iter`` — fixed-k runs (tol <= 0) match an unrolled
SQL oracle exactly and skip the convergence aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, detach, scoped_checkpoint
from pagerank_spark.operators.pagerank import plan_gather

# Broadcast the |V|-row score side below this many vertices — same
# threshold/rationale as operators/pagerank.py gather_mode="auto".
BROADCAST_MAX_VERTICES = 5_000_000


def salsa(
    edges: DataFrame,
    n: int | None = None,
    tol: float = 1e-10,
    max_iter: int = 100,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
) -> DataFrame:
    """(id, hub, auth) after SALSA power iteration on the directed
    edge table, L1-normalized each step.

    ``n`` is the dense vertex-domain size; derived from the max id
    when omitted.  Parallel edges are deduplicated (reference dedupe
    semantics, ``pagerank.cpp:28-37``; SALSA is defined on the simple
    graph — multiplicity never inflates a degree or a gather).
    """
    from pagerank_spark.session import sized_shuffle, static_plan

    spark = edges.sparkSession
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    if n is None:
        row = e.agg(F.max(F.greatest("src", "dst")).alias("m")).first()
        if row is None or row["m"] is None:
            return spark.createDataFrame(
                [], "id BIGINT, hub DOUBLE, auth DOUBLE")
        n = int(row["m"]) + 1
    # Per-edge split fractions, precomputed once (module docstring).
    # Columnar SQL caches, not RDD checkpoints — same rationale as
    # hits/weighted: compressed batches are several times smaller at
    # web scale, and the static plan above them keeps per-iteration
    # re-analysis constant-size.
    out_deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    in_deg = e.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg"))   # plan_gather's probe name
    fwd_e = (
        e.join(out_deg.select(F.col("id").alias("src"),
                              (F.lit(1.0) / F.col("out_deg")).alias("f")),
               "src")
        .select("src", "dst", "f")
        .persist()
    )
    rev_e = (
        e.join(in_deg.select(F.col("id").alias("dst"),
                             (F.lit(1.0) / F.col("out_deg")).alias("f")),
               "dst")
        .select(F.col("dst").alias("src"), F.col("src").alias("dst"), "f")
        .persist()
    )
    fwd_e.count()
    rev_e.count()
    loop_width = fwd_e.rdd.getNumPartitions()
    # Two gather plans, keyed by opposite endpoints, probed against
    # the degree table of their own join key (hits.py's dual-layout
    # trade: below the broadcast bound both are zero-|E|-shuffle
    # projections of the caches above).
    fwd = plan_gather(fwd_e, out_deg, n,
                      broadcast_max_vertices=BROADCAST_MAX_VERTICES)
    rev = plan_gather(rev_e, in_deg, n,
                      broadcast_max_vertices=BROADCAST_MAX_VERTICES)
    try:
        with static_plan(spark), \
                sized_shuffle(spark, loop_width), \
                scoped_checkpoint(checkpoint, "salsa_ckpt_", lambda root: CheckpointManager(
                    spark, root, interval=checkpoint_interval)) as (checkpoint, owned):
            return _salsa_loop(spark, fwd, rev, n, tol, max_iter,
                               checkpoint, owned)
    finally:
        fwd.release()
        rev.release()
        fwd_e.unpersist()
        rev_e.unpersist()


def _salsa_loop(spark, fwd, rev, n: int,
                tol: float, max_iter: int,
                checkpoint: CheckpointManager, owned: bool) -> DataFrame:
    weighted = F.col("w") * F.col("f")
    state = (
        spark.range(0, n)
        .select("id", F.lit(1.0).alias("hub"), F.lit(0.0).alias("auth"))
        .persist()
    )
    it = 0
    while it < max_iter:
        it += 1
        # Authority gather: a_un(v) = Σ h(u)/out_deg(u) over in-edges.
        hubs = state.select(F.col("id").alias("src"),
                            F.col("hub").alias("w"))
        a_un = (
            fwd.gather(hubs, value=weighted)
            .select(F.col("dst").alias("id"), F.col("contrib").alias("a_un"))
        )
        # Hub gather: h_un(u) = Σ a_un(v)/in_deg(v) over out-edges — a
        # gather over the REVERSED weighted table from the
        # UNNORMALIZED authorities; ||a_un||₁ cancels in h's own
        # normalize (module docstring).
        a_side = a_un.select(F.col("id").alias("src"),
                             F.col("a_un").alias("w"))
        h_un = (
            rev.gather(a_side, value=weighted)
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
        # ONE constant-size collect: both L1 norms in a single agg
        # (scores are non-negative by induction, so the L1 norm is the
        # plain sum — no abs, same partial-agg shape as PageRank's Σpr).
        norms = raw.agg(
            F.sum(F.col("a_un")).alias("na"),
            F.sum(F.col("h_un")).alias("nh"),
        ).first()
        na = float(norms["na"] or 0.0)
        nh = float(norms["nh"] or 0.0)
        if na == 0.0 or nh == 0.0:
            # No edges reachable from the init — all-zero scores are
            # the fixpoint.
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
        # per-iteration scalar collects (hits.py pattern).
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
            # Release the cadence cache once the new state replaces it
            # (its plan re-reads the durable parquet) — one |V|-row
            # cache must not accumulate per cadence hit (hits.py
            # raw_cached pattern).
            state.count()
            raw_cached.unpersist()
        if l1 is not None and l1 < tol:
            break
    durable = it > 0 and checkpoint.should_checkpoint(it)
    return detach(state, owned, durable).select("id", "hub", "auth")
