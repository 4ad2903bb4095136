"""Fiedler vector (algebraic connectivity direction) via
shifted-Laplacian power iteration — distributed spectral bisection.

Beyond-reference operator (the reference engine is fixed-function
PageRank, ``/root/reference/pagerank/src/lib/pagerank.cpp``): the
sign pattern of the Laplacian's second eigenvector is the classic
spectral 2-partition of a graph (Fiedler '73; the seed cut of
spectral clustering and of multilevel partitioners), and its
eigenvalue λ₂ — algebraic connectivity — is the standard
bottleneck/expander diagnostic of a link graph.

Formulation: with L = D − A and a shift c ≥ λ_max(L) (we use the
Gershgorin-safe c = 2·max_deg, an exact integer), the matrix
B = cI − L is PSD with spectrum reversed, so power iteration on B
restricted to the complement of the trivial all-ones eigenvector
converges to the Fiedler direction.  Per step:

    w   = (c − d) ∘ v + A·v          (one gather matvec + per-row affine)
    w'  = w − mean(w)                (deflate the all-ones component)
    v'  = w' / ||w'||₂

The A·v gather runs through the SHARED ``pagerank.plan_gather`` over
the symmetrized edge table (broadcast below the engine bound, degree-
probed shuffle/salted above it), so each iteration costs exactly one
PageRank-shaped matvec plus TWO constant-size scalar collects (Σw for
the mean; Σw'² for the norm) — the |V|-row state never collects.

Cross-engine determinism: v is quantized to ``QUANT`` digits after
each normalize (the labelspread/pca protocol), so the summation-order
ulp between Spark partial aggregates and DuckDB's cannot reach the
next iterate; v₀ is the deterministic ±1 alternating vector (id
parity), which has a nonzero component on every nontrivial
eigenspace in general position and is replayed exactly by the oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, scoped_checkpoint
from pagerank_spark.operators.pagerank import plan_gather
from pagerank_spark.graph import symmetrize

# Broadcast the |V|-row state side below this bound — engine-wide class.
BROADCAST_MAX_VERTICES = 5_000_000
# Per-step quantization of the normalized iterate (decimal digits).
QUANT = 12


def fiedler_vector(
    edges: DataFrame,
    n: int | None = None,
    iterations: int = 20,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
) -> DataFrame:
    """(id, fiedler) over the dense domain [0, N) after ``iterations``
    shifted power steps on the simple undirected graph (direction,
    self-loops, multiplicity discarded); ||fiedler||₂ = 1 up to the
    per-step quantization, mean(fiedler) = 0 (deflated), sign(fiedler)
    is the spectral bisection.

    Isolated vertices have Laplacian row 0, so under the shift they
    behave as c·v — the deflation keeps the iterate mean-free across
    the WHOLE domain (the standard whole-graph convention; run per
    component for per-component cuts).
    """
    from pagerank_spark.session import sized_shuffle, static_plan

    spark = edges.sparkSession
    und = symmetrize(edges)
    if n is None:
        row = und.agg(F.max(F.greatest("src", "dst")).alias("m")).first()
        if row is None or row["m"] is None:
            return spark.createDataFrame([], "id BIGINT, fiedler DOUBLE")
        n = int(row["m"]) + 1
    und = und.persist()
    deg = (und.groupBy(F.col("src").alias("id"))
           .agg(F.count(F.lit(1)).alias("out_deg")))
    max_deg_row = deg.agg(F.max("out_deg").alias("m")).first()
    max_deg = int(max_deg_row["m"] or 0)
    if max_deg == 0:
        und.unpersist()
        return (spark.range(0, n)
                .select("id", F.lit(0.0).alias("fiedler")))
    c = 2 * max_deg                       # exact integer shift

    plan = plan_gather(und, deg, n,
                       broadcast_max_vertices=BROADCAST_MAX_VERTICES)
    loop_width = und.rdd.getNumPartitions()
    try:
        # The loop returns an eagerly checkpointed result: nothing it
        # returns reads from the manager's root.
        with static_plan(spark), \
                sized_shuffle(spark, loop_width), \
                scoped_checkpoint(checkpoint, "fiedler_ckpt_", lambda root: CheckpointManager(
                    spark, root, interval=checkpoint_interval)) as (checkpoint, _):
            return _fiedler_loop(spark, plan, deg, n, c, iterations,
                                 checkpoint)
    finally:
        plan.release()
        und.unpersist()


def _fiedler_loop(spark, plan, deg, n: int, c: int, iterations: int,
                  checkpoint: CheckpointManager) -> DataFrame:
    # v0: ±1 alternating by id parity, normalized and quantized the
    # same way every later iterate is (exactly replayed by the oracle).
    inv = 1.0 / math.sqrt(n)
    state = (
        spark.range(0, n)
        .select("id",
                F.round(F.when(F.col("id") % 2 == 0, F.lit(inv))
                        .otherwise(F.lit(-inv)), QUANT).alias("v"))
        .join(deg.select("id", F.col("out_deg").alias("d")), "id", "left")
        .select("id", "v",
                F.coalesce(F.col("d"), F.lit(0)).cast("double").alias("d"))
        .persist()
    )
    state.count()
    state_cached = state
    for it in range(1, iterations + 1):
        g = (
            plan.gather(state.select(F.col("id").alias("src"),
                                     F.col("v").alias("w")))
            .select(F.col("dst").alias("id"), F.col("contrib").alias("g"))
        )
        w = (
            state.join(g, "id", "left")
            .select(
                "id", "d",
                ((F.lit(float(c)) - F.col("d")) * F.col("v")
                 + F.coalesce(F.col("g"), F.lit(0.0))).alias("w"))
        )
        if checkpoint.should_checkpoint(it):
            w = checkpoint.write_state(w, it).persist()
        else:
            w = w.localCheckpoint(eager=False)
        # Scalar collect 1: the all-ones component.
        mean = float(w.agg(F.sum("w").alias("s")).first()["s"] or 0.0) / n
        # Scalar collect 2: the centered L2 norm.
        nrm2 = float(
            w.agg(F.sum((F.col("w") - F.lit(mean))
                        * (F.col("w") - F.lit(mean))).alias("s"))
            .first()["s"] or 0.0)
        if checkpoint.should_checkpoint(it):
            checkpoint.write_metrics(it, {"mean": mean, "norm2": nrm2})
        nrm = math.sqrt(nrm2)
        if nrm == 0.0:
            new_state = w.select(
                "id", "d", F.lit(0.0).alias("v")).persist()
            new_state.count()
            state_cached.unpersist()
            state = state_cached = new_state
            break
        new_state = w.select(
            "id", "d",
            F.round((F.col("w") - F.lit(mean)) / F.lit(nrm), QUANT)
            .alias("v")).persist()
        new_state.count()
        state_cached.unpersist()
        state = state_cached = new_state
    out = state.select("id", F.col("v").alias("fiedler")) \
        .localCheckpoint(eager=True)
    state_cached.unpersist()
    return out
