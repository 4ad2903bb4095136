"""Deterministic random-walk corpus generation (DeepWalk-style).

Not in the reference engine (fixed-function PageRank,
``/root/reference/pagerank/src/lib/pagerank.cpp``); walk corpora are
the training-data face of a link graph — the input skip-gram graph
embeddings (DeepWalk/node2vec) are trained on — and at web scale they
are generated exactly like this: one frontier of walker heads,
advanced one hop per superstep, never materializing more than
|walkers| rows of state per step plus the edge table it probes.

Determinism: the "random" next hop from vertex u at step t of walk w
is the out-neighbor v minimizing

    md5(w || ':' || t || ':' || v) || lpad(v, 12, '0')

— a keyed hash order, so (a) results are reproducible bit-for-bit
across runs/engines (md5 is the portable hash family every other
operator here uses for cross-engine checks), (b) each (walk, step)
draws an independent uniform pick among the neighbors, and (c) the
12-digit zero-padded id suffix breaks md5-collision ties totally.
The pick is one map-side-combined ``min`` aggregate per step — no
window, no per-row Python.

Physical strategy mirrors bfs.py: walk over the symmetrized edge set
(directed web graphs strand walkers on sinks; DeepWalk walks are
undirected), the walker frontier — whose row count the driver knows
EXACTLY (it only shrinks, from |starts|) — broadcasts into the cached
edge partitions, with the one-time src re-layout fallback above the
broadcast bound.  Per-step lineage is truncated; a durable checkpoint
cadence keeps long walks resumable-class.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, detach, scoped_checkpoint
from pagerank_spark.operators.bfs import BROADCAST_MAX_FRONTIER


def _hop_key(walk_col, step: int, dst_col):
    """The portable deterministic ordering key for one candidate hop."""
    return F.concat(
        F.md5(F.concat(walk_col.cast("string"), F.lit(f":{step}:"),
                       dst_col.cast("string"))),
        F.lpad(dst_col.cast("string"), 12, "0"))


def random_walks(
    edges: DataFrame,
    starts: DataFrame | Sequence[int] | None = None,
    num_steps: int = 4,
    directed: bool = False,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """(walk_id, step, id): one walk per start vertex (walk_id = the
    start id), advanced ``num_steps`` hops with the keyed-hash pick
    above.  ``starts=None`` walks from every vertex incident to an
    edge.  A walker with no out-neighbor (possible only when
    ``directed=True``) stops early; its later steps are absent.
    """
    und, starts = _prepare_walk(edges, starts, directed, dedupe=False)
    try:
        with scoped_checkpoint(checkpoint, "walks_ckpt_", lambda root: CheckpointManager(
                edges.sparkSession, root, interval=8)) as (checkpoint, owned):
            return _walk_loop(und, starts, num_steps, checkpoint, owned)
    finally:
        und.unpersist()


def _prepare_walk(edges: DataFrame, starts, directed: bool, dedupe: bool):
    """Shared walk preamble: (persisted) walk edge set and normalized
    starts.  ``dedupe=True`` for loops whose
    pick is duplicate-SENSITIVE (node2vec's candidate replication);
    the min-pick loops skip the |2E| dedupe shuffle."""
    spark = edges.sparkSession
    fwd = edges.select("src", "dst")
    halves = [fwd]
    if not directed:
        halves.append(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    und = (
        halves[0] if len(halves) == 1 else halves[0].unionByName(halves[1])
    )
    und = und.where(F.col("src") != F.col("dst"))
    if dedupe:
        und = und.dropDuplicates(["src", "dst"])
    und = und.persist()
    if starts is None:
        starts = und.select(F.col("src").alias("id")).distinct()
    elif not isinstance(starts, DataFrame):
        starts = spark.createDataFrame(
            [(int(s),) for s in starts], "id BIGINT")
    else:
        starts = starts.select(F.col(starts.columns[0]).alias("id"))
    return und, starts


def _walk_loop(und: DataFrame, starts: DataFrame, num_steps: int,
               checkpoint: CheckpointManager, owned: bool) -> DataFrame:
    heads = (
        starts.select(F.col("id").cast("bigint").alias("walk_id"))
        .distinct()
        .select("walk_id", F.lit(0).cast("int").alias("step"),
                F.col("walk_id").alias("id"))
        .persist()
    )
    out = heads
    head_rows = heads.count()
    laid_out = durable = False
    for t in range(1, num_steps + 1):
        small = head_rows <= BROADCAST_MAX_FRONTIER
        if not small and not laid_out:
            relaid = und.repartition(
                und.rdd.getNumPartitions(), "src").persist()
            relaid.count()
            und.unpersist()
            und = relaid
            laid_out = True
        f_side = (heads.where(F.col("step") == t - 1)
                  .select("walk_id", F.col("id").alias("src")))
        nxt = (
            und.join(F.broadcast(f_side) if small else f_side, "src")
            .groupBy("walk_id")
            .agg(F.min(_hop_key(F.col("walk_id"), t, F.col("dst")))
                 .alias("key"))
            .select("walk_id", F.lit(t).cast("int").alias("step"),
                    F.expr("right(key, 12)").cast("bigint").alias("id"))
        )
        merged = out.unionByName(nxt)
        durable = checkpoint.should_checkpoint(t)
        if durable:
            merged = checkpoint.write_state(merged, t).persist()
        else:
            merged = merged.localCheckpoint(eager=False)
        row = merged.agg(
            F.sum((F.col("step") == t).cast("long")).alias("alive")).first()
        alive = int(row["alive"] or 0)
        if durable:
            checkpoint.write_metrics(t, {"alive": float(alive)})
        heads.unpersist()
        heads = merged.where(F.col("step") == t).persist() if alive else None
        out = merged
        head_rows = alive
        if alive == 0:
            break
    if heads is not None:
        heads.unpersist()
    if laid_out:
        und.unpersist()
    return detach(out, owned, durable).select("walk_id", "step", "id")


def node2vec_walks(
    edges: DataFrame,
    starts: DataFrame | Sequence[int] | None = None,
    num_steps: int = 3,
    return_weight: int = 1,
    common_weight: int = 4,
    forward_weight: int = 2,
    directed: bool = False,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """(walk_id, step, id): second-order biased walks (node2vec,
    Grover & Leskovec KDD'16).  Step 1 is the uniform first-order pick
    of :func:`random_walks`; from step 2 on, the candidate hop ``x``
    from ``cur`` (having arrived from ``prev``) is weighted by the
    node2vec search bias α:

      * ``x == prev``              → ``return_weight``   (α = 1/p)
      * ``x`` adjacent to ``prev`` → ``common_weight``   (α = 1)
      * otherwise                  → ``forward_weight``  (α = 1/q)

    Weights are INTEGERS (p = common/return, q = common/forward), so
    the weighted draw is exact: each candidate edge is replicated
    ``w`` times (``explode(sequence(1, w))``) and the walker takes the
    copy minimizing the keyed md5 order — pure integer + hash
    arithmetic, reproducible bit-for-bit by any engine with md5
    (the same portability contract as :func:`random_walks`; an
    external SQL oracle replays it with ``generate_series`` +
    ``CASE``).  A zero weight removes that candidate class entirely.

    Physical strategy: the per-step frontier carries (walk_id, prev,
    cur); candidates come from one probe of the cached symmetric edge
    set on ``cur``, and the α class needs one extra probe on the
    (prev, x) pair — the second |E|-sized join per step is inherent
    to second-order walks (every distributed node2vec does it; the
    alternative, materializing per-vertex neighbor sets, is the same
    bytes pivoted).  Both joins broadcast the frontier side under
    ``BROADCAST_MAX_FRONTIER``; candidate replication multiplies rows
    by at most ``max(weights)`` BEFORE the map-side-combined min, so
    no replicated row ever crosses the shuffle.  The edge set is
    deduplicated once at build (replication, unlike min-pick, is
    duplicate-SENSITIVE).  Per-step lineage is truncated with the
    durable cadence of every loop in this package.
    """
    for name, w in (("return_weight", return_weight),
                    ("common_weight", common_weight),
                    ("forward_weight", forward_weight)):
        if not isinstance(w, int) or w < 0:
            raise ValueError(f"{name} must be a non-negative int, got {w!r}")
    if max(return_weight, common_weight, forward_weight) == 0:
        raise ValueError("at least one node2vec weight must be positive")
    # dedupe=True is REQUIRED here (not in random_walks): a duplicated
    # edge would be replicated twice and double its candidate mass.
    und, starts = _prepare_walk(edges, starts, directed, dedupe=True)
    try:
        # The loop returns an eagerly checkpointed result: nothing it
        # returns reads from the manager's root.
        with scoped_checkpoint(checkpoint, "n2v_ckpt_", lambda root: CheckpointManager(
                edges.sparkSession, root, interval=8)) as (checkpoint, _):
            return _node2vec_loop(und, starts, num_steps, return_weight,
                                  common_weight, forward_weight, checkpoint)
    finally:
        und.unpersist()


def _n2v_key(walk_col, step: int, dst_col, copy_col):
    """Keyed order for one REPLICATED candidate hop: the copy index is
    folded into the hash so each of the w copies draws independently."""
    return F.concat(
        F.md5(F.concat(walk_col.cast("string"), F.lit(f":{step}:"),
                       dst_col.cast("string"), F.lit("#"),
                       copy_col.cast("string"))),
        F.lpad(dst_col.cast("string"), 12, "0"))


def _node2vec_loop(und: DataFrame, starts: DataFrame, num_steps: int,
                   wr: int, wc: int, wf: int,
                   checkpoint: CheckpointManager) -> DataFrame:
    frontier = (
        starts.select(F.col("id").cast("bigint").alias("walk_id"))
        .distinct()
        .select("walk_id", F.lit(None).cast("bigint").alias("prev"),
                F.col("walk_id").alias("cur"))
        .persist()
    )
    out = frontier.select("walk_id", F.lit(0).cast("int").alias("step"),
                          F.col("cur").alias("id"))
    out = out.localCheckpoint(eager=False)
    f_rows = frontier.count()
    # The α-class pair probe joins the per-step candidate set (2|E|
    # rows when every vertex walks) against this table on BOTH
    # endpoints.  Materialize it hash-partitioned on exactly the join
    # key once: HashPartitioning(p_src, p_dst) satisfies the join's
    # required distribution, so every later step shuffles ONLY the
    # candidate side — the adjacency never re-exchanges.
    n_parts = max(und.rdd.getNumPartitions(), 1)  # 0 when und is empty
    adj = (und.select(F.col("src").alias("p_src"),
                      F.col("dst").alias("p_dst"),
                      F.lit(1).alias("p_hit"))
           .repartition(n_parts, "p_src", "p_dst")
           .persist())
    laid_out = False
    for t in range(1, num_steps + 1):
        small = f_rows <= BROADCAST_MAX_FRONTIER
        if not small and not laid_out:
            # Above the broadcast bound the candidate probe becomes a
            # shuffle join every step; pay the src re-layout of the
            # cached edge set ONCE instead (random_walks' laid_out
            # branch) so later steps exchange only the frontier side.
            relaid = und.repartition(n_parts, "src").persist()
            relaid.count()
            und.unpersist()
            und = relaid
            laid_out = True
        f_side = frontier.select("walk_id", "prev",
                                 F.col("cur").alias("src"))
        if small:
            f_side = F.broadcast(f_side)
        cand = und.join(f_side, "src")
        if t == 1:
            # First hop is first-order uniform — random_walks' pick.
            picked = (
                cand.groupBy("walk_id")
                .agg(F.min(_hop_key(F.col("walk_id"), t, F.col("dst")))
                     .alias("key"))
                .select("walk_id",
                        F.expr("right(key, 12)").cast("bigint").alias("nxt"))
            )
        else:
            flagged = cand.join(
                adj,
                (F.col("prev") == F.col("p_src"))
                & (F.col("dst") == F.col("p_dst")),
                "left")
            w = (F.when(F.col("dst") == F.col("prev"), F.lit(wr))
                 .when(F.col("p_hit").isNotNull(), F.lit(wc))
                 .otherwise(F.lit(wf)))
            flagged = flagged.select("walk_id", "dst", w.alias("w"))
            copies = flagged.select(
                "walk_id", "dst",
                F.explode(F.when(F.col("w") >= 1,
                                 F.sequence(F.lit(1), F.col("w")))
                          .otherwise(F.array())).alias("c"))
            picked = (
                copies.groupBy("walk_id")
                .agg(F.min(_n2v_key(F.col("walk_id"), t, F.col("dst"),
                                    F.col("c"))).alias("key"))
                .select("walk_id",
                        F.expr("right(key, 12)").cast("bigint").alias("nxt"))
            )
        nxt_frontier = (
            frontier.join(picked, "walk_id")
            .select("walk_id", F.col("cur").alias("prev"),
                    F.col("nxt").alias("cur"))
        )
        if checkpoint.should_checkpoint(t):
            nxt_frontier = checkpoint.write_state(nxt_frontier, t).persist()
        else:
            nxt_frontier = nxt_frontier.persist()
        step_rows = nxt_frontier.select(
            "walk_id", F.lit(t).cast("int").alias("step"),
            F.col("cur").alias("id"))
        # Fold the step into the accumulator and run the convergence
        # aggregate over IT (the _walk_loop pattern): the lazy
        # localCheckpoint materializes NOW, while this step's frontier
        # is still cached — otherwise nothing realizes `out` until the
        # final eager checkpoint, which would then re-execute every
        # step's |E|-sized candidate and pair joins from unpersisted
        # frontiers (~2x total work).
        out = out.unionByName(step_rows).localCheckpoint(eager=False)
        row = out.agg(
            F.sum((F.col("step") == t).cast("long")).alias("alive")).first()
        alive = int(row["alive"] or 0)
        if checkpoint.should_checkpoint(t):
            checkpoint.write_metrics(t, {"alive": float(alive)})
        frontier.unpersist()
        frontier = nxt_frontier
        f_rows = alive
        if alive == 0:
            break
    result = out.select("walk_id", "step", "id").localCheckpoint(eager=True)
    frontier.unpersist()
    adj.unpersist()
    if laid_out:
        und.unpersist()   # the relaid copy; the caller releases its own
    return result
