"""Connected components via alternating large-star / small-star.

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
"Connected Components in MapReduce and Beyond" (SOCC'14) — the
two-round alternating algorithm, which converges in O(log² n) rounds
(O(log n) in practice) and, unlike naive min-label flooding, keeps the
intermediate edge set SHRINKING: every round rewires nodes directly to
their current component minimum, so at 100 TB the per-round shuffle
volume decays geometrically instead of staying at |E|.

The reference engine has no component operator; this is mandated
beyond it (BASELINE.json north star: "connected components via
iterative min-label hash-join propagation (large-star/small-star)").

DataFrame formulation over an undirected edge set Γ:

  large-star:  per u, m = min(N(u) ∪ {u});  emit (v, m) for v in N(u), v > u
  small-star:  per u, S = {v in N(u) : v < u} ∪ {u}, m = min(S);
               emit (v, m) for v in S, v != m

Each step is: groupBy-min (partial agg) + broadcast/shuffle hash join
+ filter — no collect of edge data to the driver.  Convergence is
detected with a constant-size aggregate (count + order-insensitive
xxhash64 checksum of the edge set), one driver collect per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, scoped_checkpoint
from pagerank_spark.graph import symmetrize


def _min_neighbor(edges: DataFrame) -> DataFrame:
    """(src, m) where m = min(Γ(src) ∪ {src})."""
    return edges.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Requires a SYMMETRIC input edge set (Γ(u) must contain every
    neighbor).  Output rows (v, m) always satisfy v > m, i.e. they are
    already (hi, lo)-oriented — exactly the orientation ``_small_star``
    normalizes to, so no symmetrize (union + dedupe exchange) is needed
    between the two phases; ``_small_star``'s own orientation dedupe
    also subsumes a dedupe here (one fewer shuffle per round)."""
    m = _min_neighbor(edges)
    return (
        edges.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # Orient every edge small←large: (hi, lo) with hi > lo, then per hi
    # compute m = min(lo ∪ {hi}) and emit (v, m) for v ∈ lo-set ∪ {hi}, v ≠ m.
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).dropDuplicates(["src", "dst"])
    m = _min_neighbor(oriented)  # min over smaller-neighbors ∪ self
    nbr_emit = (
        oriented.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_emit = m.select(F.col("src"), F.col("m").alias("dst"))
    return (
        nbr_emit.unionByName(self_emit)
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    # bit_xor: order-insensitive, overflow-free (ANSI-safe) set digest.
    row = edges.agg(
        F.count(F.lit(1)).alias("c"),
        F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
    ).first()
    return int(row["c"] or 0), int(row["h"] or 0)


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
) -> DataFrame:
    """(id, component) for every vertex incident to an edge; component
    label = min vertex id in the component (FIXTURES.md F4 contract).

    Self-loop semantics (explicit): a vertex whose ONLY edge is a
    self-loop is still incident to an edge, so it appears in the output
    labelled by itself — the vertex set is built from the RAW edge
    table, while propagation runs on the symmetrized (self-loop-free)
    edge set.  This matches the union-find oracle in tests/oracles.py
    and the driver's DuckDB oracle.

    Callers that follow the reference's dense-domain semantics should
    union in isolated ids labelled by themselves (see
    ``components_with_domain``).
    """
    spark = edges.sparkSession
    # Durable truncation cadence — see operators/pagerank.py for why
    # localCheckpoint alone is insufficient (stats-estimate blowup).
    with scoped_checkpoint(checkpoint, "cc_ckpt_", lambda root: CheckpointManager(
            spark, root, interval=8)) as (checkpoint, owned):
        return _components(spark, edges, max_iter, checkpoint, owned, resume)


def _components(spark, edges: DataFrame, max_iter: int,
                checkpoint: CheckpointManager, owned: bool,
                resume: bool) -> DataFrame:
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )

    if resume and checkpoint.latest_iteration() is not None:
        it = checkpoint.latest_iteration()
        cur = checkpoint.read_state(it).persist()
    else:
        it = 0
        # Initial symmetrization WITHOUT dedupe: on a dense multigraph
        # the |2E|-row dropDuplicates is the single biggest shuffle of
        # the whole run, and it buys nothing — the per-vertex min
        # aggregations are duplicate-insensitive, and small-star's
        # orientation dedupe canonicalizes the (much smaller) star
        # output before it ever grows.  Measured on a 578M-edge graph:
        # the full-run wall time drops ~2x.
        fwd = edges.select("src", "dst")
        rev = edges.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst"))
        cur = (fwd.unionByName(rev)
               .where(F.col("src") != F.col("dst"))
               .persist())
    prev_sig = _edge_checksum(cur)
    # Size the round exchanges to the DATA the loop moves: prev_sig
    # already carries the exact symmetrized edge count for free, and
    # the working set only SHRINKS from there (star rewires), so the
    # initial width is an upper bound for every round.  Same policy
    # and rationale as graph.prepare — on a tiny pair graph (e.g. the
    # near-dup cluster closure) the session width schedules
    # mostly-empty tasks each round and launch overhead dominates; at
    # web scale the session cap binds and this is a no-op.
    from pagerank_spark.graph import EDGES_PER_PARTITION
    from pagerank_spark.session import sized_shuffle

    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_width = max(
        min(shuffle_parts, prev_sig[0] // EDGES_PER_PARTITION + 1),
        min(8, shuffle_parts),
    )
    durable = False
    with sized_shuffle(spark, loop_width):
        while it < max_iter:
            it += 1
            ls = _large_star(cur)
            # large-star's output is already (hi, lo)-oriented and
            # small-star re-orients internally, so it consumes ls
            # directly; only the round's final edge set needs
            # symmetrizing (next large-star wants full neighborhoods).
            # One symmetrize per round, not two.
            nxt = symmetrize(_small_star(ls))
            durable = checkpoint.should_checkpoint(it)
            if durable:
                nxt = checkpoint.write_state(nxt, it).persist()
            else:
                # Truncate lineage each round (plan doubles per round).
                nxt = nxt.localCheckpoint(eager=True)
            sig = _edge_checksum(nxt)
            cur.unpersist()
            cur = nxt
            if durable:
                checkpoint.write_metrics(
                    it, {"edges": float(sig[0]),
                         "checksum": float(sig[1] % 2**31)})
            if sig == prev_sig:
                break
            prev_sig = sig
    if owned and durable:
        # The last edge set was read back from the temporary root.
        cur, read_back = cur.localCheckpoint(eager=True), cur
        read_back.unpersist()

    # At the fixpoint the (hi→lo) orientation is a star forest: every
    # non-root points directly at its component min.
    labels = (
        cur.select(F.greatest("src", "dst").alias("id"),
                   F.least("src", "dst").alias("component"))
        .groupBy("id").agg(F.min("component").alias("component"))
    )
    return (
        vertices.join(labels, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def components_with_domain(edges: DataFrame, n: int) -> DataFrame:
    """Components over the full dense domain [0, n): isolated vertices
    (reference quirk Q3 — in-domain ids with no edges) label themselves."""
    spark = edges.sparkSession
    comp = connected_components(edges)
    domain = spark.range(0, n).withColumnRenamed("id", "id")
    return (
        domain.join(comp, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )
