"""Maximal independent set via deterministic Luby rounds.

Beyond-reference operator (the reference engine is fixed-function
PageRank, ``/root/reference/pagerank/src/lib/pagerank.cpp``): Luby's
classic parallel MIS (1986) — each round every still-active vertex
draws a priority, joins the MIS iff its priority beats every active
neighbor's, and winners plus their neighborhoods leave the game.
Expected O(log |V|) rounds; the surviving edge set shrinks by a
constant fraction per round in expectation, so per-round shuffle
volume decays geometrically (the same property that makes
large-star/small-star and the k-core peel viable at 100 TB).

Determinism: the "random" priority is the engine-portable 60-bit md5
deviate ``md5('mis:<seed>:<round>:<id>')`` (same hash family as
``curation.sample_deviate`` / the simhash planes), so a run is
reproducible across engines, reruns and cluster sizes, and the DuckDB
oracle replays the identical rounds.  A strict ``<`` against the
per-round hash breaks ties safely: equal priorities (a ~2^-60 event)
just defer both vertices to the next round's fresh hashes.

Physical strategy per round (all established shapes): one |E_active|
join + map-side-combined min-agg for the neighborhood priority
minimum, one left-anti to shrink the active set, two semi-joins to
restrict the edge table (the k-core peel shape), |V|-row round
outputs eagerly localCheckpointed, and the shrinking edge table on
the shared durable CheckpointManager cadence so a deep adversarial
instance (a long path peels in O(log) rounds, but a pathological
hash sequence cannot grow the plan unboundedly either) re-analyzes a
constant-size plan.

Self-loops are dropped by the engine-wide simple-graph convention; a
vertex whose only edge is a self-loop is isolated and enters the MIS
in round 1.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, scoped_checkpoint
from pagerank_spark.graph import symmetrize

# Any value strictly above the 60-bit deviate space: an isolated
# active vertex (no neighbor-minimum row) always wins its round.
_PRIORITY_INF = 1 << 62


def mis_priority(id_col, seed: int, rnd: int):
    """60-bit uniform priority for vertex ``id`` in round ``rnd`` —
    leading 15 hex chars of md5('mis:<seed>:<round>:<id>')."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit("mis"), F.lit(str(seed)),
                              F.lit(str(rnd)), id_col.cast("string"))),
            1, 15),
        16, 10,
    ).cast("bigint")


def maximal_independent_set(
    edges: DataFrame,
    seed: int = 42,
    max_rounds: int = 200,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
) -> DataFrame:
    """(id, mis_round) — the members of a maximal independent set of
    the simple undirected graph, tagged with the Luby round that
    admitted them.

    Independence and maximality are exact (every vertex incident to
    an edge is either in the set or adjacent to a member); WHICH
    maximal set is selected is a pure function of ``seed``.  Raises
    if ``max_rounds`` is exhausted with vertices still undecided
    (a partial labeling must never masquerade as a complete one —
    the SCC operator's round-budget contract).
    """
    spark = edges.sparkSession
    und = symmetrize(edges).persist()
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    active = verts.localCheckpoint(eager=True)
    n_active = active.count()
    if n_active == 0:
        und.unpersist()
        return spark.createDataFrame([], "id BIGINT, mis_round BIGINT")
    with scoped_checkpoint(checkpoint, "mis_ckpt_", lambda root: CheckpointManager(
            spark, root, interval=checkpoint_interval)) as (checkpoint, _):
        cur = und
        winners: list[DataFrame] = []
        rnd = 0
        try:
            while n_active > 0:
                rnd += 1
                if rnd > max_rounds:
                    raise RuntimeError(
                        f"maximal_independent_set: {n_active} vertices still "
                        f"active after {max_rounds} rounds")
                pri = active.select(
                    "id", mis_priority(F.col("id"), seed, rnd).alias("p"))
                # Minimum neighbor priority over the active-restricted
                # edge table (map-side combined).
                nbr_min = (
                    cur.join(pri.select(F.col("id").alias("dst"),
                                        F.col("p").alias("pd")), "dst")
                    .groupBy(F.col("src").alias("id"))
                    .agg(F.min("pd").alias("mp"))
                )
                win = (
                    pri.join(nbr_min, "id", "left")
                    .where(F.col("p")
                           < F.coalesce(F.col("mp"), F.lit(_PRIORITY_INF)))
                    .select("id", F.lit(rnd).cast("bigint").alias("mis_round"))
                    .localCheckpoint(eager=True)
                )
                winners.append(win)
                removed = (
                    win.select("id")
                    .unionByName(
                        cur.join(win.select(F.col("id").alias("src")),
                                 "src", "left_semi")
                        .select(F.col("dst").alias("id")))
                    .distinct()
                )
                active = active.join(removed, "id", "left_anti") \
                    .localCheckpoint(eager=True)
                n_active = active.count()
                if n_active == 0:
                    break
                nxt = (
                    cur.join(active.withColumnRenamed("id", "src"),
                             "src", "left_semi")
                    .join(active.withColumnRenamed("id", "dst"),
                          "dst", "left_semi")
                    .select("src", "dst")
                )
                if checkpoint.should_checkpoint(rnd):
                    # Durable plan reset + per-round lineage/metrics row.
                    nxt = checkpoint.write_state(nxt, rnd).persist()
                    checkpoint.write_metrics(rnd, {"active": float(n_active)})
                else:
                    nxt = nxt.persist()
                nxt.count()
                if cur is not und:
                    cur.unpersist()
                cur = nxt
        finally:
            if cur is not und:
                cur.unpersist()
            und.unpersist()
        return reduce(DataFrame.unionByName, winners)
