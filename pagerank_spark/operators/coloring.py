"""Distributed greedy graph coloring via iterated deterministic-Luby
maximal independent sets.

Beyond-reference operator (the reference engine is fixed-function
PageRank, ``/root/reference/pagerank/src/lib/pagerank.cpp``): the
classic MIS-peeling coloring — color c is a maximal independent set
of the still-uncolored subgraph, repeated until every vertex is
colored.  Maximality gives the quality bound: a vertex colored in
round c was NOT in any earlier MIS, so (by maximality over the then-
active subgraph) it had a distinct neighbor in EVERY earlier one —
hence c <= deg(v) and the coloring uses at most Delta+1 colors, the
same guarantee as sequential greedy (Luby 1986 / Jones-Plassmann
1993 are the published parallel recipes).  Graph coloring is the
scheduling primitive of symbolic factorization, register-allocation-
style conflict problems and chromatic Gauss-Seidel.

Determinism: the per-(color, round) priority is the engine-portable
60-bit md5 deviate ``md5('color:<seed>:<color>:<round>:<id>')`` (the
``mis_priority`` family), so the full coloring is a pure function of
``seed`` and the DuckDB oracle replays the identical color rounds.

Physical strategy: the inner Luby rounds and outer color peels are
all established shapes — one |E_active| join + map-side-combined
min-agg per round, left-antis to shrink the candidate/active sets,
two semi-joins to restrict the edge table; |V|-row round outputs are
eagerly localCheckpointed and the shrinking edge table rides the
shared durable CheckpointManager cadence, so plan size stays constant
however many rounds a pathological instance needs.  Per-color edge
shrink is geometric in expectation (the MIS property), and the color
count is degree-bounded, so total work is O(|E| * Delta) worst case
and ~O(|E| * colors) in practice with every round a data-sized
shuffle — the same viability argument as the k-core peel at 100 TB.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, scoped_checkpoint
from pagerank_spark.graph import symmetrize
from pagerank_spark.operators.mis import _PRIORITY_INF


def color_priority(id_col, seed: int, color: int, rnd: int):
    """60-bit uniform priority for vertex ``id`` in Luby round ``rnd``
    of color ``color`` — leading 15 hex chars of
    md5('color:<seed>:<color>:<round>:<id>')."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit("color"), F.lit(str(seed)),
                              F.lit(str(color)), F.lit(str(rnd)),
                              id_col.cast("string"))),
            1, 15),
        16, 10,
    ).cast("bigint")


def greedy_coloring(
    edges: DataFrame,
    seed: int = 42,
    max_colors: int = 4096,
    max_rounds: int = 10_000,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
) -> DataFrame:
    """(id, color) — a proper vertex coloring of the simple undirected
    graph with colors 0..k-1, k <= Delta+1.

    Properness is exact (no edge joins two equal colors — asserted by
    the test fixtures and implied by MIS independence); WHICH proper
    coloring comes out is a pure function of ``seed``.  ``max_rounds``
    budgets the TOTAL inner Luby rounds across all colors and raises
    if exhausted with vertices uncolored (a partial labeling must
    never masquerade as a complete one — the SCC/MIS contract).
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
        return spark.createDataFrame([], "id BIGINT, color BIGINT")
    with scoped_checkpoint(checkpoint, "coloring_ckpt_", lambda root: CheckpointManager(
            spark, root, interval=checkpoint_interval)) as (checkpoint, _):
        cur = und          # edges among still-uncolored vertices
        results: list[DataFrame] = []
        grnd = 0           # global inner-round counter (cadence + budget)
        color = 0
        try:
            while n_active > 0:
                if color >= max_colors:
                    raise RuntimeError(
                        f"greedy_coloring: {n_active} vertices still "
                        f"uncolored after {max_colors} colors")
                # ---- inner deterministic-Luby MIS over (active, cur)
                cand = active
                cand_e = cur   # edges among current candidates
                mis_frames: list[DataFrame] = []
                inner_caches: list[DataFrame] = []
                while True:
                    grnd += 1
                    if grnd > max_rounds:
                        raise RuntimeError(
                            f"greedy_coloring: round budget {max_rounds} "
                            f"exhausted at color {color} with "
                            f"{n_active} vertices uncolored")
                    rnd = len(mis_frames) + 1
                    pri = cand.select(
                        "id",
                        color_priority(F.col("id"), seed, color, rnd)
                        .alias("p"))
                    nbr_min = (
                        cand_e.join(pri.select(F.col("id").alias("dst"),
                                               F.col("p").alias("pd")), "dst")
                        .groupBy(F.col("src").alias("id"))
                        .agg(F.min("pd").alias("mp"))
                    )
                    win = (
                        pri.join(nbr_min, "id", "left")
                        .where(F.col("p")
                               < F.coalesce(F.col("mp"),
                                            F.lit(_PRIORITY_INF)))
                        .select("id")
                        .localCheckpoint(eager=True)
                    )
                    mis_frames.append(win)
                    removed = (
                        win.unionByName(
                            cand_e.join(win.withColumnRenamed("id", "src"),
                                        "src", "left_semi")
                            .select(F.col("dst").alias("id")))
                        .distinct()
                    )
                    cand = cand.join(removed, "id", "left_anti") \
                        .localCheckpoint(eager=True)
                    if cand.count() == 0:
                        break
                    nxt_e = (
                        cand_e.join(cand.withColumnRenamed("id", "src"),
                                    "src", "left_semi")
                        .join(cand.withColumnRenamed("id", "dst"),
                              "dst", "left_semi")
                        .select("src", "dst")
                        .persist()
                    )
                    nxt_e.count()
                    inner_caches.append(nxt_e)
                    cand_e = nxt_e
                mis = reduce(DataFrame.unionByName, mis_frames) \
                    .localCheckpoint(eager=True)
                for c_ in inner_caches:
                    c_.unpersist()
                results.append(mis.select(
                    "id", F.lit(color).cast("bigint").alias("color")))
                # ---- peel the colored set off the active subgraph
                active = active.join(mis, "id", "left_anti") \
                    .localCheckpoint(eager=True)
                n_active = active.count()
                color += 1
                if n_active == 0:
                    break
                nxt = (
                    cur.join(active.withColumnRenamed("id", "src"),
                             "src", "left_semi")
                    .join(active.withColumnRenamed("id", "dst"),
                          "dst", "left_semi")
                    .select("src", "dst")
                )
                if checkpoint.should_checkpoint(color):
                    nxt = checkpoint.write_state(nxt, color).persist()
                    checkpoint.write_metrics(
                        color, {"active": float(n_active),
                                "rounds": float(grnd)})
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
        return reduce(DataFrame.unionByName, results)
