"""Maximal matching via deterministic local-max rounds, plus the
matching-contraction coarsener built on it.

Beyond-reference operators (the reference engine is fixed-function
PageRank, ``/root/reference/pagerank/src/lib/pagerank.cpp``): a
maximal matching is the workhorse primitive of multilevel graph
processing — METIS-style coarsening, graph sparsification, and
load-collapsing before an expensive operator all contract a matching.
The parallel scheme is the classic local-max edge matching
(Israeli-Itai '86 family, the same round shape Luby MIS uses on the
line graph): each round every surviving edge draws a priority, an
edge is matched iff its priority is the minimum among ALL edges
incident to either endpoint, matched endpoints leave the game, and
the surviving edge set shrinks by a constant fraction per round in
expectation — O(log |E|) rounds, geometrically decaying per-round
shuffle volume (the k-core / MIS peel property that holds at 100 TB).

Determinism & tie-safety: the priority is the engine-portable STRING
key ``md5('match:<seed>:<round>:<lo>:<hi>') || ':' || lo || ':' || hi``
— the md5 prefix is a fresh uniform draw per round (same hash family
as ``mis.mis_priority``), and the ``lo:hi`` suffix makes the key
UNIQUE per edge, so the per-vertex ``min(key)`` argmin is a total
order: two winning edges can never share a vertex even under an md5
collision (the suffix then breaks the tie identically in both
engines).  A run is a pure function of ``seed`` and replays bit-equal
in the DuckDB unrolled-CTE oracle.

Physical strategy per round (all established shapes): one union +
map-side-combined min-agg for the per-vertex minimum key, two
broadcast-sized equi-joins to test the edge's key at both endpoints,
two anti-joins to drop matched endpoints, |matched|-row round outputs
eagerly localCheckpointed, and the shrinking edge table on the shared
durable CheckpointManager cadence.

``coarsen_graph`` contracts the matching METIS-style: every matched
pair collapses into its ``lo`` endpoint, unmatched vertices map to
themselves, contracted parallel edges combine into an integer
``weight`` (multiplicity of deduped input edges), self-loops drop —
the output is directly consumable by every operator here (and by
``weighted_pagerank`` via its weight column).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, scoped_checkpoint

# |V|-row map sides at or below this bound are broadcast into the
# edge partitions (same bound class as bfs/pagerank/scc).
BROADCAST_MAX_STATE = 5_000_000


def match_key(lo_col, hi_col, seed: int, rnd: int):
    """Unique portable edge priority for round ``rnd`` (module
    docstring): fresh 128-bit md5 draw, edge identity as tiebreak."""
    return F.concat_ws(
        ":",
        F.md5(F.concat_ws(":", F.lit("match"), F.lit(str(seed)),
                          F.lit(str(rnd)), lo_col.cast("string"),
                          hi_col.cast("string"))),
        lo_col.cast("string"), hi_col.cast("string"))


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """(lo, hi) — one row per undirected simple edge, lo < hi."""
    return (
        edges.select(
            F.least(F.col("src"), F.col("dst")).cast("bigint").alias("lo"),
            F.greatest(F.col("src"), F.col("dst")).cast("bigint").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .dropDuplicates(["lo", "hi"])
    )


def maximal_matching(
    edges: DataFrame,
    seed: int = 42,
    max_rounds: int = 200,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
) -> DataFrame:
    """(lo, hi, match_round) — the edges of a maximal matching of the
    simple undirected graph (direction, self-loops, multiplicity
    discarded), tagged with the round that matched them.

    Matching (vertex-disjointness) and maximality (every surviving
    edge has a matched endpoint) are exact; WHICH maximal matching is
    selected is a pure function of ``seed``.  Raises if ``max_rounds``
    is exhausted with edges still unmatched (a partial matching must
    never masquerade as maximal — the SCC/MIS round-budget contract).
    """
    spark = edges.sparkSession
    und = _canonical_edges(edges).persist()
    with scoped_checkpoint(checkpoint, "match_ckpt_", lambda root: CheckpointManager(
            spark, root, interval=checkpoint_interval)) as (checkpoint, _):
        cur = und
        n_edges = cur.count()
        matched: list[DataFrame] = []
        rnd = 0
        try:
            while n_edges > 0:
                rnd += 1
                if rnd > max_rounds:
                    raise RuntimeError(
                        f"maximal_matching: {n_edges} edges still active "
                        f"after {max_rounds} rounds")
                pri = cur.select(
                    "lo", "hi",
                    match_key(F.col("lo"), F.col("hi"), seed, rnd).alias("k"))
                # Per-vertex minimum key over incident edges (map-side
                # combined; the union is two zero-shuffle projections).
                vmin = (
                    pri.select(F.col("lo").alias("id"), "k")
                    .unionByName(pri.select(F.col("hi").alias("id"), "k"))
                    .groupBy("id").agg(F.min("k").alias("mk"))
                )
                win = (
                    pri
                    .join(vmin.select(F.col("id").alias("lo"),
                                      F.col("mk").alias("mkl")), "lo")
                    .join(vmin.select(F.col("id").alias("hi"),
                                      F.col("mk").alias("mkh")), "hi")
                    .where((F.col("k") == F.col("mkl"))
                           & (F.col("k") == F.col("mkh")))
                    .select("lo", "hi",
                            F.lit(rnd).cast("bigint").alias("match_round"))
                    .localCheckpoint(eager=True)
                )
                matched.append(win)
                gone = (
                    win.select(F.col("lo").alias("id"))
                    .unionByName(win.select(F.col("hi").alias("id")))
                )
                nxt = (
                    cur.join(gone.withColumnRenamed("id", "lo"),
                             "lo", "left_anti")
                    .join(gone.withColumnRenamed("id", "hi"),
                          "hi", "left_anti")
                    .select("lo", "hi")
                )
                if checkpoint.should_checkpoint(rnd):
                    # Durable plan reset + per-round lineage/metrics row.
                    nxt = checkpoint.write_state(nxt, rnd).persist()
                    checkpoint.write_metrics(rnd, {"edges": float(n_edges)})
                else:
                    nxt = nxt.persist()
                n_edges = nxt.count()
                if cur is not und:
                    cur.unpersist()
                cur = nxt
        finally:
            if cur is not und:
                cur.unpersist()
            und.unpersist()
        if not matched:
            return spark.createDataFrame(
                [], "lo BIGINT, hi BIGINT, match_round BIGINT")
        return reduce(DataFrame.unionByName, matched)


def matching_vertex_map(edges: DataFrame,
                        matching: DataFrame) -> DataFrame:
    """(id, rep) for every vertex mentioned in ``edges``: matched
    pairs collapse into their ``lo`` endpoint, unmatched vertices map
    to themselves."""
    verts = (
        edges.select(F.col("src").cast("bigint").alias("id"))
        .unionByName(edges.select(F.col("dst").cast("bigint").alias("id")))
        .distinct()
    )
    pair_map = (
        matching.select(F.col("lo").alias("id"), F.col("lo").alias("rep"))
        .unionByName(
            matching.select(F.col("hi").alias("id"),
                            F.col("lo").alias("rep")))
    )
    return (
        verts.join(pair_map, "id", "left")
        .select("id", F.coalesce(F.col("rep"), F.col("id")).alias("rep"))
    )


def coarsen_graph(edges: DataFrame,
                  matching: DataFrame | None = None,
                  seed: int = 42) -> DataFrame:
    """(src, dst, weight) — the multilevel-coarsened simple graph:
    both endpoints mapped through :func:`matching_vertex_map`,
    contracted self-loops dropped, contracted parallel edges combined
    into an integer ``weight`` (multiplicity of DEDUPED input edges —
    input multiplicity never inflates a contracted weight), canonical
    src < dst orientation.

    ``matching`` defaults to a fresh :func:`maximal_matching` run with
    ``seed``.  The |V|-row vertex map broadcasts under the engine-wide
    bound (shuffled hash joins above it — AQE is live here, so the
    skew backstop applies); the projection + count is one
    map-side-combinable aggregation over |E|.
    """
    if matching is None:
        matching = maximal_matching(edges, seed=seed)
    vmap = matching_vertex_map(edges, matching).localCheckpoint(eager=True)
    small = vmap.count() <= BROADCAST_MAX_STATE

    def side(col, rep):
        s = vmap.select(F.col("id").alias(col), F.col("rep").alias(rep))
        return F.broadcast(s) if small else s

    und = _canonical_edges(edges)
    return (
        und.join(side("lo", "rs"), "lo")
        .join(side("hi", "rd"), "hi")
        .where(F.col("rs") != F.col("rd"))
        .select(F.least("rs", "rd").alias("src"),
                F.greatest("rs", "rd").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
