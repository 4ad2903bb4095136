"""Local graph-structure statistics: clustering coefficient, k-core
decomposition, degree distribution.

None of these exist in the reference engine (it is fixed-function
PageRank, ``/root/reference/pagerank/src/lib/pagerank.cpp``); they
round out the link-graph suite with the standard structural queries a
web-graph analyst runs next to centralities, built entirely from the
operators already proven at scale:

- clustering coefficient  = triangles (degree-oriented, O(E^{3/2})
  wedge bound) + one degree agg + one join;
- k-core                  = iterative peel — each round is a degree
  agg + two semi-joins, and the working edge set only shrinks, so
  per-round shuffle volume decays monotonically (the same property
  that makes large-star/small-star viable at 100 TB);
- degree distribution     = two map-side-combined aggs (the skew
  diagnostic that feeds the hub-salting threshold, skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, scoped_checkpoint
from pagerank_spark.graph import symmetrize
from pagerank_spark.operators.triangles import triangles_per_vertex


def _simple_undirected(edges: DataFrame) -> DataFrame:
    """One (src, dst) row per undirected edge pair direction, no
    self-loops, no parallel edges — symmetrize already dedupes and
    drops self-loops (graph.py:131)."""
    return symmetrize(edges)


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """(id, deg, triangles, lcc) per vertex with undirected degree ≥ 2.

    lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) over the simple
    undirected graph (direction, self-loops and multiplicity
    discarded — the standard definition).  Vertices of degree < 2
    have no defined coefficient and are omitted.
    """
    und = _simple_undirected(edges).persist()
    try:
        deg = und.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg"))
        # und IS the symmetric simple set (and persisted) — skip the
        # redundant second symmetrize inside the triangle orientation.
        tri = triangles_per_vertex(und, symmetrized=True)
        return (
            deg.where(F.col("deg") >= 2)
            .join(tri, "id", "left")
            .select(
                "id", "deg",
                F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
                (F.lit(2.0) * F.coalesce(F.col("triangles"), F.lit(0))
                 / (F.col("deg") * (F.col("deg") - F.lit(1)))).alias("lcc"),
            )
        )
    finally:
        und.unpersist()


def k_core(edges: DataFrame, k: int, max_rounds: int = 1000,
           checkpoint: CheckpointManager | None = None,
           checkpoint_interval: int = 8) -> DataFrame:
    """(id,) — vertices of the k-core: the maximal induced subgraph
    where every vertex has undirected degree ≥ k.

    Iterative peel: drop vertices with degree < k, restrict the edge
    set to survivors, repeat to fixpoint.  Each round is one degree
    aggregation and one semi-join per endpoint; the edge set only
    shrinks, so the convergence aggregate (one COUNT) is
    constant-size and rounds get geometrically cheaper on typical
    graphs.

    Lineage: the surviving edge set is re-persisted per round (a
    columnar SQL cache — an eager RDD localCheckpoint of an |2E|-row
    table blows the heap at web scale, see graph.prepare_prebuilt),
    which caches DATA but lets the logical plan grow by one degree
    agg + two semi-joins per peel; a DEEP cascade (hundreds of
    rounds — e.g. long chains peeled end-in) would re-analyze an
    ever-longer plan.  The shared CheckpointManager cadence bounds it
    exactly as in PageRank/CC: every ``checkpoint_interval`` rounds
    the surviving edges are written durably and re-read, resetting
    the plan to a parquet scan (and making long peels resumable-class
    artifacts with per-round metrics).
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    spark = edges.sparkSession
    # Columnar SQL cache, not an eager RDD localCheckpoint: at web
    # scale the |2E|-row symmetrized set as raw UnsafeRow checkpoint
    # blocks blows the heap where compressed columnar batches fit
    # (same rationale as graph.prepare_prebuilt; the round tables
    # below shrink monotonically from this bound).
    und = _simple_undirected(edges).persist()
    if k <= 1:
        # Every endpoint of the simple graph has degree >= 1.
        # Materialize (|V|-row table) so the symmetrize cache can be
        # released before returning instead of staying pinned forever.
        out = (und.select(F.col("src").alias("id")).distinct()
               .localCheckpoint(eager=True))
        und.unpersist()
        return out
    with scoped_checkpoint(checkpoint, "kcore_ckpt_", lambda root: CheckpointManager(
            spark, root, interval=checkpoint_interval)) as (checkpoint, _):
        cur = und
        n_prev = None
        keep = None
        rnd = 0
        for _ in range(max_rounds):
            rnd += 1
            deg = cur.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("deg"))
            keep = deg.where(F.col("deg") >= k).select("id").localCheckpoint(
                eager=True)  # |V|-row table: checkpoint cost is fine
            n = keep.count()
            if (n_prev is not None and n == n_prev) or n == 0:
                cur.unpersist()
                return keep.select("id")
            n_prev = n
            nxt = (
                cur.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .select("src", "dst")
            )
            if checkpoint.should_checkpoint(rnd):
                # Durable plan reset + per-round lineage/metrics row.
                nxt = checkpoint.write_state(nxt, rnd).persist()
                checkpoint.write_metrics(rnd, {"survivors": float(n)})
            else:
                nxt = nxt.persist()
            nxt.count()
            cur.unpersist()
            cur = nxt
        cur.unpersist()
        return keep.select("id")


def core_decomposition(edges: DataFrame, max_rounds: int = 200,
                       checkpoint: CheckpointManager | None = None,
                       checkpoint_interval: int = 8) -> DataFrame:
    """(id, coreness) for EVERY vertex of ``edges`` — the full k-core
    decomposition (coreness(v) = largest k with v in the k-core; the
    graph's degeneracy is ``max(coreness)``).

    Not in the reference engine (fixed-function PageRank,
    ``/root/reference/pagerank/src/lib/pagerank.cpp``).  Instead of
    running the :func:`k_core` peel once per k (degeneracy-many full
    peels), this uses the locality theorem of distributed coreness
    (Montresor, De Pellegrini & Miorandi 2011; Lü et al. 2016):
    starting from c_0(v) = degree(v), iterating

        c_{t+1}(v) = h-index of {c_t(u) : u adjacent to v}

    converges componentwise-monotonically DOWN to coreness(v), so one
    scalar ``sum(c)`` per round is a complete convergence test
    (stationary sum <=> no component changed).

    Scale shape per round: one |2E| gather join carrying a single
    BIGINT, then ``groupBy(dst, c)`` (map-side combined — a hub's
    D edge rows collapse to its <= |{distinct neighbor values}|
    rows BEFORE any per-vertex ordering), a per-vertex window over
    those collapsed rows computing h = max(min(c, #neighbors with
    value >= c)), and a max agg.  No per-row Python, no full-degree
    sort on any single task.  Lineage is truncated on the shared
    CheckpointManager cadence exactly as in :func:`k_core`.

    Vertices absent from the simple undirected graph (self-loop-only)
    get coreness 0, keeping the output domain = vertices(edges).
    """
    spark = edges.sparkSession
    with scoped_checkpoint(checkpoint, "coreness_ckpt_", lambda root: CheckpointManager(
            spark, root, interval=checkpoint_interval)) as (checkpoint, _):
        from pyspark.sql import Window

        verts = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        und = _simple_undirected(edges).persist()
        cur = (
            und.groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .persist()
        )
        prev_total = cur.agg(F.sum("c")).first()[0] or 0
        w = Window.partitionBy("dst").orderBy(F.col("c").desc())
        for rnd in range(1, max_rounds + 1):
            grouped = (
                und.join(cur.withColumnRenamed("id", "src"), "src")
                .groupBy("dst", "c")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            )
            nxt = (
                grouped
                .select("dst", F.least(F.col("c"), F.sum("n").over(w))
                        .alias("x"))
                .groupBy("dst")
                .agg(F.max("x").alias("c"))
                .select(F.col("dst").alias("id"), "c")
            )
            if checkpoint.should_checkpoint(rnd):
                nxt = checkpoint.write_state(nxt, rnd).persist()
            else:
                nxt = nxt.persist()
            total = nxt.agg(F.sum("c")).first()[0] or 0
            cur.unpersist()
            cur = nxt
            if total == prev_total:
                break
            prev_total = total
            if checkpoint.should_checkpoint(rnd):
                checkpoint.write_metrics(rnd, {"sum_coreness": float(total)})
        out = (
            verts.join(cur, "id", "left")
            .select("id",
                    F.coalesce(F.col("c"), F.lit(0)).cast("bigint")
                    .alias("coreness"))
            .localCheckpoint(eager=True)  # |V| rows; lets the caches go
        )
        cur.unpersist()
        und.unpersist()
        return out


def degree_distribution(edges: DataFrame) -> DataFrame:
    """(out_deg, n_vertices) — how many vertices have each out-degree,
    over the deduped directed edge table, including the zero bucket
    (dangling vertices of the dense domain [0, N)).

    Two shuffles, both map-side combined; the result is at most
    max-degree rows — the skew diagnostic behind the hub-salting
    threshold (skew.py).
    """
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    row = e.agg(F.max(F.greatest("src", "dst")).alias("m")).first()
    if row is None or row["m"] is None:
        return edges.sparkSession.createDataFrame(
            [], "out_deg BIGINT, n_vertices BIGINT")
    n = int(row["m"]) + 1
    spark = edges.sparkSession
    deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    dense = (
        spark.range(0, n)
        .join(deg, "id", "left")
        .select(F.coalesce(F.col("out_deg"), F.lit(0)).alias("out_deg"))
    )
    return dense.groupBy("out_deg").agg(
        F.count(F.lit(1)).alias("n_vertices"))


def bipartite_check(edges: DataFrame,
                    max_depth: int = 50,
                    checkpoint: CheckpointManager | None = None,
                    ) -> DataFrame:
    """(component, n_vertices, odd_edges, is_bipartite) per connected
    component of the simple undirected graph.

    Classical parity test: BFS depth parity from a component's root is
    a proper 2-coloring iff the component is bipartite, and every
    undirected simple edge whose endpoints share a parity witnesses an
    odd cycle (``odd_edges`` counts those witnesses, one per canonical
    lo<hi pair).  Self-loops are excluded by the engine-wide
    simple-graph convention (triangles/lcc drop them too); a vertex
    whose only edge is a self-loop is its own bipartite singleton.

    Physical strategy — three proven primitives, no new shuffle shape:
    one large-star/small-star components run (labels double as the
    per-component BFS roots: the CC label IS the component's min
    vertex id, so the root set needs no extra join), ONE merged-wave
    multi-root BFS (components are disjoint, so every vertex's depth
    in the merged wave is the distance to its own root), and one
    broadcast-sized parity join over the canonical edge list.  All
    per-component aggregates are map-side combined; output is one row
    per component.
    """
    from pagerank_spark.operators.bfs import bfs_depths
    from pagerank_spark.operators.components import connected_components

    comp = connected_components(edges).persist()
    try:
        roots = comp.select(F.col("component").alias("id")).distinct()
        parity = (
            bfs_depths(edges, roots, max_depth=max_depth,
                       checkpoint=checkpoint)
            .select("id", (F.col("depth") % 2).alias("par"))
        )
        und = (
            edges.select(F.least("src", "dst").alias("lo"),
                         F.greatest("src", "dst").alias("hi"))
            .where(F.col("lo") != F.col("hi"))
            .dropDuplicates(["lo", "hi"])
        )
        odd = (
            und
            .join(parity.select(F.col("id").alias("lo"),
                                F.col("par").alias("par_lo")), "lo")
            .join(parity.select(F.col("id").alias("hi"),
                                F.col("par").alias("par_hi")), "hi")
            .where(F.col("par_lo") == F.col("par_hi"))
            .join(comp.select(F.col("id").alias("lo"), "component"), "lo")
            .groupBy("component")
            .agg(F.count(F.lit(1)).alias("odd_edges"))
        )
        out = (
            comp.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_vertices"))
            .join(odd, "component", "left")
            .select(
                "component", "n_vertices",
                F.coalesce("odd_edges", F.lit(0)).alias("odd_edges"),
                (F.coalesce("odd_edges", F.lit(0)) == 0)
                .alias("is_bipartite"))
        )
        # Materialize before releasing the CC cache the plan reads.
        return out.localCheckpoint(eager=True)
    finally:
        comp.unpersist()


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """One row (n_directed_pairs, assortativity): Pearson correlation
    of endpoint degrees over the symmetrized simple graph (each
    undirected edge contributes both (deg u, deg v) and (deg v, deg u),
    the standard Newman formulation, so the correlation is symmetric).

    Negative on the web/power-law graphs this engine targets (hubs
    attach to leaves); two degree joins + one correlation aggregate —
    every sum is map-side combined, nothing is collected but the
    scalar.
    """
    und = _simple_undirected(edges).persist()
    try:
        deg = und.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg"))
        paired = (
            und
            .join(deg.select(F.col("id").alias("src"),
                             F.col("deg").alias("deg_src")), "src")
            .join(deg.select(F.col("id").alias("dst"),
                             F.col("deg").alias("deg_dst")), "dst")
        )
        return paired.agg(
            F.count(F.lit(1)).alias("n_directed_pairs"),
            F.corr(F.col("deg_src").cast("double"),
                   F.col("deg_dst").cast("double")).alias("assortativity"),
        )
    finally:
        und.unpersist()
