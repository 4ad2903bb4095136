"""Strongly connected components: trim + coloring + backward marking.

Beyond-reference directed-graph operator (the reference ships no
component operator at all, `pagerank/src/lib/pagerank.cpp:28-293`;
the mandated large-star/small-star CC in ``operators/components.py``
is the UNDIRECTED face — this is its directed sibling).  Algorithm:
the coloring method for distributed SCC (Orzan '04; the FW-BW-Trim
family of Fleischer-Hendrickson-Pinar, also the shape used by
Pregel-class systems), expressed as three DataFrame fixpoints:

  1. TRIM — a vertex with no in-edges or no out-edges in the active
     subgraph is a singleton SCC.  Peel iteratively (a chain of
     singleton SCCs trims end-in); this resolves all DAG-like regions
     without ever running the quadratic-ish phases on them.
  2. COLOR — propagate min vertex id FORWARD along edges to fixpoint:
     color(v) = min id that can reach v.  Each color class c is rooted
     at c itself (no smaller id reaches c, else the class would carry
     that smaller color).
  3. MARK — from each root, walk edges BACKWARD restricted to the
     root's color class: a marked vertex both is reached by the root
     (same color) and reaches it (backward walk) — exactly SCC(root).
     All roots are processed in one joint frontier loop.

Assign marked vertices, remove them from the active subgraph, and
repeat from TRIM.  Every outer round removes at least one whole SCC
per color class, so outer rounds are bounded by the longest chain of
SCCs in the condensation — small on real graphs once TRIM has eaten
the DAG fringe.

Known worst case (inherent to coloring-family SCC): a long chain of
SCCs linked DOWN the id order collapses into one color class per
outer round, so outer rounds scale with the condensation's chain
length (tests/test_scc.py pins both this and the benign up-order
face).  TRIM eats the DAG fringe first, which is what keeps real
web/link graphs (one giant SCC + DAG periphery, per Broder's bow-tie)
to a handful of outer rounds.

Scale: every step is existence/min/distinct — duplicate-insensitive,
so the input is never deduped.  State tables are |V|-row; the active
edge set only shrinks.  Per-round lineage is truncated (lazy
localCheckpoint fused into the round's convergence aggregate, exactly
like bfs/k_core), with the shared durable CheckpointManager cadence
resetting plan + stats growth across ALL loops on one global round
counter.  Frontier/state sides of joins are broadcast under the same
explicit bound the traversal operators use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, scoped_checkpoint

# |V|-row state sides at or below this bound are broadcast into the
# cached edge partitions (same bound class as bfs/pagerank).
BROADCAST_MAX_STATE = 5_000_000


def strongly_connected_components(
    edges: DataFrame,
    n: int | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
    max_rounds: int = 100_000,
) -> DataFrame:
    """(id, scc) over the dense domain [0, N): scc is the smallest
    vertex id in the strongly connected component (the same canonical
    label convention as ``connected_components``).  Vertices never
    mentioned in ``edges`` are their own singleton SCCs (domain quirk
    Q3, as in ``components_with_domain``)."""
    spark = edges.sparkSession
    e = edges.select(F.col("src").cast("bigint").alias("src"),
                     F.col("dst").cast("bigint").alias("dst"))
    if n is None:
        row = e.agg(F.max(F.greatest("src", "dst")).alias("m")).first()
        n = 0 if row is None or row["m"] is None else int(row["m"]) + 1
    if n == 0:
        return spark.createDataFrame([], "id BIGINT, scc BIGINT")
    with scoped_checkpoint(checkpoint, "scc_ckpt_", lambda root: CheckpointManager(
            spark, root, interval=checkpoint_interval)) as (checkpoint, _):
        # Self-loops never split an SCC; drop them.  No dedupe: TRIM is an
        # existence check, COLOR a min-agg, MARK a distinct — all
        # duplicate-insensitive (module docstring).
        active_e = e.where(F.col("src") != F.col("dst")).persist()
        active_v = spark.range(0, n).localCheckpoint(eager=True)
        n_active = n
        assigned = spark.createDataFrame([], "id BIGINT, scc BIGINT")
        have_assigned = False
        rnd = 0

        def bcast(df, rows):
            return F.broadcast(df) if rows <= BROADCAST_MAX_STATE else df

        # On-cadence ticks persist the re-read state; track those frames
        # (GatherPlan._caches style) so each is released once its successor
        # is cached — otherwise one |V|-row cache accumulates per cadence
        # hit and survives after the operator returns.  Releasing an older
        # frame another phase still references only costs a parquet re-read
        # (write_state already truncated its lineage to the checkpoint).
        cadence_caches: list[DataFrame] = []

        def tick(state_df, extra=None):
            """Durable cadence shared by every loop below: on-cadence
            rounds write+read the round's carried state (plan/stats reset
            + a metrics row); off-cadence rounds lazily truncate so the
            materialization fuses into the round's convergence aggregate."""
            nonlocal rnd
            rnd += 1
            if checkpoint.should_checkpoint(rnd):
                out = checkpoint.write_state(state_df, rnd).persist()
                out.count()    # materialize before dropping predecessors
                while cadence_caches:
                    cadence_caches.pop().unpersist()
                cadence_caches.append(out)
                checkpoint.write_metrics(
                    rnd, {"active_vertices": float(n_active), **(extra or {})})
                return out
            return state_df.localCheckpoint(eager=False)

        def restrict_edges(survivors, srows):
            """Active edges with BOTH endpoints in ``survivors``."""
            return (
                active_e
                .join(bcast(survivors.withColumnRenamed("id", "src"), srows),
                      "src", "left_semi")
                .join(bcast(survivors.withColumnRenamed("id", "dst"), srows),
                      "dst", "left_semi")
                .select("src", "dst")
            )

        # Durable cadence for the SHRINKING EDGE SET, separate from the
        # state cadence (its own iteration counter — write_state is keyed
        # by iteration, so sharing `rnd` would collide with state writes).
        # A persist caches DATA but the restrict plan grows two semi-joins
        # per peel; a fringe-heavy directed graph trims hundreds of times
        # and the accumulated plan OOMs driver-side analysis long before
        # any executor does (observed on the facebook graph — the same
        # defect k_core had, fixed there first).
        import os as _os

        edge_ckpt = CheckpointManager(
            spark, _os.path.join(checkpoint.root, "edges"),
            interval=checkpoint.interval)
        edge_epoch = 0

        def shrink(survivors, srows):
            nonlocal edge_epoch, active_e
            edge_epoch += 1
            nxt = restrict_edges(survivors, srows)
            if edge_ckpt.should_checkpoint(edge_epoch):
                nxt = edge_ckpt.write_state(nxt, edge_epoch).persist()
            else:
                nxt = nxt.persist()
            nxt.count()
            active_e.unpersist()
            active_e = nxt

        while rnd < max_rounds and n_active > 0:
            # ---------------- TRIM ----------------
            while rnd < max_rounds:
                has_out = active_e.select(F.col("src").alias("id")).distinct()
                has_in = active_e.select(F.col("dst").alias("id")).distinct()
                keep = (
                    active_v.join(has_out, "id", "left_semi")
                    .join(has_in, "id", "left_semi")
                    .localCheckpoint(eager=True)    # |V|-row
                )
                k = keep.count()
                if k == n_active:
                    break
                peeled = active_v.join(keep, "id", "left_anti").select(
                    "id", F.col("id").alias("scc"))
                assigned = tick(assigned.unionByName(peeled) if have_assigned
                                else peeled, {"phase": 1.0})
                have_assigned = True
                active_v, n_active = keep, k
                if k == 0:
                    break
                shrink(keep, k)
            if n_active == 0:
                break

            # ---------------- COLOR ----------------
            colors = active_v.select("id", F.col("id").alias("color"))
            colors = colors.localCheckpoint(eager=True)
            while rnd < max_rounds:
                upd = (
                    active_e.join(
                        bcast(colors.select(F.col("id").alias("src"),
                                            F.col("color").alias("c")),
                              n_active),
                        "src")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("c").alias("cmin"))
                )
                newc = (
                    colors.join(upd, "id", "left")
                    .select(
                        "id",
                        F.least(F.col("color"),
                                F.coalesce(F.col("cmin"), F.col("color")))
                        .alias("color"),
                        (F.coalesce(F.col("cmin"), F.col("color"))
                         < F.col("color")).cast("long").alias("chg"))
                )
                newc = tick(newc, {"phase": 2.0})
                changed = int(newc.agg(
                    F.sum("chg").alias("s")).first()["s"] or 0)
                colors = newc.select("id", "color")
                if changed == 0:
                    break

            # ---------------- MARK ----------------
            marked = colors.where(F.col("color") == F.col("id"))
            marked = marked.localCheckpoint(eager=True)      # (id, color)
            frontier = marked
            f_rows = marked.count()
            m_rows = f_rows
            while f_rows > 0 and rnd < max_rounds:
                preds = (
                    active_e.join(
                        bcast(frontier.select(F.col("id").alias("dst"),
                                              F.col("color").alias("fc")),
                              f_rows),
                        "dst")
                    .select("src", "fc").distinct()
                    .join(bcast(colors.select(F.col("id").alias("src"),
                                              F.col("color").alias("sc")),
                                n_active),
                          "src")
                    .where(F.col("sc") == F.col("fc"))
                    .select(F.col("src").alias("id"), F.col("fc").alias("color"))
                    .join(marked, "id", "left_anti")
                    .localCheckpoint(eager=True)
                )
                f_rows = preds.count()
                if f_rows == 0:
                    break
                frontier = preds
                marked = tick(marked.unionByName(preds), {"phase": 3.0})
                m_rows += f_rows

            # ---------------- ASSIGN & SHRINK ----------------
            found = marked.select("id", F.col("color").alias("scc"))
            assigned = tick(assigned.unionByName(found) if have_assigned
                            else found, {"phase": 4.0})
            have_assigned = True
            remaining = (
                active_v.join(bcast(marked.select("id"), m_rows),
                              "id", "left_anti")
                .localCheckpoint(eager=True)
            )
            n_active = remaining.count()
            active_v = remaining
            if n_active == 0:
                break
            shrink(remaining, n_active)

        active_e.unpersist()
        if n_active > 0:
            # The round budget ran out mid-phase.  A silently partial
            # labeling (vertices missing from the output domain) is worse
            # than a provisional one: warn loudly and label the remaining
            # active vertices as singletons so the output domain stays
            # complete.  These labels are NOT converged SCC labels.
            import warnings

            warnings.warn(
                f"strongly_connected_components: max_rounds={max_rounds} "
                f"exhausted with {n_active} vertices still active; labeling "
                "them as singleton SCCs (NOT converged — raise max_rounds)",
                RuntimeWarning, stacklevel=2)
            leftovers = active_v.select("id", F.col("id").alias("scc"))
            assigned = (assigned.unionByName(leftovers) if have_assigned
                        else leftovers)
            have_assigned = True
        if not have_assigned:
            return spark.createDataFrame([], "id BIGINT, scc BIGINT")
        # Materialize the result so callers never re-trigger the loop's
        # lineage after the caches above are released.
        out = assigned.localCheckpoint(eager=True)
        while cadence_caches:
            cadence_caches.pop().unpersist()
        return out


def scc_condensation(edges: DataFrame, n: int | None = None,
                     labels: DataFrame | None = None) -> DataFrame:
    """(scc_src, scc_dst, n_edges): the condensation DAG — one row per
    ordered pair of DISTINCT components with at least one edge between
    them, counting the cross-component edge multiplicity.

    The condensation is the standard second act of an SCC run (it is
    acyclic, so DAG-only algorithms — topological layering, longest
    path, reachability indexing — apply to it); at web scale it is
    orders of magnitude smaller than the input graph (Broder's bow-tie:
    one giant SCC plus a DAG fringe).  Plan: two |V|-row label joins
    against the edge table + one map-side-combined count — the label
    side broadcasts under the same bound every loop here uses.

    ``labels`` (id, scc) may be passed to reuse an existing SCC run;
    otherwise one is computed over the dense domain [0, n).
    """
    if labels is None:
        from pagerank_spark import graph as G

        labels = strongly_connected_components(
            edges, n=G.num_vertices(edges) if n is None else n)
        # |V|-row lineage cut: the SCC labeling is a union of
        # per-phase frames (one branch per outer round); truncate
        # before the joins below analyze it twice (and before a giant
        # plan string OOMs the driver on fringe-heavy graphs).
        labels = labels.localCheckpoint(eager=True)
    lbl_rows = labels.count()
    small = lbl_rows <= BROADCAST_MAX_STATE

    def side(col):
        s = labels.select(F.col("id").alias(col),
                          F.col("scc").alias(f"scc_{col}"))
        return F.broadcast(s) if small else s

    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return (
        e.join(side("src"), "src")
        .join(side("dst"), "dst")
        .where(F.col("scc_src") != F.col("scc_dst"))
        .groupBy("scc_src", "scc_dst")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


def condensation_levels(
    edges: DataFrame,
    n: int | None = None,
    labels: DataFrame | None = None,
    max_rounds: int = 10_000,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
) -> DataFrame:
    """(scc, level, n_members): topological longest-path layer of
    every SCC in the condensation DAG — level 0 for components with
    no incoming cross-component edge, else 1 + max over predecessors.

    This is the "build-order depth" query of a dependency graph: on
    the repo import graph the level of a module's SCC is the length
    of the longest chain of imports that must exist before it.  The
    iteration runs entirely on the CONDENSATION (orders of magnitude
    smaller than the input at web scale — Broder's bow-tie), so the
    only |E|-sized work is the two label joins inside
    :func:`scc_condensation`; each level round is a join +
    map-side-combined max over the distinct cross-SCC edge set, and
    rounds are bounded by the DAG depth.  Monotone convergence: the
    level vector only ever grows, so the constant-size Σlevel
    aggregate is the stop test (same checksum pattern as CC).

    ``labels`` (id, scc) may be passed to reuse an existing SCC run.
    Raises if ``max_rounds`` is exhausted (cannot happen on a true
    condensation — it is acyclic by construction — but a caller
    passing hand-built cyclic ``labels`` must not loop forever).
    """
    if labels is None:
        from pagerank_spark import graph as G

        labels = strongly_connected_components(
            edges, n=G.num_vertices(edges) if n is None else n)
    # |V|-row lineage cut BEFORE anything consumes the labeling: an
    # SCC run returns a union of per-phase frames (one branch per
    # outer round — hundreds on a fringe-heavy graph), and threading
    # that plan into every level round OOMs plan analysis long before
    # any data does (observed on the facebook graph).  This derives a
    # NEW truncated frame; a caller-passed table is not disturbed.
    labels = labels.localCheckpoint(eager=True)
    with scoped_checkpoint(checkpoint, "condlvl_ckpt_", lambda root: CheckpointManager(
            labels.sparkSession, root, interval=checkpoint_interval)) as (checkpoint, _):
        cond = None
        try:
            members = labels.groupBy("scc").agg(
                F.count(F.lit(1)).alias("n_members"))
            cond = (
                scc_condensation(edges, labels=labels)
                .select(F.col("scc_src").alias("s"),
                        F.col("scc_dst").alias("d"))
                .persist()
            )
            cond.count()
            lvl = members.select("scc", F.lit(0).cast("bigint").alias("level"),
                                 "n_members").localCheckpoint(eager=True)
            # On-cadence rounds persist the re-read state; track that frame
            # (same pattern as tick()'s cadence_caches above) so each is
            # released once its successor is materialized — otherwise one
            # |SCC|-row cache accumulates per cadence hit and survives
            # after the operator returns.
            lvl_cached: DataFrame | None = None
            prev_sum = 0
            rnd = 0
            while True:
                rnd += 1
                if rnd > max_rounds:
                    raise RuntimeError(
                        "condensation_levels: no fixpoint after "
                        f"{max_rounds} rounds — the label table is not a "
                        "DAG condensation")
                from_pred = (
                    cond.join(lvl.select(F.col("scc").alias("s"),
                                         F.col("level").alias("pl")), "s")
                    .groupBy(F.col("d").alias("scc"))
                    .agg((F.max("pl") + 1).alias("up"))
                )
                nxt = (
                    lvl.join(from_pred, "scc", "left")
                    .select("scc",
                            F.greatest(F.col("level"),
                                       F.coalesce(F.col("up"), F.lit(0)))
                            .alias("level"),
                            "n_members")
                )
                on_cadence = checkpoint.should_checkpoint(rnd)
                if on_cadence:
                    nxt = checkpoint.write_state(nxt, rnd).persist()
                else:
                    nxt = nxt.localCheckpoint(eager=True)
                s = nxt.agg(F.sum("level").alias("s")).first()["s"] or 0
                if on_cadence:
                    checkpoint.write_metrics(rnd, {"sum_level": float(s)})
                    # nxt is materialized (the agg above ran); the previous
                    # cadence frame is no longer the live state.
                    if lvl_cached is not None:
                        lvl_cached.unpersist()
                    lvl_cached = nxt
                lvl = nxt
                if s == prev_sum:
                    break
                prev_sum = s
            if lvl_cached is not None:
                # Materialize the result so callers never re-trigger the
                # loop's lineage after the cache is released.
                if lvl is lvl_cached:
                    lvl = lvl.localCheckpoint(eager=True)
                lvl_cached.unpersist()
            return lvl
        finally:
            if cond is not None:
                cond.unpersist()


def bowtie_regions(edges: DataFrame, n: int | None = None,
                   labels: DataFrame | None = None,
                   max_depth: int = 100_000) -> DataFrame:
    """(id, region) over the dense domain [0, N): the Broder bow-tie
    decomposition of a directed graph (Broder et al. WWW'00) —

      * ``scc``   — the GIANT strongly connected component (largest;
                    ties broken toward the smaller canonical label),
      * ``in``    — vertices that can reach the giant but aren't in it,
      * ``out``   — vertices the giant reaches but aren't in it,
      * ``other`` — tendrils, tubes and disconnected pieces.

    This is the standard first chart of any web-scale link graph (the
    original measurement was Altavista's 200M-page crawl).  Plan: one
    SCC run (or pass ``labels`` to reuse one), a count-agg for the
    giant, then TWO multi-source BFS waves — forward from the giant
    over the edges and backward over the reversed edges — each a
    frontier loop whose physical strategy is the proven bfs_depths
    operator; region assignment is two broadcast-class left joins.
    ``max_depth`` is a runaway backstop only: each wave stops the
    moment its frontier empties, so the default is effectively
    unbounded — matching the oracle's unbounded transitive closure
    (a tendril deeper than the cap would otherwise flip from in/out
    to 'other').
    """
    from pagerank_spark.operators.bfs import bfs_depths

    spark = edges.sparkSession
    e = edges.select(F.col("src").cast("bigint").alias("src"),
                     F.col("dst").cast("bigint").alias("dst"))
    if n is None:
        row = e.agg(F.max(F.greatest("src", "dst")).alias("m")).first()
        n = 0 if row is None or row["m"] is None else int(row["m"]) + 1
    if n == 0:
        return spark.createDataFrame([], "id BIGINT, region STRING")
    if labels is None:
        labels = strongly_connected_components(e, n=n)
    labels = labels.localCheckpoint(eager=True)
    top = (labels.groupBy("scc").agg(F.count(F.lit(1)).alias("sz"))
           .orderBy(F.desc("sz"), F.asc("scc")).first())
    giant_label = int(top["scc"])
    giant = labels.where(F.col("scc") == giant_label).select("id")
    giant = giant.localCheckpoint(eager=True)
    fwd = bfs_depths(e, giant, max_depth=max_depth, directed=True) \
        .select("id", F.lit(1).alias("fwd"))
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    bwd = bfs_depths(rev, giant, max_depth=max_depth, directed=True) \
        .select("id", F.lit(1).alias("bwd"))
    dom = spark.range(0, n)
    in_giant = giant.withColumn("g", F.lit(1))
    return (
        dom.join(in_giant, "id", "left")
        .join(fwd, "id", "left")
        .join(bwd, "id", "left")
        .select(
            "id",
            F.when(F.col("g").isNotNull(), F.lit("scc"))
            .when(F.col("bwd").isNotNull(), F.lit("in"))
            .when(F.col("fwd").isNotNull(), F.lit("out"))
            .otherwise(F.lit("other")).alias("region"))
    )
