"""Synchronous label propagation with deterministic min tie-break.

Mandated beyond the reference (BASELINE.json north star).  Semantics
(community-detection LPA, Raghavan et al. 2007, synchronous variant
made deterministic):

  label_0(u)   = u
  label_t+1(u) = argmax_count over {label_t(v) : v ∈ Γ(u)}, ties
                 broken by SMALLEST label; vertices with no neighbors
                 keep their label.

Each round is: edges ⋈ labels (|V|-row side) → groupBy(dst, label)
count → per-dst argmax via max_by on a (count, -label) ordering —
partial-aggregatable, no window sort needed, one shuffle on dst.
Convergence: count of changed labels (single aggregate collect).

Physical strategy (mirrors operators/pagerank.py shuffle mode): the
symmetrized edge table is hash-partitioned by ``src`` — the
per-round join key — and cached ONCE in a single fused exchange, so
each round re-exchanges only the |V|-row label side, never the |E|
edge side; lineage is truncated with a LAZY localCheckpoint that
materializes inside the round's convergence aggregate — one Spark job
per round, not two.  AQE stays ON: unlike PageRank's
byte-identical iterations, LPA's per-round histogram shrinks as
labels converge, and runtime coalescing measured faster (sf0.1
medians 1.7s AQE vs 2.1s static; both ~3x the unfused round-2
build).

Determinism note: synchronous LPA can 2-cycle on bipartite structures;
``max_iter`` bounds the loop and the changed-count history detects the
oscillation (we stop when changed == 0 or the (changed, checksum)
signature repeats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, scoped_checkpoint


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
) -> DataFrame:
    """(id, label) for every vertex incident to an edge."""
    # src-layout once: InMemoryRelation preserves outputPartitioning,
    # so every round's join on ``src`` reuses it and exchanges only
    # the label side.  The layout is FUSED with the symmetrize dedupe
    # in a single exchange: hash(src) partitioning satisfies the
    # dropDuplicates' ClusteredDistribution([src, dst]) — equal
    # (src, dst) pairs land in one partition — so the dedupe
    # aggregation runs partition-local after the one repartition,
    # instead of shuffling once on (src, dst) and again on src.
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    und = (
        fwd.unionByName(rev)
        .where(F.col("src") != F.col("dst"))
        .repartition(edges.rdd.getNumPartitions(), "src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    # try/finally: the |E|-sized cache must be released on every exit
    # path, including job failures mid-loop.  Durable truncation
    # cadence — see operators/pagerank.py for why localCheckpoint alone
    # is insufficient (stats-estimate blowup).
    try:
        with scoped_checkpoint(checkpoint, "lpa_ckpt_", lambda root: CheckpointManager(
                edges.sparkSession, root, interval=8)) as (checkpoint, owned):
            return _lpa_loop(und, max_iter, checkpoint, owned, resume)
    finally:
        und.unpersist()


def _lpa_loop(
    und: DataFrame,
    max_iter: int,
    checkpoint: CheckpointManager,
    owned: bool,
    resume: bool,
) -> DataFrame:
    if resume and checkpoint.latest_iteration() is not None:
        it = checkpoint.latest_iteration()
        labels = checkpoint.read_state(it).select("id", "label").persist()
    else:
        it = 0
        labels = (
            und.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
            .persist()
        )

    seen_sigs: set[tuple[int, int]] = set()
    prev_cached = labels
    durable = False
    while it < max_iter:
        it += 1
        lab_src = labels.select(F.col("id").alias("src"), "label")
        # Per-dst neighbor-label histogram → argmax count, min-label ties.
        # Encode the argmax ordering as a single min-struct key so the
        # whole round is two hash aggregations (both partially
        # aggregatable) — no window sort.
        hist = (
            und.join(lab_src, "src")
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        new_labels = hist.groupBy("id").agg(
            F.min(F.struct((-F.col("cnt")).alias("neg_cnt"),
                           F.col("label").alias("label"))).alias("best")
        ).select("id", F.col("best.label").alias("label"))

        merged = (
            labels.select("id", F.col("label").alias("old_label"))
            .join(new_labels, "id", "left")
            .select("id",
                    F.coalesce("label", "old_label").alias("label"),
                    "old_label")
        )
        durable = checkpoint.should_checkpoint(it)
        if durable:
            merged = checkpoint.write_state(merged, it).persist()
        else:
            # Truncate lineage each round (plan would double per
            # round); LAZY so the truncated RDD materializes inside
            # the convergence aggregate below — one job per round.
            merged = merged.localCheckpoint(eager=False)
        row = merged.agg(
            F.sum((F.col("label") != F.col("old_label")).cast("long")).alias("chg"),
            F.expr("bit_xor(xxhash64(id, label))").alias("h"),
        ).first()
        changed, sig = int(row["chg"] or 0), (int(row["chg"] or 0), int(row["h"] or 0))
        if durable:
            checkpoint.write_metrics(it, {"changed": float(changed)})
        prev_cached.unpersist()
        prev_cached = merged
        labels = merged.select("id", "label")
        if changed == 0 or sig in seen_sigs:
            break
        seen_sigs.add(sig)

    if owned and durable:
        # The last labels were read back from the temporary root.
        labels = prev_cached.localCheckpoint(eager=True).select("id", "label")
        prev_cached.unpersist()
    return labels


def modularity(edges: DataFrame, labels: DataFrame,
               round_digits: int = 7) -> DataFrame:
    """Per-community Newman modularity decomposition of a vertex
    partition: for each community c over the undirected simple graph
    (distinct ``least/greatest`` pairs, self-loops dropped — the same
    convention as triangles/assortativity),

        contribution(c) = e_c / m  -  (d_c / 2m)^2

    where ``e_c`` counts intra-community edges, ``d_c`` sums member
    degrees and ``m`` is the undirected edge count; global modularity
    Q is the sum of contributions (Newman & Girvan 2004).  Pairs with
    LPA/CC labels as a partition-quality metric the reference's fixed
    pipeline has no analogue for (mandated beyond reference/README.md:1).

    Scale shape: one distinct on (lo, hi), one degree aggregation,
    two int-key equi-joins against the |V|-row label side (broadcast
    when small, AQE otherwise), two per-label aggregations and a
    1-row broadcast for m — no window, no cartesian, nothing bigger
    than |E| moves.  The float division happens once per community on
    exact integer inputs and is rounded identically in the DuckDB
    oracle.
    """
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("lo"),
                F.greatest("src", "dst").alias("hi"))
        .distinct()
        .persist()
    )
    try:
        m = und.agg(F.count(F.lit(1)).alias("m"))
        deg = (
            und.select(F.col("lo").alias("id"))
            .unionByName(und.select(F.col("hi").alias("id")))
            .groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
        )
        lab = labels.select("id", "label")
        # d_c: degree mass per community.
        dsum = (
            deg.join(lab, "id")
            .groupBy("label").agg(F.sum("deg").alias("degree_sum"))
        )
        # e_c: edges whose BOTH endpoints carry label c.
        lo_lab = lab.select(F.col("id").alias("lo"),
                            F.col("label").alias("lo_label"))
        hi_lab = lab.select(F.col("id").alias("hi"),
                            F.col("label").alias("hi_label"))
        intra = (
            und.join(lo_lab, "lo").join(hi_lab, "hi")
            .where(F.col("lo_label") == F.col("hi_label"))
            .groupBy(F.col("lo_label").alias("label"))
            .agg(F.count(F.lit(1)).alias("intra_edges"))
        )
        out = (
            dsum.join(intra, "label", "left")
            .withColumn("intra_edges",
                        F.coalesce("intra_edges", F.lit(0)))
            .crossJoin(F.broadcast(m))
            .select(
                "label", "intra_edges", "degree_sum",
                F.round(
                    F.col("intra_edges") / F.col("m")
                    - F.pow(F.col("degree_sum") / (2.0 * F.col("m")), 2),
                    round_digits,
                ).alias("contribution"))
        )
        out = out.localCheckpoint(eager=True)
    finally:
        und.unpersist()
    return out


def modularity_score(edges: DataFrame, labels: DataFrame,
                     round_digits: int = 7) -> DataFrame:
    """Scalar face: (n_communities, modularity) — the global Q."""
    per = modularity(edges, labels, round_digits=round_digits)
    return per.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.round(F.sum("contribution"), round_digits).alias("modularity"))


def conductance(edges: DataFrame, labels: DataFrame,
                round_digits: int = 7) -> DataFrame:
    """Per-community conductance over the same undirected simple graph
    as :func:`modularity`:

        phi(c) = cut(c) / min(vol(c), 2m - vol(c))

    where ``cut(c)`` counts boundary edges (exactly one endpoint in c)
    and ``vol(c)`` sums member degrees.  NULL when the denominator is
    0 (a community holding ALL edge volume has no outside to leak to).
    The standard community-quality complement to modularity: low
    conductance = few escape routes per unit volume.

    Scale shape mirrors modularity — the boundary edges are found by
    the same two |V|-side equi-joins, then each contributes one row to
    BOTH incident communities via a 2-element ``explode`` (|cut|×2
    rows, never |E|×2).
    """
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("lo"),
                F.greatest("src", "dst").alias("hi"))
        .distinct()
        .persist()
    )
    try:
        m = und.agg(F.count(F.lit(1)).alias("m"))
        deg = (
            und.select(F.col("lo").alias("id"))
            .unionByName(und.select(F.col("hi").alias("id")))
            .groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
        )
        lab = labels.select("id", "label")
        vol = (
            deg.join(lab, "id")
            .groupBy("label").agg(F.sum("deg").alias("volume"))
        )
        lo_lab = lab.select(F.col("id").alias("lo"),
                            F.col("label").alias("lo_label"))
        hi_lab = lab.select(F.col("id").alias("hi"),
                            F.col("label").alias("hi_label"))
        cut = (
            und.join(lo_lab, "lo").join(hi_lab, "hi")
            .where(F.col("lo_label") != F.col("hi_label"))
            .select(F.explode(F.array("lo_label", "hi_label"))
                    .alias("label"))
            .groupBy("label").agg(F.count(F.lit(1)).alias("cut_edges"))
        )
        denom = F.least(F.col("volume"), 2 * F.col("m") - F.col("volume"))
        out = (
            vol.join(cut, "label", "left")
            .withColumn("cut_edges", F.coalesce("cut_edges", F.lit(0)))
            .crossJoin(F.broadcast(m))
            .select(
                "label", "cut_edges", "volume",
                F.when(denom > 0,
                       F.round(F.col("cut_edges") / denom, round_digits))
                .alias("conductance"))
        )
        out = out.localCheckpoint(eager=True)
    finally:
        und.unpersist()
    return out
