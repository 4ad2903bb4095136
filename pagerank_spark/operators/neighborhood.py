"""Approximate neighborhood function via per-vertex mergeable
Flajolet-Martin sketches (the HyperBall/HyperANF recipe of Boldi,
Rosa & Vigna, WWW 2011 — the algorithm behind the "four degrees of
separation" measurements on billion-edge web and social graphs).

Not in the reference engine (fixed-function PageRank,
``/root/reference/pagerank/src/lib/pagerank.cpp``); the exact
neighborhood function |B(v, r)| needs all-pairs BFS (O(|V|·|E|) —
hopeless at web scale).  The scalable estimator keeps a SMALL
mergeable distinct-count sketch per vertex and exploits

    B(v, r) = {v} ∪ ⋃_{(v,u) ∈ E} B(u, r-1)

— set union becomes bitwise OR of sketches, so each radius increment
is ONE gather join + ``bit_or`` aggregation over the edge table: the
exact matvec shape of a PageRank iteration, reusing the shared
``plan_gather`` physical strategy (broadcast / shuffle / hub-salted,
resolved once from the degree distribution and amortized over the
rounds).  K sketches of 64 bits each travel as K BIGINT columns —
8 × 8 bytes per vertex, fully JVM-side, no UDFs.

Determinism / oracle parity: classic HyperBall uses HyperLogLog
registers; this implementation uses the original Flajolet-Martin
bitmap family with an md5-derived hash so the sketch is a PURE
deterministic function of the reachable set — any engine with md5
and integer bit ops reproduces it bit-for-bit (the DuckDB oracle
unrolls the same rounds).  Bit positions are extracted with
``bit_count`` identities (lowest set bit ``x & -x`` has
``bit_count(x-1)`` trailing zeros) — exact integer arithmetic, no
log2 ulp drift between libms.

Estimator: vertex v's ball size at radius R is

    est(v) = 2^(sum_rho / K) / 0.77351          (K = n_sketches)

where sum_rho is the sum over the K sketches of the lowest-unset-bit
index (Flajolet-Martin 1985, phi = 0.77351).  The reported
``ball_est`` is computed as C[sum_rho mod K] * 2^(sum_rho div K)
with the K mantissa constants embedded as shared literals
(``est_constants``) — one multiply of identical doubles per row, so
Spark and any SQL oracle produce the identical double.

Duplicate- and self-loop-insensitive by construction (OR is
idempotent), so the loop skips BOTH the upfront edge dedupe and the
self-loop filter — same class of saving as the dedupe-free
connected-components init (operators/components.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from pagerank_spark import skew
from pagerank_spark.checkpoint import CheckpointManager, detach, scoped_checkpoint
from pagerank_spark.operators.pagerank import GatherPlan, plan_gather

N_SKETCHES = 8
FM_PHI = 0.77351
MAX_RHO = 59  # md5-derived hashes are 60-bit, so trailing zeros <= 59


def est_constants(n_sketches: int = N_SKETCHES) -> list[float]:
    """The n_sketches mantissa constants C[i] = 2^(i/K) / phi.

    Embedded as the SAME double literals in the Spark plan and in any
    generated SQL oracle, so ``ball_est`` is one multiply of
    identical doubles in both engines.
    """
    return [2.0 ** (i / n_sketches) / FM_PHI for i in range(n_sketches)]


def _hash60(col, k: int):
    """Portable 60-bit md5 hash of 'nf:{k}:{id}' (same family as
    pipeline/dedup.py's minhash — reproducible in DuckDB as
    ('0x' || substr(md5(...), 1, 15))::BIGINT)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"nf:{k}:"), col.cast("string"))), 1, 15),
        16, 10,
    ).cast("bigint")


def _trailing_zeros(col):
    """bit_count((x & -x) - 1): exact trailing-zero count for x > 0."""
    return F.bit_count(col.bitwiseAND(-col) - F.lit(1)).cast("int")


def _init_sketches(vertices: DataFrame, n_sketches: int) -> DataFrame:
    """(src, s0..s{K-1}): each vertex's radius-0 sketch is the single
    FM bit of the vertex itself.  Keyed ``src`` because the gather
    join pulls the sketch along the edge's src column."""
    cols = [F.col("id").alias("src")]
    for k in range(n_sketches):
        h = _hash60(F.col("id"), k)
        p = F.when(h == 0, F.lit(MAX_RHO)).otherwise(
            F.least(_trailing_zeros(h), F.lit(MAX_RHO)))
        cols.append(
            F.pow(F.lit(2.0), p).cast("bigint").alias(f"s{k}"))
    return vertices.select(*cols)


def _gather_or(plan: GatherPlan, sketches: DataFrame,
               n_sketches: int) -> DataFrame:
    """(dst, m0..m{K-1}) = bit_or of in-joining sketches — the OR
    analogue of pagerank._gather, reusing the SAME resolved layout
    (broadcast / shuffle / salted).  OR is idempotent, so the salted
    path needs no two-phase merge: replicated hot rows and duplicate
    edges cannot change the result."""
    aggs = [F.bit_or(f"s{k}").alias(f"m{k}") for k in range(n_sketches)]
    if plan.mode == "salted" and plan.salted_ctx is not None:
        salted_edges, hot, num_salts = plan.salted_ctx
        joined = salted_edges.join(
            skew.salt_rank_side(sketches, hot, num_salts), ["src", "salt"])
    elif plan.mode == "broadcast":
        joined = plan.edges.join(F.broadcast(sketches), "src")
    else:
        joined = plan.edges.join(sketches, "src")
    return joined.groupBy("dst").agg(*aggs)


def neighborhood_function(
    edges: DataFrame,
    max_radius: int,
    n_sketches: int = N_SKETCHES,
    directed: bool = False,
    gather_mode: str = "auto",
    salt_threshold: int | None = None,
    num_salts: int = 8,
    checkpoint: CheckpointManager | None = None,
    _on_round=None,
) -> DataFrame:
    """Per-vertex ball-size estimate at ``max_radius`` hops:
    (id, sum_rho, ball_est).

    ``sum_rho`` is the exact-integer sketch statistic (sum over the K
    sketches of the lowest-unset-bit index); ``ball_est`` the derived
    Flajolet-Martin estimate of |B(id, max_radius)|, rounded to 6.

    ``directed=False`` (default) symmetrizes, matching bfs_depths;
    ``directed=True`` estimates the OUT-ball |{u : dist(v→u) ≤ r}|.

    Scale shape: per radius ONE gather join + K bit_or aggregations
    over the (optionally salted) edge layout — identical physical
    plan class to a PageRank iteration, state is |V| × (K+1) longs.
    """
    spark = edges.sparkSession
    fwd = edges.select("src", "dst")
    if directed:
        # v pulls u's sketch along (v -> u): reverse so the sketch
        # owner is the join-key (src) column.
        gat = fwd.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst"))
    else:
        gat = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst")))
    # No dedupe, no self-loop filter: bit_or is idempotent.

    vertices = (
        fwd.select(F.col("src").alias("id"))
        .unionByName(fwd.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = vertices.count()
    deg = (gat.groupBy(F.col("src").alias("id"))
           .agg(F.count(F.lit(1)).alias("out_deg")))
    plan = plan_gather(gat, deg, n, mode=gather_mode,
                       salt_threshold=salt_threshold, num_salts=num_salts)

    cur = _init_sketches(vertices, n_sketches).persist()
    cur.count()
    try:
        # Every round is a durable one, so a state returned from a
        # temporary root is materialised before the root goes.
        with scoped_checkpoint(checkpoint, "nf_ckpt_", lambda root: CheckpointManager(
                spark, root, interval=8)) as (checkpoint, owned):
            if _on_round is not None:
                _on_round(0, cur)
            for r in range(1, max_radius + 1):
                msgs = _gather_or(plan, cur, n_sketches)
                nxt = (
                    cur.join(msgs, cur.src == msgs.dst, "left")
                    .select(
                        cur.src,
                        *[
                            (F.coalesce(F.col(f"m{k}"), F.lit(0))
                             .bitwiseOR(F.col(f"s{k}"))).alias(f"s{k}")
                            for k in range(n_sketches)
                        ],
                    )
                )
                nxt = checkpoint.write_state(nxt, r).persist()
                nxt.count()
                cur.unpersist()
                cur = nxt
                if _on_round is not None:
                    _on_round(r, cur)
            return _finalize(detach(cur, owned, max_radius >= 1), n_sketches)
    finally:
        plan.release()


def distance_distribution(
    edges: DataFrame,
    max_radius: int,
    n_sketches: int = N_SKETCHES,
    directed: bool = False,
    **kw,
) -> DataFrame:
    """The neighborhood function proper: per radius r = 0..max_radius,
    (radius, sum_rho_total, n_pairs_q6) where n_pairs_q6/1e6 estimates
    N(r) = Σ_v |B(v, r)| — the reachable-pair count HyperANF derives
    the distance distribution and effective diameter from (the
    "four degrees of separation" statistic).

    Both aggregates are exact-integer sums (sum_rho is integer sketch
    state; each per-vertex ball term is floored to a q6 BIGINT before
    summation), so partial-sum order cannot perturb the result —
    portable to any SQL engine.  n_pairs_q6 saturates BIGINT only past
    Σ ball ≈ 9.2e12 estimated pairs per 1e6 quantum; at that scale
    read the unquantized mean from sum_rho_total instead.

    Cost: one extra |V|-row scalar aggregation per radius on top of
    the ``neighborhood_function`` loop (state is already cached).
    """
    spark = edges.sparkSession
    rows: list[tuple[int, int, int]] = []

    def snap(radius: int, sketches: DataFrame) -> None:
        agg = (
            _finalize(sketches, n_sketches)
            .agg(
                F.sum("sum_rho").alias("sr"),
                F.sum(
                    F.floor(F.col("ball_est") * F.lit(1_000_000.0))
                    .cast("bigint")
                ).alias("np"),
            )
            .first()
        )
        rows.append((radius, int(agg["sr"]), int(agg["np"])))

    neighborhood_function(
        edges, max_radius, n_sketches=n_sketches, directed=directed,
        _on_round=snap, **kw)
    return spark.createDataFrame(
        rows, "radius INT, sum_rho_total BIGINT, n_pairs_q6 BIGINT")


def _finalize(sketches: DataFrame, n_sketches: int) -> DataFrame:
    """(id, sum_rho, ball_est) from the final sketch table."""
    rhos = []
    for k in range(n_sketches):
        s = F.col(f"s{k}")
        # Lowest unset bit mask of s is (~s) & (s + 1); its index is
        # bit_count(mask - 1).  s has bits only in 0..59, so the mask
        # is at most 2^60 — exact in signed 64-bit in any engine.
        mask = F.bitwise_not(s).bitwiseAND(s + F.lit(1))
        rhos.append(F.bit_count(mask - F.lit(1)).cast("bigint"))
    sum_rho = rhos[0]
    for rho in rhos[1:]:
        sum_rho = sum_rho + rho
    consts = est_constants(n_sketches)
    out = sketches.select(F.col("src").alias("id"),
                          sum_rho.alias("sum_rho"))
    mantissa = F.lit(consts[0])
    for i in range(1, n_sketches):
        mantissa = F.when(
            F.col("sum_rho") % n_sketches == i, F.lit(consts[i])
        ).otherwise(mantissa)
    return out.select(
        "id",
        "sum_rho",
        F.round(
            mantissa
            * F.pow(F.lit(2.0),
                    F.expr(f"CAST(sum_rho DIV {n_sketches} AS INT)")),
            6,
        ).alias("ball_est"),
    )


def effective_diameter(
    edges: DataFrame,
    max_radius: int,
    alpha: float = 0.9,
    n_sketches: int = N_SKETCHES,
    directed: bool = False,
    round_digits: int = 7,
    **kw,
) -> DataFrame:
    """HyperANF effective diameter: the (interpolated) smallest radius
    r at which N(r) >= alpha * N(max_radius) — the "90% of reachable
    pairs are within d_eff hops" statistic (Palmer et al. 2002; the
    "four degrees of separation" measurement).  One row:
    (n_pairs_max, effective_diameter).

    Derived entirely from :func:`distance_distribution`'s
    exact-integer per-radius sums, so the only floats are the single
    alpha multiply and the final interpolation divide — replicated
    verbatim in the DuckDB oracle.  N(r) is nondecreasing in r (the
    sketch loop only ORs bits in), so exactly one crossing row exists.
    Cost above the sketch loop: a window + limit over max_radius + 1
    driver-side rows — nothing distributed.
    """
    from pyspark.sql import Window

    dd = distance_distribution(
        edges, max_radius, n_sketches=n_sketches, directed=directed, **kw)
    tgt = dd.agg(
        (F.lit(float(alpha)) * F.max("n_pairs_q6")).alias("target"),
        F.max("n_pairs_q6").alias("n_pairs_max"))
    x = dd.select(
        "radius", "n_pairs_q6",
        F.lag("n_pairs_q6").over(Window.orderBy("radius")).alias("prev"))
    hit = (
        x.crossJoin(F.broadcast(tgt))
        .where((F.col("n_pairs_q6") >= F.col("target"))
               & (F.col("prev").isNull()
                  | (F.col("prev") < F.col("target"))))
        .orderBy("radius").limit(1)
    )
    return hit.select(
        "n_pairs_max",
        F.round(
            F.when(F.col("prev").isNull(),
                   F.col("radius").cast("double"))
            .otherwise(
                F.col("radius") - F.lit(1)
                + (F.col("target") - F.col("prev"))
                / (F.col("n_pairs_q6") - F.col("prev"))),
            round_digits).alias("effective_diameter"))


def hyperball_harmonic(
    edges: DataFrame,
    max_radius: int,
    n_sketches: int = N_SKETCHES,
    directed: bool = False,
    **kw,
) -> DataFrame:
    """(id, harmonic_q, harmonic_est): approximate harmonic centrality
    for EVERY vertex — the actual headline application of HyperBall
    (Boldi-Vigna 2013): H(v) ≈ Σ_{r=1..R} (|B(v,r)| − |B(v,r−1)|)/r,
    each ring weighted by 1/its distance, with ball sizes from the
    mergeable FM sketches of :func:`neighborhood_function`.

    Landmark harmonic centrality (operators/centrality.py) is EXACT
    for a distance sample; this is the all-vertex estimate at
    PageRank-iteration cost per radius — the trade a 100 TB graph
    forces (exact all-pairs harmonic is |V| BFS runs).

    Exact cross-engine arithmetic: per-radius ball estimates are
    q6-quantized to BIGINT, ring differences are integer, and the 1/r
    weights use the common denominator L = lcm(1..R), so
    ``harmonic_q = Σ (b_r − b_{r−1})·(L/r)`` is pure BIGINT;
    ``harmonic_est = harmonic_q / (1e6·L)`` is ONE double division of
    identical integers — no accumulation-order drift anywhere.

    Directed semantics follow ``neighborhood_function``: out-balls,
    i.e. H weights vertices v can REACH (pass the reversed edge table
    for the in-ball/centrality-of-being-reached face).
    """
    if max_radius < 1:
        raise ValueError(f"max_radius must be >= 1, got {max_radius}")
    L = 1
    for r in range(1, max_radius + 1):
        L = L * r // math.gcd(L, r)
    state: dict[str, DataFrame | None] = {"prev": None, "acc": None}

    def snap(radius: int, sketches: DataFrame) -> None:
        bq = (
            _finalize(sketches, n_sketches)
            .select("id", F.round(F.col("ball_est") * F.lit(1_000_000.0))
                    .cast("bigint").alias("bq"))
            .localCheckpoint(eager=True)
        )
        if radius == 0:
            state["prev"] = bq
            state["acc"] = bq.select(
                "id", F.lit(0).cast("bigint").alias("aq"))
            return
        prev, acc = state["prev"], state["acc"]
        w = L // radius
        inc = (
            bq.join(prev.withColumnRenamed("bq", "pq"), "id")
            .select("id", ((F.col("bq") - F.col("pq")) * F.lit(w))
                    .alias("iq"))
        )
        state["acc"] = (
            acc.join(inc, "id")
            .select("id", (F.col("aq") + F.col("iq")).alias("aq"))
            .localCheckpoint(eager=True)
        )
        state["prev"] = bq

    neighborhood_function(edges, max_radius, n_sketches=n_sketches,
                          directed=directed, _on_round=snap, **kw)
    acc = state["acc"]
    assert acc is not None
    return acc.select(
        "id", F.col("aq").alias("harmonic_q"),
        F.round(F.col("aq") / F.lit(1_000_000.0 * L), 6)
        .alias("harmonic_est"))
