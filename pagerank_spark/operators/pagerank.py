"""Power-iteration PageRank with reference-matching semantics.

Re-expresses the reference's hard-wired dataflow
(``/root/reference/pagerank/src/lib/pagerank.cpp:94-242``) as one
Spark job per iteration, or — on graphs that fit one task — as one
task for the whole loop (the local backend below):

    gather:   edges ⋈ ranks on src  →  groupBy(dst).sum(pr/out_deg)
              (ref: the in-edge gather loop, pagerank.cpp:123-128)
    update:   (contrib + dangling/N)·d + (1-d)/N
              (ref: pagerank.cpp:131,142; damping 0.85, pagerank.hpp:14)
    dangling: Σ pr over vertices with no out-edges, from the CURRENT
              vector, skipped at step 0 (ref: pagerank.cpp:210-219)
    stop:     L1(new, old) < tol, checked after the update and before
              the swap (ref: pagerank.cpp:229-238)

Replicated quirks (SURVEY.md §7, all required for iteration-count
parity):
    Q1  zero initialization (integer-division bug, pagerank.cpp:97) —
        the facebook graph needs 132 iterations from zero at 1e-10 vs
        117 from 1/N.
    Q2  exact per-step order as above.
    Q3  vertex domain [0, max_id] including never-mentioned ids.
    Q4  the reported vector is the pre-swap iterate x_{k-1}
        (pagerank.cpp:234-238); we carry (pr, prev_pr) in the state
        table so both are available.
    Q5  NOT replicated: the ×1e11 lossy wire codec and the 64 MB
        buffer truncation — Spark's shuffle is lossless.

Physical strategy (the 100 TB story):
    - gather_mode="local": the whole loop in ONE ``mapInArrow`` task
      over ``edges.coalesce(1)`` and the state — edges sorted by
      (src, dst), one ``np.bincount`` gather per iteration, no Spark
      job per iteration (``_run_local``).  "auto" picks it when no
      ``salt_threshold`` is given, n <= ``broadcast_max_vertices``
      (a vector that may not be broadcast may not sit in one task
      either) and ``_local_footprint(|E|, n)`` fits LOCAL_MAX_BYTES.
      One task needs no lineage-truncation cadence: without a
      caller's checkpoint nothing is committed.  A caller's cadence is
      still honoured (states stream out of the task and are committed
      in order); the loop is then split into tasks that each cache at
      most LOCAL_MAX_BYTES of uncommitted states.  Resume is
      bit-identical only within one backend.
    - The edge table is deduped, degree-joined and persisted ONCE,
      hash-partitioned by ``dst`` (the aggregation key).  Per
      iteration only the |V|-row rank table moves.
    - gather_mode="broadcast": ranks broadcast to the persisted edge
      partitions → zero shuffle of edge rows, and the groupBy(dst)
      reuses the persisted partitioning (no exchange at all on the
      edge side).  Right up to ~5e6 vertices per the default
      threshold.
    - gather_mode="shuffle": shuffled hash join on ``src`` for larger
      vertex sets; map-side partial aggregation keeps the
      groupBy(dst) traffic at |distinct dst per partition|, not |E|.
    - gather_mode="salted": hub-salted join (skew.py) — mandated for
      power-law graphs; equivalence-tested.
    - One driver-side collect per iteration: a single aggregate over
      the new state computes L1 delta, next dangling mass, and Σpr
      together (the reference needs two passes + an all-gather,
      myRDMA.cpp:157-162; we need one partial-agg collect).
    - Lineage of the distributed loop is truncated by
      iteration-stamped checkpoints (checkpoint.py); non-checkpointed
      iterations persist in memory and unpersist their predecessor.
    - One driver, ``_iterate``, runs this loop for personalized and
      weighted PageRank, Katz and eigenvector centrality too: each of
      them supplies only its initial state, vertex update (as a Spark
      and a NumPy function), stop rule and reported projection.  Every
      metrics row records the plan and the probe that chose it.
"""

from __future__ import annotations

import functools
import time
from contextlib import ExitStack
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, scoped_checkpoint
from pagerank_spark.graph import Graph
from pagerank_spark import skew

DAMPING = 0.85           # ref pagerank.hpp:14
MAX_ITER = 100_000       # ref main.cpp:7
BROADCAST_MAX_VERTICES = 5_000_000
# auto-salting: a src whose out-degree exceeds this fraction of the
# average per-partition edge share would, under the shuffle gather,
# concentrate more than half an average partition's rows behind one
# join key — a guaranteed straggler on a power-law graph.
AUTO_SALT_PARTITION_FRACTION = 0.5
# loop-scoped shuffle width: enough partitions that no per-iteration
# exchange task holds more than this many |V|-side rows.
STATE_ROWS_PER_PARTITION = 500_000
# Local backend: the whole loop runs in one Python task when the
# footprint estimated by ``_local_footprint`` fits LOCAL_MAX_BYTES.
# The per-edge and per-vertex costs are the kernel's measured peak RSS
# above the worker's idle baseline (ARCHITECTURE.md, "Local backend").
LOCAL_BYTES_PER_EDGE = 120
LOCAL_BYTES_PER_VERTEX = 160
LOCAL_MAX_BYTES = 1 << 30
# Upper bound on one cached cadence state row of a local task: up to
# five 8-byte state columns, the iteration and the (NULL) metrics.
LOCAL_BYTES_PER_CACHED_ROW = 64


@dataclass
class PageRankResult:
    ranks: DataFrame            # (id, pr) — reference-reported vector: x_{k-1}
                                # on a stop-rule exit (Q4), x_k on max-iter exit
    converged_ranks: DataFrame  # (id, pr) — the last computed iterate x_k
    iterations: int
    final_l1: float
    metrics: list[dict] = field(default_factory=list)

    def top(self, k: int = 1) -> DataFrame:
        """Argmax vertex (ref max_pr, pagerank.cpp:244-262) generalized
        to top-k; deterministic tie-break on smallest id."""
        return self.ranks.orderBy(F.desc("pr"), F.asc("id")).limit(k)


def _rank_weights(state: DataFrame) -> DataFrame:
    """(src, w = pr/out_deg) for vertices WITH out-edges — the only rows
    that contribute to the gather.  Computed on the |V|-row side before
    the join so the per-edge work is a plain lookup."""
    return (
        state.where(F.col("out_deg").isNotNull())
        .select(F.col("id").alias("src"),
                (F.col("pr") / F.col("out_deg")).alias("w"))
    )


def _gather(graph_edges: DataFrame, ranks_w: DataFrame, mode: str,
            salted_ctx: tuple | None, value=None) -> DataFrame:
    """(dst, contrib = Σ value over in-edges); ``value`` defaults to
    the rank side's ``w`` column (weighted gathers pass ``w * f``)."""
    if mode == "salted" and salted_ctx is not None:
        salted_edges, hot, num_salts = salted_ctx
        return skew.salted_gather(salted_edges, ranks_w, hot, num_salts,
                                  value)
    joined = (
        graph_edges.join(F.broadcast(ranks_w), "src")
        if mode == "broadcast"
        else graph_edges.join(ranks_w, "src")
    )
    value = F.col("w") if value is None else value
    return joined.groupBy("dst").agg(F.sum(value).alias("contrib"))


@dataclass
class GatherPlan:
    """A resolved physical gather strategy, shared by EVERY iterative
    matvec loop in the suite (global/personalized/weighted PageRank,
    both HITS gathers).

    Resolving once and reusing per iteration is what makes the loops
    scale: the |E|-side layout (src re-partition in shuffle mode,
    (src, salt) re-partition + hot-set in salted mode) is built ONE
    time and amortized over O(100) iterations, and because the loops
    run under ``session.static_plan`` (AQE suspended), the degree-probe
    salting here is the ONLY skew defence they get — a plain shuffled
    join would straggle every iteration on a power-law hub with no
    runtime backstop (VERDICT r3 item 1).
    """

    mode: str                   # local | broadcast | shuffle | salted
    edges: DataFrame            # the layout _gather consumes
    salted_ctx: tuple | None = None   # (salted_edges, hot, num_salts)
    salt_threshold: int | None = None
    _caches: list = field(default_factory=list)

    def gather(self, ranks_w: DataFrame, value=None) -> DataFrame:
        """(dst, contrib = Σ value) — ranks_w carries (src, w, ...)."""
        if self.mode == "local":
            raise ValueError("a local plan runs its whole loop in one task "
                             "and has no per-iteration gather")
        return _gather(self.edges, ranks_w, self.mode, self.salted_ctx,
                       value)

    def release(self) -> None:
        """Release the loop-scoped |E|-sized caches (shuffle-relaid
        edges, salted edges, hot set) — results derive only from the
        |V|-row state table, so repeated operator calls must not
        accumulate edge-table copies in executor storage."""
        for df in self._caches:
            df.unpersist()
        self._caches.clear()


def plan_gather(
    edges: DataFrame,
    out_deg: DataFrame,
    n: int,
    mode: str = "auto",
    salt_threshold: int | None = None,
    num_salts: int = 8,
    broadcast_max_vertices: int = BROADCAST_MAX_VERTICES,
) -> GatherPlan:
    """Resolve the physical gather from the DATA (mode="auto"):
    broadcast while the |V|-row rank side fits (skew-immune — edge
    rows never move), else probe the degree distribution and pick
    shuffled vs hub-salted join (``_probe_salting``).  An explicit
    ``salt_threshold`` forces salted mode regardless.

    ``out_deg`` is the (id, out_deg) table of the gather's JOIN KEY
    side — pass in-degrees when gathering over a reversed edge table
    (HITS' hub gather).

    ``mode="local"`` (without a ``salt_threshold``) returns a plan with
    no layout and no caches: ``_iterate`` then runs the whole loop in
    one task.  "auto" never picks it, because the loops that call
    ``GatherPlan.gather`` themselves need a per-iteration gather.

    Layout cost (one-time, amortized over the loop):
      broadcast — none: the caller's layout already serves the
        groupBy(dst) and the join needs no exchange at all.
      shuffle   — one |E| re-partition by ``src`` so per iteration
        only the |V|-row rank side moves.
      salted    — one |E| salt + re-partition by (src, salt), plus the
        broadcast-sized hot set.
    """
    if mode == "local" and salt_threshold is None:
        return GatherPlan(mode="local", edges=edges)
    caches: list[DataFrame] = []
    if mode == "auto":
        if salt_threshold is not None:
            mode = "salted"      # explicit threshold wins
        elif n <= broadcast_max_vertices:
            mode = "broadcast"
        else:
            mode, salt_threshold = _probe_salting(edges, out_deg)

    salted_ctx = None
    if salt_threshold is not None:
        mode = "salted"
        hot = skew.hot_vertices(out_deg, salt_threshold).persist()
        salted_edges = (
            skew.salt_edges(edges, hot, num_salts)
            .repartition(edges.rdd.getNumPartitions(), "src", "salt")
            .persist()
        )
        salted_edges.count()
        caches += [salted_edges, hot]
        salted_ctx = (salted_edges, hot, num_salts)

    gather_edges = edges
    if mode == "shuffle":
        gather_edges = edges.repartition(
            edges.rdd.getNumPartitions(), "src").persist()
        gather_edges.count()
        caches.append(gather_edges)

    return GatherPlan(mode=mode, edges=gather_edges, salted_ctx=salted_ctx,
                      salt_threshold=salt_threshold, _caches=caches)


def pagerank(
    graph: Graph,
    damping: float = DAMPING,
    tol: float = 1e-10,
    max_iter: int = MAX_ITER,
    stop_rule: str = "l1",
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
    gather_mode: str = "auto",
    salt_threshold: int | None = None,
    num_salts: int = 8,
    resume: bool = False,
    broadcast_max_vertices: int = BROADCAST_MAX_VERTICES,
) -> PageRankResult:
    """Run PageRank to convergence.

    stop_rule:
      "l1"        — stop when L1 delta < ``tol`` (north-star rule).
      "reference" — the reference's own rule: L1 < 1e-5 OR plateau
                    |L1 - prev_L1| < 1e-7 (ref pagerank.cpp:229-236).

    gather_mode="auto" picks the physical gather from the DATA: the
    local backend (the whole loop in one task) while the graph fits its
    memory budget (``_choose_mode``), else broadcast while the rank
    table fits (``broadcast_max_vertices``),
    otherwise shuffle — upgraded to salted when the out-degree
    distribution shows hubs that would straggle the shuffled join
    (degree > AUTO_SALT_PARTITION_FRACTION × |E|/partitions, one
    constant-size aggregate over the persisted degree table).  An
    explicit ``salt_threshold`` forces salted mode regardless.
    """
    n = graph.n

    def update(state: DataFrame, plan: GatherPlan, dangling: float):
        contribs = plan.gather(_rank_weights(state))
        return _advance(state, contribs,
                        _teleport(_contrib(), dangling, damping, n),
                        "out_deg"), {}

    def local(x, gather, dangling: float):
        contrib = gather(x["pr"] / x["out_deg"])
        return _teleport(contrib, dangling, damping, n), {}

    state, it, l1, metrics, stopped = _iterate(
        graph.edges, graph.out_deg, n,
        lambda: _degree_state(graph, 0.0),      # Q1: zero init
        update, local, lambda l1, prev_l1: _stopped(l1, prev_l1, stop_rule, tol),
        checkpoint=checkpoint, checkpoint_interval=checkpoint_interval,
        resume=resume, max_iter=max_iter,
        gather=dict(mode=gather_mode, salt_threshold=salt_threshold,
                    num_salts=num_salts,
                    broadcast_max_vertices=broadcast_max_vertices),
        l1=1.0)  # ref inits diff=1 (pagerank.cpp:268)
    return _finish(state, it, l1, metrics, stopped)


def _probe_salting(edges: DataFrame, out_deg: DataFrame) -> tuple[str, int | None]:
    """Pick shuffle vs salted for a non-broadcast gather from the
    degree distribution: one constant-size aggregate over the
    persisted |V|-row degree table (same cost class as a per-iteration
    scalar collect).  A hub key whose degree exceeds
    AUTO_SALT_PARTITION_FRACTION of the average per-partition edge
    share concentrates that many co-keyed rows in ONE task of the
    shuffled join — the power-law straggler salting exists to kill.
    Returns (mode, salt_threshold)."""
    row = out_deg.agg(
        F.max("out_deg").alias("max_deg"),
        F.sum("out_deg").alias("n_edges")).first()
    if row is None or row["max_deg"] is None:
        return "shuffle", None
    parts = max(edges.rdd.getNumPartitions(), 1)
    hub_threshold = max(
        int(AUTO_SALT_PARTITION_FRACTION * int(row["n_edges"]) / parts), 1)
    if int(row["max_deg"]) > hub_threshold:
        return "salted", hub_threshold
    return "shuffle", None


def _degree_state(graph: Graph, pr0: float) -> DataFrame:
    """(id, pr = ``pr0``, prev_pr = 0, out_deg NULL⇔dangling) over the
    domain [0, n).  Carrying out_deg in the state avoids a per-iteration
    anti-join for the dangling mass (ref recomputes it with a full
    filter pass each step, pagerank.cpp:210-219)."""
    return (
        graph.spark.range(0, graph.n)
        .join(graph.out_deg, "id", "left")
        .select("id", F.lit(pr0).alias("pr"),
                F.lit(0.0).alias("prev_pr"), "out_deg")
    )


def _raw_weights(state: DataFrame) -> DataFrame:
    """(src, w = pr): the un-normalised gather side of Katz and
    eigenvector centrality, restricted to vertices with out-edges (the
    only rows the join can hit) so the broadcast side stays minimal."""
    return (
        state.where(F.col("out_deg").isNotNull())
        .select(F.col("id").alias("src"), F.col("pr").alias("w"))
    )


def _contrib():
    """The joined gather column of a distributed update; NULL (no
    in-edges) reads as 0."""
    return F.coalesce(F.col("contrib"), F.lit(0.0))


def _teleport(contrib, dangling: float, damping: float, n: int):
    """The reference update (pagerank.cpp:131,142):
    (contrib + dangling/N)·d + (1-d)/N, over a ``contrib`` Column or
    NumPy vector — one formula for both backends."""
    inv_n = 1.0 / n
    return (contrib + dangling * inv_n) * damping + (1.0 - damping) * inv_n


def _advance(state: DataFrame, contribs: DataFrame, new_pr, *carry: str) -> DataFrame:
    """The next un-truncated state: ``new_pr`` over the state left-joined
    with the gather, the old ``pr`` as ``prev_pr``, and the ``carry``
    columns unchanged."""
    return (
        state.join(contribs, state["id"] == contribs["dst"], "left")
        .select(state["id"], new_pr.alias("pr"),
                state["pr"].alias("prev_pr"), *(state[c] for c in carry))
    )


class _Fixpoint(Exception):
    """Raised by an update whose next iterate is an exact fixpoint
    (eigenvector centrality's all-zero vector): the driver ends the
    loop on ``state`` without truncating or aggregating it and takes
    ``record`` (that state's known aggregate) as the iteration's
    metrics."""

    def __init__(self, state: DataFrame, record: dict):
        super().__init__("fixpoint")
        self.state, self.record = state, record


def _iterate(edges: DataFrame, out_deg: DataFrame, n: int, init, update, local,
             stop, *, checkpoint: CheckpointManager | None,
             checkpoint_interval: int, resume: bool, max_iter: int,
             gather: dict, dangling_col: str = "out_deg", l1: float = 0.0):
    """The power iteration shared by PageRank, personalized and weighted
    PageRank, Katz and eigenvector centrality.

    Each operator supplies only its vertex update, once per backend; the
    driver owns the rest.  The state is an (id, pr, prev_pr, ...) table:

      init()                  -> the iteration-0 state (fresh runs only;
                                 a resumed run reads its latest state).
      update(state, plan, dangling) -> (next state, extra metrics): the
                                 next UN-TRUNCATED state, given the gather
                                 plan and the dangling mass (Σ pr where
                                 ``dangling_col`` is NULL) of ``state``.
      local(x, gather, dangling) -> (next pr, extra metrics): the same
                                 update in NumPy for the local backend.
                                 ``x`` maps each state column but ``id``
                                 to a float vector indexed by id (NULL is
                                 NaN); ``gather(w, value=None)`` is
                                 Σ w[src] (· the edge column ``value``)
                                 over each vertex's in-edges.
      stop(l1, prev_l1)       -> bool, checked after each iteration and,
                                 on resume, against the L1 pair the
                                 original run saw.  ``None`` means the
                                 loop only ends at ``max_iter``; the
                                 distributed state aggregate then runs on
                                 checkpoint iterations alone, so such an
                                 update must not read ``dangling``.

    ``l1`` is the delta reported before any iteration has run.  Returns
    ``(state, iterations, final_l1, metrics, stopped)``; ``stopped`` is
    False when the loop ran out of ``max_iter``.

    Backend: ``_choose_mode`` picks the local backend (``_run_local``:
    the whole loop in one task) or a distributed gather plan; every
    metrics row records the plan and the probe that chose it.

    In the distributed loop lineage truncation is NOT optional: the new
    state references the old one twice (directly + via the gather), so
    the logical plan doubles per iteration — by ~iter 30 plan analysis
    alone OOMs the JVM.  Nor is the durable cadence only for resume:
    localCheckpoint's LogicalRDD inherits the *estimated* stats of the
    plan it truncates, which double in bit-length per iteration until
    stats computation itself is the bottleneck; a parquet write+read
    every ``interval`` iterations resets them to real file sizes.
    Without a caller's ``checkpoint`` that cadence writes under a
    temporary root removed on return.
    """
    spark = edges.sparkSession
    if n == 0:
        empty = spark.createDataFrame([], "id BIGINT, pr DOUBLE, prev_pr DOUBLE")
        return empty, 0, 0.0, [], False
    from pagerank_spark.session import sized_shuffle, static_plan

    with ExitStack() as scope:
        # AQE suspended: every iteration runs the identical hand-sized
        # plan, so runtime re-planning only adds per-iteration overhead.
        scope.enter_context(static_plan(spark))
        ckpt, owned = scope.enter_context(scoped_checkpoint(
            checkpoint, "power_ckpt_", lambda root: CheckpointManager(
                spark, root, interval=checkpoint_interval)))
        mode, probe = _choose_mode(out_deg, n, gather)
        # Mode-aware edge layout, built once and amortized over the
        # loop (plan shapes asserted in tests/test_plans.py); its
        # |E|-sized caches are released on every exit path.
        plan = plan_gather(edges, out_deg, n, **{**gather, "mode": mode})
        scope.callback(plan.release)
        probe = {"plan": plan.mode, **probe}
        # Per-iteration exchanges move the |V|-row state, so they are
        # sized to the loop's tables, not the session's worst case.
        scope.enter_context(sized_shuffle(spark, max(
            plan.edges.rdd.getNumPartitions(),
            n // STATE_ROWS_PER_PARTITION + 1)))

        it, dangling, metrics = 0, 0.0, []
        if resume and ckpt.latest_iteration() is not None:
            it = ckpt.latest_iteration()
            state = ckpt.read_state(it).persist()
            agg = _state_agg(state, dangling_col)
            l1, dangling = agg["l1"], agg["dangling"]
            # The resume-time stop check must see the SAME (l1, prev_l1)
            # pair the original run saw at iteration ``it``: the metrics
            # row written AT ``it`` carries prev_l1 (any cadence); the
            # it-1 lookup serves metrics logs written before it did.
            prior_l1 = ckpt.read_metric(it, "prev_l1")
            if prior_l1 is None:
                prior_l1 = ckpt.read_metric(it - 1, "l1")
            if stop is not None and stop(l1, prior_l1):
                return state, it, l1, metrics, True
        else:
            state = init().persist()

        if plan.mode == "local":
            return _run_local(plan.edges, state, it, l1, local, stop,
                              ckpt=None if owned else ckpt, n=n,
                              max_iter=max_iter, dangling_col=dangling_col,
                              probe=probe)

        stopped = durable = False
        while it < max_iter and not stopped:
            it += 1
            t0 = time.monotonic()
            prev_l1 = l1
            try:
                new_state, m = update(state, plan, dangling)
            except _Fixpoint as fp:
                new_state, m = fp.state.persist(), dict(fp.record)
                l1, durable, stopped = m["l1"], False, True
            else:
                durable = ckpt.should_checkpoint(it)
                if durable:
                    new_state = ckpt.write_state(
                        new_state, it, target_partitions=_state_files(n),
                    ).persist()
                else:
                    # lazy: the truncated RDD materializes inside the
                    # aggregate below — one Spark job per iteration.
                    new_state = new_state.localCheckpoint(eager=False)
                if stop is not None or durable:
                    # One collect: L1 delta, next dangling mass and Σpr.
                    agg = _state_agg(new_state, dangling_col)
                    l1, dangling = agg["l1"], agg["dangling"]
                    m = {"l1": l1, "dangling_mass": dangling,
                         "sum_pr": agg["sum_pr"], **m}
                    stopped = stop is not None and stop(l1, prev_l1)
            if "l1" in m:
                m.update(prev_l1=prev_l1,
                         wall_ms=(time.monotonic() - t0) * 1000.0,
                         rows=float(n),
                         num_partitions=float(new_state.rdd.getNumPartitions()),
                         **probe)
                metrics.append({"iteration": it, **m})
            if durable:
                ckpt.write_metrics(it, m)
            state.unpersist()
            state = new_state

        if owned and durable:
            # The last state was read back from the temporary root.
            state, read_back = state.localCheckpoint(eager=True), state
            read_back.unpersist()
        return state, it, l1, metrics, stopped


def _state_files(n: int) -> int:
    """Files per committed state: ~500k rows each."""
    return min(max(n // 500_000, 1), 2000)


def _local_footprint(num_edges: int, n: int) -> int:
    """Estimated peak bytes the local kernel adds to its Python worker."""
    return LOCAL_BYTES_PER_EDGE * num_edges + LOCAL_BYTES_PER_VERTEX * n


def _choose_mode(out_deg: DataFrame, n: int, gather: dict) -> tuple[str, dict]:
    """The gather mode to plan and the probe that chose it.

    "auto" picks ``local`` when no ``salt_threshold`` is given, ``n`` is
    within ``broadcast_max_vertices`` (a vector that may not be broadcast
    may not sit in one task either) and ``_local_footprint`` of |E| and
    ``n`` fits LOCAL_MAX_BYTES; over the budget it picks ``broadcast``.
    Any other case is ``plan_gather``'s to resolve.  |E| is one
    aggregate over the persisted degree table, run only for that check:
    ``num_edges`` and ``est_bytes`` are None whenever it did not run."""
    mode = gather["mode"]
    probe = {"num_edges": None, "n": n, "est_bytes": None,
             "budget_bytes": LOCAL_MAX_BYTES}
    if (mode == "auto" and gather["salt_threshold"] is None
            and n <= gather["broadcast_max_vertices"]):
        num_edges = int(out_deg.agg(F.sum("out_deg")).first()[0] or 0)
        est = _local_footprint(num_edges, n)
        probe.update(num_edges=num_edges, est_bytes=est)
        mode = "local" if est <= LOCAL_MAX_BYTES else "broadcast"
    return mode, probe


def _run_local(edges: DataFrame, state: DataFrame, it: int, l1: float,
               local, stop, *, ckpt, n: int, max_iter: int,
               dangling_col: str, probe: dict):
    """The local backend: iterations ``it+1..max_iter`` in one Spark task
    each run of ``_local_task``.

    Without a caller's manager (``ckpt`` None) that is one task for the
    whole loop, and nothing is committed: one task needs no lineage
    truncation.  With one, each task holds at most ``per_task`` cadence
    states, as many as fit LOCAL_MAX_BYTES (at least one): a task's
    states are cached until the driver commits them, so that cache stays
    within the budget, and a failed task loses only its own resume
    points.  Every task but the last ends on a committed state, which
    the next one starts from.  The kernel recomputes a starting state's
    L1 and dangling mass in NumPy, so a resume is bit-identical to the
    uninterrupted run within this backend (not across backends: the
    summation order differs)."""
    interval = ckpt.interval if ckpt is not None else None
    per_task = max(LOCAL_MAX_BYTES // (LOCAL_BYTES_PER_CACHED_ROW * n), 1)
    metrics, stopped = [], False
    while it < max_iter and not stopped:
        end = max_iter if interval is None else min(
            max_iter, (it // interval + per_task) * interval)
        state, it, stopped, task_metrics = _local_task(
            edges, state, it, l1, end, local, stop, ckpt=ckpt, n=n,
            dangling_col=dangling_col, probe=probe)
        metrics += task_metrics
    return state, it, metrics[-1]["l1"] if metrics else l1, metrics, stopped


def _local_task(edges: DataFrame, state: DataFrame, it: int, l1: float,
                end: int, local, stop, *, ckpt, n: int, dangling_col: str,
                probe: dict):
    """Iterations ``it+1..end`` in ONE Spark task; returns ``(last state,
    iteration, stopped, metrics)``.

    One ``mapInArrow`` over the edges and ``state``, coalesced to one
    partition, runs ``_power_kernel``.  The kernel emits every state on
    ``ckpt``'s cadence as it is produced, the last state, and one
    metrics row per iteration; the output is cached, and the driver
    commits the cadence states in order through ``ckpt.write_state`` /
    ``write_metrics``."""
    import json

    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    cols = state.columns
    schema = StructType(
        [StructField(f.name, f.dataType, True) for f in state.schema]
        + [StructField("iteration", IntegerType(), True),
           StructField("metrics", StringType(), True)])
    kernel = functools.partial(
        _power_kernel, n=n, start=it, l1=l1, max_iter=end,
        interval=ckpt.interval if ckpt is not None else None,
        local=local, stop=stop, dangling_col=dangling_col, cols=cols)
    out = (edges.unionByName(state, allowMissingColumns=True).coalesce(1)
           .mapInArrow(kernel, schema).persist())
    try:
        # The kernel's one job: this collect materializes the cache.
        rows = out.where(F.col("metrics").isNotNull()) \
            .select("iteration", "metrics").collect()
        state.unpersist()

        def state_at(k):
            return out.where(F.col("id").isNotNull()
                             & (F.col("iteration") == k)).select(*cols)

        metrics, committed, stopped = [], None, False
        for row in sorted(rows, key=lambda r: r["iteration"]):
            m = json.loads(row["metrics"])
            commit, stopped = m.pop("_commit"), m.pop("_stopped")
            it = row["iteration"]
            m.update(rows=float(n), num_partitions=1.0, **probe)
            metrics.append({"iteration": it, **m})
            if commit:
                committed = ckpt.write_state(state_at(it), it,
                                             target_partitions=_state_files(n))
                ckpt.write_metrics(it, m)
        # The last state: its committed read-back, else materialized
        # off the cache released below.
        final = committed if commit else state_at(it).localCheckpoint(eager=True)
        return final, it, stopped, metrics
    finally:
        out.unpersist()


def _power_kernel(batches, *, n: int, start: int, l1: float, max_iter: int,
                  interval: int | None, local, stop, dangling_col: str,
                  cols: list[str]):
    """``mapInArrow`` body of the local backend (one task).

    Input rows are edges (``id`` NULL) or the state at ``start``.
    Edges are sorted by (src, dst), so each ``np.bincount`` gather sums
    in a fixed order.  Keeps the driver's contract: zero dangling mass
    before step 1 (a resumed state's is recomputed), the stop rule
    after each update, ``max_iter``, and ``prev_pr`` for Q4.  Yields
    each state on the ``interval`` cadence as it is produced, the last
    state, then one (iteration, metrics JSON) row per iteration."""
    import json

    import pyarrow as pa
    import pyarrow.compute as pc

    table = pa.Table.from_batches(list(batches))
    is_state = pc.is_valid(table["id"])
    st = table.filter(is_state).select(cols).sort_by("id")
    et = table.filter(pc.invert(is_state)).drop_columns(cols)
    del table
    ids = st["id"].to_numpy()
    if len(ids) != n or ids[0] != 0 or ids[-1] != n - 1:
        raise ValueError("the state must hold every id in [0, n) once")
    src, dst = et["src"].to_numpy(), et["dst"].to_numpy()
    order = np.lexsort((dst, src))
    src, dst = src[order], dst[order]
    edge_cols = {c: et[c].to_numpy()[order] for c in et.column_names
                 if c not in ("src", "dst")}
    del et, order
    x = {c: st[c].to_numpy().astype(np.float64) for c in cols if c != "id"}
    is_dangling = pc.is_null(st[dangling_col]).to_numpy()

    def gather(w, value=None):
        v = w[src] if value is None else w[src] * edge_cols[value]
        return np.bincount(dst, weights=v, minlength=n)

    def state_batch(k):
        arrays = [pa.array(x[c]) if c in ("pr", "prev_pr")
                  else st[c].combine_chunks() for c in cols]
        return pa.RecordBatch.from_arrays(
            arrays + [pa.array(np.full(n, k, np.int32)), pa.nulls(n, pa.string())],
            names=cols + ["iteration", "metrics"])

    dangling = 0.0
    if start > 0:
        l1 = float(np.abs(x["pr"] - x["prev_pr"]).sum())
        dangling = float(x["pr"][is_dangling].sum())
    records, it, stopped, commit = [], start, False, False
    while it < max_iter and not stopped:
        it += 1
        t0 = time.perf_counter()
        prev_l1 = l1
        try:
            pr, m = local(x, gather, dangling)
        except _Fixpoint as fp:
            pr, m = fp.state, dict(fp.record)
            l1, stopped, fixpoint = m["l1"], True, True
        else:
            l1 = float(np.abs(pr - x["pr"]).sum())
            dangling = float(pr[is_dangling].sum())
            m = {"l1": l1, "dangling_mass": dangling,
                 "sum_pr": float(pr.sum()), **m}
            stopped = stop is not None and stop(l1, prev_l1)
            fixpoint = False
        x["prev_pr"], x["pr"] = x["pr"], pr
        commit = bool(interval) and not fixpoint and it % interval == 0
        m.update(prev_l1=prev_l1, wall_ms=(time.perf_counter() - t0) * 1000.0,
                 _commit=commit, _stopped=stopped)
        records.append((it, m))
        if commit:
            yield state_batch(it)
    if not commit:
        yield state_batch(it)
    k = len(records)
    yield pa.RecordBatch.from_arrays(
        [pa.nulls(k, st.schema.field(c).type) for c in cols]
        + [pa.array([r[0] for r in records], pa.int32()),
           pa.array([json.dumps(r[1]) for r in records], pa.string())],
        names=cols + ["iteration", "metrics"])


def _state_agg(state: DataFrame, dangling_col: str = "out_deg") -> dict:
    """One collect: L1 delta, dangling mass of the new vector, Σpr.
    ``dangling_col`` is whichever state column is NULL exactly on the
    vertices with no out-edges (``out_deg`` for the unweighted loops,
    ``strength`` for the weighted one)."""
    row = state.agg(
        F.sum(F.abs(F.col("pr") - F.col("prev_pr"))).alias("l1"),
        F.sum(F.when(F.col(dangling_col).isNull(), F.col("pr"))
              .otherwise(F.lit(0.0))).alias("dangling"),
        F.sum("pr").alias("sum_pr"),
    ).first()
    return {"l1": float(row["l1"] or 0.0),
            "dangling": float(row["dangling"] or 0.0),
            "sum_pr": float(row["sum_pr"] or 0.0)}


def _stopped(l1: float, prev_l1: float | None, stop_rule: str, tol: float) -> bool:
    if stop_rule == "reference":
        # ref pagerank.cpp:229-236: L1 < 1e-5 OR plateau < 1e-7.
        if l1 < 1e-5:
            return True
        return prev_l1 is not None and abs(l1 - prev_l1) < 1e-7
    return l1 < tol


def _finish(state: DataFrame, it: int, l1: float, metrics: list[dict],
            stopped: bool) -> PageRankResult:
    """Build the result, matching the reference's reporting on BOTH exit
    paths: on a stop-rule exit the loop breaks *before* the swap, so the
    reported vector is x_{k-1} (quirk Q4, ref pagerank.cpp:234-238); on
    a max-iter exit every iteration completed its swap (``pr = new_pr``
    runs on every non-break iteration, ref pagerank.cpp:238), so the
    reference reports the last computed iterate x_k."""
    pre_swap = state.select("id", F.col("prev_pr").alias("pr"))
    converged = state.select("id", "pr")
    reported = pre_swap if stopped else converged
    return PageRankResult(ranks=reported, converged_ranks=converged,
                          iterations=it, final_l1=l1, metrics=metrics)
