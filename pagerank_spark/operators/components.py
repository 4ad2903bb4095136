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

Physical strategy:
    - local (``_components_local``): when the graph fits one task, the
      whole loop runs in one ``mapInArrow`` task over ``edges.coalesce(1)``
      (``local_backend.run_one_task``), a NumPy replay of the same rounds
      (``_star_round``).  Selection: ``local_backend.edge_list_probe``,
      one aggregate over the input — integral ``src``/``dst``, no NULL
      endpoint, and 240 B·|E| + 48 B·2|E| within LOCAL_MAX_BYTES.  An
      input with a NULL endpoint runs distributed, unchanged.
    - Contracts of the local path: the same rounds and edge sets, the
      same stop (a round's edge set equals the one before it), the same
      labels for every ``max_iter``, truncated runs included.  A caller's
      cadence commits the same states and metrics rows (iteration,
      ``edges``, ``wall_ms``, ``plan`` and the probe) as the distributed
      loop, so a run resumes on either backend, bit-identically.
      Without a caller's checkpoint nothing is committed.
    - distributed (``_components``): the rounds above, one eager
      ``localCheckpoint`` (or a durable state on the cadence) each.
    - Both backends materialise the result once and release every cache
      they made.
"""

from __future__ import annotations

import functools
import time

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField

from pagerank_spark import local_backend
from pagerank_spark.checkpoint import (CheckpointManager, release,
                                       scoped_checkpoint)
from pagerank_spark.graph import symmetrize
from pagerank_spark.local_backend import sort_pairs


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

    The result is materialised (eager ``localCheckpoint``) and the call
    leaves no other cache behind.
    """
    spark = edges.sparkSession
    local, probe = local_backend.edge_list_probe(edges)
    # Durable truncation cadence — see operators/pagerank.py for why
    # localCheckpoint alone is insufficient (stats-estimate blowup).
    with scoped_checkpoint(checkpoint, "cc_ckpt_", lambda root: CheckpointManager(
            spark, root, interval=8)) as (checkpoint, owned):
        start, state = 0, None
        if resume and checkpoint.latest_iteration() is not None:
            start = checkpoint.latest_iteration()
            state = checkpoint.read_state(start)
        if local:
            return _components_local(edges, state, start, max_iter,
                                     None if owned else checkpoint, probe)
        return _components(spark, edges, state, start, max_iter, checkpoint,
                           probe)


def _components(spark, edges: DataFrame, state: DataFrame | None, it: int,
                max_iter: int, checkpoint: CheckpointManager,
                probe: dict) -> DataFrame:
    vertices = _vertex_ids(edges).persist()

    if state is not None:
        cur = state.persist()
    else:
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
    with sized_shuffle(spark, loop_width):
        while it < max_iter:
            it += 1
            t0 = time.monotonic()
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
            release(cur)
            cur = nxt
            if durable:
                checkpoint.write_metrics(
                    it, {"edges": float(sig[0]),
                         "wall_ms": (time.monotonic() - t0) * 1000.0,
                         **probe})
            if sig == prev_sig:
                break
            prev_sig = sig

        # At the fixpoint the (hi→lo) orientation is a star forest:
        # every non-root points directly at its component min.
        labels = (
            cur.select(F.greatest("src", "dst").alias("id"),
                       F.least("src", "dst").alias("component"))
            .groupBy("id").agg(F.min("component").alias("component"))
        )
        out = (
            vertices.join(labels, "id", "left")
            .select("id", F.coalesce("component", "id").alias("component"))
            .localCheckpoint(eager=True)
        )
    release(vertices)
    release(cur)
    return out


def _vertex_ids(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def _components_local(edges: DataFrame, state: DataFrame | None, start: int,
                      max_iter: int, ckpt: CheckpointManager | None,
                      probe: dict) -> DataFrame:
    """The whole loop in one task (``_components_kernel``); commits the
    states on ``ckpt``'s cadence, if a caller's manager is given."""
    id_type = _vertex_ids(edges).schema["id"].dataType
    inputs = edges.select("src", "dst").withColumn("state", F.lit(False))
    if state is not None:
        inputs = inputs.unionByName(
            state.select("src", "dst").withColumn("state", F.lit(True)))
    fields = [StructField(c, id_type) for c in ("src", "dst", "id",
                                                  "component")]
    kernel = functools.partial(
        _components_kernel, start=start, max_iter=max_iter,
        interval=ckpt.interval if ckpt is not None else None)
    out, _, _ = local_backend.run_one_task(
        inputs, kernel, fields, state_cols=["src", "dst"],
        result_cols=["id", "component"], ckpt=ckpt, record=probe)
    return out


def _components_kernel(table, records, *, start: int, max_iter: int,
                       interval: int | None):
    """NumPy replay of ``_components``' rounds: the same large-star /
    small-star edge sets, the same stop (a round's edge set equals the
    one before it; the distributed loop compares a 64-bit digest of it)
    and the same labels from the last edge set."""
    import pyarrow.compute as pc

    raw = table.filter(pc.invert(table["state"]))
    st = table.filter(table["state"])
    src, dst = (raw[c].to_numpy().astype(np.int64) for c in ("src", "dst"))
    ids = np.unique(np.concatenate([src, dst]))
    if start == 0:
        # The distributed loop's initial edge multiset: both
        # orientations, self-loops dropped, duplicates kept.
        s, d = np.concatenate([src, dst]), np.concatenate([dst, src])
        keep = s != d
        s, d = sort_pairs(s[keep], d[keep])
    else:
        s, d = sort_pairs(*(st[c].to_numpy().astype(np.int64)
                             for c in ("src", "dst")))
    del raw, st, src, dst
    it, stopped = start, False
    while it < max_iter and not stopped:
        it += 1
        t0 = time.perf_counter()
        ns, nd = _star_round(s, d)
        stopped = np.array_equal(ns, s) and np.array_equal(nd, d)
        s, d = ns, nd
        commit = bool(interval) and it % interval == 0
        records.append((it, {"edges": float(s.size),
                             "wall_ms": (time.perf_counter() - t0) * 1000.0,
                             "_commit": commit, "_stopped": stopped}))
        if commit:
            yield it, {"src": s, "dst": d}
    # Labels as _components reads them off the last edge set.
    hi, lo = np.maximum(s, d), np.minimum(s, d)
    hi, lo = _group_min(hi, lo)
    component = ids.copy()
    component[np.searchsorted(ids, hi)] = lo
    yield None, {"id": ids, "component": component}


def _group_min(key: np.ndarray, val: np.ndarray):
    """(distinct keys, min ``val`` per key)."""
    key, val = sort_pairs(key, val)
    first = np.r_[True, key[1:] != key[:-1]] if key.size else key.astype(bool)
    return key[first], val[first]


def _star_round(s: np.ndarray, d: np.ndarray):
    """One round of ``_components``: large-star, small-star, symmetrize.
    ``(s, d)`` is the symmetric edge list sorted by (s, d); so is the
    result, which is duplicate-free."""
    # large-star: m(u) = min(N(u) ∪ {u}); emit (v, m(u)) for v ∈ N(u), v > u.
    keys, m = _group_min(s, d)
    m_u = np.minimum(m, keys)[np.searchsorted(keys, s)]
    keep = d > s
    ls_src, ls_dst = d[keep], m_u[keep]
    keep = ls_src != ls_dst
    ls_src, ls_dst = ls_src[keep], ls_dst[keep]
    # small-star over (hi, lo) pairs: m(hi) = min(lo-set ∪ {hi}); emit
    # (lo, m) for each lo and (hi, m), v ≠ m.
    hi, lo = sort_pairs(np.maximum(ls_src, ls_dst),
                         np.minimum(ls_src, ls_dst), unique=True)
    keys, m = _group_min(hi, lo)
    m = np.minimum(m, keys)
    out_s = np.concatenate([lo, keys])
    out_d = np.concatenate([m[np.searchsorted(keys, hi)], m])
    keep = out_s != out_d
    out_s, out_d = out_s[keep], out_d[keep]
    return sort_pairs(np.concatenate([out_s, out_d]),
                       np.concatenate([out_d, out_s]), unique=True)


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
