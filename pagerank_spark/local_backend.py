"""The local backend: an iterative operator's whole loop in ONE Spark task.

Like the reference's single-node path (PAPER.md, ``pagerank.cpp:224-227``),
a graph that fits one process needs no communication per iteration.  The
operators that use this backend (the PageRank family, connected
components and label propagation) share three things, all here:

- the budget: a loop runs locally only when its estimated peak footprint
  in the Python worker fits ``LOCAL_MAX_BYTES``; every metrics row of
  either backend carries the probe that decided it (``budget_probe``,
  ``edge_list_probe``);
- the one-task call: ``run_one_task`` runs a NumPy kernel in one
  ``mapInArrow`` task over the inputs coalesced to one partition;
- the commit: the kernel streams out each state on the caller's
  checkpoint cadence as it is produced, and the driver commits those
  states in order through ``write_state`` / ``write_metrics``, so resume
  works across backends.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (IntegerType, IntegralType, StructField,
                               StructType)

from pagerank_spark.checkpoint import release

# The per-edge and per-vertex costs behind each estimate are the
# kernel's measured peak RSS above the worker's idle baseline
# (ARCHITECTURE.md, "Local backend").
LOCAL_MAX_BYTES = 1 << 30
# The edge-list kernels (connected components, label propagation).
EDGE_LIST_BYTES_PER_EDGE = 240
EDGE_LIST_BYTES_PER_VERTEX = 48

# The column of the one row ``run_one_task`` adds to its inputs, so that
# the task runs even over an input with no partitions.
_MARKER = "_one_task"


def budget_probe(num_edges: int | None, n: int | None,
                 est_bytes: int | None) -> dict:
    """The probe fields every metrics row carries; None where a value
    was not measured."""
    return {"num_edges": num_edges, "n": n, "est_bytes": est_bytes,
            "budget_bytes": LOCAL_MAX_BYTES}


def edge_list_probe(edges: DataFrame) -> tuple[bool, dict]:
    """Whether a loop over the ``(src, dst)`` edge list runs locally, and
    the probe (``plan`` included) that decided it.

    One aggregate over the input counts |E| and the rows with a NULL
    endpoint.  The estimate charges the most vertices |E| edges can
    touch, n = 2|E| (reported as ``n``): an exact or approximate distinct
    count would cost the probe a shuffle or twice its time.  Local needs
    integral endpoint types, no NULL endpoint and an estimate within
    LOCAL_MAX_BYTES; a non-integral input is not counted."""
    from pagerank_spark.session import static_plan

    if not all(isinstance(edges.schema[c].dataType, IntegralType)
               for c in ("src", "dst")):
        return False, {"plan": "distributed", **budget_probe(None, None, None)}
    with static_plan(edges.sparkSession):   # one job, not one per stage
        row = edges.agg(
            F.count(F.lit(1)).alias("e"),
            F.count(F.when(F.col("src").isNull() | F.col("dst").isNull(), 1))
            .alias("nulls"),
        ).first()
    num_edges, n = int(row["e"]), 2 * int(row["e"])
    est = EDGE_LIST_BYTES_PER_EDGE * num_edges + EDGE_LIST_BYTES_PER_VERTEX * n
    local = row["nulls"] == 0 and est <= LOCAL_MAX_BYTES
    return local, {"plan": "local" if local else "distributed",
                   **budget_probe(num_edges, n, est)}


def run_one_task(inputs: DataFrame, kernel, fields: list[StructField], *,
                 state_cols: list[str], result_cols: list[str], ckpt,
                 record: dict, state_files: int | None = None):
    """Run ``kernel`` over ``inputs`` in ONE Spark task; returns
    ``(result, metrics, stopped)``.

    ``kernel(table, records)`` gets every input row as one Arrow table
    and is a generator of ``(iteration, columns)`` pairs: ``columns``
    maps some of ``fields`` to equal-length arrays (the rest are NULL).
    It yields each state on ``ckpt``'s cadence (``iteration`` k) as it is
    produced and then the result (``iteration`` None), and appends one
    ``(iteration, metrics)`` pair per iteration to ``records``; each
    metrics dict carries ``_commit`` (the iteration's state was yielded
    for commit) and ``_stopped`` (the loop's stop rule held).

    One Spark job runs the kernel and materialises its output (eager
    ``localCheckpoint``); the records come back with the task, through an
    accumulator.  The driver then commits the yielded states in order
    through ``ckpt.write_state`` / ``write_metrics``, with ``record``'s
    keys added to every metrics row.  When it committed any, the result
    is materialised apart from them, so they are not kept alive with it."""
    from pyspark.sql.pandas.types import to_arrow_schema

    spark = inputs.sparkSession
    schema = StructType(
        [StructField(f.name, f.dataType, True) for f in fields]
        + [StructField("iteration", IntegerType(), True)])
    records = spark.sparkContext.accumulator([], _Records())
    body = functools.partial(_task, kernel=kernel, records=records,
                             schema=to_arrow_schema(schema))
    marker = spark.range(1).select(F.lit(True).alias(_MARKER))
    out = (inputs.unionByName(marker, allowMissingColumns=True).coalesce(1)
           .mapInArrow(body, schema).localCheckpoint(eager=True))
    # The registry keeps every accumulator: leave this one empty.
    done, records.value = records.value, []
    metrics, stopped, committed = [], False, False
    for it, m in sorted(done, key=lambda r: r[0]):
        commit, stopped = m.pop("_commit"), m.pop("_stopped")
        m.update(record)
        metrics.append({"iteration": it, **m})
        if commit:
            ckpt.write_state(
                out.where(F.col("iteration") == it).select(*state_cols),
                it, target_partitions=state_files)
            ckpt.write_metrics(it, m)
            committed = True
    result = out.where(F.col("iteration").isNull()).select(*result_cols)
    if committed:
        result = result.localCheckpoint(eager=True)
        release(out)
    return result, metrics, stopped


class _Records(AccumulatorParam):
    """The kernel's per-iteration ``(iteration, metrics)`` records."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        return a + b


def _task(batches, *, kernel, records, schema):
    """``mapInArrow`` body of ``run_one_task``: the kernel's yields as
    record batches; its records go to the ``records`` accumulator."""
    import pyarrow as pa
    import pyarrow.compute as pc

    table = pa.Table.from_batches(list(batches))
    table = table.filter(pc.is_null(table[_MARKER])).drop_columns([_MARKER])
    fields = [schema.field(i) for i in range(len(schema) - 1)]
    kernel_records: list[tuple[int, dict]] = []
    for it, columns in kernel(table, kernel_records):
        k = len(next(iter(columns.values())))
        yield pa.RecordBatch.from_arrays(
            [_arrow(columns.get(f.name), f.type, k) for f in fields]
            + [pa.nulls(k, pa.int32()) if it is None
               else pa.array(np.full(k, it, np.int32))],
            schema=schema)
    records.add(kernel_records)


def _arrow(values, type_, k: int):
    """``values`` (NumPy or Arrow, or None for NULLs) as an Arrow array
    of ``type_``."""
    import pyarrow as pa

    if values is None:
        return pa.nulls(k, type_)
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if isinstance(values, pa.Array):
        return values.cast(type_)
    return pa.array(values, type=type_)


def sort_pairs(a: np.ndarray, b: np.ndarray, unique: bool = False):
    """Kernel helper: (a, b) sorted by (a, b); with ``unique``, duplicate
    pairs dropped."""
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    if unique and a.size:
        keep = np.r_[True, (a[1:] != a[:-1]) | (b[1:] != b[:-1])]
        a, b = a[keep], b[keep]
    return a, b
