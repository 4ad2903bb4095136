"""SparkSession factory tuned for the link-graph workload.

Local mode is the sandbox test bed; the same builder flags are what we
would pass to ``spark-submit`` on a multi-executor cluster (see
``jobs/``).  Key choices:

- AQE on (runtime coalescing + skew-join splitting backstop; our hub
  salting in ``skew.py`` is the primary skew defence).
- Arrow enabled: every Python-side transform is a vectorized
  pandas/Arrow UDF — no per-row Python anywhere.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this should be ~2-3x total executor cores (set by the job
  entrypoints, not hard-coded here).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def static_plan(spark: SparkSession, enabled: bool = True):
    """Temporarily disable adaptive query execution.

    AQE exists to re-plan around UNKNOWN data shapes at runtime.  A
    hand-tuned iterative loop (PageRank) runs the IDENTICAL plan every
    iteration over explicitly sized partitions — there is nothing for
    AQE to learn, but its per-query stage materialization and
    re-planning costs land on every one of O(100) iterations (measured
    285 → 237 ms/iter at sf0.1), and adaptive plans report
    UnknownPartitioning to downstream checkpoints, hiding the state
    table's co-partitioning.  Loops whose data shape CHANGES per round
    (connected components' geometrically shrinking edge set) keep AQE —
    coalescing there is measured faster.

    .. warning:: the toggle is SESSION-GLOBAL: ``spark.conf`` has no
       per-query scope, so any concurrent query on the same
       SparkSession (other driver threads, notebook cells) runs with
       AQE disabled while the context is open, and nested contexts
       restore whatever value the inner one observed.  For concurrent
       workloads give the loop its own ``spark.newSession()`` (shared
       SparkContext, isolated SQL conf) and pass that session's
       frames in.
    """
    if not enabled:
        yield
        return
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@contextmanager
def sized_shuffle(spark: SparkSession, partitions: int | None):
    """Temporarily size ``spark.sql.shuffle.partitions`` to the DATA
    a loop is about to move, restoring the session value on exit.

    An iterative loop's per-iteration exchanges move the |V|-row state
    table, not the session's worst-case workload: on a small-to-medium
    graph the session-wide width (cores-sized, or thousands on a real
    cluster) schedules mostly-empty tasks every iteration, and task
    launch overhead — not compute — dominates (measured at sf0.1,
    587k edges / 15k vertices on 32 cores: width 32 = 226 ms/iter,
    width 8 = 175 ms/iter, identical results).  Callers pass the width
    they sized for the loop's tables (e.g. the persisted edge
    partition count); values >= the session setting are a no-op, so at
    web scale — where the operator-tuned session width is the right
    answer — this context changes nothing.

    Same session-global caveat as :func:`static_plan`.
    """
    key = "spark.sql.shuffle.partitions"
    prev = int(spark.conf.get(key))
    if partitions is None or partitions >= prev:
        yield
        return
    spark.conf.set(key, str(partitions))
    try:
        yield
    finally:
        spark.conf.set(key, str(prev))


def host_cpus() -> int:
    """Cores this process may run on (``nproc``)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_driver_memory() -> str:
    """Default driver heap: a quarter of the host's physical memory, in
    whole GiB (at least 1g).  The rest stays for the Python workers and
    any other JVM on the host: a test run holds its own 8g session while
    a job it starts runs a second one."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(phys // 4 // 2**30, 1)}g"


def get_spark(
    app_name: str = "pagerank_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``
    (default: all cores).  On a real cluster, pass ``master=None`` and
    let ``spark-submit`` supply it.  The driver heap comes from
    ``SPARK_DRIVER_MEM``, else :func:`host_driver_memory`; an
    ``extra_conf`` ``spark.driver.memory`` wins over both.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = max(os.cpu_count() or 8, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or host_driver_memory())
        # Iterative drivers re-analyze plans every loop; cap the cost.
        .config("spark.sql.analyzer.maxIterations", "200")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
