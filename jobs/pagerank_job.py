#!/usr/bin/env python
"""Standalone PageRank job — the spark-submit entry point.

    spark-submit --py-files engine.zip jobs/pagerank_job.py \
        --edges /path/to/edges.parquet --tol 1e-10 \
        --checkpoint-dir /path/ckpt [--max-iter N] [--out result.json]

In the sandbox it is also invoked directly with --master local[N] by
bench_scaling.py to produce the N-vs-4N scaling evidence (a fresh JVM
per parallelism level, same input).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--edges", required=True, help="parquet edge table (src,dst)")
    p.add_argument("--master", default=None)
    p.add_argument("--cores", type=int, default=None,
                   help="partitioning hint; defaults from master/local[N]")
    p.add_argument("--tol", type=float, default=1e-10)
    p.add_argument("--max-iter", type=int, default=100_000)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--checkpoint-interval", type=int, default=8)
    p.add_argument("--salt-threshold", type=int, default=None)
    p.add_argument("--prepared", action="store_true",
                   help="input edges are already deduped; skip the "
                        "dedupe/repartition build")
    p.add_argument("--split-bytes", default=None,
                   help="spark.sql.files.maxPartitionBytes override; "
                        "finer splits raise scan parallelism without "
                        "reordering rows (cache stays compressible)")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--out", default=None, help="write result JSON here")
    args = p.parse_args()

    from pagerank_spark.session import get_spark
    from pagerank_spark import graph
    from pagerank_spark.checkpoint import CheckpointManager
    from pagerank_spark.operators import pagerank

    extra = {}
    if args.split_bytes:
        extra["spark.sql.files.maxPartitionBytes"] = args.split_bytes
    spark = get_spark(app_name="pagerank_job", master=args.master,
                      extra_conf=extra)
    cores = args.cores or spark.sparkContext.defaultParallelism
    edges = spark.read.parquet(args.edges)

    t_build0 = time.monotonic()
    if args.prepared:
        g = graph.prepare_prebuilt(edges)
    else:
        g = graph.prepare(edges, partitions=max(2 * cores, 8))
    build_sec = time.monotonic() - t_build0

    ck = None
    if args.checkpoint_dir:
        ck = CheckpointManager(spark, args.checkpoint_dir,
                               interval=args.checkpoint_interval)
    t0 = time.monotonic()
    res = pagerank(g, tol=args.tol, max_iter=args.max_iter, checkpoint=ck,
                   checkpoint_interval=args.checkpoint_interval,
                   salt_threshold=args.salt_threshold, resume=args.resume)
    iter_sec = time.monotonic() - t0

    n_edges = g.edges.count()
    top = res.top(1).first()
    # The plan the driver chose and the probe that chose it (the same
    # on every metrics row of one run).
    probe = res.metrics[-1] if res.metrics else {}
    result = {
        "n_edges": n_edges,
        "n_vertices": g.n,
        "iterations": res.iterations,
        "final_l1": res.final_l1,
        "top_vertex": top["id"] if top else None,
        "top_pr": top["pr"] if top else None,
        "build_sec": round(build_sec, 3),
        "iterate_sec": round(iter_sec, 3),
        "edges_per_sec_per_iter": round(
            n_edges * res.iterations / iter_sec, 1) if iter_sec else 0.0,
        "cores": cores,
        **{k: probe.get(k) for k in ("plan", "est_bytes", "budget_bytes")},
    }
    print(json.dumps(result))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f)


if __name__ == "__main__":
    main()
