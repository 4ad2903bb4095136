#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

plus detail fields (pagerank iterations / edges-per-sec-per-iteration —
the north-star throughput metric).  Scaling evidence (same job at two
parallelism levels) lives in bench_scaling.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pagerank_spark.session import get_spark, host_cpus, host_driver_memory

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.0

    from pagerank_spark import datagen, extraction, graph
    from pagerank_spark.operators import (
        bfs_depths, clustering_coefficients, connected_components, hits,
        k_core, katz_centrality, pagerank, personalized_pagerank,
        shortest_paths, strongly_connected_components)
    from pagerank_spark.operators.triangles import triangles
    from pagerank_spark.operators.labelprop import label_propagation
    from pagerank_spark.operators.weighted import weighted_pagerank
    from pagerank_spark.pipeline import (
        curation, dedup, filtering, similarity, textstats, tfidf)

    spark = get_spark(
        app_name="pagerank_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={
            "spark.driver.memory": (os.environ.get("SPARK_DRIVER_MEM")
                                    or host_driver_memory()),
            "spark.ui.showConsoleProgress": "false",
        },
    )

    import __spark_entry__ as entry_mod

    timings: dict[str, float] = {}
    detail: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.monotonic()
        out = fn()
        timings[name] = round(time.monotonic() - t0, 3)
        return out

    # Host-drift sentinel: a fixed-work JVM codegen scan (no IO, no
    # engine code) timed before anything else.  This shared sandbox
    # drifts +-20-30% run-to-run (BENCH/BASELINE.md round-5 variance
    # disclosure; the round-4 checkout re-measured 1.5-1.9x its own
    # published numbers on a bad day), so per-round query deltas are
    # only comparable after normalizing by this calibration: a delta
    # that tracks the sentinel is the machine, not the engine.
    t0 = time.monotonic()
    spark.range(400_000_000).select(
        F.sum(F.col("id") % 7).alias("s")).collect()
    detail["host_calibration_sec"] = round(time.monotonic() - t0, 3)

    # -- graph suite ------------------------------------------------------
    edges = entry_mod._edges(spark, sf_dir)
    g = timed("graph_build", lambda: graph.prepare(edges))
    n_edges = g.edges.count()

    res = timed("pagerank_1e10",
                lambda: pagerank(g, tol=1e-10, max_iter=500,
                                 checkpoint_interval=16))
    detail["pagerank_iterations"] = res.iterations
    detail["pagerank_final_l1"] = res.final_l1
    detail["n_edges"] = n_edges
    detail["n_vertices"] = g.n
    detail["pagerank_edges_per_sec_per_iter"] = round(
        n_edges * res.iterations / timings["pagerank_1e10"], 1)

    timed("connected_components",
          lambda: connected_components(g.edges).select(
              F.countDistinct("component")).first())
    timed("triangle_count", lambda: triangles(g.edges).count())
    timed("label_propagation_k2",
          lambda: label_propagation(g.edges, max_iter=2).count())

    def _lpa_modularity():
        from pagerank_spark.operators.labelprop import modularity_score
        labels = label_propagation(g.edges, max_iter=2)
        return modularity_score(g.edges, labels).first()["modularity"]

    timed("lpa_modularity", _lpa_modularity)
    timed("bfs_depths", lambda: bfs_depths(g.edges, [1]).count())
    timed("ppr_k20",
          lambda: personalized_pagerank(g, [1], max_iter=20).ranks.count())
    timed("pagerank_weighted_k20",
          lambda: weighted_pagerank(
              g.edges.withColumn("weight", F.lit(1.0)),
              max_iter=20).ranks.count())
    timed("hits_k8", lambda: hits(g.edges, n=g.n, max_iter=8).count())
    from pagerank_spark.operators.salsa import salsa
    timed("salsa_k8",
          lambda: salsa(g.edges, n=g.n, max_iter=8, tol=0.0).count())
    timed("katz_k8",
          lambda: katz_centrality(g, alpha=0.001, max_iter=8,
                                  tol=0.0).ranks.count())
    timed("sssp",
          lambda: shortest_paths(
              g.edges.withColumn(
                  "weight",
                  ((F.col("src") + F.col("dst")) % 7 + 1).cast("double")),
              [1]).count())
    timed("kcore_40", lambda: k_core(g.edges, 40).count())
    from pagerank_spark.operators.structure import core_decomposition
    timed("core_decomposition",
          lambda: core_decomposition(g.edges).count())
    from pagerank_spark.operators.msf import minimum_spanning_forest
    timed("msf", lambda: minimum_spanning_forest(
        g.edges.withColumn(
            "weight",
            ((F.col("src") + F.col("dst")) % 7 + 1).cast("double"))).count())
    timed("scc",
          lambda: strongly_connected_components(g.edges, n=g.n).count())
    timed("clustering_coeff",
          lambda: clustering_coefficients(g.edges).count())
    from pagerank_spark.operators.centrality import harmonic_centrality
    from pagerank_spark.operators.linkpred import link_prediction
    from pagerank_spark.operators.scc import scc_condensation
    from pagerank_spark.operators.walks import random_walks
    timed("link_prediction",
          lambda: link_prediction(g.edges, max_center_degree=64,
                                  top_k=100).count())
    timed("harmonic_k4",
          lambda: harmonic_centrality(g.edges, [1, 2, 3, 5]).agg(
              F.sum("harmonic_q6")).collect())
    timed("random_walks_k4",
          lambda: random_walks(g.edges, num_steps=4).count())
    from pagerank_spark.operators.walks import node2vec_walks
    timed("node2vec_k3",
          lambda: node2vec_walks(g.edges, num_steps=3).count())
    from pagerank_spark.operators.scc import bowtie_regions
    timed("bowtie",
          lambda: bowtie_regions(g.edges, n=g.n)
          .groupBy("region").count().collect())
    timed("scc_condensation",
          lambda: scc_condensation(g.edges, n=g.n).count())
    from pagerank_spark.operators.truss import k_truss
    timed("ktruss_20", lambda: k_truss(g.edges, 20).count())
    from pagerank_spark.operators.localcluster import sweep_cut
    timed("sweep_cut",
          lambda: sweep_cut(g, 1, max_iter=3, max_prefix=24).count())
    from pagerank_spark.operators.neighborhood import hyperball_harmonic
    timed("hyperball_harmonic",
          lambda: hyperball_harmonic(g.edges, 3).agg(
              F.sum("harmonic_q")).collect())
    from pagerank_spark.operators.scan import scan_clusters
    timed("scan_clusters",
          lambda: scan_clusters(g.edges, eps_num=2, eps_den=5,
                                mu=3).count())
    from pagerank_spark.operators.eigencentrality import (
        eigenvector_centrality)
    timed("eigenvector_k8",
          lambda: eigenvector_centrality(g, max_iter=8,
                                         tol=0.0).ranks.count())
    from pagerank_spark.operators.structure import bipartite_check
    timed("bipartite",
          lambda: bipartite_check(g.edges).agg(
              F.sum("odd_edges"), F.sum("n_vertices")).collect())
    from pagerank_spark.operators.mis import maximal_independent_set
    timed("mis", lambda: maximal_independent_set(g.edges).count())
    from pagerank_spark.operators.scc import condensation_levels
    timed("condensation_levels",
          lambda: condensation_levels(g.edges, n=g.n).agg(
              F.max("level"), F.sum("n_members")).collect())
    from pagerank_spark.operators.betweenness import betweenness
    timed("betweenness_p4",
          lambda: betweenness(g.edges, [1, 2, 3, 5]).agg(
              F.sum("bet_q9")).collect())
    from pagerank_spark.operators.neighborhood import neighborhood_function
    timed("neighborhood_r3",
          lambda: neighborhood_function(g.edges, 3).agg(
              F.sum("sum_rho")).collect())
    from pagerank_spark.operators.densest import densest_subgraph
    timed("densest_subgraph",
          lambda: densest_subgraph(g.edges).vertices.count())
    from pagerank_spark.operators.matching import coarsen_graph
    timed("coarsen_graph",
          lambda: coarsen_graph(g.edges, seed=42).count())
    from pagerank_spark.operators.spectral import fiedler_vector
    timed("fiedler_k8",
          lambda: fiedler_vector(g.edges, n=g.n, iterations=8).count())
    from pagerank_spark.operators.labelspread import (
        label_spreading, modular_seeds)
    timed("label_spreading_k4",
          lambda: label_spreading(
              g.edges, modular_seeds(g.edges, 16, 4),
              iterations=4).count())
    # rectangle_count is deliberately NOT benched at sf0.1: the exact
    # 4-cycle census generates 172M wedge rows here (~56s of honest
    # shuffle — it would dominate the bench total without measuring
    # anything new about the engine).  It is oracle-checked in
    # tests/test_entry_contract.py and unit-tested against brute force.

    # -- extraction stage (pandas-UDF path) -------------------------------
    files, _ = datagen.repo_files_corpus(
        spark, n_repos=500, files_per_repo=6, seed=42, cross_refs_per_file=4)
    files = files.repartition(max(cpus, 16)).persist()
    files.count()
    timed("extraction_edges",
          lambda: extraction.derive_edges(files).count())

    # -- documents / embeddings suite -------------------------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").persist()
    docs.count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).persist()
    emb.count()

    # NOTE: projection-only operators are forced with a column agg —
    # a bare count() lets Spark prune every column and measures only
    # the parquet row count, not the operator (caught in round 5; the
    # r3/r4 doc_token_stats/doc_quality readings were near-zero for
    # this reason).
    timed("doc_token_stats", lambda: textstats.token_counts(docs).agg(
        F.sum("ws_tokens"), F.sum("bpe_tokens")).collect())
    timed("doc_quality", lambda: textstats.quality_scores(docs).agg(
        F.sum("quality"), F.sum("stop_ratio")).collect())
    timed("doc_repetition", lambda: curation.repetition_stats(docs).agg(
        F.sum("dup_word_frac"), F.sum("top_bigram_frac"),
        F.sum("top_trigram_frac")).collect())
    timed("doc_chunks", lambda: curation.chunk_documents(docs).agg(
        F.sum("n_tok"), F.sum(F.length("chunk_text"))).collect())
    timed("docs_curated", lambda: curation.stratified_sample(
        docs.withColumn("lang", F.concat(F.lit("l"),
                                         F.col("doc_id") % 4)),
        {"l0": 0.5, "l1": 0.25, "l2": 0.1}, seed=7,
        default_rate=0.05).count())
    # token-budget mixture: agg over n_tok forces the tokenizer
    # projection (count() would prune it)
    timed("docs_mixture", lambda: curation.token_budget_sample(
        docs.withColumn("lang", F.concat(F.lit("l"),
                                         F.col("doc_id") % 4)),
        {"l0": 100_000, "l1": 50_000, "l2": 10_000}, seed=7).agg(
        F.sum("n_tok")).collect())
    timed("doc_unigram_logprob", lambda: textstats.unigram_logprob(
        docs).agg(F.sum("avg_logprob"), F.sum("n_tokens")).collect())
    # agg over length forces the regex projection (count() would
    # prune the redacted column and measure nothing)
    timed("pii_redacted",
          lambda: filtering.redact_pii(docs).agg(
              F.sum(F.length("text"))).collect())
    bench_docs = docs.where(F.col("doc_id") % 41 == 3).select(
        F.col("doc_id").alias("bench_id"), "text")
    timed("contamination_flags",
          lambda: filtering.contamination_matches(
              docs, bench_docs, n=8).count())
    timed("minhash_candidates",
          lambda: dedup.minhash_candidate_pairs(docs).count())
    timed("jaccard_pairs",
          lambda: dedup.ngram_jaccard_pairs(
              docs, threshold=0.8, max_df=100).count())
    timed("substring_dups",
          lambda: dedup.substring_dup_spans(docs, window_tokens=8)
          .count())
    timed("doc_dup_fraction",
          lambda: dedup.duplication_fraction(docs).agg(
              F.sum("dup_frac_q6")).collect())
    from pagerank_spark.pipeline.sketches import approx_distinct_ngrams
    timed("vocab_sketch",
          lambda: approx_distinct_ngrams(
              docs.withColumn("lang", (F.col("doc_id") % 4)
                              .cast("string")), n=2).count())
    from pagerank_spark.pipeline.sketches import approx_length_quantiles
    timed("length_quantiles",
          lambda: approx_length_quantiles(
              docs.withColumn("lang", (F.col("doc_id") % 4)
                              .cast("string"))).count())
    from pagerank_spark.pipeline.curation import pack_bins, weighted_sample_topk
    timed("pack_bins",
          lambda: pack_bins(docs, max_tokens=1024, n_buckets=32)
          .agg(F.max("bin_id")).collect())
    timed("weighted_sample",
          lambda: weighted_sample_topk(
              docs.withColumn("lang", (F.col("doc_id") % 4)
                              .cast("string")), k=12).count())
    timed("dedup_clusters",
          lambda: dedup.near_dup_clusters(
              docs, threshold=0.8, max_df=100).count())
    # The synthetic corpus is 31 quasi-stop terms (30 of them in ~78%
    # of documents — probed in DuckDB), so FULL-corpus tf-idf pairing
    # is inherently dense: ~n^2/2 scored pairs no matter the join
    # strategy (59 s at 5k docs).  Bench a deterministic 1.5k-doc
    # slice for unit throughput; on a real Zipfian vocabulary the
    # df cap binds and the sparse join is the right plan.
    tfidf_docs = docs.where(F.col("doc_id") < 1500)
    timed("tfidf_topk",
          lambda: tfidf.tfidf_topk(tfidf_docs, k=3,
                                   max_df=1200).count())
    timed("simhash_pairs",
          lambda: dedup.simhash_near_pairs(docs, max_hamming=3).count())

    queries_df = emb.limit(50).select(
        F.col("vec_id").alias("query_id"), "embedding")
    timed("ann_topk",
          lambda: similarity.cosine_topk(emb, queries_df, k=10).count())
    timed("ann_ivf_topk",
          lambda: similarity.ivf_topk(emb, queries_df, k=10, n_centroids=16,
                                      n_iters=3, n_probes=4).count())
    timed("ann_lsh_topk",
          lambda: similarity.lsh_topk(emb, queries_df, k=10,
                                      n_planes=4, n_tables=8).count())
    timed("ann_lsh_topk_vectorized",
          lambda: similarity.lsh_topk(emb, queries_df, k=10, n_planes=4,
                                      n_tables=8, vectorized=True).count())
    # shipped LSH-bucketed near-dup path over the FULL embedding table
    # (the r3 brute face capped input at 1k vectors; the bucket join
    # takes all of them) — vectorized Arrow bucketing, tail threshold
    # so the cosine filter actually scores candidates.
    timed("embedding_near_dups",
          lambda: dedup.embedding_near_dup_pairs(
              emb, threshold=0.4, n_planes=4, n_tables=8, max_bucket=2000,
              vectorized=True).count())
    # k-means clustering: agg over dist2 forces the argmin projection
    timed("embedding_clusters",
          lambda: similarity.ivf_assignments(
              emb, n_centroids=16, n_iters=3).agg(
              F.sum("dist2"), F.max("cluster")).collect())
    from pagerank_spark.pipeline.pca import pca_top_direction
    timed("embedding_pca",
          lambda: pca_top_direction(emb, iterations=3).count())

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "pagerank_spark_bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "detail": detail,
    }
    try:
        prev = _prev_round_diff(timings)
    except Exception:  # noqa: BLE001 — diffing must never lose the run
        prev = None
    if prev is not None:
        out["prev"] = prev
    print(json.dumps(out))


def _prev_round_diff(timings: dict) -> dict | None:
    """Per-query regression tracking: diff against the latest driver-
    recorded BENCH_r{N}.json so round-over-round regressions are
    mechanically visible (negative delta = faster this round)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    if not rounds:
        return None
    n, path = max(rounds)
    try:
        with open(path) as f:
            rec = json.load(f)
        parsed = rec.get("parsed", rec)
        prev_queries = parsed.get("queries", {})
        prev_total = parsed.get("value")
    except (OSError, json.JSONDecodeError, AttributeError):
        return None
    # Compare only over the INTERSECTION of query sets: a raw
    # total-vs-total diff misattributes added/removed timers as engine
    # regressions/improvements.  Non-numeric prior entries (partial or
    # corrupted records) are excluded rather than crashing the run.
    prev_queries = {q: v for q, v in prev_queries.items()
                    if isinstance(v, (int, float))}
    shared = sorted(set(timings) & set(prev_queries))
    return {
        "round": n,
        "total_prev": prev_total,
        "shared_total": round(sum(timings[q] for q in shared), 3),
        "shared_total_prev": round(sum(prev_queries[q] for q in shared), 3),
        "shared_total_delta": round(
            sum(timings[q] - prev_queries[q] for q in shared), 3),
        "queries_delta": {
            q: round(timings[q] - prev_queries[q], 3) for q in shared
        },
        "queries_new": sorted(q for q in timings if q not in prev_queries),
        "queries_removed": sorted(q for q in prev_queries if q not in timings),
    }


if __name__ == "__main__":
    main()
