from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import edges_df
from oracles import F2_EDGES, pagerank_oracle
from pagerank_spark import graph
from pagerank_spark.checkpoint import CheckpointManager
from pagerank_spark.operators import pagerank


SF001 = "/root/testdata/sf0.01"


def _ranks_dict(df):
    return {r["id"]: r["pr"] for r in df.collect()}


# The power-iteration driver's two backends on a small graph: "auto"
# picks the one-task local loop, "broadcast" the distributed one.
BACKENDS = ("local", "broadcast")


# FIXTURES.md F2 goldens (exact reference semantics, pre-swap vector).
F2_GOLDEN_L1 = {
    0: 0.214201109530419, 1: 0.15744966015736, 2: 0.347733931598026,
    3: 0.0664141886163887, 4: 0.214201109530419,
}
F2_GOLDEN_REF = {
    0: 0.214188169991618, 1: 0.157440602480199, 2: 0.347713228335943,
    3: 0.0664116007086284, 4: 0.214188169991618,
}


def test_f2_north_star_rule(spark):
    g = graph.prepare(edges_df(spark, F2_EDGES))
    res = pagerank(g, tol=1e-10)
    assert res.iterations == 132
    assert res.final_l1 < 1e-10
    ranks = _ranks_dict(res.ranks)
    for v, want in F2_GOLDEN_L1.items():
        assert ranks[v] == pytest.approx(want, abs=1e-9)
    assert sum(ranks.values()) == pytest.approx(0.999999999432613, abs=1e-9)
    top = res.top(1).first()
    assert top["id"] == 2


def test_f2_reference_stop_rule(spark):
    g = graph.prepare(edges_df(spark, F2_EDGES))
    res = pagerank(g, stop_rule="reference")
    assert res.iterations == 61
    ranks = _ranks_dict(res.ranks)
    for v, want in F2_GOLDEN_REF.items():
        assert ranks[v] == pytest.approx(want, abs=1e-9)


@pytest.mark.parametrize("mode", ["broadcast", "shuffle"])
def test_gather_modes_agree(spark, mode):
    g = graph.prepare(edges_df(spark, F2_EDGES))
    res = pagerank(g, tol=1e-4, gather_mode=mode)
    oracle_rep, _, oracle_it, _ = pagerank_oracle(F2_EDGES, tol=1e-4)
    assert res.iterations == oracle_it
    ranks = _ranks_dict(res.ranks)
    for v in range(5):
        assert ranks[v] == pytest.approx(oracle_rep[v], abs=1e-9)


def test_star_dangling(spark):
    # FIXTURES F4 star: i→0 for i in 1..20; vertex 0 dangling w/ top rank.
    edges = [(i, 0) for i in range(1, 21)]
    g = graph.prepare(edges_df(spark, edges))
    res = pagerank(g, tol=1e-4)
    oracle_rep, _, oracle_it, _ = pagerank_oracle(edges, tol=1e-4)
    assert res.iterations == oracle_it
    ranks = _ranks_dict(res.ranks)
    np.testing.assert_allclose(
        [ranks[v] for v in range(21)], oracle_rep, atol=1e-9)
    assert res.top(1).first()["id"] == 0


def test_cycle_uniform(spark):
    # directed 8-cycle: all ranks 1/8 at convergence.
    edges = [(i, (i + 1) % 8) for i in range(8)]
    g = graph.prepare(edges_df(spark, edges))
    res = pagerank(g, tol=1e-6)
    ranks = _ranks_dict(res.converged_ranks)
    np.testing.assert_allclose(list(ranks.values()), [1 / 8] * 8, atol=1e-5)


def test_isolated_gap_gets_mass(spark):
    # edges {0→2}: vertex 1 is in-domain, isolated, dangling — it must
    # receive (1-d)/N + dangling share (reference quirk Q3).
    g = graph.prepare(edges_df(spark, [(0, 2)]))
    res = pagerank(g, tol=1e-4)
    oracle_rep, _, oracle_it, _ = pagerank_oracle([(0, 2)], tol=1e-4)
    assert res.iterations == oracle_it
    ranks = _ranks_dict(res.ranks)
    assert set(ranks) == {0, 1, 2}
    np.testing.assert_allclose(
        [ranks[v] for v in range(3)], oracle_rep, atol=1e-9)


def test_random_graph_vs_oracle(spark):
    rng = np.random.default_rng(42)
    n, p = 60, 0.06
    edges = [(int(i), int(j)) for i in range(n) for j in range(n)
             if i != j and rng.random() < p]
    g = graph.prepare(edges_df(spark, edges))
    res = pagerank(g, tol=1e-4)
    oracle_rep, _, oracle_it, _ = pagerank_oracle(edges, tol=1e-4)
    assert res.iterations == oracle_it
    ranks = _ranks_dict(res.ranks)
    np.testing.assert_allclose(
        [ranks[v] for v in sorted(ranks)], oracle_rep, atol=1e-8)


@pytest.mark.parametrize("mode", ["auto", "broadcast"])
def test_sf001_reference_parity(spark, mode):
    # Reference parity on data that is always present (the ego-Facebook
    # golden in test_facebook_golden.py skips without the reference
    # checkout): the driver's supplier→customer graph at sf0.01
    # (lineitem ⋈ orders, as __spark_entry__._edges builds it) against a
    # NumPy replay that reads the same tables without Spark.
    import pyarrow.parquet as pq

    from oracles import pagerank_bincount

    li = pq.read_table(f"{SF001}/lineitem.parquet",
                       columns=["l_orderkey", "l_suppkey"]).to_pandas()
    orders = pq.read_table(f"{SF001}/orders.parquet",
                           columns=["o_orderkey", "o_custkey"]).to_pandas()
    pairs = (li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
             [["l_suppkey", "o_custkey"]].drop_duplicates())
    src = pairs["l_suppkey"].to_numpy(np.int64)
    dst = pairs["o_custkey"].to_numpy(np.int64)
    n = int(max(src.max(), dst.max())) + 1
    want, want_it, _ = pagerank_bincount(src, dst, n, tol=1e-10)

    import __spark_entry__ as driver

    g = graph.prepare(driver._edges(spark, SF001))
    res = pagerank(g, tol=1e-10, gather_mode=mode)
    assert res.metrics[0]["plan"] == ("local" if mode == "auto" else mode)
    assert g.n == n
    assert res.iterations == want_it
    assert res.final_l1 < 1e-10
    ranks = _ranks_dict(res.ranks)
    got = np.array([ranks[v] for v in range(n)])
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-6)
    assert res.top(1).first()["id"] == int(np.argmax(want))
    assert abs(got.sum() - 1.0) < 1e-8


def test_max_iter_exit_reports_post_swap(spark):
    # Reference parity on the max-iter path (ADVICE round 1): the ref
    # swaps pr = new_pr on every non-break iteration, so a run that
    # exhausts max_iter reports x_k, while a stop-rule exit reports the
    # pre-swap x_{k-1} (quirk Q4).
    g = graph.prepare(edges_df(spark, F2_EDGES))
    capped = pagerank(g, tol=1e-10, max_iter=5)
    _, oracle_xk, oracle_it, _ = pagerank_oracle(
        F2_EDGES, tol=1e-10, max_iter=5)
    assert capped.iterations == oracle_it == 5
    ranks = _ranks_dict(capped.ranks)
    np.testing.assert_allclose(
        [ranks[v] for v in range(5)], oracle_xk, atol=1e-12)
    # and the converged path still reports pre-swap (golden asserts in
    # test_f2_north_star_rule cover the values; here just the identity):
    conv = pagerank(g, tol=1e-4)
    assert _ranks_dict(conv.ranks) != _ranks_dict(conv.converged_ranks)


@pytest.mark.parametrize("mode", ["local", "broadcast"])
def test_checkpoint_resume_bit_identical(spark, tmp_path, mode):
    # FIXTURES F5 shape, capped at a fixed horizon to keep the suite
    # fast: interrupt at iteration 12, resume, compare the iterate at
    # 30 bit-for-bit with the uninterrupted run's.
    edges = F2_EDGES
    g = graph.prepare(edges_df(spark, edges))

    full_ck = CheckpointManager(spark, str(tmp_path / "full"), interval=1)
    full = pagerank(g, tol=1e-10, max_iter=18, checkpoint=full_ck,
                    gather_mode=mode)

    part_ck = CheckpointManager(spark, str(tmp_path / "part"), interval=1)
    pagerank(g, tol=1e-10, max_iter=8, checkpoint=part_ck, gather_mode=mode)
    assert part_ck.latest_iteration() == 8
    resumed = pagerank(g, tol=1e-10, max_iter=18, checkpoint=part_ck,
                       resume=True, gather_mode=mode)

    assert resumed.iterations == full.iterations == 18
    a = _ranks_dict(full.ranks)
    b = _ranks_dict(resumed.ranks)
    assert a == b  # bit-for-bit (same deterministic plan per iteration)

    # Metrics + state commits: one per iteration, no gaps.
    assert full_ck.committed_iterations() == list(range(1, 19))
    mrows = full_ck.read_metrics().select("iteration").collect()
    assert sorted(r["iteration"] for r in mrows) == list(range(1, 19))


def test_checkpoint_hadoop_fs_uri_root(spark, tmp_path):
    # URI-schemed roots (hdfs://, s3a://) must work from a cluster
    # driver; the file:// scheme routes through the same Hadoop
    # FileSystem branch against the local disk.
    root = f"file://{tmp_path}/hck"
    g = graph.prepare(edges_df(spark, F2_EDGES))
    ck = CheckpointManager(spark, root, interval=1)
    pagerank(g, tol=1e-10, max_iter=6, checkpoint=ck)
    assert ck.committed_iterations() == [1, 2, 3, 4, 5, 6]
    mrows = ck.read_metrics().select("iteration").collect()
    assert sorted(r["iteration"] for r in mrows) == list(range(1, 7))

    resumed = pagerank(g, tol=1e-10, max_iter=10, checkpoint=ck, resume=True)
    assert resumed.iterations == 10
    assert ck.latest_iteration() == 10

    ck.prune_states_before(9)
    assert ck.committed_iterations() == [9, 10]
    # metric reads work through the Hadoop branch too
    assert ck.read_metric(10, "l1") is not None
    assert ck.read_metric(999, "l1") is None
    ck.clear()
    assert ck.committed_iterations() == []


@pytest.mark.parametrize("mode", ["local", "broadcast"])
def test_resume_stop_check_recovers_prior_l1(spark, tmp_path, mode):
    # The reference stop rule's plateau branch compares successive L1
    # values; a resumed run must recover the prior iteration's L1 from
    # the metrics log instead of silently skipping the branch.
    from pagerank_spark.operators.pagerank import _stopped

    assert _stopped(2e-5, 2e-5 + 5e-8, "reference", 1e-10) is True
    assert _stopped(2e-5, None, "reference", 1e-10) is False

    g = graph.prepare(edges_df(spark, F2_EDGES))
    ck = CheckpointManager(spark, str(tmp_path / "ref"), interval=5)
    full = pagerank(g, stop_rule="reference", checkpoint=ck, gather_mode=mode)
    assert full.iterations == 61
    # the committed metrics expose the prior L1 the resume-time stop
    # check recovers (iteration 60 is on the interval-5 cadence)
    assert ck.read_metric(60, "l1") == full.metrics[59]["l1"]
    resumed = pagerank(g, stop_rule="reference", checkpoint=ck, resume=True,
                       gather_mode=mode)
    assert resumed.iterations == full.iterations
    assert _ranks_dict(resumed.ranks) == _ranks_dict(full.ranks)


def test_checkpoint_carries_partition_lineage(spark, tmp_path):
    # per-partition lineage: every state file row records the writing
    # partition id; metrics record the partition count.
    g = graph.prepare(edges_df(spark, F2_EDGES))
    ck = CheckpointManager(spark, str(tmp_path / "lin"), interval=1)
    pagerank(g, max_iter=3, checkpoint=ck)
    raw = spark.read.parquet(str(tmp_path / "lin" / "state" / "iter=3"))
    assert "part_id" in raw.columns
    assert raw.where("part_id is null").count() == 0
    m = ck.read_metrics().where("iteration = 3").first()
    assert m["num_partitions"] >= 1


# ---------------------------------------------------- personalized PageRank

def test_ppr_matches_numpy_oracle(spark):
    import random

    from oracles import ppr_oracle
    from pagerank_spark.operators.ppr import personalized_pagerank

    rng = random.Random(5)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
    g = graph.prepare(edges_df(spark, edges))
    want, want_it, _ = ppr_oracle(edges, [0, 7], tol=1e-10)
    for mode in BACKENDS:
        res = personalized_pagerank(g, [0, 7], tol=1e-10, gather_mode=mode)
        got = _ranks_dict(res.ranks)
        assert res.iterations == want_it
        assert np.allclose([got[i] for i in range(g.n)], want, atol=1e-9)
        # mass conservation: dangling re-injection through the restart
        # distribution keeps the walk normalized at convergence.
        assert abs(sum(got.values()) - 1.0) < 1e-8


def test_ppr_localizes_mass(spark):
    # two disjoint cliques: personalizing on one leaves ~zero rank on
    # the other (only via its own restart, which is 0).
    from pagerank_spark.operators.ppr import personalized_pagerank

    clique = lambda ids: [(a, b) for a in ids for b in ids if a != b]  # noqa: E731
    edges = clique(range(5)) + clique(range(10, 15))
    g = graph.prepare(edges_df(spark, edges))
    got = _ranks_dict(personalized_pagerank(g, [0], tol=1e-12).ranks)
    assert sum(got[i] for i in range(10, 15)) < 1e-12
    assert abs(sum(got[i] for i in range(5)) - 1.0) < 1e-8


def test_ppr_uniform_sources_equals_global(spark):
    # restart uniform over the FULL domain == global PageRank (the
    # global operator is the |S| = N special case).
    from pagerank_spark.operators.ppr import personalized_pagerank

    g = graph.prepare(edges_df(spark, F2_EDGES))
    res_g = pagerank(g, tol=1e-12)
    res_p = personalized_pagerank(g, list(range(g.n)), tol=1e-12)
    gg = _ranks_dict(res_g.converged_ranks)
    pp = _ranks_dict(res_p.ranks)
    assert np.allclose([gg[i] for i in range(g.n)],
                       [pp[i] for i in range(g.n)], atol=1e-9)


# ------------------------------------------------------- weighted PageRank

def test_weighted_matches_numpy_oracle(spark):
    import random

    from oracles import weighted_pagerank_oracle
    from pagerank_spark.operators.weighted import weighted_pagerank

    rng = random.Random(9)
    edges = [(rng.randrange(30), rng.randrange(30), float(rng.randrange(1, 6)))
             for _ in range(90)]
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT, weight DOUBLE")
    want, _, _ = weighted_pagerank_oracle(edges, tol=1e-10)
    for mode in BACKENDS:
        got = _ranks_dict(weighted_pagerank(df, tol=1e-10,
                                            gather_mode=mode).ranks)
        assert np.allclose([got[i] for i in range(len(want))], want, atol=1e-9)


def test_weighted_uniform_equals_unweighted(spark):
    # weight 1 on every unique edge == the global operator exactly
    # (same zero init / dangling / stop, proportional split is 1/deg).
    from pagerank_spark.operators.weighted import weighted_pagerank

    df = edges_df(spark, F2_EDGES).withColumn("weight", F.lit(1.0))
    got = _ranks_dict(weighted_pagerank(df.dropDuplicates(["src", "dst"]),
                                        tol=1e-12).ranks)
    g = graph.prepare(edges_df(spark, F2_EDGES))
    want = _ranks_dict(pagerank(g, tol=1e-12).converged_ranks)
    assert np.allclose([got[i] for i in range(g.n)],
                       [want[i] for i in range(g.n)], atol=1e-12)


def test_weighted_parallel_edges_sum(spark):
    # duplicate (src, dst) rows combine by SUMMING weights (the
    # weighted analogue of the dedupe contract).
    from pagerank_spark.operators.weighted import weighted_pagerank

    dup = spark.createDataFrame(
        [(0, 1, 1.0), (0, 1, 2.0), (0, 2, 3.0), (1, 2, 1.0), (2, 0, 1.0)],
        "src BIGINT, dst BIGINT, weight DOUBLE")
    one = spark.createDataFrame(
        [(0, 1, 3.0), (0, 2, 3.0), (1, 2, 1.0), (2, 0, 1.0)],
        "src BIGINT, dst BIGINT, weight DOUBLE")
    a = _ranks_dict(weighted_pagerank(dup, tol=1e-12).ranks)
    b = _ranks_dict(weighted_pagerank(one, tol=1e-12).ranks)
    assert a == b


@pytest.mark.parametrize("mode", ["local", "broadcast"])
def test_ppr_checkpoint_resume_bit_identical(spark, tmp_path, mode):
    # Mirror of test_checkpoint_resume_bit_identical for the PPR loop:
    # interrupt at iteration 8, resume to 18, compare bit-for-bit with
    # the uninterrupted run (the checkpointed state carries the restart
    # column, so resume never re-derives the source set).
    from pagerank_spark.operators.ppr import personalized_pagerank

    g = graph.prepare(edges_df(spark, F2_EDGES))

    full_ck = CheckpointManager(spark, str(tmp_path / "pfull"), interval=1)
    full = personalized_pagerank(g, [0], tol=1e-10, max_iter=18,
                                 checkpoint=full_ck, gather_mode=mode)

    part_ck = CheckpointManager(spark, str(tmp_path / "ppart"), interval=1)
    personalized_pagerank(g, [0], tol=1e-10, max_iter=8, checkpoint=part_ck,
                          gather_mode=mode)
    assert part_ck.latest_iteration() == 8
    resumed = personalized_pagerank(g, [0], tol=1e-10, max_iter=18,
                                    checkpoint=part_ck, resume=True,
                                    gather_mode=mode)

    assert resumed.iterations == full.iterations == 18
    assert _ranks_dict(full.ranks) == _ranks_dict(resumed.ranks)
    assert part_ck.committed_iterations() == list(range(1, 19))


def test_ppr_resume_converged_returns_immediately(spark, tmp_path):
    from pagerank_spark.operators.ppr import personalized_pagerank

    g = graph.prepare(edges_df(spark, F2_EDGES))
    ck = CheckpointManager(spark, str(tmp_path / "pc"), interval=1)
    done = personalized_pagerank(g, [0], tol=1e-8, checkpoint=ck)
    again = personalized_pagerank(g, [0], tol=1e-8, checkpoint=ck,
                                  resume=True)
    assert again.iterations == done.iterations
    assert _ranks_dict(again.ranks) == _ranks_dict(done.ranks)


def test_weighted_checkpoint_resume_bit_identical(spark, tmp_path):
    from pagerank_spark.operators.weighted import weighted_pagerank

    ew = edges_df(spark, F2_EDGES).withColumn(
        "weight", (F.col("dst") % 4 + 1).cast("double"))

    for mode in BACKENDS:
        full_ck = CheckpointManager(spark, str(tmp_path / mode / "wfull"),
                                    interval=1)
        full = weighted_pagerank(ew, tol=1e-10, max_iter=18,
                                 checkpoint=full_ck, gather_mode=mode)

        part_ck = CheckpointManager(spark, str(tmp_path / mode / "wpart"),
                                    interval=1)
        weighted_pagerank(ew, tol=1e-10, max_iter=8, checkpoint=part_ck,
                          gather_mode=mode)
        assert part_ck.latest_iteration() == 8
        resumed = weighted_pagerank(ew, tol=1e-10, max_iter=18,
                                    checkpoint=part_ck, resume=True,
                                    gather_mode=mode)

        assert resumed.iterations == full.iterations == 18
        assert _ranks_dict(full.ranks) == _ranks_dict(resumed.ranks)
        assert part_ck.committed_iterations() == list(range(1, 19))
        # metrics carry the shared schema (l1 / dangling_mass / sum_pr)
        assert part_ck.read_metric(18, "sum_pr") is not None


def test_weighted_result_metrics_and_iterations(spark):
    from pagerank_spark.operators.weighted import weighted_pagerank

    ew = edges_df(spark, F2_EDGES).withColumn("weight", F.lit(1.0))
    res = weighted_pagerank(ew, max_iter=5)
    assert res.iterations == 5
    assert len(res.metrics) == 5
    assert res.metrics[-1]["l1"] == res.final_l1
    assert _ranks_dict(res.ranks) == _ranks_dict(res.converged_ranks)


def test_ppr_wpr_resume_zero_iterations_reports_true_l1(spark, tmp_path):
    # A resume that runs ZERO loop iterations (resumed it >= max_iter,
    # l1 still >= tol) must report the checkpointed state's true L1,
    # not 0.0 from an empty metrics list (katz has the same guarantee,
    # tested in test_katz.py).
    from pagerank_spark.operators.ppr import personalized_pagerank
    from pagerank_spark.operators.weighted import weighted_pagerank

    g = graph.prepare(edges_df(spark, F2_EDGES))
    pck = CheckpointManager(spark, str(tmp_path / "pz"), interval=1)
    first = personalized_pagerank(g, [0], tol=0.0, max_iter=6,
                                  checkpoint=pck)
    again = personalized_pagerank(g, [0], tol=0.0, max_iter=6,
                                  checkpoint=pck, resume=True)
    assert first.final_l1 > 0.0 and not again.metrics
    assert again.final_l1 == pytest.approx(first.final_l1, rel=1e-12)

    ew = edges_df(spark, F2_EDGES).withColumn(
        "weight", (F.col("dst") % 4 + 1).cast("double"))
    wck = CheckpointManager(spark, str(tmp_path / "wz"), interval=1)
    wfirst = weighted_pagerank(ew, tol=0.0, max_iter=6, checkpoint=wck)
    wagain = weighted_pagerank(ew, tol=0.0, max_iter=6, checkpoint=wck,
                               resume=True)
    assert wfirst.final_l1 > 0.0 and not wagain.metrics
    assert wagain.final_l1 == pytest.approx(wfirst.final_l1, rel=1e-12)
