"""spark-submit job surface: drive the standalone entry points the
way a user would (fresh subprocess JVM) on a small edge table and
check the JSON summaries."""

from __future__ import annotations

import json
import os
import subprocess

import pytest
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stage_edges(spark, tmp_path):
    path = str(tmp_path / "edges.parquet")
    edges = spark.createDataFrame(
        [(i % 20, (i * 7 + 1) % 20) for i in range(200)],
        "src BIGINT, dst BIGINT")
    edges.write.mode("overwrite").parquet(path)
    return path, edges


def _run(script, *args):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", script), *args],
        capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_graph_job_end_to_end(spark, tmp_path):
    path, edges = _stage_edges(spark, tmp_path)
    got = _run("graph_job.py", "--edges", path, "--master", "local[4]",
               "--algos", "cc,bfs,katz,kcore,coreness,degdist",
               "--source", "0",
               "--k", "2")
    assert got["n_edges"] == edges.distinct().count()
    assert got["algos"]["cc"]["components"] >= 1
    assert got["algos"]["bfs"]["reached"] >= 1
    assert got["algos"]["katz"]["top_katz"] > 1.0
    assert got["algos"]["kcore"]["k"] == 2
    assert got["algos"]["coreness"]["degeneracy"] >= 1
    assert got["algos"]["degdist"]["buckets"] >= 1


def test_graph_job_round5_algos(spark, tmp_path):
    path, _ = _stage_edges(spark, tmp_path)
    got = _run("graph_job.py", "--edges", path, "--master", "local[4]",
               "--algos", "linkpred,harmonic,walks,condense,ktruss,diameter",
               "--source", "0", "--k", "3", "--walk-steps", "2")
    a = got["algos"]
    assert a["harmonic"]["scored"] >= 1
    assert a["walks"]["rows"] >= 1
    assert a["condense"]["cross_edges"] >= 0
    assert a["ktruss"]["k"] == 3
    assert a["diameter"]["diameter_lb"] >= 1
    assert "linkpred" in a


def test_graph_job_round5b_algos(spark, tmp_path):
    path, _ = _stage_edges(spark, tmp_path)
    got = _run("graph_job.py", "--edges", path, "--master", "local[4]",
               "--algos", "eigen,closeness,bipartite,mis,betweenness,"
                          "densest,rectangles,salsa,matching,coarsen,"
                          "spread,fiedler",
               "--source", "0", "--max-iter", "4")
    a = got["algos"]
    assert a["spread"]["labeled"] >= 1
    assert a["fiedler"]["norm2"] == pytest.approx(1.0, abs=1e-5)
    assert a["salsa"]["top_auth"] > 0.0
    assert a["matching"]["pairs"] >= 1
    assert a["coarsen"]["weight_sum"] >= a["coarsen"]["edges"]
    assert a["densest"]["density"] > 0.0
    assert a["densest"]["vertices"] >= 1
    assert a["rectangles"]["rectangles"] >= 0
    assert a["rectangles"]["max_degree"] == 10_000
    assert a["eigen"]["iterations"] == 4
    assert a["eigen"]["top_eigen"] > 0.0
    assert a["closeness"]["scored"] >= 1
    assert a["betweenness"]["scored"] >= 1
    assert a["betweenness"]["sum_q9"] >= 0
    assert a["bipartite"]["components"] >= 1
    assert a["bipartite"]["odd_edges"] >= 0
    assert a["mis"]["size"] >= 1 and a["mis"]["rounds"] >= 1


def test_graph_job_round5c_algos(spark, tmp_path):
    path, _ = _stage_edges(spark, tmp_path)
    got = _run("graph_job.py", "--edges", path, "--master", "local[4]",
               "--algos", "node2vec,scan,bowtie,sweepcut,hyperharmonic",
               "--walk-steps", "3", "--source", "0", "--k", "3")
    a = got["algos"]
    assert a["node2vec"]["rows"] >= 1
    assert a["scan"]["clustered"] >= 0
    assert a["scan"]["cores"] <= a["scan"]["clustered"]
    assert sum(v for k, v in a["bowtie"].items() if k != "sec") == 20
    assert a["sweepcut"]["k"] >= 1
    assert a["hyperharmonic"]["scored"] >= 1


def test_graph_job_rejects_unknown_algo(spark, tmp_path):
    path, _ = _stage_edges(spark, tmp_path)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "graph_job.py"),
         "--edges", path, "--master", "local[2]", "--algos", "nope"],
        capture_output=True, text=True, timeout=300)
    assert proc.returncode != 0
    assert "unknown algos" in (proc.stderr + proc.stdout)


def test_pagerank_job_end_to_end(spark, tmp_path):
    path, _ = _stage_edges(spark, tmp_path)
    got = _run("pagerank_job.py", "--edges", path, "--master", "local[4]",
               "--tol", "1e-8")
    assert got["iterations"] > 1
    assert got["final_l1"] < 1e-8
    assert got["top_vertex"] is not None
    # A small graph runs the local backend, within its budget.
    assert got["plan"] == "local"
    assert got["est_bytes"] <= got["budget_bytes"]


def _build_engine_zip(dest):
    """Zip pagerank_spark/ exactly as a deploy step would for
    ``spark-submit --py-files engine.zip``."""
    import zipfile

    pkg = os.path.join(REPO, "pagerank_spark")
    with zipfile.ZipFile(dest, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for name in files:
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                arc = os.path.relpath(full, REPO)
                zf.write(full, arc)
    return dest


def test_pagerank_job_via_spark_submit_py_files(spark, tmp_path):
    """The cluster launch path the north rule names: a REAL
    ``spark-submit --py-files engine.zip`` run, with the job file
    copied OUTSIDE the repo and PYTHONPATH scrubbed, so the
    ``pagerank_spark`` import can only resolve from the shipped zip.
    """
    import shutil

    path, _ = _stage_edges(spark, tmp_path)
    zip_path = _build_engine_zip(str(tmp_path / "engine.zip"))
    job_copy = str(tmp_path / "pagerank_job.py")
    shutil.copyfile(os.path.join(REPO, "jobs", "pagerank_job.py"), job_copy)
    out_json = str(tmp_path / "result.json")

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    submit = shutil.which("spark-submit")
    assert submit, "spark-submit launcher not on PATH"
    proc = subprocess.run(
        [submit, "--master", "local[2]", "--driver-memory", "2g",
         "--py-files", zip_path, job_copy,
         "--edges", path, "--tol", "1e-8", "--out", out_json],
        capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path), env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(out_json) as f:
        got = json.load(f)
    # Same job, same input as the in-process run above: the packaged
    # launch must reproduce the converged state exactly.
    direct = _run("pagerank_job.py", "--edges", path, "--master",
                  "local[2]", "--tol", "1e-8")
    assert got["iterations"] == direct["iterations"]
    assert got["top_vertex"] == direct["top_vertex"]
    assert abs(got["top_pr"] - direct["top_pr"]) < 1e-12
    assert got["final_l1"] < 1e-8
