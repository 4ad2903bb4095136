"""Benchmark of the pagerank_spark engine: one named workload per run.

    python3 perfbench/run.py --workload pagerank_converge --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  The run makes its
inputs from ``--seed``, starts one local SparkSession, warms it up with
one round on the same inputs, then runs whole rounds of the workload's
pipeline until ``--seconds`` have passed (at least one round).  Every round's outputs are checked against the independent
oracles in ``oracles.py``.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
where the metrics are the end-to-end ones with ``--trace 0`` and the
per-layer ones with ``--trace 1``.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.monotonic()


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time), so
    ``setup_s`` also covers interpreter start-up."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


AGE_AT_T0 = _process_age_s()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import numpy as np  # noqa: E402

import gen  # noqa: E402
import oracles  # noqa: E402
from spans import Tracer, profile, read_event_log, tracker_counts  # noqa: E402

SLOTS = min(4, len(os.sched_getaffinity(0)))
HEAP = "3g"


# Per workload: the PageRank graph and its PageRank call, and the repo
# corpus that extraction, encode, components, label propagation and
# triangles run on.  A round makes REPEATS calls of each step around one
# PageRank call ("lpa" label-propagation and "triangles" triangle calls
# in each corpus pass); each metric is the median of its calls.  Set-up
# ends with one warm-up round, one call of each step (WARM_REPEATS), on
# the same PageRank graph with the call cut to "warm_pagerank" and on a
# small corpus (WARM_CORPUS), so that first-call JIT compilation and
# Python-worker start-up land in set-up.
WORKLOADS = {
    "pagerank_converge": {
        "graph": ("converge", {}),
        "pagerank": {"tol": 1e-10, "max_iter": 100_000, "interval": 16, "resume_from": 112},
        "warm_pagerank": {"tol": 1e-10, "max_iter": 8, "interval": 4, "resume_from": 4},
        "corpus": {"repos": 120, "mean_files": 3, "mean_imports": 6, "median_kb": 1.0},
    },
    "repo_hub": {
        "graph": ("hub", {"n": 150_000, "edges": 1_500_000, "hub_share": 0.08}),
        "pagerank": {"tol": 0.0, "max_iter": 6, "interval": 2, "resume_from": 4,
                     "broadcast_max_vertices": 100_000},
        "warm_pagerank": {"tol": 0.0, "max_iter": 3, "interval": 2, "resume_from": 2,
                          "broadcast_max_vertices": 100_000},
        "corpus": {"repos": 600, "mean_files": 8, "mean_imports": 8, "median_kb": 2.0},
    },
}
REPEATS = {"corpus": 2, "lpa": 4, "triangles": 3, "prepare": 6, "resume": 2}
WARM_REPEATS = {"corpus": 1, "lpa": 1, "triangles": 1, "prepare": 1, "resume": 1}
WARM_CORPUS = {"repos": 12, "mean_files": 3, "mean_imports": 4, "median_kb": 1.0}
# Fixed round budget, below the rounds LPA needs to settle on these
# corpora, so every seed runs all of them.
LPA_ROUNDS = 3
# Span names of the timed calls, by the end-to-end metric they feed.
OPS = {"extract_s": ("extraction.derive_edges", "graph.encode_dense_ids"),
       "components_s": ("operators.connected_components",),
       "labelprop_s": ("operators.label_propagation",),
       "triangles_s": ("operators.triangles",),
       "prepare_s": ("graph.prepare",),
       "pagerank_s": ("operators.pagerank",),
       "resume_s": ("operators.pagerank.resume",)}

END_TO_END = {
    "setup_s": "s", "prepare_s": "s", "pagerank_s": "s",
    "pagerank_edges_per_s_per_iter": "edges/s", "resume_s": "s",
    "extract_s": "s", "components_s": "s", "labelprop_s": "s", "triangles_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "extraction.wall_s": "s", "extraction.task_cpu_s": "s",
    "extraction.content_mb_per_s": "MB/s", "extraction.shuffle_write_mb": "MB",
    "graph.encode.wall_s": "s", "graph.encode.jobs": "count",
    "graph.encode.taskless_s": "s",
    "graph.prepare.wall_s": "s", "graph.prepare.jobs": "count",
    "graph.prepare.shuffle_write_mb": "MB", "graph.prepare.partitions": "count",
    "pagerank.iter_ms_median": "ms", "pagerank.iter_ms_p90": "ms",
    "pagerank.jobs_per_iter": "count", "pagerank.stages_per_iter": "count",
    "pagerank.tasks_per_iter": "count", "pagerank.sql_queries_per_iter": "count",
    "pagerank.taskless_ms_per_iter": "ms", "pagerank.task_run_ms_per_iter": "ms",
    "pagerank.shuffle_kb_per_iter": "KB", "pagerank.slot_busy_share": "share",
    "pagerank.plan_gather_s": "s", "skew.hot_vertices": "count",
    "skew.gather_task_skew": "ratio",
    "checkpoint.write_s": "s", "checkpoint.bytes_written_mb": "MB",
    "checkpoint.states_committed": "count", "checkpoint.left_behind_mb": "MB",
    "checkpoint.left_behind_entries": "count",
    "components.jobs": "count", "components.task_cpu_s": "s",
    "components.shuffle_write_mb": "MB", "components.taskless_s": "s",
    "labelprop.jobs": "count", "labelprop.task_cpu_s": "s",
    "labelprop.shuffle_write_mb": "MB", "labelprop.taskless_s": "s",
    "triangles.task_cpu_s": "s", "triangles.shuffle_write_mb": "MB",
    "triangles.spill_mb": "MB", "triangles.task_skew": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class CheckFailed(Exception):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def du_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


# ------------------------------------------------------------------ inputs

class Inputs:
    """One workload's generated inputs, written under ``directory``."""

    def __init__(self, rng: np.random.Generator, directory: str, graph_spec, corpus_spec):
        kind, kw = graph_spec
        self.corpus = gen.repo_files(rng, **corpus_spec)
        self.files_path = os.path.join(directory, "files.parquet")
        gen.write_repo_files(self.files_path, self.corpus)
        self.names = sorted({v for e in self.corpus.edges for v in e})
        ids = {name: i for i, name in enumerate(self.names)}
        pairs = np.array(sorted((ids[a], ids[b]) for a, b in self.corpus.edges),
                         dtype=np.int64).reshape(-1, 2)
        self.repo_edges = gen.EdgeInput(pairs[:, 0], pairs[:, 1], len(self.names))
        if kind == "converge":
            src, dst = gen.supplier_customer(rng, **kw)
            width = 1 << 20
        else:
            src, dst = gen.power_law_hub(rng, **kw)
            width = kw["n"]
        self.edges_path = os.path.join(directory, "edges.parquet")
        gen.write_edges(self.edges_path, src, dst)
        self.graph = gen.dedupe(src, dst, width)


# ------------------------------------------------------------------ engine

class Engine:
    """The SparkSession and the program's modules, with the benchmark's
    instrumentation hooked around the program's public functions."""

    def __init__(self, work: str, trace: bool):
        from pagerank_spark.session import get_spark

        self.plans: list = []
        self.ckpt_writes: list[tuple[str, int]] = []
        self._hook()
        # -Xms fixes the heap at its ceiling from the start, so when G1
        # happens to grow the heap does not differ from run to run.
        conf = {
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        if trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
            })
        self.spark = get_spark(app_name="perfbench", master=f"local[{SLOTS}]",
                               shuffle_partitions=2 * SLOTS, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark.sparkContext)
        self.stopped = False
        self.peak_rss_mb = None

    def _hook(self) -> None:
        """Time ``plan_gather`` and every checkpoint ``write_state`` from
        outside: the loop looks both names up at call time, so wrapping
        them records the calls the operators make themselves."""
        import importlib

        from pagerank_spark import checkpoint as ck

        # ``pagerank_spark.operators`` re-exports functions under the
        # module names, so fetch the modules themselves.
        pr_mod, cc_mod, lpa_mod = (
            importlib.import_module(f"pagerank_spark.operators.{m}")
            for m in ("pagerank", "components", "labelprop"))

        engine = self
        plan_gather = pr_mod.plan_gather

        def timed_plan_gather(*args, **kwargs):
            with engine.tracer.span("operators.pagerank.plan_gather") as sp:
                plan = plan_gather(*args, **kwargs)
            engine.plans.append((sp.id, plan.mode, plan.salt_threshold))
            return plan

        class TimedCheckpoint(ck.CheckpointManager):
            def write_state(self, df, it, target_partitions=None):
                path = os.path.join(self.root, "state", f"iter={it}")  # checkpoint.py layout
                with engine.tracer.span("checkpoint.write_state") as sp:
                    out = super().write_state(df, it, target_partitions)
                engine.ckpt_writes.append((sp.id, du_bytes(path)))
                return out

        pr_mod.plan_gather = timed_plan_gather
        cc_mod.CheckpointManager = TimedCheckpoint
        lpa_mod.CheckpointManager = TimedCheckpoint
        self.Checkpoint = TimedCheckpoint

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit; idempotent.
        Records the JVM's peak resident set size first."""
        from pyspark import SparkContext

        if self.stopped:
            return
        self.stopped = True
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                hwm = [ln for ln in f if ln.startswith("VmHWM:")]
            self.peak_rss_mb = int(hwm[0].split()[1]) / 1024 if hwm else None
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _ranks(df) -> np.ndarray:
    pdf = df.toPandas().sort_values("id")
    return pdf["pr"].to_numpy()


def corpus_pass(eng: Engine, files_path: str, keep: bool, repeats: dict) -> dict:
    """Extraction and encode of the corpus, then the three operators on
    the encoded corpus graph, label propagation and triangles as many
    times as ``repeats`` says.  Returns span ids and outputs; the
    extraction outputs only when ``keep``."""
    from pagerank_spark import extraction, graph
    from pagerank_spark.operators import connected_components, label_propagation
    from pagerank_spark.operators.triangles import triangles

    tr = eng.tracer
    files = eng.spark.read.parquet(files_path)
    with tr.span("extraction.derive_edges") as s_ex:
        edges_str = extraction.derive_edges(files).persist()
        edges_str.count()
    with tr.span("graph.encode_dense_ids") as s_enc:
        enc, dictionary = graph.encode_dense_ids(edges_str)
        enc = enc.persist()
        enc.count()
    caches = [edges_str, enc]
    with tr.span("operators.connected_components") as s_cc:
        cc = connected_components(enc).collect()
    # Sub-second calls whose time swings by a sixth from call to call
    # here: the median of several calls is what keeps the metrics steady.
    # Both leave nothing in the SQL cache that a later call on the same
    # graph could reuse (triangles once its own cache is released);
    # connected_components does, so it gets one call per pass.
    s_lpa, labels = [], []
    for _ in range(repeats["lpa"]):
        with tr.span("operators.label_propagation") as sp:
            lpa = label_propagation(enc, max_iter=LPA_ROUNDS).collect()
        s_lpa.append(sp)
        labels.append({r["id"]: r["label"] for r in lpa})
    s_tri, tris = [], []
    for _ in range(repeats["triangles"]):
        own: list = []
        with tr.span("operators.triangles") as sp:
            tris.append(triangles(enc, caches=own).count())
        s_tri.append(sp)
        for df in own:
            df.unpersist(blocking=True)
    out = {"spans": [s_ex, s_enc, s_cc, *s_lpa, *s_tri],
           "components": {r["id"]: r["component"] for r in cc},
           "labels": labels,
           "triangles": tris}
    if keep:
        out["edges_str"] = {(r["src_repo"], r["dst_repo"]) for r in edges_str.collect()}
        out["dictionary"] = {r["name"]: r["id"] for r in dictionary.collect()}
        out["enc"] = {(r["src"], r["dst"]) for r in enc.collect()}
    for df in caches:
        df.unpersist(blocking=True)
    return out


def run_round(eng: Engine, inp: Inputs, pr_spec: dict, repeats: dict,
              work: str, tag: str, files_path: str | None = None) -> dict:
    """One round: corpus passes and prepare calls, one PageRank call on
    the last prepared graph, then resumes from a mid-run checkpoint, as
    many of each as ``repeats`` says.  Returns the spans, the timed values
    (median per metric) and the outputs to check.  A warm-up round passes
    its own ``files_path`` and keeps no outputs."""
    from pagerank_spark import graph
    from pagerank_spark.operators import pagerank

    spark, tr = eng.spark, eng.tracer
    tmp = os.path.join(work, "tmp")
    left_before = du_bytes(tmp), len(os.listdir(tmp))
    keep = files_path is None
    n = repeats["corpus"]
    passes = [corpus_pass(eng, files_path or inp.files_path, keep=keep and i == n - 1,
                          repeats=repeats)
              for i in range(n)]
    spans = [sp for p in passes for sp in p["spans"]]

    g = None
    for _ in range(repeats["prepare"]):
        if g is not None:
            g.edges.unpersist(blocking=True)
            g.out_deg.unpersist(blocking=True)
        with tr.span("graph.prepare") as sp:
            g = graph.prepare(spark.read.parquet(inp.edges_path))
        spans.append(sp)

    kw = {k: v for k, v in pr_spec.items() if k not in ("interval", "resume_from")}
    root = os.path.join(work, "ckpt", tag)
    mgr = eng.Checkpoint(spark, root, interval=pr_spec["interval"])
    n_plans = len(eng.plans)
    with tr.span("operators.pagerank") as s_pr:
        res = pagerank(g, checkpoint=mgr, checkpoint_interval=pr_spec["interval"], **kw)
        res.ranks.count()
    spans.append(s_pr)
    plan = eng.plans[n_plans]
    ranks = _ranks(res.ranks) if keep else None
    resumed = []
    for _ in range(repeats["resume"]):
        # A run killed right after the commit of iteration resume_from.
        for it in mgr.committed_iterations():
            if it > pr_spec["resume_from"]:
                shutil.rmtree(os.path.join(root, "state", f"iter={it}"))
        with tr.span("operators.pagerank.resume") as sp:
            res2 = pagerank(g, checkpoint=mgr, checkpoint_interval=pr_spec["interval"],
                            resume=True, **kw)
            res2.ranks.count()
        spans.append(sp)
        if keep:
            resumed.append((res2.iterations, _ranks(res2.ranks)))

    by_name: dict[str, list] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)
    values = {}
    for metric, names in OPS.items():
        per_call = [sum(sps) for sps in zip(*([x.wall_s for x in by_name[n]] for n in names))]
        values[metric] = statistics.median(per_call)
    values["pagerank_edges_per_s_per_iter"] = (
        inp.graph.num_edges * res.iterations / values["pagerank_s"])
    out = {
        "spans": by_name, "values": values,
        "plan_mode": plan[1], "salt_threshold": plan[2], "plan_span": plan[0],
        "partitions": g.edges.rdd.getNumPartitions(),
        "iterations": res.iterations, "iter_ms": [m["wall_ms"] for m in res.metrics],
        "ranks": ranks, "resumed": resumed, "passes": passes,
        "left_behind_bytes": du_bytes(tmp) - left_before[0],
        "left_behind_entries": len(os.listdir(tmp)) - left_before[1],
    }
    g.edges.unpersist(blocking=True)
    g.out_deg.unpersist(blocking=True)
    shutil.rmtree(root)
    return out


# ------------------------------------------------------------------ checks

class Oracle:
    """Oracle results for one set of inputs, computed once."""

    def __init__(self, inp: Inputs, pr_spec: dict):
        e = inp.graph
        self.replay = oracles.pagerank_replay(e.src, e.dst, e.n, tol=pr_spec["tol"],
                                              max_iter=pr_spec["max_iter"])
        r = inp.repo_edges
        self.components = oracles.components(r.src, r.dst)
        self.labels = oracles.label_propagation(r.src, r.dst, LPA_ROUNDS)
        self.triangles = oracles.triangle_count(r.src, r.dst)


def check_round(inp: Inputs, oracle: Oracle, pr_spec: dict, out: dict, workload: str) -> None:
    last = out["passes"][-1]
    check(last["edges_str"] == inp.corpus.edges, "extracted edge set != generator ground truth")
    check(last["dictionary"] == {n: i for i, n in enumerate(inp.names)},
          "encode dictionary is not the sorted-name bijection onto [0, N)")
    r = inp.repo_edges
    check(last["enc"] == set(zip(r.src.tolist(), r.dst.tolist())), "encoded edges differ")
    for p in out["passes"]:
        check(p["components"] == oracle.components, "components differ from union-find")
        check(all(lab == oracle.labels for lab in p["labels"]),
              "LPA labels differ from the replay")
        check(all(t == oracle.triangles for t in p["triangles"]),
              f"triangles {p['triangles']} != {oracle.triangles}")

    rep = oracle.replay
    ranks = out["ranks"]
    check(ranks.size == inp.graph.n, f"rank vector has {ranks.size} rows, want {inp.graph.n}")
    check(out["iterations"] == rep.iterations,
          f"pagerank iterations {out['iterations']} != replay {rep.iterations}")
    if pr_spec["tol"] > 0:
        check(np.allclose(ranks, rep.ranks, rtol=0, atol=1e-6), "ranks not allclose(1e-6) to replay")
        check(int(np.argmax(ranks)) == int(np.argmax(rep.ranks)), "argmax vertex differs")
        check(abs(ranks.sum() - 1.0) < 1e-8, f"sum of ranks {ranks.sum()!r} not within 1e-8 of 1")
    else:
        check(np.allclose(ranks, rep.ranks, rtol=1e-9, atol=0), "ranks differ from replay by >1e-9 rel")
    for iterations, resumed in out["resumed"]:
        check(iterations == out["iterations"], "resumed run ended at another iteration")
        check(np.array_equal(resumed, ranks), "resumed ranks are not bit-identical")
    if workload == "repo_hub":
        check(out["plan_mode"] == "salted", f"planner chose {out['plan_mode']}, not salted")


def check_hashes(eng: Engine, inp: Inputs) -> None:
    from pagerank_spark import extraction

    rows = extraction.file_hashes(eng.spark.read.parquet(inp.files_path)).collect()
    got = {(r["repo"], r["path"], r["commit"]): r["content_sha"] for r in rows}
    check(got == inp.corpus.sha256, "engine sha256 differs from hashlib for some file")


# ------------------------------------------------------------------ metrics

def _median(values) -> float:
    return float(statistics.median(values))


def _checkpointing_spans(tr: Tracer, spans: dict) -> set[str]:
    """Ids of the round's spans under which checkpoint writes happen."""
    return {sid for name in ("operators.pagerank", "operators.pagerank.resume",
                             "operators.connected_components", "operators.label_propagation")
            for sp in spans[name] for sid in tr.subtree(sp.id)}


def counts_of(eng: Engine, out: dict, inp: Inputs) -> dict:
    """The exact counts (status tracker, plan, checkpoint files) of one
    round; the same on every run of the same inputs."""
    sc, tr = eng.spark.sparkContext, eng.tracer
    spans = out["spans"]

    def jobs(name):
        return _median([tracker_counts(sc, tr.subtree(sp.id))["jobs"] for sp in spans[name]])

    pr = tracker_counts(sc, tr.subtree(spans["operators.pagerank"][0].id))
    iters = out["iterations"]
    round_ids = _checkpointing_spans(tr, spans)
    writes = [size for sid, size in eng.ckpt_writes if sid in round_ids]
    thr = out["salt_threshold"]
    deg = np.bincount(inp.graph.src, minlength=inp.graph.n)
    return {
        "graph.encode.jobs": jobs("graph.encode_dense_ids"),
        "graph.prepare.jobs": jobs("graph.prepare"),
        "graph.prepare.partitions": out["partitions"],
        "pagerank.jobs_per_iter": pr["jobs"] / iters,
        "pagerank.stages_per_iter": pr["stages"] / iters,
        "pagerank.tasks_per_iter": pr["tasks"] / iters,
        "skew.hot_vertices": int((deg > thr).sum()) if thr is not None else 0,
        "checkpoint.states_committed": len(writes),
        "checkpoint.bytes_written_mb": sum(writes) / 1e6,
        "checkpoint.left_behind_mb": out["left_behind_bytes"] / 1e6,
        "checkpoint.left_behind_entries": out["left_behind_entries"],
        "components.jobs": jobs("operators.connected_components"),
        "labelprop.jobs": jobs("operators.label_propagation"),
    }


def traced_metrics(eng: Engine, events, out: dict, counts: dict, inp: Inputs) -> dict:
    """Per-layer metrics of one round from the folded event log; a
    layer called several times reports the median of its calls."""
    tr = eng.tracer
    spans = out["spans"]
    iters = out["iterations"]
    m = dict(counts)

    def each(name):
        return [profile(events, tr, sp.id) for sp in spans[name]]

    ex = each("extraction.derive_edges")
    m["extraction.wall_s"] = _median([p.wall_s for p, _ in ex])
    m["extraction.task_cpu_s"] = _median([p.task_cpu_s for p, _ in ex])
    m["extraction.content_mb_per_s"] = inp.corpus.content_bytes / 1e6 / m["extraction.wall_s"]
    m["extraction.shuffle_write_mb"] = _median([p.shuffle_write_mb for p, _ in ex])
    enc = each("graph.encode_dense_ids")
    m["graph.encode.wall_s"] = _median([p.wall_s for p, _ in enc])
    m["graph.encode.taskless_s"] = _median([free for _, free in enc])
    prep = each("graph.prepare")
    m["graph.prepare.wall_s"] = _median([p.wall_s for p, _ in prep])
    m["graph.prepare.shuffle_write_mb"] = _median([p.shuffle_write_mb for p, _ in prep])

    pr, pr_free = profile(events, tr, spans["operators.pagerank"][0].id)
    m["pagerank.iter_ms_median"] = _median(out["iter_ms"])
    m["pagerank.iter_ms_p90"] = float(np.percentile(out["iter_ms"], 90))
    m["pagerank.sql_queries_per_iter"] = pr.sql_queries / iters
    m["pagerank.taskless_ms_per_iter"] = pr_free * 1000.0 / iters
    m["pagerank.task_run_ms_per_iter"] = pr.task_run_s * 1000.0 / iters
    m["pagerank.shuffle_kb_per_iter"] = pr.shuffle_write_mb * 1000.0 / iters
    task_s = sum(t.finish_ms - t.launch_ms for t in pr.tasks) / 1000.0
    m["pagerank.slot_busy_share"] = task_s / (pr.wall_s * SLOTS)
    m["pagerank.plan_gather_s"] = tr.spans[out["plan_span"]].wall_s
    gather_stages = {s for s, k in events.stage_tasks.items() if k == out["partitions"]}
    m["skew.gather_task_skew"] = pr.stage_skew(gather_stages)

    writes = {sid for sid, _ in eng.ckpt_writes} & _checkpointing_spans(tr, spans)
    m["checkpoint.write_s"] = sum(tr.spans[s].wall_s for s in writes)

    for name, key in (("operators.connected_components", "components"),
                      ("operators.label_propagation", "labelprop")):
        ps = each(name)
        m[f"{key}.task_cpu_s"] = _median([p.task_cpu_s for p, _ in ps])
        m[f"{key}.shuffle_write_mb"] = _median([p.shuffle_write_mb for p, _ in ps])
        m[f"{key}.taskless_s"] = _median([free for _, free in ps])
    tri = each("operators.triangles")
    m["triangles.task_cpu_s"] = _median([p.task_cpu_s for p, _ in tri])
    m["triangles.shuffle_write_mb"] = _median([p.shuffle_write_mb for p, _ in tri])
    m["triangles.spill_mb"] = _median([p.spill_mb for p, _ in tri])
    m["triangles.task_skew"] = _median([p.stage_skew() for p, _ in tri])
    return m


# ------------------------------------------------------------------ main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = WORKLOADS[args.workload]

    # Fails here, before any work, outside a checkout of the repository.
    if not os.path.isdir(os.path.join(ROOT, "pagerank_spark")):
        print(f"pagerank_spark not found under {ROOT}", file=sys.stderr)
        return 2
    oracles.self_test()

    work = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "ckpt", "inputs", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    # Every temp file of this process and its children lands in the run's
    # own directory, which is removed at the end.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile
    tempfile.tempdir = None

    # A SIGTERM unwinds through the ``finally`` below like an error does.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    eng = None
    try:
        rng = np.random.default_rng(args.seed)
        inp = Inputs(rng, os.path.join(work, "inputs"), spec["graph"], spec["corpus"])
        warm_files = os.path.join(work, "inputs", "warm_files.parquet")
        gen.write_repo_files(warm_files, gen.repo_files(rng, **WARM_CORPUS))
        log("inputs written")
        eng = Engine(work, bool(args.trace))
        session_start_s = time.monotonic() - T0 + AGE_AT_T0
        log("session up")
        out = run_round(eng, inp, spec["warm_pagerank"], WARM_REPEATS, work, "warm",
                        files_path=warm_files)
        log("warm-up: " + " ".join(f"{k}={v:.3f}" for k, v in out["values"].items()))
        setup_s = time.monotonic() - T0 + AGE_AT_T0
        log("warm-up done")

        rounds: list[dict] = []
        t_meas = time.monotonic()
        while True:
            out = run_round(eng, inp, spec["pagerank"], REPEATS, work,
                            f"r{len(rounds)}")
            rounds.append(out)
            log(f"round {len(rounds)}: " + " ".join(
                f"{k}={v:.3f}" for k, v in out["values"].items()))
            if time.monotonic() - t_meas >= args.seconds:
                break
        counts = [counts_of(eng, out, inp) for out in rounds]
        check_hashes(eng, inp)
        eng.stop()
        events = read_event_log(os.path.join(work, "eventlog")) if args.trace else None
    finally:
        try:
            if eng is not None:
                eng.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    log(f"session stopped; JVM peak RSS {eng.peak_rss_mb} MB")

    oracle = Oracle(inp, spec["pagerank"])
    attempted = failed = 0
    correct = True
    for out in rounds:
        attempted += 1
        try:
            check_round(inp, oracle, spec["pagerank"], out, args.workload)
        except CheckFailed as e:
            print(f"check failed: {e}", file=sys.stderr)
            correct = False

    if args.trace:
        per_round = [traced_metrics(eng, events, out, c, inp) for out, c in zip(rounds, counts)]
        for m in per_round:
            m["session.start_s"] = session_start_s
        metrics = {k: {"value": _median([m[k] for m in per_round]), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"}}
        for k, u in END_TO_END.items():
            if k != "setup_s":
                metrics[k] = {"value": _median([o["values"][k] for o in rounds]), "unit": u}

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "rounds": len(rounds), "counts": counts, "jvm_peak_rss_mb": eng.peak_rss_mb,
              "spans": eng.tracer.dump() if args.trace else None}
    out_dir = os.path.join(BENCH_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f)
    print(json.dumps({"counts": counts[0]}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
