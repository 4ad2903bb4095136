"""Seeded input generators for the benchmark.

Every input is built here with NumPy and plain Python, never with the
program's own ``datagen`` module, so an edit to the program cannot
change what the benchmark feeds it.  Each generator returns the arrays
or rows it wrote together with the ground truth the checks use.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class EdgeInput:
    src: np.ndarray          # int64, deduped, sorted by (src, dst)
    dst: np.ndarray
    n: int                   # max id + 1, the engine's vertex domain

    @property
    def num_edges(self) -> int:
        return int(self.src.size)


def dedupe(src: np.ndarray, dst: np.ndarray, width: int) -> EdgeInput:
    key = np.unique(src.astype(np.int64) * width + dst.astype(np.int64))
    src, dst = key // width, key % width
    return EdgeInput(src=src, dst=dst, n=int(max(src.max(), dst.max())) + 1)


def write_edges(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    pq.write_table(pa.table({"src": src.astype(np.int64),
                             "dst": dst.astype(np.int64)}), path)


def supplier_customer(rng: np.random.Generator, orders: int = 150_000,
                      lineitems: int = 600_000, customers: int = 15_000,
                      suppliers: int = 1_000) -> tuple[np.ndarray, np.ndarray]:
    """Raw (supplier -> customer) rows of ``lineitem JOIN orders`` at
    the sf0.1 shape: every order belongs to a uniform customer, every
    line item to a uniform order and a uniform supplier.  Supplier and
    customer keys share one id space, as in the TPC-H-style tables, so
    suppliers 0..999 are also customers.  Duplicates are kept: the
    engine's ``prepare`` dedupes them."""
    cust = rng.integers(0, customers, orders)
    order = rng.integers(0, orders, lineitems)
    supp = rng.integers(0, suppliers, lineitems)
    return supp.astype(np.int64), cust[order].astype(np.int64)


def power_law_hub(rng: np.random.Generator, n: int, edges: int, hub_share: float,
                  alpha: float = 2.1, max_share: float = 0.002) -> tuple[np.ndarray, np.ndarray]:
    """Raw edges of a power-law graph with one mega-hub.

    Out-degrees of the ordinary vertices follow a Pareto tail with
    exponent ``alpha`` (most vertices have none: they are dangling),
    capped at ``max_share`` of the edges so that no second hub appears
    and the graph's size barely moves from seed to seed; destinations
    are drawn with Zipf-like popularity, so in-degree is skewed too.
    One random vertex is the hub and points at ``hub_share`` of all
    edges' worth of distinct destinations.  Vertex ``n - 1`` gets one
    in-edge so the domain is exactly [0, n)."""
    hub = int(rng.integers(0, n))
    hub_deg = int(edges * hub_share)
    rest = edges - hub_deg
    deg = rng.pareto(alpha - 1.0, n)
    for _ in range(20):     # scale to `rest`, cap, re-spread the capped mass
        deg = np.minimum(deg * rest / deg.sum(), max_share * edges)
    deg = np.floor(deg).astype(np.int64)
    deg[hub] = 0
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    # Zipf-like destination popularity: u**2 piles draws onto low ranks.
    pop = rng.permutation(n).astype(np.int64)
    dst = pop[(n * rng.random(src.size) ** 2).astype(np.int64)]
    hub_dst = rng.choice(n, size=hub_deg, replace=False).astype(np.int64)
    src = np.concatenate([src, np.full(hub_deg, hub, np.int64), [hub]])
    dst = np.concatenate([dst, hub_dst, [n - 1]])
    return src, dst


# ---------------------------------------------------------------- repo files

LANGS = ("python", "c", "javascript")
_EXT = {"python": ".py", "c": ".c", "javascript": ".js"}
_DIR = {"python": "src/", "c": "src/", "javascript": "lib/"}
# Stems several repos define; ownership resolves to the smallest repo name.
_SHARED_STEMS = ("util", "config", "index")


def _import_line(lang: str, form: int, module: str, k: int) -> str:
    """One import statement of the language's two forms (FIXTURES F1)."""
    if lang == "python":
        return f"import {module}" if form == 0 else f"from {module} import name_{k}"
    if lang == "c":
        return f'#include "{module}.h"' if form == 0 else f"#include <{module}.h>"
    if form == 0:
        return f"const v{k} = require('{module}');"
    return f"import {{ f{k} }} from '{module}';"


def _noise_pool(rng: np.random.Generator, lang: str, size: int = 2048) -> list[str]:
    """Filler lines no extraction pattern of ``lang`` can match."""
    a = rng.integers(0, 10**6, size)
    b = rng.integers(0, 10**6, size)
    if lang == "python":
        return [f"value_{x} = compute({y}, scale={x % 97})  # step {y % 13}"
                for x, y in zip(a, b)]
    if lang == "c":
        return [f"static int v{x} = mix({y}, {x % 97}); /* step {y % 13} */"
                for x, y in zip(a, b)]
    return [f"const w{x} = mix({y}, {x % 97}); // step {y % 13}"
            for x, y in zip(a, b)]


@dataclass
class RepoCorpus:
    rows: dict[str, list[str]]          # repo, path, commit, lang, content
    sha256: dict[tuple[str, str, str], str]
    edges: set[tuple[str, str]]         # ground-truth (src_repo, dst_repo)
    content_bytes: int


def repo_files(rng: np.random.Generator, repos: int, mean_files: float,
               mean_imports: float, median_kb: float,
               zipf_s: float = 1.1) -> RepoCorpus:
    """A repo-files table ``(repo, path, commit, lang, content)`` and its
    ground truth, built from the statements the generator chose rather
    than from any regex over the text.

    - Each repo has one language and 1+Poisson(mean_files - 1) files.
      A file's module is its path stem: unique ``m<repo>_<j>`` names,
      plus a few stems (``util``, ``config``, ``index``) that several
      repos define, which resolve to the smallest owning repo name.
    - Each file imports 1+Poisson(mean_imports - 1) modules through
      both statement forms of its language.  Target repos are drawn
      Zipf(``zipf_s``) over a seeded popularity order, so library repos
      become in-degree hubs.  Some imports are repeated, some name the
      file's own repo, some name modules nobody defines.
    - Content is padded with filler lines to a log-normal size with
      median ``median_kb`` KiB."""
    names = [f"org{i % 97:02d}/repo{i:05d}" for i in range(repos)]
    lang_of = [LANGS[int(x)] for x in rng.integers(0, 3, repos)]
    nfiles = 1 + rng.poisson(mean_files - 1.0, repos)
    stems: list[list[str]] = []
    owner: dict[str, str] = {}
    for r in range(repos):
        own = [f"m{r:05d}_{j}" for j in range(int(nfiles[r]))]
        if rng.random() < 0.1:
            own[-1] = _SHARED_STEMS[int(rng.integers(0, len(_SHARED_STEMS)))]
        stems.append(own)
        for s in own:
            if s not in owner or names[r] < owner[s]:
                owner[s] = names[r]

    popularity = rng.permutation(repos)
    weights = 1.0 / np.arange(1, repos + 1) ** zipf_s
    weights /= weights.sum()
    pools = {lg: _noise_pool(rng, lg) for lg in LANGS}

    cols: dict[str, list[str]] = {k: [] for k in
                                  ("repo", "path", "commit", "lang", "content")}
    sha: dict[tuple[str, str, str], str] = {}
    edges: set[tuple[str, str]] = set()
    total = 0
    for r in range(repos):
        lang = lang_of[r]
        for stem in stems[r]:
            k = int(1 + rng.poisson(mean_imports - 1.0))
            targets = popularity[rng.choice(repos, size=k, p=weights)]
            lines = []
            for i, t in enumerate(targets):
                kind = rng.random()
                if kind < 0.08:
                    module = stems[r][int(rng.integers(0, len(stems[r])))]
                elif kind < 0.14:
                    module = f"ext_pkg{int(rng.integers(0, 50))}"
                else:
                    module = stems[int(t)][int(rng.integers(0, len(stems[int(t)])))]
                line = _import_line(lang, int(rng.integers(0, 2)), module, i)
                lines.append(line)
                if rng.random() < 0.1:
                    lines.append(line)
                dst = owner.get(module)
                if dst is not None and dst != names[r]:
                    edges.add((names[r], dst))
            target_bytes = int(1024 * median_kb * rng.lognormal(0.0, 0.6))
            pool = pools[lang]
            n_fill = max(target_bytes // 48, 1)
            fill = [pool[int(i)] for i in rng.integers(0, len(pool), n_fill)]
            # Imports sit among the filler, as in real files.
            at = np.sort(rng.integers(0, n_fill + 1, len(lines)))
            body: list[str] = []
            prev = 0
            for pos, line in zip(at, lines):
                body.extend(fill[prev:pos])
                body.append(line)
                prev = pos
            body.extend(fill[prev:])
            content = "\n".join(body) + "\n"
            path = _DIR[lang] + stem + _EXT[lang]
            commit = rng.bytes(20).hex()
            cols["repo"].append(names[r])
            cols["path"].append(path)
            cols["commit"].append(commit)
            cols["lang"].append(lang)
            cols["content"].append(content)
            raw = content.encode()
            total += len(raw)
            sha[(names[r], path, commit)] = hashlib.sha256(raw).hexdigest()
    return RepoCorpus(rows=cols, sha256=sha, edges=edges, content_bytes=total)


def write_repo_files(path: str, corpus: RepoCorpus) -> None:
    pq.write_table(pa.table(corpus.rows), path)
