"""Seeded input generators for the benchmark, written with numpy alone.

Nothing here imports pcd_spark: the inputs, and the answers the generator
planted in them, must not depend on the program under test.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

import numpy as np


# ---------------------------------------------------------------------------
# power-law edge lists (SNAP text)
# ---------------------------------------------------------------------------

@dataclass
class EdgeList:
    src: np.ndarray  # int64, one row per distinct directed edge, no self-loops
    dst: np.ndarray
    n_vertices: int  # vertices that appear in at least one edge


def powerlaw_edges(
    seed: int, n: int, m: int, out_exp: float, in_exp: float
) -> EdgeList:
    """`m` distinct directed edges over at most `n` vertices. Endpoints are
    drawn with Zipf-like weights (rank ** -exp), so a few vertices are hubs;
    ids are shuffled so hubs are not the smallest ids."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p_out = ranks ** -out_exp
    p_out /= p_out.sum()
    p_in = ranks ** -in_exp
    p_in /= p_in.sum()
    ids_out = rng.permutation(n).astype(np.int64)
    ids_in = rng.permutation(n).astype(np.int64)
    keys = np.empty(0, dtype=np.int64)
    while keys.size < m:
        k = 2 * (m - keys.size) + 1024
        s = ids_out[rng.choice(n, size=k, p=p_out)]
        d = ids_in[rng.choice(n, size=k, p=p_in)]
        keep = s != d
        new = s[keep] * n + d[keep]
        # keep first occurrences in draw order, so the result does not depend
        # on how many draws a round made
        keys = np.concatenate([keys, new])
        _, first = np.unique(keys, return_index=True)
        keys = keys[np.sort(first)]
    keys = keys[:m]
    src, dst = keys // n, keys % n
    n_v = int(np.unique(np.concatenate([src, dst])).size)
    return EdgeList(src=src, dst=dst, n_vertices=n_v)


def write_snap(path: str, el: EdgeList) -> None:
    body = np.column_stack([el.src, el.dst])
    with open(path, "w") as f:
        f.write("# Directed graph generated by perfbench.gen.powerlaw_edges\n")
        f.write(f"# Nodes: {el.n_vertices} Edges: {el.src.size}\n")
        f.write("# FromNodeId\tToNodeId\n")
        np.savetxt(f, body, fmt="%d", delimiter="\t")


# ---------------------------------------------------------------------------
# source-code corpus (JSON lines, the engine's corpus schema)
# ---------------------------------------------------------------------------

@dataclass
class Corpus:
    rows: list[dict]  # every corpus row, older revisions included
    #: (src repo, src path, dst repo, dst path) -> import statements, the
    #: edges a correct derivation yields from the latest revisions
    edges: dict[tuple[str, str, str, str], int]
    n_files: int  # distinct (repo, path)


def _commit(rng: np.random.Generator) -> str:
    return "".join(f"{int(x):08x}" for x in rng.integers(0, 2**32, size=2))


def synth_corpus(
    seed: int,
    repos: int,
    mean_files: int,
    hubs: int,
    hub_modules: int,
    p_cross: float = 0.2,
    p_unresolved: float = 0.02,
    p_older: float = 0.05,
    p_js: float = 0.25,
) -> Corpus:
    """A corpus of `repos` repositories of varying size plus `hubs` hub
    repositories. It plants:

    - python (`import a.b`, `from a.b import x`) and js (`require('./a/b')`)
      imports;
    - an older commit for a share of files, whose imports differ, so using
      anything but the latest commit changes the graph;
    - imports of modules no repository owns (dropped by resolution);
    - generic module names (`pkgI.modJ`) that several repositories own, so
      the same-repo-first rule and the smallest-repo fallback both decide;
    - cross-repo imports of hub modules, skewed towards hub 0.

    Returns the rows and the edges the derivation rules imply, computed here
    from what was planted."""
    rng = np.random.default_rng(seed)
    # repository sizes: exponential quantiles, so every seed has the same
    # number of files, dealt to the repositories in a seeded order
    q = (np.arange(repos) + 0.5) / repos
    sizes = rng.permutation(np.maximum(8, np.round(-mean_files * np.log1p(-q))).astype(int))
    names = [f"repo{r:04d}" for r in range(repos)]
    hub_names = [f"repo{repos + h:04d}" for h in range(hubs)]

    def gpath(f: int, ext: str) -> tuple[str, str]:
        return f"pkg{f // 10}/mod{f % 10}.{ext}", f"pkg{f // 10}.mod{f % 10}"

    # module -> owning repos (sorted by name), module -> path in each repo
    owners: dict[str, list[str]] = {}
    mod_path: dict[tuple[str, str], str] = {}
    files: list[tuple[str, str, str, str]] = []  # repo, path, lang, module
    for repo, size in zip(names, sizes):
        for f in range(int(size)):
            lang = "javascript" if rng.random() < p_js else "python"
            path, mod = gpath(f, "js" if lang == "javascript" else "py")
            files.append((repo, path, lang, mod))
    for h, repo in enumerate(hub_names):
        for j in range(hub_modules):
            lang = "javascript" if rng.random() < p_js else "python"
            ext = "js" if lang == "javascript" else "py"
            files.append((repo, f"hub{h}/api{j}.{ext}", lang, f"hub{h}.api{j}"))
    for repo, path, _lang, mod in files:
        owners.setdefault(mod, []).append(repo)
        mod_path[(repo, mod)] = path
    for v in owners.values():
        v.sort()
    max_size = int(sizes.max())
    hub_w = 1.0 / np.arange(1, hubs + 1) ** 1.5
    hub_w /= hub_w.sum()

    def pick_module(repo_size: int) -> str:
        u = rng.random()
        if u < p_unresolved:
            return f"missing{int(rng.integers(0, 50))}.mod{int(rng.integers(0, 10))}"
        if u < p_unresolved + p_cross:
            if rng.random() < 0.7:
                h = int(rng.choice(hubs, p=hub_w))
                return f"hub{h}.api{int(rng.integers(0, hub_modules))}"
            # a generic name, often past this repo's own size: resolves to
            # the smallest repository that has it
            return gpath(int(rng.integers(0, max_size)), "py")[1]
        return gpath(int(rng.integers(0, repo_size)), "py")[1]

    def render(lang: str, mods: list[str], tag: str) -> str:
        if lang == "python":
            lines = [f"# {tag}"]
            for m in mods:
                if rng.random() < 0.5:
                    lines.append(f"import {m}")
                else:
                    lines.append(f"from {m} import thing")
            lines += [f"def f{j}():\n    return {int(rng.integers(0, 1000))}" for j in range(3)]
        else:
            lines = [f"// {tag}"]
            for i, m in enumerate(mods):
                lines.append(f"const m{i} = require('./{m.replace('.', '/')}');")
            lines += [f"function f{j}() {{ return {int(rng.integers(0, 1000))}; }}" for j in range(3)]
        return "\n".join(lines) + "\n"

    size_of = dict(zip(names, (int(s) for s in sizes)))
    size_of.update({h: hub_modules for h in hub_names})
    rows: list[dict] = []
    edges: dict[tuple[str, str, str, str], int] = {}
    for repo, path, lang, _mod in files:
        # at least two imports per file: files with one import each can
        # close a 2-cycle, whose period slowed PageRank's convergence from
        # ~50 to 85 supersteps on some seeds
        k = int(rng.integers(2, 8))
        mods = [pick_module(size_of[repo]) for _ in range(k)]
        if rng.random() < 0.15 and mods:  # a repeated import: weight 2
            mods.append(mods[0])
        c_new, c_old = sorted((_commit(rng), _commit(rng)), reverse=True)
        rows.append(dict(repo=repo, path=path, commit=c_new, lang=lang,
                         content=render(lang, mods, f"{repo}/{path}")))
        if rng.random() < p_older:
            old = [pick_module(size_of[repo]) for _ in range(3)]
            rows.append(dict(repo=repo, path=path, commit=c_old, lang=lang,
                             content=render(lang, old, f"{repo}/{path} old")))
        for m in mods:
            own = owners.get(m)
            if not own:
                continue  # unresolved
            dst_repo = repo if repo in own else own[0]
            dst_path = mod_path[(dst_repo, m)]
            if (dst_repo, dst_path) == (repo, path):
                continue  # self-import
            key = (repo, path, dst_repo, dst_path)
            edges[key] = edges.get(key, 0) + 1
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    return Corpus(rows=rows, edges=edges, n_files=len(files))


def write_jsonl(path: str, corpus: Corpus) -> None:
    with open(path, "w") as f:
        for r in corpus.rows:
            f.write(json.dumps(r) + "\n")


def content_shas(corpus: Corpus) -> dict[tuple[str, str, str], str]:
    return {
        (r["repo"], r["path"], r["commit"]): hashlib.sha256(
            r["content"].encode()
        ).hexdigest()
        for r in corpus.rows
    }


@dataclass
class WeightedEdges:
    src: np.ndarray
    dst: np.ndarray
    weight: np.ndarray


def numbered_edges(edges: dict[tuple[str, str, str, str], int]) -> WeightedEdges:
    """A planted corpus graph with files numbered in (repo, path) order."""
    files = sorted({k[:2] for k in edges} | {k[2:] for k in edges})
    vid = {f: i for i, f in enumerate(files)}
    keys = sorted(edges)
    return WeightedEdges(
        src=np.array([vid[k[:2]] for k in keys], dtype=np.int64),
        dst=np.array([vid[k[2:]] for k in keys], dtype=np.int64),
        weight=np.array([float(edges[k]) for k in keys]),
    )


def write_csv(path: str, g: WeightedEdges) -> None:
    with open(path, "w") as f:
        for s, d, w in zip(g.src.tolist(), g.dst.tolist(), g.weight.tolist()):
            f.write(f"{s},{d},{w}\n")
