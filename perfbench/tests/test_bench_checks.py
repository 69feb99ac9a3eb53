"""The benchmark's output checks must reject corrupted outputs.

Runs without Spark:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks, gen, reference  # noqa: E402


@pytest.fixture(scope="module")
def graph():
    el = gen.powerlaw_edges(7, n=300, m=1200, out_exp=0.6, in_exp=0.9)
    return el.src, el.dst


def test_pagerank_reference_passes_and_moved_score_fails(graph):
    src, dst = graph
    vids, ranks = reference.pagerank(src, dst, tol=1e-12)
    assert checks.pagerank(vids, ranks, vids, ranks, tol=1e-8) == []
    # a result stopped at tol=1e-6 is within its own bound
    _, loose = reference.pagerank(src, dst, tol=1e-6)
    assert checks.pagerank(vids, loose, vids, ranks, tol=1e-6) == []
    bad = ranks.copy()
    bound = 1e-8 * 0.85 / 0.15
    bad[0] += 2 * bound
    bad[1] -= 2 * bound  # sum still 1: only the distance check can catch it
    errs = checks.pagerank(vids, bad, vids, ranks, tol=1e-8)
    assert any("L1 distance" in e for e in errs)
    assert checks.pagerank(vids, ranks * 1.001, vids, ranks, tol=1e-3)


def test_lpa_one_label_changed(graph):
    src, dst = graph
    vids, labels = reference.label_propagation(src, dst, 5)
    assert checks.exact_labels("lpa", vids, labels, vids, labels) == []
    # the output order does not matter
    perm = np.random.default_rng(0).permutation(vids.size)
    assert checks.exact_labels("lpa", vids[perm], labels[perm], vids, labels) == []
    bad = labels.copy()
    bad[3] = bad[3] + 1
    assert checks.exact_labels("lpa", vids, bad, vids, labels)


def test_lpa_reference_follows_the_rule():
    # path 0-1-2: 0 and 2 see only 1; 1 sees {0, 2}, tie -> smallest (0)
    vids, labels = reference.label_propagation(np.array([0, 1]), np.array([1, 2]), 1)
    assert labels.tolist() == [1, 0, 1]
    # star: every leaf takes the hub's label, the hub the smallest leaf's
    vids, labels = reference.label_propagation(np.array([5, 5, 5]), np.array([7, 8, 9]), 1)
    assert labels.tolist() == [7, 5, 5, 5]


def test_cc_two_components_merged():
    src = np.array([0, 1, 3, 4, 10])
    dst = np.array([1, 2, 4, 5, 11])
    vids, comp = reference.components(src, dst)
    assert comp.tolist() == [0, 0, 0, 3, 3, 3, 10, 10]
    assert checks.exact_labels("cc", vids, comp, vids, comp) == []
    merged = np.where(comp == 3, 0, comp)
    assert checks.exact_labels("cc", vids, merged, vids, comp)


def test_triangles_reference_and_corruption():
    # K4 on {0,1,2,3}: 4 triangles, each vertex in 3; plus a pendant 3-4
    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4)]
    src = np.array([p[0] for p in pairs])
    dst = np.array([p[1] for p in pairs])
    vids, tri = reference.triangles(src, dst)
    assert tri.tolist() == [3, 3, 3, 3, 0]
    assert checks.triangles(vids, tri, vids, tri, total=4) == []
    bad = tri.copy()
    bad[4] = 3
    errs = checks.triangles(vids, bad, vids, tri, total=4)
    assert any("differ" in e for e in errs) and any("sum" in e for e in errs)


def test_triangles_reference_matches_bruteforce(graph):
    src, dst = graph
    a, b = reference.undirected_pairs(src, dst)
    adj: dict[int, set] = {}
    for x, y in zip(a.tolist(), b.tolist()):
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    vids, tri = reference.triangles(src, dst, chunk=50)  # force several chunks
    want = [
        sum(1 for u in adj[v] for w in adj[v] if u < w and w in adj[u]) for v in vids.tolist()
    ]
    assert tri.tolist() == want


def test_derived_edge_dropped_or_weight_changed():
    expected = {("r0", "a.py", "r0", "b.py"): 2, ("r0", "a.py", "r1", "c.py"): 1}
    got = {k: float(v) for k, v in expected.items()}
    assert checks.derived_edges(got, expected) == []
    dropped = dict(got)
    del dropped[("r0", "a.py", "r1", "c.py")]
    assert checks.derived_edges(dropped, expected)
    reweighted = dict(got)
    reweighted[("r0", "a.py", "r0", "b.py")] = 1.0
    assert checks.derived_edges(reweighted, expected)


def test_generator_plants_resolution_rules():
    c = gen.synth_corpus(3, repos=6, mean_files=30, hubs=2, hub_modules=5)
    assert any(r["lang"] == "javascript" for r in c.rows)
    latest = {}
    for r in c.rows:
        k = (r["repo"], r["path"])
        latest[k] = max(latest.get(k, ""), r["commit"])
    assert len(latest) == c.n_files < len(c.rows)  # older commits planted
    assert any(s != d for s, _, d, _ in c.edges)  # cross-repo edges
    assert all((s, sp) != (d, dp) for s, sp, d, dp in c.edges)  # no self-edges
    shas = gen.content_shas(c)
    assert checks.content_shas(dict(shas), shas) == []
    k = next(iter(shas))
    assert checks.content_shas({**shas, k: "0" * 64}, shas)


def _two_triangles():
    # triangles {0,1,2} and {3,4,5} joined by the edge 2-3
    pairs = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    return np.array([p[0] for p in pairs]), np.array([p[1] for p in pairs])


def test_leiden_community_split_into_disconnected_parts():
    src, dst = _two_triangles()
    vids = np.arange(6)
    good = np.array([0, 0, 0, 3, 3, 3])
    assert checks.connected_communities(src, dst, vids, good) == []
    # {0, 1} and {4, 5} are not adjacent: one label over both is two parts
    split = np.array([0, 0, 2, 3, 0, 0])
    assert checks.connected_communities(src, dst, vids, split)


def test_leiden_modularity_recomputed():
    src, dst = _two_triangles()
    vids = np.arange(6)
    good = np.array([0, 0, 0, 3, 3, 3])
    q = reference.modularity(src, dst, None, vids, good)
    assert abs(q - (2 * (6 / 14 - 0.25))) < 1e-12  # two halves, m = 7
    assert checks.modularity(src, dst, None, vids, good, q) == []
    assert checks.modularity(src, dst, None, vids, good, q + 1e-6)
    # parallel and reverse edges sum into one undirected weight
    w = np.ones(src.size)
    q2 = reference.modularity(np.append(src, 1), np.append(dst, 0), np.append(w, 1.0), vids, good)
    assert q2 != q


def test_manifest_sequence_gap_and_restart():
    its = [1, 2, 3, 4, 5, 6]
    t = [10.0, 11.0, 12.0, 20.0, 21.0, 22.0]  # resumed call started at 15
    assert checks.manifests(its, t, interrupted_at=3, resume_started=15.0, resumed_steps=3) == []
    gap = checks.manifests([1, 2, 3, 5, 6], [10, 11, 12, 21, 22], 3, 15.0, 3)
    assert any("not 1..6" in e for e in gap)
    # a restart rewrites 1..3 after the resume began and runs all 6 steps
    restart = checks.manifests(its, [16.0, 17.0, 18.0, 20.0, 21.0, 22.0], 3, 15.0, 6)
    assert any("restarted" in e for e in restart)
    assert any("continue at k+1" in e for e in restart)


def test_snapshot_rows_and_rank_sums():
    assert checks.snapshots({1: 10, 2: 10}, 10, {1: 1.0, 2: 1.0 + 1e-12}) == []
    assert checks.snapshots({1: 10, 2: 9}, 10)
    assert checks.snapshots({1: 10}, 10, {1: 0.99})
