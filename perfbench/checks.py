"""Output checks. Each takes the program's output as plain arrays or dicts
and the independent answer, and returns a list of problems (empty = pass).
No Spark is needed, so the checks themselves are unit-tested
(perfbench/tests/test_bench_checks.py)."""

from __future__ import annotations

import numpy as np

from perfbench import reference


def _same_vertices(what: str, got_vids: np.ndarray, ref_vids: np.ndarray) -> list[str]:
    if got_vids.size != ref_vids.size or not np.array_equal(np.sort(got_vids), ref_vids):
        return [f"{what}: vertex set differs ({got_vids.size} vs {ref_vids.size} expected)"]
    return []


def _aligned(got_vids: np.ndarray, got_vals: np.ndarray) -> np.ndarray:
    return np.asarray(got_vals)[np.argsort(got_vids, kind="stable")]


def pagerank(
    got_vids: np.ndarray,
    got_ranks: np.ndarray,
    ref_vids: np.ndarray,
    ref_ranks: np.ndarray,
    tol: float,
    damping: float = 0.85,
    bound: float | None = None,
) -> list[str]:
    """Ranks sum to 1 within 1e-9, and the L1 distance to the reference is
    within the stopping rule's bound tol*d/(1-d) (plus the reference's own
    1e-12 stop). A run stopped by max_iter instead is compared with a
    reference run of the same supersteps, within an explicit `bound`."""
    errs = _same_vertices("pagerank", got_vids, ref_vids)
    if errs:
        return errs
    s = float(np.sum(got_ranks))
    if abs(s - 1.0) > 1e-9:
        errs.append(f"pagerank: ranks sum to {s!r}, not 1")
    l1 = float(np.abs(_aligned(got_vids, got_ranks) - ref_ranks).sum())
    if bound is None:
        bound = (tol + 1e-12) * damping / (1.0 - damping)
    if l1 > bound:
        errs.append(f"pagerank: L1 distance {l1:.3e} exceeds bound {bound:.3e}")
    return errs


def exact_labels(
    what: str,
    got_vids: np.ndarray,
    got_vals: np.ndarray,
    ref_vids: np.ndarray,
    ref_vals: np.ndarray,
) -> list[str]:
    """Per-vertex values equal exactly (LPA labels, component ids,
    triangle counts)."""
    errs = _same_vertices(what, got_vids, ref_vids)
    if errs:
        return errs
    bad = np.flatnonzero(_aligned(got_vids, got_vals) != np.asarray(ref_vals))
    if bad.size:
        v = int(ref_vids[bad[0]])
        return [f"{what}: {bad.size} vertices differ, e.g. vid {v}"]
    return []


def triangles(
    got_vids: np.ndarray,
    got_tri: np.ndarray,
    ref_vids: np.ndarray,
    ref_tri: np.ndarray,
    total: int,
) -> list[str]:
    """Per-vertex counts equal the reference and sum to 3 x total."""
    errs = exact_labels("triangles", got_vids, got_tri, ref_vids, ref_tri)
    s = int(np.sum(got_tri))
    if s != 3 * total:
        errs.append(f"triangles: per-vertex counts sum to {s}, not 3 x {total}")
    return errs


def connected_communities(
    src: np.ndarray, dst: np.ndarray, got_vids: np.ndarray, got_labels: np.ndarray
) -> list[str]:
    """Every community induces a connected subgraph."""
    ref_vids = np.unique(np.concatenate([src, dst]))
    errs = _same_vertices("leiden", got_vids, ref_vids)
    if errs:
        return errs
    labels = _aligned(got_vids, got_labels)
    n_comm = int(np.unique(labels).size)
    pieces = reference.induced_components(src, dst, ref_vids, labels)
    if pieces != n_comm:
        return [f"leiden: {n_comm} communities induce {pieces} connected pieces"]
    return []


def modularity(
    src: np.ndarray,
    dst: np.ndarray,
    weight: np.ndarray | None,
    got_vids: np.ndarray,
    got_labels: np.ndarray,
    program_q: float,
) -> list[str]:
    """The modularity recomputed here matches the program's within 1e-9."""
    ref_vids = np.unique(np.concatenate([src, dst]))
    errs = _same_vertices("leiden", got_vids, ref_vids)
    if errs:
        return errs
    q = reference.modularity(src, dst, weight, ref_vids, _aligned(got_vids, got_labels))
    if abs(q - program_q) > 1e-9:
        return [f"leiden: modularity {q!r} recomputed, program says {program_q!r}"]
    return []


def derived_edges(
    got: dict[tuple[str, str, str, str], float],
    expected: dict[tuple[str, str, str, str], int],
) -> list[str]:
    """The derived (src repo/path, dst repo/path) -> weight map equals the
    planted one."""
    errs = []
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        errs.append(f"derive: {len(missing)} planted edges missing, e.g. {min(missing)}")
    if extra:
        errs.append(f"derive: {len(extra)} edges not planted, e.g. {min(extra)}")
    wrong = sorted(k for k in expected.keys() & got.keys() if got[k] != expected[k])
    if wrong:
        k = wrong[0]
        errs.append(
            f"derive: {len(wrong)} weights differ, e.g. {k}: {got[k]} vs {expected[k]}"
        )
    return errs


def content_shas(
    got: dict[tuple[str, str, str], str], expected: dict[tuple[str, str, str], str]
) -> list[str]:
    """content_sha equals hashlib.sha256 of the content on every row."""
    if got.keys() != expected.keys():
        return [f"with_sha: {len(got)} rows, {len(expected)} expected"]
    bad = [k for k in expected if got[k] != expected[k]]
    return [f"with_sha: {len(bad)} rows differ, e.g. {bad[0]}"] if bad else []


def manifests(
    iterations: list[int],
    mtimes: list[float],
    interrupted_at: int,
    resume_started: float,
    resumed_steps: int,
) -> list[str]:
    """Manifests form one gap-free sequence 1..K across the interruption;
    the resuming call wrote none of 1..k (no restart) and ran exactly K-k
    supersteps, i.e. it continued at k+1."""
    errs = []
    final = max(iterations, default=0)
    if iterations != list(range(1, final + 1)):
        errs.append(f"checkpoint: manifest iterations {iterations} are not 1..{final}")
    if interrupted_at not in iterations:
        errs.append(f"checkpoint: no manifest at the interruption k={interrupted_at}")
    rewritten = [i for i, t in zip(iterations, mtimes) if i <= interrupted_at and t >= resume_started]
    if rewritten:
        errs.append(f"checkpoint: resumed call rewrote manifests {rewritten} (restarted)")
    late = [i for i, t in zip(iterations, mtimes) if i > interrupted_at and t < resume_started]
    if late:
        errs.append(f"checkpoint: manifests {late} predate the resumed call")
    if resumed_steps != final - interrupted_at:
        errs.append(
            f"checkpoint: resumed call ran {resumed_steps} supersteps, "
            f"expected {final - interrupted_at} (continue at k+1={interrupted_at + 1})"
        )
    return errs


def snapshots(
    rows: dict[int, int], n_vertices: int, rank_sums: dict[int, float] | None = None
) -> list[str]:
    """Each snapshot holds exactly V rows; each PageRank snapshot's ranks
    sum to 1 (within 1e-9)."""
    errs = [
        f"checkpoint: snapshot iter={i} holds {n} rows, not V={n_vertices}"
        for i, n in sorted(rows.items())
        if n != n_vertices
    ]
    for i, s in sorted((rank_sums or {}).items()):
        if abs(s - 1.0) > 1e-9:
            errs.append(f"checkpoint: snapshot iter={i} ranks sum to {s!r}")
    return errs
