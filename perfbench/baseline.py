"""Single-threaded numpy baseline: the benchmark's independent reference
computations, timed on the inputs a workload generates for a seed.

    python3 perfbench/baseline.py --seed 1

Prints one line per workload and computation, with seconds and the same
edges/s rate definitions as the benchmark. No Spark is started.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[var] = "1"

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, reference  # noqa: E402
from perfbench.workloads import CheckpointResume, DerivedDeps, SkewedLarge  # noqa: E402


def _timed(label: str, fn, edges: int | None = None, steps: int | None = None):
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    rate = f"  {edges * steps / dt:,.0f} edges/s" if edges and steps else ""
    print(f"  {label:34s} {dt:8.3f} s{rate}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    d = DerivedDeps
    print(d.name)
    c = _timed("generate corpus", lambda: gen.synth_corpus(
        args.seed, d.REPOS, d.MEAN_FILES, d.HUBS, d.HUB_MODULES))
    g = gen.numbered_edges(c.edges)
    und = reference.undirected_pairs(g.src, g.dst)[0].size
    _timed(f"pagerank (weighted, tol {d.PR_TOL:g})",
           lambda: reference.pagerank(g.src, g.dst, g.weight, tol=d.PR_TOL))
    _timed(f"label_propagation ({d.LPA_ITERS} supersteps)",
           lambda: reference.label_propagation(g.src, g.dst, d.LPA_ITERS), 2 * und, d.LPA_ITERS)
    _timed("components (union-find)", lambda: reference.components(g.src, g.dst))

    for w in (SkewedLarge, CheckpointResume):
        name, pr_steps, lpa_steps = w.name, w.PR_ITERS, w.LPA_ITERS
        print(name)
        el = gen.powerlaw_edges(args.seed, w.N, w.M, w.OUT_EXP, w.IN_EXP)
        und = reference.undirected_pairs(el.src, el.dst)[0].size
        _timed(f"pagerank ({pr_steps} supersteps)", lambda: reference.pagerank(
            el.src, el.dst, tol=0.0, max_iter=pr_steps), el.src.size, pr_steps)
        _timed(f"label_propagation ({lpa_steps} supersteps)",
               lambda: reference.label_propagation(el.src, el.dst, lpa_steps), 2 * und, lpa_steps)
        if name == "skewed_large":
            _timed("components (union-find)", lambda: reference.components(el.src, el.dst))
            _timed("triangles", lambda: reference.triangles(el.src, el.dst))
    return 0


if __name__ == "__main__":
    sys.exit(main())
