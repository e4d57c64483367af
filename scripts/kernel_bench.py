#!/usr/bin/env python
"""Max-flow kernel micro-benchmark: one direction job on a synthetic
geometric kNN graph at the bench's root-cell scale (n ~ 125k). Times the
production ``min_cut`` (the compiled kernel when it builds, else the
numpy fallback) beside the numpy engines, and checks that all of them
return identical (flags, part_two, max_flow).

    python scripts/kernel_bench.py [n] [k]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_inertial_flow_partitioner_spark.kernel import cdinic  # noqa: E402
from osm_inertial_flow_partitioner_spark.kernel.maxflow import (  # noqa: E402
    FlowGraph,
    contracted_min_cut,
    dinic_min_cut,
    min_cut,
    push_relabel_min_cut,
)


def geometric_knn(n: int, k: int, seed: int = 7):
    rng = np.random.default_rng(seed)
    lat = rng.uniform(-60.0, 60.0, n)
    lon = rng.uniform(-170.0, 170.0, n)
    # grid-bucketed kNN (approx): bucket points, search 3x3 neighborhood
    res = max(int(np.sqrt(n / 8)), 1)
    gx = np.clip(((lon + 170.0) / 340.0 * res).astype(np.int64), 0, res - 1)
    gy = np.clip(((lat + 60.0) / 120.0 * res).astype(np.int64), 0, res - 1)
    cell = gy * res + gx
    order = np.argsort(cell, kind="stable")
    tails, heads = [], []
    import collections

    buckets = collections.defaultdict(list)
    for i in order.tolist():
        buckets[int(cell[i])].append(i)
    for i in range(n):
        cx, cy = int(gx[i]), int(gy[i])
        cand = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                x, y = cx + dx, cy + dy
                if 0 <= x < res and 0 <= y < res:
                    cand.extend(buckets[y * res + x])
        cand = np.asarray([c for c in cand if c != i], dtype=np.int64)
        if len(cand) == 0:
            continue
        d = (lat[cand] - lat[i]) ** 2 + (lon[cand] - lon[i]) ** 2
        top = cand[np.argsort(d, kind="stable")[:k]]
        for j in top.tolist():
            a, b = (i, j) if i < j else (j, i)
            tails.append(a)
            heads.append(b)
    e = np.unique(np.stack([tails, heads], axis=1), axis=0)
    # directed both ways, sorted by (tail, edge_id-ish)
    t2 = np.concatenate([e[:, 0], e[:, 1]])
    h2 = np.concatenate([e[:, 1], e[:, 0]])
    o = np.argsort(t2, kind="stable")
    return lat, lon, t2[o], h2[o]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 125_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    t0 = time.time()
    lat, lon, tails, heads = geometric_knn(n, k)
    print(f"graph: n={n} directed_edges={len(tails)} ({time.time()-t0:.1f}s gen)")
    graph = FlowGraph.from_directed_edges(n, tails, heads)

    proj = lon  # direction job [1, 0]
    order = np.argsort(proj, kind="stable")
    kk = int(n * 0.25)
    sources = order[:kk]
    sinks = order[::-1][:kk]

    engine = "compiled" if cdinic.available() else "numpy fallback"
    kernels = {
        f"min_cut ({engine})": min_cut,
        "dinic": dinic_min_cut,
        "push_relabel": push_relabel_min_cut,
        "contracted_pr": contracted_min_cut,
    }
    if os.environ.get("SKIP_DINIC"):
        del kernels["dinic"]

    results = {}
    for name, fn in kernels.items():
        t0 = time.time()
        flags, part_two, max_flow, _g = fn(graph, sources, sinks)
        dt = time.time() - t0
        results[name] = (flags, part_two, max_flow)
        print(f"{name}: {dt:.2f}s  max_flow={max_flow} part_two={part_two}")
    names = list(results)
    for other in names[1:]:
        a, b = results[names[0]], results[other]
        same = bool(np.array_equal(a[0], b[0])) and a[1:] == b[1:]
        print(f"IDENTICAL {names[0]} vs {other}: {same}")


if __name__ == "__main__":
    main()
