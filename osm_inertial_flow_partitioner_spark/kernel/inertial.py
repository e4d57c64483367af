"""Inertial-flow direction sweep (kernel side).

Mirrors computeInertialFlowDinic
(`/root/reference/pkg/partitioner/inertial_flow.go:107-168`):

- 10 direction jobs: 5 slope lines (slope = -1 + i*2/5, proj =
  slope*lon + (1-|slope|)*lat, helper.go:111-141) then 5 diagonal lines
  ([1,0],[0,1],[1,1],[1,-1],[-1,1], proj = a*lon + b*lat,
  helper.go:143-173), in that enqueue order;
- per job: sort vertices by projection, first int(n*rate) = sources,
  last int(n*rate) = sinks *in descending order* (helper.go:164-171 —
  sink i is items[n-1-i]); truncation, not rounding;
- argmin over jobs by (cut_edges, balance_delta) with balance_delta =
  |n//2 - part_two| (inertial_flow.go:115-121).

Determinism fixes frozen per SURVEY.md §7: Go's sort.Slice is unstable
and the worker-pool result channel has nondeterministic order; we freeze
(a) stable sort with tie-break by local vertex id, (b) total argmin
order (cut_edges, balance_delta, job_index).
"""

from __future__ import annotations

import numpy as np

from ..config import DIAGONALS, SLOPES, SOURCE_SINK_RATE
from .maxflow import FlowGraph, min_cut


def direction_jobs() -> list[tuple[float, float]]:
    """The 10 projection lines as (coef_lon, coef_lat), in enqueue order."""
    jobs = [(s, 1.0 - abs(s)) for s in SLOPES]
    jobs += [(a, b) for (a, b) in DIAGONALS]
    return jobs


def pick_sources_sinks(
    proj: np.ndarray, rate: float
) -> tuple[np.ndarray, np.ndarray]:
    """sortVerticesByLineProjection endpoint selection (helper.go:111-141).

    Returns (sources ascending-projection order, sinks descending order).
    k = int(n * rate) — truncation (helper.go:132). For n <= 3 at rate
    0.25 this yields k = 0: the reference then degenerates to an
    (empty, all) split; we reproduce that upstream.
    """
    n = len(proj)
    order = np.argsort(proj, kind="stable")  # ties -> local id (frozen rule)
    k = int(n * rate)
    sources = order[:k]
    sinks = order[::-1][:k]
    return sources.astype(np.int64), sinks.astype(np.int64)


#: run the 10 direction jobs on a thread pool for cells at least this
#: big — the compiled kernel releases the GIL, so the jobs parallelize
#: inside ONE local-finish task (the single-task whole-level finish the
#: raised threshold produces would otherwise serialize ~10x the
#: per-job C time). Small cells stay serial: pool latency would exceed
#: the work, and the deep tail of a recursion is where MANY concurrent
#: finish tasks coexist (oversubscription).
PARALLEL_JOBS_MIN_N = 8192


def best_inertial_cut(
    graph: FlowGraph,
    lat: np.ndarray,
    lon: np.ndarray,
    rate: float = SOURCE_SINK_RATE,
    jobs_workers: int | None = None,
) -> tuple[np.ndarray, int, int, int]:
    """Run the 10 direction jobs and return the argmin cut.

    Returns (flags, part_two, cut_edges, best_job_index). flags[u] True =
    source side (partition one).

    ``jobs_workers`` caps the job thread pool: None keeps the size-gated
    auto policy below; <= 1 forces the serial loop (the caller's cell
    pool already saturates the host — a 10-thread pool per concurrent
    cell oversubscribed it, round 6); larger values bound the pool.
    """
    n = graph.n

    def run_job(job_idx: int) -> tuple:
        a, b = direction_jobs()[job_idx]
        proj = a * lon + b * lat
        sources, sinks = pick_sources_sinks(proj, rate)
        if len(sources) == 0:
            # degenerate: BFS from the super source fails immediately ->
            # all real vertices unreachable -> (empty, all) split, cut 0
            flags = np.zeros(n, dtype=bool)
            part_two, cut = n, 0
        else:
            # compiled unit-terminal Dinic, or the numpy fallback —
            # bit-identical to the reference-shaped Dinic (flags are
            # the unique minimal min cut for ANY max flow)
            flags, part_two, cut, _ = min_cut(graph, sources, sinks)
        balance = abs(n // 2 - part_two)
        return ((cut, balance, job_idx), flags, part_two, cut, job_idx)

    n_jobs = len(direction_jobs())
    if n >= PARALLEL_JOBS_MIN_N and (jobs_workers is None or jobs_workers > 1):
        from concurrent.futures import ThreadPoolExecutor

        from .cdinic import available

        if available():
            graph.base_csr()  # build the shared CSR once, not per thread
            width = n_jobs if jobs_workers is None else min(n_jobs, jobs_workers)
            with ThreadPoolExecutor(max_workers=width) as pool:
                results = list(pool.map(run_job, range(n_jobs)))
            # frozen total-order argmin — thread completion order is
            # irrelevant, the key includes job_idx
            best = min(results, key=lambda r: r[0])
            return best[1], best[2], best[3], best[4]
    best = None
    for job_idx in range(n_jobs):
        r = run_job(job_idx)
        if best is None or r[0] < best[0]:
            best = r
    assert best is not None
    return best[1], best[2], best[3], best[4]
