"""Unit-capacity Dinic max-flow / min-cut kernel (numpy, executor-local).

Re-expresses the semantics of the reference Go implementation:

- undirected unit-capacity edge pairs with the reverse edge at ``id ^ 1``
  (`/root/reference/pkg/datastructure/partition_graph.go:216-229`);
- super-source/super-sink augmentation with INF(=1e9)-capacity
  *undirected* edge pairs (`partition_graph.go:231-244`,
  `pkg/partitioner/helper.go:30-45`, CLRS §26.1);
- BFS level graph + current-arc DFS blocking flow
  (`pkg/partitioner/dinic_sources_sinks.go:12-73`);
- source-side cut flags = vertices still BFS-reachable in the final
  residual graph, excluding the two artificial vertices; cut-edge count =
  max flow (`dinic_sources_sinks.go:75-102`, `dinic.go:169-178`).

Determinism (frozen per SURVEY.md §7): adjacency order is edge-insertion
order. Because edge ids are assigned in insertion order and each edge id
is appended to exactly one vertex's list at creation time, a vertex's
adjacency equals "all edge ids with tail == vertex, ascending" — so the
CSR is one stable argsort, no per-edge Python.

The reference BFS breaks early when the target is *popped*
(`dinic_sources_sinks.go:29-31`). At that point every node at distance
<= dist(t) already has its exact level (FIFO order), and deeper nodes —
INVALID there, finite level here — can never lie on a level-increasing
path ending at t, and get skipped (there) or explored-and-dead-ended
(here) with the same net arc advancement at their parents. The blocking
flow and the final (failing, hence break-free) BFS flags are therefore
identical; we run full BFS, which vectorizes.
"""

from __future__ import annotations

import numpy as np

from ..config import INF_CAPACITY

INVALID_LEVEL = np.iinfo(np.int64).max  # reference: 9e9 (partitioner/constant.go:4)


class FlowGraph:
    """Flow graph topology for one cell (real edges only).

    Construct via ``from_directed_edges`` with the directed edge list in
    reference iteration order (ascending tail, then original edge id —
    matching ForOutEdgesOfVertex CSR order in buildInitialPartitionGraph,
    recursiveBisection.go:154-161). Each directed edge (u, v), u != v,
    becomes an undirected unit pair: forward u->v at id 2k, reverse v->u
    at id 2k+1 (PartitionGraph.AddEdge semantics). A bidirectional
    original road contributes capacity 2 per direction, as in the
    reference.
    """

    def __init__(self, n: int, eu: np.ndarray, ev: np.ndarray):
        self.n = n
        self.eu = eu  # interleaved (u,v),(v,u) pairs; len = 2 * #directed edges
        self.ev = ev
        # cached across extended() calls (one per direction job): the
        # stable argsort of the base arcs and their sorted keys — the
        # per-job CSR is then a two-sorted-sequence merge instead of a
        # full argsort of base + artificial arcs
        self._base_order: np.ndarray | None = None
        self._base_keys: np.ndarray | None = None
        self._base_csr: tuple[np.ndarray, np.ndarray] | None = None

    def base_csr(self) -> tuple[np.ndarray, np.ndarray]:
        """(off, flat) CSR over the REAL arcs only, cached per cell —
        the implicit-terminal compiled kernel reuses it across all 10
        direction jobs, so a job costs zero numpy graph construction."""
        if self._base_csr is None:
            if self._base_order is None:
                self._base_order = np.argsort(self.eu, kind="stable")
                self._base_keys = self.eu[self._base_order]
            counts = np.bincount(self.eu, minlength=self.n)
            off = np.zeros(self.n + 1, dtype=np.int64)
            np.cumsum(counts, out=off[1:])
            self._base_csr = (off, self._base_order)
        return self._base_csr

    @classmethod
    def from_directed_edges(
        cls, n: int, tails: np.ndarray, heads: np.ndarray
    ) -> "FlowGraph":
        tails = np.asarray(tails, dtype=np.int64)
        heads = np.asarray(heads, dtype=np.int64)
        keep = tails != heads  # AddEdge skips self-loops (partition_graph.go:217-219)
        tails, heads = tails[keep], heads[keep]
        m = len(tails)
        eu = np.empty(2 * m, dtype=np.int64)
        ev = np.empty(2 * m, dtype=np.int64)
        eu[0::2] = tails
        ev[0::2] = heads
        eu[1::2] = heads
        ev[1::2] = tails
        return cls(n, eu, ev)

    def extended(self, sources: np.ndarray, sinks: np.ndarray) -> "_ExtGraph":
        """Per-job state with artificial source (local id n) and sink
        (n+1) and INF undirected pairs appended in source order then sink
        order (createArtificialSourceSink, helper.go:30-45)."""
        n = self.n
        s, t = n, n + 1
        sources = np.asarray(sources, dtype=np.int64)
        sinks = np.asarray(sinks, dtype=np.int64)
        m0 = len(self.eu)
        ns, nt = len(sources), len(sinks)
        m = m0 + 2 * (ns + nt)
        eu = np.empty(m, dtype=np.int64)
        ev = np.empty(m, dtype=np.int64)
        ecap = np.ones(m, dtype=np.int64)
        eu[:m0] = self.eu
        ev[:m0] = self.ev
        i = m0 + 2 * np.arange(ns)
        eu[i], ev[i] = s, sources  # s -> src (INF)
        eu[i + 1], ev[i + 1] = sources, s  # src -> s (INF; AddInfEdge reverse)
        base = m0 + 2 * ns
        j = base + 2 * np.arange(nt)
        eu[j], ev[j] = sinks, t  # sink -> t (INF)
        eu[j + 1], ev[j + 1] = t, sinks  # t -> sink (INF)
        ecap[m0:] = INF_CAPACITY

        # per-vertex insertion order == stable sort by eu. The base part
        # is job-invariant: cache its argsort and MERGE the (sorted-by-
        # construction after their own small argsort) artificial arcs in,
        # instead of re-sorting all m arcs per direction job.
        if self._base_order is None:
            self._base_order = np.argsort(self.eu, kind="stable")
            self._base_keys = self.eu[self._base_order]
        extra_order = np.argsort(eu[m0:], kind="stable")
        extra_keys = eu[m0:][extra_order]
        # stable merge, base arcs first on equal keys (lower edge ids)
        pos_base = np.arange(m0, dtype=np.int64) + np.searchsorted(
            extra_keys, self._base_keys, side="left"
        )
        pos_extra = np.arange(len(extra_keys), dtype=np.int64) + np.searchsorted(
            self._base_keys, extra_keys, side="right"
        )
        order = np.empty(m, dtype=np.int64)
        order[pos_base] = self._base_order
        order[pos_extra] = m0 + extra_order
        counts = np.bincount(eu, minlength=n + 2)
        off = np.zeros(n + 3, dtype=np.int64)
        np.cumsum(counts, out=off[1:])
        return _ExtGraph(n + 2, eu, ev, ecap, off, order)


class _ExtGraph:
    """CSR topology + mutable per-run flow state."""

    def __init__(self, n, eu, ev, ecap, off, flat):
        self.n = n
        self.eu = eu
        self.ev = ev
        self.ecap = ecap
        self.off = off  # len n+1 (one spare slot unused)
        self.flat = flat  # edge ids, adjacency-concatenated
        self.eflow = np.zeros(len(eu), dtype=np.int64)
        self.level = np.full(n, INVALID_LEVEL, dtype=np.int64)
        # list-mirror caches for the blocking-flow hot loop
        self._ev_list = None
        self._ecap_list = None
        self._eflow_list = None


def _bfs_levels(g: _ExtGraph, s: int, t: int) -> bool:
    """Vectorized full BFS on the residual graph (bfsLevelGraph,
    dinic_sources_sinks.go:12-45; see module docstring for the
    early-break equivalence argument)."""
    g.level.fill(INVALID_LEVEL)
    g.level[s] = 0
    frontier = np.array([s], dtype=np.int64)
    lvl = 0
    ev, ecap, eflow, off, flat, level = g.ev, g.ecap, g.eflow, g.off, g.flat, g.level
    while frontier.size:
        starts = off[frontier]
        counts = off[frontier + 1] - starts
        total = int(counts.sum())
        if total == 0:
            break
        base = np.repeat(starts, counts)
        step = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(counts) - counts, counts
        )
        eidx = flat[base + step]
        tgt = ev[eidx]
        ok = (ecap[eidx] - eflow[eidx] > 0) & (level[tgt] == INVALID_LEVEL)
        tgt = tgt[ok]
        if tgt.size == 0:
            break
        lvl += 1
        level[tgt] = lvl
        frontier = np.unique(tgt)
    return level[t] != INVALID_LEVEL


def _blocking_flow_phase(g: _ExtGraph, s: int, t: int) -> int:
    """One full blocking-flow phase: repeated current-arc DFS until no
    augmenting path remains (the inner loop of
    computeMinCutSuperSourceSink, dinic_sources_sinks.go:83-90).

    EXACT-equivalence speedup: the set of *admissible* arcs
    (level[v] == level[u]+1 and residual > 0) can only SHRINK during a
    phase — levels only change to INVALID (dead-end kills), residual
    only changes on pushed path edges (which become saturated) and their
    reverses (whose level relation level[u] = level[v]-1 makes them
    inadmissible this phase by construction). So we pre-filter each
    vertex's adjacency to its phase-start admissible arcs *in original
    order* (vectorized numpy) and let the Python DFS scan only those,
    re-checking level (dead-end kills) and residual (saturation) — the
    sequence of chosen arcs, and hence the augmenting paths and the
    final flow, are identical to the reference's full scan.
    """
    level_np = g.level
    eu, ev_np, ecap_np, eflow_np, off_np, flat_np = (
        g.eu, g.ev, g.ecap, g.eflow, g.off, g.flat,
    )
    adm = (level_np[eu] + 1 == level_np[ev_np]) & (ecap_np > eflow_np)
    adm_flat = adm[flat_np]
    flat2_np = flat_np[adm_flat]
    # per-vertex admissible counts via prefix sums over the flat order
    pref = np.zeros(len(adm_flat) + 1, dtype=np.int64)
    np.cumsum(adm_flat, out=pref[1:])
    off2_np = pref[off_np[: g.n + 1]]

    # hot-loop state as Python lists (list indexing is several times
    # faster than numpy scalar indexing); static topology lists and the
    # authoritative eflow list are cached on the graph across phases
    if g._ev_list is None:
        g._ev_list = g.ev.tolist()
        g._ecap_list = g.ecap.tolist()
        g._eflow_list = g.eflow.tolist()
    ev = g._ev_list
    ecap = g._ecap_list
    eflow = g._eflow_list
    flat2 = flat2_np.tolist()
    off2 = off2_np.tolist()
    level = level_np.tolist()
    last = [0] * g.n  # resetCurrentEdges (dinic.go:126-130)
    pushed: list[int] = []
    deltas: list[int] = []

    total = 0
    INVALID = INVALID_LEVEL
    while True:
        stack = [s]
        path: list[int] = []
        f = 0
        while stack:
            u = stack[-1]
            if u == t:
                f = min(ecap[e] - eflow[e] for e in path)
                for e in path:
                    eflow[e] += f
                    eflow[e ^ 1] -= f
                    pushed.append(e)
                    deltas.append(f)
                break
            nxt = level[u] + 1
            base = off2[u]
            end = off2[u + 1]
            j = last[u]
            advanced = False
            while base + j < end:
                e = flat2[base + j]
                v = ev[e]
                if level[v] == nxt and ecap[e] > eflow[e]:
                    stack.append(v)
                    path.append(e)
                    advanced = True
                    break
                j += 1
            last[u] = j
            if not advanced:
                level[u] = INVALID
                stack.pop()
                if path:
                    path.pop()
                    last[stack[-1]] += 1
        if f == 0:
            break
        total += f

    # mirror flow deltas back into the numpy state for the next BFS
    if pushed:
        ids = np.asarray(pushed, dtype=np.int64)
        dl = np.asarray(deltas, dtype=np.int64)
        np.add.at(eflow_np, ids, dl)
        np.add.at(eflow_np, ids ^ 1, -dl)
    # levels are reset by the next BFS; no write-back needed
    return total


def dinic_unit_terminal_min_cut(
    base: FlowGraph, sources: np.ndarray, sinks: np.ndarray
) -> tuple[np.ndarray, int, int, None]:
    """Production fast path: implicit-terminal unit-capacity compiled
    Dinic (kernel/cdinic.py). The base CSR is built once per cell and
    reused by every direction job, so a job costs zero numpy graph
    construction — the per-job ``extended()``/contraction rebuilds were
    a co-dominant cost of big finish kernels once the flow search
    itself was compiled. The flow value is unique and the flags are the
    unique minimal min cut of any max flow, so the result equals
    ``dinic_min_cut`` bit for bit; terminals must be disjoint
    (guaranteed by the 25%-extremes selection). Returns None in the
    graph slot — flow state stays inside the C call; use the explicit
    engines when ``validate_min_cut`` is needed."""
    from . import cdinic

    off, flat = base.base_csr()
    sources = np.asarray(sources, dtype=np.int64)
    is_snk = np.zeros(base.n, dtype=np.uint8)
    is_snk[np.asarray(sinks, dtype=np.int64)] = 1
    max_flow, level = cdinic.dinic_unit_terminal_c(
        base.n, base.ev, off, flat, sources, is_snk
    )
    flags = level >= 0
    part_two = int(base.n) - int(flags.sum())
    return flags, part_two, max_flow, None


def dinic_min_cut(
    base: FlowGraph, sources: np.ndarray, sinks: np.ndarray
) -> tuple[np.ndarray, int, int, "_ExtGraph"]:
    """computeMinCutSuperSourceSink (dinic_sources_sinks.go:75-102).

    Returns a 4-tuple (flags over the n real vertices, True = source
    side / partition one; num_nodes_in_partition_two; cut_edges = max
    flow; the extended graph with final flow state, for validation).
    """
    g = base.extended(sources, sinks)
    s, t = base.n, base.n + 1
    max_flow = 0
    while True:
        if _bfs_levels(g, s, t):
            max_flow += _blocking_flow_phase(g, s, t)
        else:
            flags = g.level[: base.n] != INVALID_LEVEL
            part_two = int(base.n) - int(flags.sum())
            return flags, part_two, max_flow, g


def _bfs_dist_transpose(g: _ExtGraph, start: int) -> np.ndarray:
    """Vectorized BFS distances ON THE TRANSPOSE of the residual graph:
    d[v] = length of the shortest residual path FROM v TO ``start``.
    Expanding a frontier vertex w follows its CSR arcs f = (w, v) and
    admits v when residual(f^1) > 0, i.e. the residual arc (v, w)
    exists — so only the one CSR is ever needed."""
    n = g.n
    ev, ecap, eflow, off, flat = g.ev, g.ecap, g.eflow, g.off, g.flat
    INF = np.iinfo(np.int64).max
    d = np.full(n, INF, dtype=np.int64)
    d[start] = 0
    frontier = np.array([start], dtype=np.int64)
    lvl = 0
    while frontier.size:
        starts = off[frontier]
        counts = off[frontier + 1] - starts
        total = int(counts.sum())
        if total == 0:
            break
        base = np.repeat(starts, counts)
        step = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(counts) - counts, counts
        )
        eidx = flat[base + step]
        tgt = ev[eidx]
        rev = eidx ^ 1
        ok = (ecap[rev] - eflow[rev] > 0) & (d[tgt] == INF)
        tgt = tgt[ok]
        if tgt.size == 0:
            break
        lvl += 1
        d[tgt] = lvl
        frontier = np.unique(tgt)
    return d


def _sequential_discharge(
    g: _ExtGraph, s: int, t: int, h_np: np.ndarray, ex_np: np.ndarray,
    active: np.ndarray, max_ops: int,
) -> bool:
    """Sequential FIFO discharge (current-arc push/relabel) for small
    active sets — list indexing beats numpy round overhead by orders of
    magnitude at tail sizes. Runs at most ~max_ops arc operations, then
    syncs state back and returns False so the caller can GLOBAL RELABEL
    and re-enter: without that, excess trapped behind a freshly
    saturated cut climbs heights one relabel at a time across the whole
    trapped region (millions of ops) instead of jumping straight to
    n + dist_to_s. Returns True when all excess is discharged."""
    from collections import deque

    n = g.n
    ev = g.ev.tolist()
    ecap = g.ecap.tolist()
    eflow = g.eflow.tolist()
    off = g.off.tolist()
    flat = g.flat.tolist()
    h = h_np.tolist()
    ex = ex_np.tolist()
    cur = [0] * n
    INF = np.iinfo(np.int64).max
    q = deque(int(u) for u in active)
    in_q = bytearray(n)
    for u in active:
        in_q[int(u)] = 1
    ops = 0
    while q and ops < max_ops:
        u = q.popleft()
        in_q[u] = 0
        base, end = off[u], off[u + 1]
        unmovable = False
        while ex[u] > 0 and ops < max_ops:
            j = cur[u]
            ops += 1
            if base + j < end:
                e = flat[base + j]
                v = ev[e]
                if ecap[e] > eflow[e] and h[u] == h[v] + 1:
                    f = ex[u]
                    r = ecap[e] - eflow[e]
                    if r < f:
                        f = r
                    eflow[e] += f
                    eflow[e ^ 1] -= f
                    ex[u] -= f
                    ex[v] += f
                    if v != s and v != t and not in_q[v]:
                        q.append(v)
                        in_q[v] = 1
                    if ecap[e] > eflow[e]:
                        continue  # non-saturating: arc stays current
                cur[u] = j + 1
            else:
                # relabel: 1 + min height over residual arcs
                mn = INF - 1
                for jj in range(base, end):
                    e = flat[jj]
                    if ecap[e] > eflow[e]:
                        hv = h[ev[e]]
                        if hv < mn:
                            mn = hv
                ops += end - base
                if mn >= INF - 1:
                    # no residual arc: excess is unmovable (never
                    # happens for preflows) — drop, don't re-queue
                    unmovable = True
                    break
                if mn + 1 > h[u]:  # relabels never lower a height
                    h[u] = mn + 1
                cur[u] = 0
        if ex[u] > 0 and not unmovable and not in_q[u]:
            # budget exhausted mid-discharge: keep it active
            q.append(u)
            in_q[u] = 1
    g.eflow[:] = eflow
    h_np[:] = h
    ex_np[:] = ex
    return not q


#: initial per-s-arc flood cap of ``push_relabel_min_cut``; an arc that
#: drains saturated below its full cap grows 8x and re-floods
PR_START_CAP = 128


def push_relabel_min_cut(
    base: FlowGraph, sources: np.ndarray, sinks: np.ndarray
) -> tuple[np.ndarray, int, int, "_ExtGraph"]:
    """Vectorized synchronous push-relabel with periodic global
    relabeling — same contract and BIT-IDENTICAL result as
    ``dinic_min_cut``:

    - the max-flow VALUE is unique, and
    - the returned flags are the source-side residual-reachable set of a
      max FLOW, which is the unique MINIMAL min cut (Picard & Queyranne
      1980) — independent of which max flow any algorithm finds, hence
      of the algorithm itself. ``tests/test_kernel_maxflow.py`` asserts
      equality against Dinic and Edmonds-Karp on every fixture.

    Parallel-round validity: each round is (a) a push sub-phase — every
    active vertex pushes on at most its first admissible arc, heights
    frozen, distinct arcs per pusher (two endpoints can never both find
    the same undirected pair admissible) — then (b) a relabel sub-phase
    over the POST-push residual graph, h[v] = max(h[v], 1 + min h over
    residual arcs), which preserves the valid-labeling invariant (a
    fresh residual arc (v, u) created by a push into v has
    h[u] = h_old[v] + 1, so the min over current arcs caps h'[v] at
    h[u] + 1). Every round therefore maps to a legal sequential
    execution of generic push-relabel, which terminates with a valid
    max flow for ANY operation order (Goldberg & Tarjan 1988).

    The artificial s->src arcs are capped at (real out-capacity of the
    source) + 1 instead of INF: net flow through a source vertex can
    never exceed its real out-capacity, so the cap never saturates —
    residual reachability of every source (hence the flags) and the
    max-flow value are untouched — while the initial excess flood stays
    O(E) instead of O(INF).

    Progressive source caps: the flood is further capped at
    ``PR_START_CAP`` per s-arc initially. All flow
    enters through the s-arcs, so the capped network's max-flow value
    is min(sum caps, F); when the drained preflow leaves an s-arc
    SATURATED below its full (outcap + 1) cap, the cap may have been
    binding — grow it 8x, re-flood the delta as excess (the arc stays
    saturated, so no residual s->arc invalidates the labeling) and
    keep discharging with heights intact. When every s-arc ends
    unsaturated-or-at-full-cap the value equals the true F and the
    final flow IS a max flow of the uncapped network, so the
    residual-reachability flags are the same unique minimal min cut.
    Why it pays: typical cuts here are tens of edges while outcap(S)
    after contraction is thousands — without the cap, O(outcap) excess
    floods in and every surplus unit walks all the way back to s
    through the discharge loop (profiled: 223k arc ops, ~90% of a
    direction job, for a cut of 63)."""
    g = base.extended(sources, sinks)
    n = g.n
    s, t = base.n, base.n + 1
    eu, ev, ecap, eflow, off, flat = g.eu, g.ev, g.ecap, g.eflow, g.off, g.flat
    m0 = len(base.eu)
    INF = np.iinfo(np.int64).max

    # cap s->src arcs (even ids m0, m0+2, ...) at real out-capacity + 1,
    # bounded by the progressive starting cap
    ns = len(sources)
    s_arcs = m0 + 2 * np.arange(ns, dtype=np.int64)
    if ns:
        real_outcap = np.bincount(eu[:m0], minlength=n)
        cap_full = real_outcap[np.asarray(sources, dtype=np.int64)] + 1
        ecap[s_arcs] = np.minimum(cap_full, PR_START_CAP)

    h = np.zeros(n, dtype=np.int64)
    ex = np.zeros(n, dtype=np.int64)

    def global_relabel() -> None:
        d_t = _bfs_dist_transpose(g, t)
        d_s = _bfs_dist_transpose(g, s)
        h_new = np.where(
            d_t != INF, d_t, np.where(d_s != INF, n + d_s, 2 * n)
        )
        h_new[s] = n
        h_new[t] = 0
        np.maximum(h, h_new, out=h)

    global_relabel()
    # saturate the source arcs
    if ns:
        f0 = ecap[s_arcs]
        eflow[s_arcs] += f0
        eflow[s_arcs ^ 1] -= f0
        np.add.at(ex, ev[s_arcs], f0)

    m_work = max(len(flat), 1)
    work = 0
    rounds_since_gr = 0
    #: below this active-set size, numpy round overhead beats the work —
    #: finish with a sequential FIFO discharge loop (hi_pr-style)
    tail_threshold = 4096
    def _grow_caps() -> bool:
        """Preflow drained at the current caps: grow any s-arc that
        ended saturated below its full cap (its cap may have been the
        binding cut) and re-flood the delta — re-saturating the arc
        keeps the labeling valid (no new residual arc out of s).
        Returns True when another drain round is needed."""
        nonlocal work, rounds_since_gr
        if not ns:
            return False
        grow = (eflow[s_arcs] == ecap[s_arcs]) & (ecap[s_arcs] < cap_full)
        if not grow.any():
            return False
        garcs = s_arcs[grow]
        new_cap = np.minimum(cap_full[grow], ecap[garcs] * 8)
        delta = new_cap - ecap[garcs]
        ecap[garcs] = new_cap
        eflow[garcs] += delta
        eflow[garcs ^ 1] -= delta
        np.add.at(ex, ev[garcs], delta)
        global_relabel()
        work = 0
        rounds_since_gr = 0
        return True

    while True:
        act = np.flatnonzero(ex > 0)
        act = act[(act != s) & (act != t)]
        if act.size == 0:
            if _grow_caps():
                continue
            break
        if act.size < tail_threshold:
            # exact distances before each chunk keep tail climbs short;
            # the op budget bounds how far stale heights can wander
            # before the next global relabel jumps trapped excess home
            global_relabel()
            if _sequential_discharge(
                g, s, t, h, ex, act, max_ops=max(m_work, 1 << 20)
            ):
                if _grow_caps():
                    continue
                break
            continue
        # global relabel on either trigger: arc-scan work (the classic
        # hi_pr heuristic) or round count — without the latter, trapped
        # excess climbs heights +1 per round for up to 2N tiny rounds
        # before the next work-triggered relabel jumps it home
        if work >= m_work or rounds_since_gr >= 128:
            global_relabel()
            work = 0
            rounds_since_gr = 0
        rounds_since_gr += 1
        starts = off[act]
        counts = off[act + 1] - starts
        keep = counts > 0
        act, starts, counts = act[keep], starts[keep], counts[keep]
        if act.size == 0:
            break
        total = int(counts.sum())
        seg_off = np.cumsum(counts) - counts
        base_r = np.repeat(starts, counts)
        step = np.arange(total, dtype=np.int64) - np.repeat(seg_off, counts)
        eidx = flat[base_r + step]
        res = ecap[eidx] - eflow[eidx]
        hw = h[ev[eidx]]
        hv = np.repeat(h[act], counts)
        work += total

        # push sub-phase: first admissible arc per active vertex
        adm = (res > 0) & (hv == hw + 1)
        pos = np.where(adm, np.arange(total, dtype=np.int64), total)
        first = np.minimum.reduceat(pos, seg_off)
        has_adm = first < (seg_off + counts)
        if has_adm.any():
            e_push = eidx[first[has_adm]]
            u = act[has_adm]
            f = np.minimum(ex[u], ecap[e_push] - eflow[e_push])
            eflow[e_push] += f
            eflow[e_push ^ 1] -= f
            ex[u] -= f
            np.add.at(ex, ev[e_push], f)

        # relabel sub-phase on POST-push residuals, only for vertices
        # that are still active and found no admissible arc
        rl = ~has_adm
        rl &= ex[act] > 0
        if rl.any():
            ract = act[rl]
            rstarts = off[ract]
            rcounts = off[ract + 1] - rstarts
            rtotal = int(rcounts.sum())
            rseg = np.cumsum(rcounts) - rcounts
            rbase = np.repeat(rstarts, rcounts)
            rstep = np.arange(rtotal, dtype=np.int64) - np.repeat(rseg, rcounts)
            reidx = flat[rbase + rstep]
            rres = ecap[reidx] - eflow[reidx]
            rh = np.where(rres > 0, h[ev[reidx]], INF - 1)
            mn = np.minimum.reduceat(rh, rseg)
            # NB: h[ract] fancy indexing yields a copy — assign, never
            # use it as an `out=` target
            h[ract] = np.maximum(h[ract], mn + 1)
            work += rtotal

    max_flow = int(eflow[s_arcs].sum()) if ns else 0
    reached = _bfs_levels(g, s, t)
    assert not reached, "push-relabel terminated with an s-t residual path"
    flags = g.level[: base.n] != INVALID_LEVEL
    part_two = int(base.n) - int(flags.sum())
    return flags, part_two, max_flow, g


def contracted_min_cut(
    base: FlowGraph,
    sources: np.ndarray,
    sinks: np.ndarray,
) -> tuple[np.ndarray, int, int, "_ExtGraph"]:
    """Source/sink-set contraction + vectorized push-relabel — the
    vectorized counterpart of the reference's border-nodes variant
    (buildBorderNodes, `/root/reference/pkg/partitioner/dinic.go:250-263`:
    only boundary terminals matter, interior ones are dead weight).

    Every source is s-reachable through a never-saturating arc, so all
    sources lie on the source side of the unique minimal min cut (and
    symmetrically sinks on the sink side): contracting each set into a
    single terminal S / T preserves (a) every source/sink-respecting
    cut's capacity — only intra-set arcs drop, and those never cross —
    and (b) the min-cut family, because a cut placing a source on the
    t-side pays that source's capped s-arc (out-capacity + 1), strictly
    worse than keeping it. The minimal cut therefore maps back verbatim:
    flags[source] = True, flags[sink] = False, flags[v] =
    contracted_flags[map[v]]. The max-flow value is identical.
    ``tests/test_kernel_maxflow.py`` asserts bit-equality vs Dinic.

    Cost: the contracted instance has ~half the vertices and sheds every
    intra-set arc, and the push-relabel excess flood shrinks from
    O(sum outcap(sources)) to O(boundary arcs)."""
    n = base.n
    sources = np.asarray(sources, dtype=np.int64)
    sinks = np.asarray(sinks, dtype=np.int64)
    role = np.zeros(n, dtype=np.int8)  # 0 interior, 1 source, 2 sink
    role[sources] = 1
    role[sinks] = 2
    interior = np.flatnonzero(role == 0)
    n_in = len(interior)
    S, T = n_in, n_in + 1
    vmap = np.empty(n, dtype=np.int64)
    vmap[interior] = np.arange(n_in)
    vmap[role == 1] = S
    vmap[role == 2] = T

    # base arcs are interleaved (u,v),(v,u) pairs: contract the DIRECTED
    # edge list (even ids), drop intra-set arcs, rebuild pairs
    tails = vmap[base.eu[0::2]]
    heads = vmap[base.ev[0::2]]
    keep = tails != heads
    cbase = FlowGraph.from_directed_edges(n_in + 2, tails[keep], heads[keep])
    cflags, _cp2, max_flow, g = push_relabel_min_cut(
        cbase, np.array([S], dtype=np.int64), np.array([T], dtype=np.int64)
    )
    flags = np.empty(n, dtype=bool)
    flags[role == 1] = True
    flags[role == 2] = False
    flags[interior] = cflags[:n_in]
    part_two = int(n) - int(flags.sum())
    return flags, part_two, max_flow, g


#: below this vertex count the current-arc DFS Dinic beats push-relabel
#: (measured crossover ~6-8k on geometric kNN graphs: PR pays fixed
#: global-relabel BFS + list-conversion overhead per job)
SMALL_CUT_THRESHOLD = 8192


def min_cut(
    base: FlowGraph, sources: np.ndarray, sinks: np.ndarray
) -> tuple[np.ndarray, int, int, "_ExtGraph | None"]:
    """Production min cut; every engine returns the same result by
    construction (the unique flow value and minimal min cut). Uses the
    compiled unit-terminal Dinic when ``cdinic.available()``; otherwise
    the numpy fallback, Python Dinic below ``SMALL_CUT_THRESHOLD`` and
    contracted push-relabel above it."""
    from . import cdinic

    if cdinic.available():
        return dinic_unit_terminal_min_cut(base, sources, sinks)
    if base.n < SMALL_CUT_THRESHOLD:
        return dinic_min_cut(base, sources, sinks)
    return contracted_min_cut(base, sources, sinks)


def validate_min_cut(
    base: FlowGraph,
    sources: np.ndarray,
    sinks: np.ndarray,
    flags: np.ndarray,
    cut_edges: int,
    g: _ExtGraph,
) -> None:
    """The reference's debug-gated oracle as hard asserts
    (validateResultOne, dinic_sources_sinks.go:104-166):

    - capacity constraint: flow(e) <= cap(e) for every arc;
    - flow conservation at every non-source/sink real vertex;
    - max-flow == number of saturated source->sink crossing arcs
      (max-flow min-cut theorem);
    - source outgoing flow == sink incoming flow.
    """
    n = base.n
    assert np.all(g.eflow <= g.ecap), "capacity constraint violated"
    pos = g.eflow > 0
    outf = np.bincount(g.eu[pos], weights=g.eflow[pos], minlength=n + 2)
    inf_ = np.bincount(g.ev[pos], weights=g.eflow[pos], minlength=n + 2)
    terminals = np.zeros(n + 2, dtype=bool)
    terminals[np.asarray(sources, dtype=np.int64)] = True
    terminals[np.asarray(sinks, dtype=np.int64)] = True
    terminals[n] = terminals[n + 1] = True
    interior = ~terminals
    assert np.allclose(outf[interior], inf_[interior]), "flow conservation violated"
    m0 = len(base.eu)
    eu, ev = g.eu[:m0], g.ev[:m0]
    cross = int((flags[eu] & ~flags[ev]).sum())
    assert cross == cut_edges, f"cut capacity {cross} != max flow {cut_edges}"
    # NET flow out of s == NET flow into t (the flow-value identity).
    # Netting matters for push-relabel results: returned excess may exit
    # through a different source's src->s arc than it entered, leaving a
    # legal circulation through s that positive-only sums would miscount
    # (Dinic never creates one, so this is a strict generalization).
    assert outf[n] - inf_[n] == inf_[n + 1] - outf[n + 1], "source-out != sink-in"
