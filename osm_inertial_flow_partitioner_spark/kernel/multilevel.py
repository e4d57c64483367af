"""Single-process multilevel partitioner + cell-number packing.

Local oracle for the distributed driver (operators/partitioner.py), and
the semantic source for golden fixtures. Mirrors
RunMultilevelPartitioning
(`/root/reference/pkg/partitioner/multilevel_partitioner.go:43-77`):

- top level (L-1): partition all vertices with U_{L-1} **only if**
  n > U_{L-1}, else a single cell holds everything
  (multilevel_partitioner.go:48-55);
- every lower level: run Partition() on *each* cell of the level above,
  unconditionally — even a 1-vertex cell gets one (degenerate) bisection
  (multilevel_partitioner.go:59-68), which is why empty cells appear;
- level-l cell ids are the concatenation of per-parent results in parent
  cell-id order (the append at :67).

``pack_cell_numbers`` is op P9 (io_writer.go:54-67):
pvOffset[l+1] = pvOffset[l] + ceil(log2(numCells[l])), level-0 id in the
low bits; values stay < 2^63 for the reference config (<= ~60 bits).
"""

from __future__ import annotations

import math

import numpy as np

from ..config import SOURCE_SINK_RATE
from .bisection import CutStats, recursive_bisection


def multilevel_partition_local(
    vertex_ids: np.ndarray,
    lat: np.ndarray,
    lon: np.ndarray,
    tails: np.ndarray,
    heads: np.ndarray,
    cell_sizes: list[int],
    rate: float = SOURCE_SINK_RATE,
) -> tuple[np.ndarray, list[int], list[CutStats]]:
    """Returns (assignment[level, vertex_pos] cell id aligned to sorted
    ``vertex_ids``; numCells per level incl. empty cells; stats).

    ``lat``/``lon`` are dense arrays indexed by original vertex id.
    ``cell_sizes`` is smallest (level 0) .. biggest (level L-1).
    """
    vertex_ids = np.sort(np.asarray(vertex_ids, dtype=np.int64))
    L = len(cell_sizes)
    n = len(vertex_ids)
    pos = {int(v): i for i, v in enumerate(vertex_ids)}
    assign = np.zeros((L, n), dtype=np.int64)
    num_cells = [0] * L
    stats: list[CutStats] = []

    # level L-1
    top_u = cell_sizes[L - 1]
    if n > top_u:
        res = recursive_bisection(vertex_ids, lat, lon, tails, heads, top_u, rate)
        stats.extend(res.stats)
        cells = res.cells
    else:
        cells = [vertex_ids]
    for cid, cell in enumerate(cells):
        for v in cell.tolist():
            assign[L - 1, pos[v]] = cid
    num_cells[L - 1] = len(cells)

    # lower levels: Partition() per parent cell, unconditionally
    for level in range(L - 2, -1, -1):
        u = cell_sizes[level]
        out_cells: list[np.ndarray] = []
        for cell in cells:
            if len(cell) == 0:
                # reference: Partition on an empty id list builds an empty
                # graph; the queue pops it, bisects the empty graph into
                # two empty sides -> two empty final cells
                out_cells.extend([np.empty(0, dtype=np.int64)] * 2)
                continue
            res = recursive_bisection(cell, lat, lon, tails, heads, u, rate)
            stats.extend(res.stats)
            out_cells.extend(res.cells)
        for cid, cell in enumerate(out_cells):
            for v in cell.tolist():
                assign[level, pos[v]] = cid
        num_cells[level] = len(out_cells)
        cells = out_cells

    return assign, num_cells, stats


def multilevel_finish_local(
    vertex_ids: np.ndarray,
    lat_by_vertex,
    lon_by_vertex,
    tails: np.ndarray,
    heads: np.ndarray,
    cell_sizes_desc: list[int],
    rate: float = SOURCE_SINK_RATE,
    coords_aligned: bool = False,
) -> list[list[np.ndarray]]:
    """Complete the recursion for ONE entering cell across all remaining
    levels in a single local pass (the multi-level local finish: one
    distributed cogroup instead of one per level).

    ``cell_sizes_desc`` lists the remaining levels' max cell sizes from
    the current level DOWN to level 0 (e.g. [U_2, U_1, U_0]). Per level,
    per parent: ``recursive_bisection`` already emits children in the
    frozen relabel order (non-empty by min original vertex id, then
    empties — SURVEY.md §7), and an EMPTY parent contributes 2 empty
    children in place (Partition on an empty graph,
    multilevel_partitioner.go:59-68); concatenating children in parent
    order therefore reproduces ``multilevel_partition_local``'s (and the
    distributed relabel's) numbering exactly, offset by the count of
    cells in preceding entering cells (added by the Spark driver).

    ``coords_aligned=True`` marks ``lat_by_vertex``/``lon_by_vertex`` as
    arrays aligned to ``np.sort(vertex_ids)`` (the cogroup kernel's
    natural layout; avoids per-parent dict rebuilds).

    Edges are bucketed by parent cell ONCE per level: the former
    per-parent ``recursive_bisection(cell, ..., tails, heads)`` call
    re-scanned the FULL entering-cell edge list per parent (O(P x E) —
    at the bench's 124k-vertex root the level-0 pass paid ~90 full
    np.isin scans of a 250k-edge array, round 6), while one stable
    grouping by (parent of tail == parent of head) is O(E log E) total
    and preserves the per-parent (tail, edge id) order.

    Returns one list of cells (ascending-id arrays; empty arrays are
    empty cells) per level, in ``cell_sizes_desc`` order.
    """
    ids0 = np.sort(np.asarray(vertex_ids, dtype=np.int64))
    if coords_aligned:
        lat0 = np.asarray(lat_by_vertex, dtype=np.float64)
        lon0 = np.asarray(lon_by_vertex, dtype=np.float64)
        assert len(lat0) == len(lon0) == len(ids0), (
            "coords_aligned coordinates must have one entry per vertex id"
        )
    elif isinstance(lat_by_vertex, dict):
        lat0 = np.array([lat_by_vertex[int(v)] for v in ids0], dtype=np.float64)
        lon0 = np.array([lon_by_vertex[int(v)] for v in ids0], dtype=np.float64)
    else:
        lat0 = np.asarray(lat_by_vertex, dtype=np.float64)[ids0]
        lon0 = np.asarray(lon_by_vertex, dtype=np.float64)[ids0]
    tails = np.asarray(tails, dtype=np.int64)
    heads = np.asarray(heads, dtype=np.int64)
    # keep only edges inside the entering cell (and their positions for
    # the coord gathers below); order preserved
    inside = np.isin(tails, ids0) & np.isin(heads, ids0)
    tails, heads = tails[inside], heads[inside]

    cells = [ids0]
    cell_edges: list[tuple[np.ndarray, np.ndarray]] = [(tails, heads)]
    per_level: list[list[np.ndarray]] = []
    for u in cell_sizes_desc:
        new_cells: list[np.ndarray] = []
        new_edges: list[tuple[np.ndarray, np.ndarray]] = []
        for cell, (t_c, h_c) in zip(cells, cell_edges):
            if len(cell) == 0:
                new_cells.extend(
                    [np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)]
                )
                new_edges.extend([(t_c, h_c), (t_c, h_c)])  # empty arrays
                continue
            pos = np.searchsorted(ids0, cell)
            res = recursive_bisection(
                cell, lat0[pos], lon0[pos], t_c, h_c, u, rate,
                coords_aligned=True,
            )
            new_cells.extend(res.cells)
            # bucket this parent's edges by CHILD cell in one pass:
            # child index per vertex (children are disjoint subsets of
            # the parent), then both-endpoints-same-child grouping via
            # one stable argsort — per-child (tail, edge id) order is
            # preserved, identical to _edges_within(child)
            nz = [c for c in res.cells if len(c)]
            if len(t_c) and nz:
                cat = np.concatenate(nz)
                cidx = np.repeat(np.arange(len(nz), dtype=np.int64),
                                 [len(c) for c in nz])
                order = np.argsort(cat, kind="stable")
                sc, scid = cat[order], cidx[order]
                ct = scid[np.searchsorted(sc, t_c)]
                ch = scid[np.searchsorted(sc, h_c)]
                same = ct == ch
                ti, hi, ci = t_c[same], h_c[same], ct[same]
                grp = np.argsort(ci, kind="stable")
                ti, hi, ci = ti[grp], hi[grp], ci[grp]
                bounds = np.searchsorted(ci, np.arange(len(nz) + 1))
                nz_edges = [
                    (ti[bounds[j]:bounds[j + 1]], hi[bounds[j]:bounds[j + 1]])
                    for j in range(len(nz))
                ]
            else:
                nz_edges = [
                    (np.empty(0, np.int64), np.empty(0, np.int64))
                ] * len(nz)
            it = iter(nz_edges)
            empty_e = (np.empty(0, np.int64), np.empty(0, np.int64))
            new_edges.extend(
                next(it) if len(c) else empty_e for c in res.cells
            )
        per_level.append(new_cells)
        cells = new_cells
        cell_edges = new_edges
    return per_level


def pv_offsets(num_cells: list[int]) -> list[int]:
    """pvOffset per io_writer.go:54-57; ceil(log2(1)) == 0 bits."""
    off = [0]
    for c in num_cells:
        bits = 0 if c <= 1 else math.ceil(math.log2(c))
        off.append(off[-1] + bits)
    if off[-1] > 62:
        raise ValueError(f"packed cell number needs {off[-1]} bits > 62")
    return off


def pack_cell_numbers(assign: np.ndarray, num_cells: list[int]) -> np.ndarray:
    """cellNumbers[v] |= cellId(level) << pvOffset[level] (io_writer.go:61-67)."""
    off = pv_offsets(num_cells)
    packed = np.zeros(assign.shape[1], dtype=np.int64)
    for level in range(assign.shape[0]):
        packed |= assign[level] << np.int64(off[level])
    return packed


def unpack_cell_numbers(packed: np.ndarray, num_cells: list[int]) -> np.ndarray:
    """Inverse of pack_cell_numbers (property-test aid)."""
    off = pv_offsets(num_cells)
    L = len(num_cells)
    out = np.zeros((L, len(packed)), dtype=np.int64)
    for level in range(L):
        bits = off[level + 1] - off[level]
        mask = (1 << bits) - 1
        out[level] = (packed >> np.int64(off[level])) & np.int64(mask)
    return out
