"""The compiled Dinic kernel (kernel/cdinic.py) and the progressive
source-cap in push-relabel must be bit-identical to the reference
engines on randomized graphs, and a failed kernel build must fall back
loudly.

Seeded fuzz battery: random geometric-ish and Erdos-Renyi graphs with
varying density, disconnected components, duplicate edges, degenerate
n <= 3 cells and random source/sink rates — every engine must agree on
(flags, part_two, cut) exactly.
"""

from __future__ import annotations

import subprocess

import numpy as np
import pytest

from osm_inertial_flow_partitioner_spark.kernel import cdinic, maxflow
from osm_inertial_flow_partitioner_spark.kernel.maxflow import (
    FlowGraph,
    contracted_min_cut,
    dinic_min_cut,
    dinic_unit_terminal_min_cut,
    push_relabel_min_cut,
)

needs_cc = pytest.mark.skipif(
    not cdinic.available(), reason="no C toolchain in this runtime"
)


def _random_graph(rng: np.random.Generator):
    kind = rng.integers(0, 3)
    if kind == 0:  # sparse ER, possibly disconnected
        n = int(rng.integers(2, 120))
        m = int(rng.integers(0, 3 * n))
        tails = rng.integers(0, n, size=m)
        heads = rng.integers(0, n, size=m)
    elif kind == 1:  # geometric grid-ish: neighbors in id space
        n = int(rng.integers(4, 200))
        m = int(rng.integers(n, 4 * n))
        tails = rng.integers(0, n, size=m)
        heads = np.clip(tails + rng.integers(-3, 4, size=m), 0, n - 1)
    else:  # degenerate tiny
        n = int(rng.integers(1, 4))
        m = int(rng.integers(0, 4))
        tails = rng.integers(0, n, size=m)
        heads = rng.integers(0, n, size=m)
    return n, tails.astype(np.int64), heads.astype(np.int64)


def _random_terminals(rng: np.random.Generator, n: int):
    rate = float(rng.uniform(0.05, 0.45))
    k = max(int(n * rate), 0)
    perm = rng.permutation(n)
    return perm[:k].astype(np.int64), perm[n - k :].astype(np.int64)


@needs_cc
def test_fuzz_engines_bit_equal():
    rng = np.random.default_rng(20260822)
    checked = 0
    for _ in range(200):
        n, tails, heads = _random_graph(rng)
        src, snk = _random_terminals(rng, n)
        if len(src) == 0:
            continue
        g = FlowGraph.from_directed_edges(n, tails, heads)
        f_t, p_t, c_t, _ = dinic_unit_terminal_min_cut(g, src, snk)
        f_d, p_d, c_d, _ = dinic_min_cut(g, src, snk)
        f_p, p_p, c_p, _ = push_relabel_min_cut(g, src, snk)
        f_cp, p_cp, c_cp, _ = contracted_min_cut(g, src, snk)
        assert c_t == c_d == c_p == c_cp
        assert p_t == p_d == p_p == p_cp
        assert np.array_equal(f_t, f_d)
        assert np.array_equal(f_t, f_p)
        assert np.array_equal(f_t, f_cp)
        checked += 1
    assert checked > 100  # the battery actually ran


@needs_cc
def test_cc_min_label_matches_propagation():
    rng = np.random.default_rng(11)
    for _ in range(50):
        n = int(rng.integers(1, 300))
        m = int(rng.integers(0, 2 * n))
        lt = rng.integers(0, n, size=m).astype(np.int64)
        lh = rng.integers(0, n, size=m).astype(np.int64)
        # reference: numpy label-propagation fixpoint (the pre-round-6
        # _cc_kernel body)
        label = np.arange(n, dtype=np.int64)
        if m:
            while True:
                lu, lv = label[lt], label[lh]
                np.minimum.at(label, lt, lv)
                np.minimum.at(label, lh, lu)
                while True:
                    nxt = label[label]
                    if np.array_equal(nxt, label):
                        break
                    label = nxt
                if np.array_equal(label[lt], label[lh]):
                    break
        got = cdinic.cc_min_label_c(n, lt, lh)
        assert np.array_equal(got, label)


def test_pr_progressive_cap_growth(monkeypatch):
    # force a tiny starting cap so the growth path is exercised on a
    # graph whose max flow far exceeds it
    monkeypatch.setattr(maxflow, "PR_START_CAP", 1)
    rng = np.random.default_rng(99)
    n = 60
    tails = np.repeat(np.arange(n), 4)
    heads = (tails + rng.integers(1, 5, size=len(tails))) % n
    g = FlowGraph.from_directed_edges(n, tails.astype(np.int64), heads.astype(np.int64))
    src = np.arange(0, 15, dtype=np.int64)
    snk = np.arange(n - 15, n, dtype=np.int64)
    f_p, p_p, c_p, _ = push_relabel_min_cut(g, src, snk)
    f_d, p_d, c_d, _ = dinic_min_cut(g, src, snk)
    assert c_p == c_d and p_p == p_d and np.array_equal(f_p, f_d)
    assert c_d > 1  # the cap really was below the flow


@pytest.mark.parametrize(
    "error, cause",
    [
        (OSError("cc: command not found"), "cc: command not found"),
        (
            subprocess.CalledProcessError(1, ["cc"], stderr=b"x.c:1: error: bad"),
            "x.c:1: error: bad",
        ),
    ],
    ids=["no_compiler", "compile_error"],
)
def test_failed_build_warns_once(monkeypatch, error, cause):
    def broken_build():
        raise error

    monkeypatch.setattr(cdinic, "_build", broken_build)
    monkeypatch.setattr(cdinic, "_LIB", None)
    monkeypatch.setattr(cdinic, "_TRIED", False)
    with pytest.warns(RuntimeWarning, match=cause) as record:
        assert not cdinic.available()
        assert not cdinic.available()
    assert len(record) == 1
