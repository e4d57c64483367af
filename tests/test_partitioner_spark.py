"""Distributed == local equivalence (SURVEY.md §5): the cogrouped
applyInPandas partitioner must produce byte-identical (vertex_id, level,
cell_id) rows to the single-process oracle, at any parallelism."""

import numpy as np
import pytest

from osm_inertial_flow_partitioner_spark.config import PartitionConfig
from osm_inertial_flow_partitioner_spark.kernel import (
    multilevel_partition_local,
    pack_cell_numbers,
)
from osm_inertial_flow_partitioner_spark.operators.packing import pack_assignment
from osm_inertial_flow_partitioner_spark.operators.partitioner import (
    multilevel_partition,
)
from osm_inertial_flow_partitioner_spark.sources.fixtures import (
    road_like_graph,
    unit_square_grid,
)


def _to_dfs(spark, fix):
    v, e = fix
    vdf = spark.createDataFrame(
        [(int(i), float(v["lat"][i]), float(v["lon"][i])) for i in v["ids"]],
        "vertex_id long, lat double, lon double",
    )
    edf = spark.createDataFrame(
        [
            (int(e["edge_id"][i]), int(e["tail"][i]), int(e["head"][i]))
            for i in range(len(e["tail"]))
        ],
        "edge_id long, tail long, head long",
    )
    return vdf, edf


def _local_expected(fix, cell_sizes):
    v, e = fix
    assign, num_cells, _ = multilevel_partition_local(
        v["ids"], v["lat"], v["lon"], e["tail"], e["head"], cell_sizes
    )
    ids = np.sort(v["ids"])
    expected = {
        (int(ids[i]), lvl): int(assign[lvl, i])
        for lvl in range(len(cell_sizes))
        for i in range(len(ids))
    }
    return expected, num_cells, assign


@pytest.mark.parametrize(
    "fixture,cell_sizes,threshold",
    [
        (lambda: unit_square_grid(16), [8, 32, 128], 1 << 15),  # local fast path
        (lambda: unit_square_grid(16), [8, 32, 128], 4),  # fully distributed rounds
        (lambda: road_like_graph(400, seed=7), [16, 64, 256], 64),  # hybrid
    ],
)
def test_distributed_equals_local(spark, fixture, cell_sizes, threshold):
    fix = fixture()
    expected, exp_cells, _ = _local_expected(fix, cell_sizes)
    vdf, edf = _to_dfs(spark, fix)
    result, num_cells, metrics = multilevel_partition(
        spark,
        vdf,
        edf,
        PartitionConfig(cell_sizes=cell_sizes),
        local_recursion_threshold=threshold,
    )
    rows = result.collect()
    got = {(r["vertex_id"], r["level"]): r["cell_id"] for r in rows}
    assert num_cells == exp_cells
    assert got == expected


def test_packed_cell_numbers_match_local(spark):
    fix = unit_square_grid(16)
    cell_sizes = [8, 32, 128]
    expected, exp_cells, assign_local = _local_expected(fix, cell_sizes)
    vdf, edf = _to_dfs(spark, fix)
    result, num_cells, _ = multilevel_partition(
        spark, vdf, edf, PartitionConfig(cell_sizes=cell_sizes)
    )
    packed = pack_assignment(result, num_cells)
    got = {r["vertex_id"]: r["cell_number"] for r in packed.collect()}
    exp_packed = pack_cell_numbers(assign_local, exp_cells)
    ids = np.sort(fix[0]["ids"])
    for i, v in enumerate(ids):
        assert got[int(v)] == int(exp_packed[i])


def test_metrics_lineage_present(spark):
    fix = unit_square_grid(8)
    vdf, edf = _to_dfs(spark, fix)
    result, num_cells, metrics = multilevel_partition(
        spark, vdf, edf, PartitionConfig(cell_sizes=[8, 32])
    )
    m = metrics.collect()
    assert len(m) >= 1
    cols = set(metrics.columns)
    assert {"level", "round", "root", "parent_path", "n", "cut_edges", "part_two"} <= cols


def test_bounded_prefix_sum_matches_two_phase(spark):
    """``_exclusive_cumsum_by_key`` has two paths: one driver collect when
    the caller bounds the row count, the two-phase range-partitioned pass
    otherwise. On the same roots frame both give identical offsets and
    totals: the exclusive prefix sum in ascending root order."""
    import random

    from osm_inertial_flow_partitioner_spark.operators.partitioner import (
        BOUNDED_PREFIX_SUM_ROWS,
        _exclusive_cumsum_by_key,
    )

    rng = random.Random(5)
    root_ids = rng.sample(range(10_000), 40)
    rows = [(r, rng.choice([0, 1, 2, 7, 300])) for r in root_ids]
    roots = spark.createDataFrame(rows, "root long, total long").repartition(3)

    bounded, b_total = _exclusive_cumsum_by_key(
        roots, "root", "total", "offset", n_rows_hint=len(rows)
    )
    phased, p_total = _exclusive_cumsum_by_key(
        roots, "root", "total", "offset",
        n_rows_hint=BOUNDED_PREFIX_SUM_ROWS + 1,  # past the bound
    )

    def root_node(df):
        return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()

    assert root_node(bounded) == "LocalRelation"
    assert root_node(phased) != "LocalRelation"  # the range-partitioned pass

    expected, acc = {}, 0
    for r, t in sorted(rows):
        expected[r] = acc
        acc += t
    assert b_total == p_total == acc
    cols = ["root", "total", "offset"]
    got_b = {r["root"]: tuple(r) for r in bounded.select(cols).collect()}
    got_p = {r["root"]: tuple(r) for r in phased.select(cols).collect()}
    assert got_b == got_p
    assert {r: v[2] for r, v in got_b.items()} == expected
