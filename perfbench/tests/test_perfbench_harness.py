"""Tests for the benchmark's own helpers. None of them starts a JVM.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import run  # noqa: E402
from leaves import DATA_DIR, LEAVES, TABLES, LeavesWorkload, oracle_diff  # noqa: E402
from tile import TileWorkload  # noqa: E402


# ---- fingerprints ---------------------------------------------------------


def test_fingerprint_ignores_row_order():
    rows = [(i, f"s{i}", i / 7.0) for i in range(200)]
    shuffled = rows[:]
    random.Random(3).shuffle(shuffled)
    assert harness.fingerprint_rows(rows) == harness.fingerprint_rows(shuffled)


def test_fingerprint_sees_changed_duplicated_and_dropped_rows():
    rows = [(i, i * 0.5) for i in range(50)]
    base = harness.fingerprint_rows(rows)
    assert harness.fingerprint_rows(rows[:-1]) != base
    assert harness.fingerprint_rows(rows + rows[:1]) != base
    assert harness.fingerprint_rows([(0, 0.25)] + rows[1:]) != base


def test_frame_fingerprint_ignores_column_order_and_float_noise():
    a = pd.DataFrame({"k": [1, 2, 3], "x": [0.1234561, -0.0, 2.5]})
    b = pd.DataFrame({"x": [2.5, 0.1234564, 0.0], "k": [3, 1, 2]})
    assert harness.fingerprint_frame(a) == harness.fingerprint_frame(b)
    c = b.assign(x=[2.5, 0.123457, 0.0])
    assert harness.fingerprint_frame(a) != harness.fingerprint_frame(c)


def test_fold_hash_sum_matches_row_sum_mod_2_64():
    hashes = [-1, 5, -(2**63), 2**63 - 1]
    count, total = harness.fold_hash_sum(len(hashes), sum(hashes))
    assert count == 4
    assert total == sum(h & ((1 << 64) - 1) for h in hashes) % (1 << 64)
    assert harness.fold_hash_sum(0, None) == (0, 0)


# ---- percentiles ----------------------------------------------------------


@pytest.mark.parametrize(
    "n, p", [(1, 50), (2, 50), (3, 50), (4, 75), (9, 75), (10, 90), (20, 95), (99, 95), (100, 99)]
)
def test_tail_percentile_is_the_highest_the_sample_supports(n, p):
    assert harness.tail_percentile(list(range(n)))[0] == p


def test_summary_values_and_count():
    values = [5.0, 1.0, 3.0, 2.0, 4.0, 10.0, 6.0, 7.0, 9.0, 8.0]
    s = harness.summarize(values)
    assert s == {"median": 5.5, "tail_p": 90, "tail": 9.0, "n": 10}
    assert harness.median([4.0]) == 4.0
    assert harness.nearest_rank([3.0, 1.0, 2.0], 50) == 2.0


# ---- spans ----------------------------------------------------------------


def test_span_self_time_and_idle_core_seconds():
    parent = harness.Span("iteration", wall_s=10.0, task_s=2.0)
    parent.children = [
        harness.Span("partition", wall_s=6.0, task_s=6.5, tasks=3),
        harness.Span("pack", wall_s=1.5, task_s=4.0, tasks=8),
    ]
    assert parent.self_wall_s == pytest.approx(2.5)
    assert parent.children[0].idle_core_s(4) == pytest.approx(6.0 * 4 - 6.5)
    fields = parent.children[1].fields(4)
    assert fields["idle_core_s"] == pytest.approx(2.0)
    assert set(fields) == set(harness.SPAN_FIELDS)


def test_descendants_walks_the_process_tree():
    parents = {1: 0, 10: 1, 11: 10, 12: 11, 20: 1, 30: 99}
    assert harness.descendants(parents, 10) == {10, 11, 12}
    assert harness.descendants(parents, 30) == {30}


# ---- environment guard ----------------------------------------------------


def test_env_guard_names_plan_changing_knobs():
    env = {
        "TILER_FINISH_THRESHOLD": "1",
        "SPARK_GRAFT_TOPK_THRESHOLD": "0",
        "SPARK_GRAFT_CPUS": "4",
        "PATH": "/bin",
    }
    assert harness.plan_changing_env(env) == ["SPARK_GRAFT_TOPK_THRESHOLD", "TILER_FINISH_THRESHOLD"]
    assert harness.plan_changing_env({"SPARK_GRAFT_CPUS": "4"}) == []


def test_run_refuses_before_starting_anything(monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    code = run.main(["--workload", "operator_leaves", "--seed", "1", "--seconds", "1"])
    out = capsys.readouterr()
    assert code == 2
    assert out.out == ""
    assert "SPARK_GRAFT_SHUFFLE_PARTITIONS" in out.err


def test_a_set_up_that_raises_still_prints_a_failed_result(monkeypatch, capsys, tmp_path):
    import tempfile

    from osm_inertial_flow_partitioner_spark import session

    def no_session(**kwargs):
        raise RuntimeError("no JVM")

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.syspath_prepend(os.path.dirname(BENCH))
    monkeypatch.chdir(tmp_path)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.setenv(var, "")
    monkeypatch.setattr(tempfile, "tempdir", None)
    code = run.main(["--workload", "tile_5k_ckpt", "--seed", "1", "--seconds", "1"])
    out = capsys.readouterr()
    assert code == 0
    result = json.loads(out.out.strip().splitlines()[-1])
    assert result == {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    assert "no JVM" in out.err


# ---- workload helpers -----------------------------------------------------


def test_leaves_read_fixed_tables_in_an_order_set_by_the_seed():
    a, b, c = (LeavesWorkload(None, seed, "unused") for seed in (7, 7, 8))
    assert a.order == b.order != c.order
    assert sorted(a.order) == sorted(LEAVES)
    assert a.data_dir == c.data_dir == DATA_DIR
    for t in TABLES:
        assert os.path.isfile(os.path.join(DATA_DIR, f"{t}.parquet"))


def test_tile_iteration_that_raises_releases_what_it_cached(tmp_path):
    released = []

    class Cached:
        def unpersist(self):
            released.append(self)

    def failing_pass(rec, out, cold):
        out["entities"] = Cached()
        os.makedirs(out["ckpt_dir"])
        raise RuntimeError("stage failed")

    wl = TileWorkload(None, 1, str(tmp_path))
    wl._pass = failing_pass
    with pytest.raises(RuntimeError):
        wl.iteration(None)
    assert len(released) == 1
    assert os.listdir(tmp_path) == []


def test_oracle_diff_tolerance_and_shape():
    a = pd.DataFrame({"k": [1, 2], "x": [0.5, 1.0000001]})
    assert oracle_diff(a, pd.DataFrame({"x": [1.0, 0.5], "k": [2, 1]})) is None
    assert oracle_diff(a, pd.DataFrame({"k": [1, 2], "x": [0.5, 1.00001]})) == "column x differs"
    assert oracle_diff(a, a.iloc[:1]) == "rows 2 != 1"


def test_corrupted_reference_is_reported():
    wl = LeavesWorkload(None, 1, "unused")
    results = {name: pd.DataFrame({"v": [1.0, 2.0]}) for name in LEAVES}
    assert wl.check({"results": results}) == []
    assert wl.check({"results": results}) == []
    wl.corrupt_reference()
    assert len(wl.check({"results": results})) == len(LEAVES)


# ---- BENCHMARK.json agrees with what run.py prints --------------------------


def test_benchmark_json_matches_the_metrics_run_prints():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.workloads())
    assert len(spec["per_layer"]) <= 128
