"""Driver-built control frames are JVM ``LocalRelation``s.

``session.local_frame`` replaces ``spark.createDataFrame(list, schema)``
for the partitioner's per-round sizes/keys/winners/metrics/empties frames
and the prefix-sum offsets: the list form is a ``LogicalRDD`` whose every
scan starts one Python-worker task per core, the Arrow form is a
``LocalRelation`` that the JVM reads in place. Same rows, same schema,
same nullability; no Spark job to collect it."""

import pathlib
import uuid

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from osm_inertial_flow_partitioner_spark.operators.partitioner import (
    EMPTIES_SCHEMA,
    METRICS_SCHEMA,
    SIZES_SCHEMA,
)
from osm_inertial_flow_partitioner_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parents[1] / "osm_inertial_flow_partitioner_spark"

#: the bounded prefix sum's output: the roots frame plus a non-null offset
PREFIX_SUM_SCHEMA = StructType(
    [
        StructField("root", LongType()),
        StructField("n_ne", LongType()),
        StructField("n_em", LongType()),
        StructField("total", LongType()),
        StructField("offset", LongType(), False),
    ]
)

CASES = {
    "sizes": (SIZES_SCHEMA, [(0, 1, 12_600), (3, 6, 2048), (7, 9, 4097)]),
    "empties": (EMPTIES_SCHEMA, [(5, 1), (9, 2)]),
    "metrics": (
        METRICS_SCHEMA,
        [(1, 0, 0, 1, 12_600, 88, 6300, 7, 0, "direction"),
         (1, 1, 3, 2, 5, 1, 2, -1, 1, "cell")],
    ),
    "keys": ("root long, path long", [(0, 2), (0, 3), (1 << 40, 1 << 60)]),
    "prefix_sum": (PREFIX_SUM_SCHEMA, [(0, 3, 0, 3, 0), (1, 0, 2, 2, 3)]),
}


def _plan_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _jobs_run_by(sc, action) -> int:
    group = f"local-frame-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "local_frame job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("with_rows", [True, False], ids=["rows", "empty"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_list_frame(spark, case, with_rows):
    schema, rows = CASES[case]
    rows = rows if with_rows else []
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)

    assert _plan_node(got) == "LocalRelation"
    assert _plan_node(want) == "LogicalRDD"  # what the helper replaces

    sc = spark.sparkContext
    got_rows = []
    assert _jobs_run_by(sc, lambda: got_rows.extend(got.collect())) == 0
    assert _jobs_run_by(sc, want.collect) >= 1
    assert got_rows == want.collect()
    # select("*") re-reads the schema from the JVM plan, so nullability
    # is compared as Spark sees it, not as the Python wrapper caches it
    assert got.select("*").schema == want.select("*").schema
    if case == "prefix_sum":
        assert got.select("*").schema["offset"].nullable is False


@pytest.mark.parametrize(
    "module", ["operators/partitioner.py", "sources/extract.py"]
)
def test_control_frames_built_only_through_local_frame(module):
    """The partitioner and the dense-id extract build their driver-side
    literal frames only through ``local_frame``."""
    src = (PKG / module).read_text()
    assert "createDataFrame" not in src
    assert "local_frame(" in src
