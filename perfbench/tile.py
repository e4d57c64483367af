"""The tile workload: generated pages to a two-level tiling with durable
per-round checkpoints, then a resume from the complete checkpoint.

The pipeline is composed from the public stage calls that
``plans.pipeline.run_pipeline`` makes, in its order, so that each call
sits in its own span. Three differences from ``run_pipeline``: it lowers
the partitioner's finish threshold (``run_pipeline`` has no parameter
for it; see ``LOCAL_RECURSION_THRESHOLD``), it runs the text-invariant
check serially instead of overlapped with the partition, and it does not
repeat ``run_pipeline``'s ``pages.count()``. It also counts the edges
inside the adjacency call, so that the edge build is not hidden in the
partition span. Untraced and traced iterations run the same calls, so a
change made only inside ``run_pipeline`` moves no metric here.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from harness import fold_hash_sum, median

N_DOCS = 5_000
CELL_SIZES = [256, 2048]
RES = 6
K = 4
# The 5k-doc graph has about 12.6k vertices, more than this threshold
# times the partitioner's promote cap (2.5). So round 0 is the
# single-root CC+roles pass plus the 10-direction max-flow, as it is for
# a root above 160k vertices at the default 64k threshold. Round 1
# finishes both halves in-kernel, and the multilevel finish completes
# level 0.
LOCAL_RECURSION_THRESHOLD = 4096


def _fingerprint(df, cols) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return fold_hash_sum(row["n"], row["h"])


def _dir_stats(path: str) -> tuple[int, int]:
    files, size = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class TileWorkload:
    name = "tile_5k_ckpt"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.pages = None
        self.reference = None
        self.layer_counts: dict = {}
        self._iter = 0

    def setup(self) -> None:
        from osm_inertial_flow_partitioner_spark.sources.pages import generate_pages

        cores = self.spark.sparkContext.defaultParallelism
        self.pages = generate_pages(
            self.spark, N_DOCS, seed=self.seed, num_partitions=2 * cores
        ).persist()
        self.pages.count()

    def iteration(self, rec, cold: bool = False) -> dict:
        """One pass: the checkpointed pipeline, then (except on the cold
        pass, which only warms up) a resume from the complete checkpoint.
        The frames it caches and the checkpoint it writes are released by
        ``cleanup``; a pass that raises releases them before it returns."""
        self._iter += 1
        out: dict = {"ckpt_dir": os.path.join(self.workdir, f"ckpt-{self._iter}")}
        try:
            self._pass(rec, out, cold)
        except BaseException:
            self.cleanup(out)
            raise
        return out

    def _pass(self, rec, out: dict, cold: bool) -> None:
        from pyspark.sql import functions as F

        from osm_inertial_flow_partitioner_spark.config import PartitionConfig
        from osm_inertial_flow_partitioner_spark.operators.packing import pack_assignment
        from osm_inertial_flow_partitioner_spark.operators.partitioner import (
            multilevel_partition,
        )
        from osm_inertial_flow_partitioner_spark.plans.checkpoint import RoundCheckpoint
        from osm_inertial_flow_partitioner_spark.sources.extract import (
            extract_entities,
            knn_adjacency,
            text_invariant_check,
        )

        ckpt_dir = out["ckpt_dir"]
        config = PartitionConfig(cell_sizes=list(CELL_SIZES))
        t0 = time.perf_counter()
        with rec.span("extract"):
            entities, n = extract_entities(self.pages, res=RES, return_count=True)
            out["entities"] = entities.persist()
        with rec.span("adjacency"):
            edges = out["edges"] = knn_adjacency(entities, k=K, n_points=n).persist()
            out["n_edges"] = edges.count()
        with rec.span("invariant"):
            out["changed_text"] = text_invariant_check(self.pages, self.pages)
        vertices = entities.select(F.col("entity_id").alias("vertex_id"), "lat", "lon")
        with rec.span("partition"):
            assignment, num_cells, metrics = multilevel_partition(
                self.spark,
                vertices,
                edges,
                config,
                local_recursion_threshold=LOCAL_RECURSION_THRESHOLD,
                checkpoint=RoundCheckpoint(self.spark, ckpt_dir),
                n_vertices=n,
            )
            out["fingerprint"] = _fingerprint(assignment, ["vertex_id", "level", "cell_id"])
        with rec.span("pack"):
            out["packed_fingerprint"] = _fingerprint(
                pack_assignment(assignment, num_cells), ["vertex_id", "cell_number"]
            )
        out["ckpt_files"], ckpt_bytes = _dir_stats(ckpt_dir)
        t_resume = time.perf_counter()
        if not cold:
            with rec.span("checkpoint.resume"):
                resumed, resumed_cells, _ = multilevel_partition(
                    self.spark,
                    vertices,
                    edges,
                    config,
                    local_recursion_threshold=LOCAL_RECURSION_THRESHOLD,
                    checkpoint=RoundCheckpoint(self.spark, ckpt_dir),
                    n_vertices=n,
                )
                out["resumed_fingerprint"] = _fingerprint(
                    resumed, ["vertex_id", "level", "cell_id"]
                )
                out["resumed_cells"] = list(resumed_cells)
        t1 = time.perf_counter()
        out.update(
            wall_s=t1 - t0,
            resume_s=t1 - t_resume,
            ckpt_mb=ckpt_bytes / 1e6,
            vertices=vertices,
            assignment=assignment,
            metrics=metrics,
            n_entities=n,
            num_cells=list(num_cells),
        )

    def check(self, out: dict) -> list[str]:
        """Checks every iteration's outputs against the first one's."""
        errors = []
        if out["changed_text"] != 0:
            errors.append(f"text invariant: {out['changed_text']} urls changed")
        if "resumed_fingerprint" in out and (
            out["resumed_fingerprint"] != out["fingerprint"]
            or out["resumed_cells"] != out["num_cells"]
        ):
            errors.append("the resumed assignment differs from the checkpointed run")
        key = (out["fingerprint"], out["packed_fingerprint"], tuple(out["num_cells"]))
        if self.reference is None:
            self.reference = key
        elif key != self.reference:
            errors.append(f"fingerprint {key} differs from the first iteration's {self.reference}")
        return errors

    def corrupt_reference(self) -> None:
        (count, h), packed, cells = self.reference
        self.reference = ((count, h ^ 1), packed, cells)

    def deep_check(self, out: dict) -> list[str]:
        """Once per run, outside the timed loop: structural invariants and
        parity with the single-process kernel on the collected graph."""
        from osm_inertial_flow_partitioner_spark.kernel import multilevel_partition_local

        errors = []
        v = out["vertices"].toPandas()
        e = out["edges"].select("tail", "head").toPandas()
        a = out["assignment"].toPandas()
        ids = np.sort(v["vertex_id"].to_numpy())
        levels = len(CELL_SIZES)
        if len(a) != levels * len(ids) or a.duplicated(["vertex_id", "level"]).any():
            errors.append("assignment is not one cell per vertex per level")
            return errors
        cells = np.stack(
            [
                a[a["level"] == lvl].set_index("vertex_id")["cell_id"].reindex(ids).to_numpy()
                for lvl in range(levels)
            ]
        )
        if np.isnan(cells.astype(float)).any():
            errors.append("assignment misses vertices")
            return errors
        cells = cells.astype(np.int64)
        for lvl in range(levels):
            sizes = np.bincount(cells[lvl])
            if sizes.max() >= CELL_SIZES[lvl]:
                errors.append(f"level {lvl}: a cell holds {sizes.max()} >= {CELL_SIZES[lvl]}")
            if len(sizes) > out["num_cells"][lvl]:
                errors.append(f"level {lvl}: cell ids exceed num_cells")
        for lvl in range(levels - 1):
            parents = {}
            for child, parent in zip(cells[lvl].tolist(), cells[lvl + 1].tolist()):
                if parents.setdefault(child, parent) != parent:
                    errors.append(f"level {lvl} cells are not nested in level {lvl + 1}")
                    break
        lat = np.zeros(int(ids[-1]) + 1)
        lon = np.zeros_like(lat)
        lat[v["vertex_id"].to_numpy()] = v["lat"].to_numpy()
        lon[v["vertex_id"].to_numpy()] = v["lon"].to_numpy()
        tails, heads = e["tail"].to_numpy(), e["head"].to_numpy()
        t0 = time.perf_counter()
        local, local_cells, _ = multilevel_partition_local(ids, lat, lon, tails, heads, CELL_SIZES)
        self.layer_counts["kernel.local_partition_s"] = time.perf_counter() - t0
        parity = bool(np.array_equal(local, cells)) and list(local_cells) == out["num_cells"]
        self.layer_counts["kernel.parity"] = int(parity)
        if not parity:
            errors.append("distributed assignment differs from multilevel_partition_local")
        pos = np.searchsorted(ids, tails), np.searchsorted(ids, heads)
        self.layer_counts["partition.cut_edges"] = int((cells[0][pos[0]] != cells[0][pos[1]]).sum())
        return errors

    def counts(self, out: dict) -> dict:
        """Per-layer counts of one iteration, read outside the timed part."""
        modes = {
            r["mode"]: r["n"]
            for r in out["metrics"].groupBy("mode").count().withColumnRenamed("count", "n").collect()
        }
        rounds = (
            out["metrics"].filter("mode != 'ml_finish'").select("level", "round").distinct().count()
        )
        return {
            "extract.entities": out["n_entities"],
            "adjacency.edges": out["n_edges"],
            "partition.rounds": rounds,
            "partition.groups.direction": modes.get("direction", 0),
            "partition.groups.cell": modes.get("cell", 0),
            "partition.groups.ml_finish": modes.get("ml_finish", 0),
            "partition.cells_l0": out["num_cells"][0],
            "partition.cells_l1": out["num_cells"][1],
            "checkpoint.files": out["ckpt_files"],
            "checkpoint.mb": out["ckpt_mb"],
        }

    def cleanup(self, out: dict) -> None:
        for key in ("entities", "edges"):
            if key in out:
                out[key].unpersist()
        shutil.rmtree(out["ckpt_dir"], ignore_errors=True)

    def summary(self, outs: list[dict]) -> dict:
        return {
            "docs_per_s": ("docs/s", N_DOCS / median([o["wall_s"] for o in outs])),
            "resume_s": ("s", median([o["resume_s"] for o in outs])),
            "ckpt_mb": ("MB", median([o["ckpt_mb"] for o in outs])),
        }
