"""The operator_leaves workload: operator leaves of the historical
``bench.py`` headline plus ``knn_adjacency_topk``, run serially through
``entry.queries()`` over the fixed sf0.01 tables in ``data/``. The seed
sets only the order in which the leaves run.

The leaves are one or more per ``operators.*`` module and every leaf an
open roadmap item names (the shuffle-partition floor, the LSH band
buckets, the IVF initialisation, the kNN top-k); ``LEAVES`` lists them.

Each leaf's timed action collects its result. Outside the timed part the
result is fingerprinted; the first pass is also diffed against the
leaf's DuckDB ``oracle_sql()`` twin on the same tables, and every later
pass must reproduce the first pass's fingerprint.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np

from harness import fingerprint_frame, median

LEAVES = (
    "q5_region_revenue",  # relational joins; shuffle-floor regression
    "geo_cell_index",  # functions.geo; shuffle-floor regression
    "pip_join",  # operators.spatial
    "dedup_exact",  # operators.dedup
    "lsh_candidate_pairs",  # operators.dedup, LSH band buckets
    "text_stats",  # operators.textops
    "ann_cosine_topk_ivf",  # operators.similarity, IVF
    "events_sessionize",  # operators.sessionize
    "events_hourly_rollup",  # operators.sessionize; shuffle-floor regression
    "knn_adjacency_topk",  # sources.extract kNN adjacency + operators.topk
)

# The fixed sf0.01 test tables the leaves read (the scale
# ``scripts/check_queries.py`` diffs against the oracles), kept here so a
# run reads only inside its checkout. They are read-only inputs.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")


def _canon(df):
    """Columns by name, floats to 6 dp, rows sorted: the form
    scripts/check_queries.py diffs."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object or str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns), ignore_index=True)


def oracle_diff(spark_pdf, oracle_pdf) -> str | None:
    """None when the two results agree to 1.5e-6, else what differs."""
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if np.issubdtype(x.dtype, np.floating) or np.issubdtype(y.dtype, np.floating):
            ok = np.allclose(x.astype(float), y.astype(float), rtol=0, atol=1.5e-6, equal_nan=True)
        else:
            ok = bool((x.astype(str) == y.astype(str)).all())
        if not ok:
            return f"column {c} differs"
    return None


class LeavesWorkload:
    name = "operator_leaves"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.data_dir = DATA_DIR
        self.order = list(LEAVES)
        random.Random(seed).shuffle(self.order)
        self.reference: dict | None = None
        self.layer_counts: dict = {}

    def setup(self) -> None:
        from osm_inertial_flow_partitioner_spark.entry import queries

        self.queries = queries()

    def _collect(self, name: str):
        return self.queries[name](self.spark, self.data_dir).toPandas()

    def iteration(self, rec, cold: bool = False) -> dict:
        """One pass over the leaves, one after another, in seed order. The
        cold pass is the same pass."""
        results, walls = {}, {}
        t0 = time.perf_counter()
        for name in self.order:
            with rec.span(f"leaf.{name}"):
                t = time.perf_counter()
                results[name] = self._collect(name)
                walls[name] = time.perf_counter() - t
        return {"wall_s": time.perf_counter() - t0, "results": results, "leaf_s": walls}

    def check(self, out: dict) -> list[str]:
        fps = {name: fingerprint_frame(pdf) for name, pdf in out["results"].items()}
        if self.reference is None:
            self.reference = fps
            return []
        return [
            f"{name}: fingerprint {fps[name]} differs from the first pass's {self.reference[name]}"
            for name in self.order
            if fps[name] != self.reference[name]
        ]

    def corrupt_reference(self) -> None:
        self.reference = {k: (c, h ^ 1) for k, (c, h) in self.reference.items()}

    def deep_check(self, out: dict) -> list[str]:
        """Diff the first pass against the DuckDB oracles on the same tables."""
        import duckdb

        from osm_inertial_flow_partitioner_spark.entry import oracle_sql

        oracles = oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )
        errors = []
        for name in self.order:
            diff = oracle_diff(out["results"][name], con.execute(oracles[name]).df())
            if diff:
                errors.append(f"{name}: oracle mismatch: {diff}")
        con.close()
        return errors

    def counts(self, out: dict) -> dict:
        return {}

    def cleanup(self, out: dict) -> None:
        out.pop("results", None)

    def summary(self, outs: list[dict]) -> dict:
        return {
            f"leaf.{name}": ("s", median([o["leaf_s"][name] for o in outs]))
            for name in LEAVES
        }
