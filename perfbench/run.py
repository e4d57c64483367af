#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tile_5k_ckpt --seed 1 --seconds 1 --trace 0

Run from the repository root, on local[nproc]. The run makes its inputs
from ``--seed``, sets up (session start, inputs, the workload's cold
iteration), checks the cold iteration's outputs in depth, then repeats
timed iterations while fewer than ``--seconds`` have passed (at least
one), checking each. A set-up or cold iteration that raises still ends
in a result, with ``correct`` false.
With ``--trace 1`` every timed iteration runs under per-layer spans and
the run reports per-layer metrics instead of end-to-end ones.

Human-readable lines go first; the last line of stdout is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
Everything the run writes lives under ``.perfbench_work/`` in the
current directory; all but the shared temp dir is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    SPAN_FIELDS,
    TreeRssSampler,
    descendants,
    median,
    plan_changing_env,
    proc_parents,
    summarize,
)

END_TO_END = {"setup_s": "s", "run_s": "s"}

SPAN_UNITS = {
    "wall_s": "s",
    "task_s": "s",
    "tasks": "count",
    "jobs": "count",
    "shuffle_mb": "MB",
    "failed_tasks": "count",
    "idle_core_s": "core-s",
}
TILE_SPANS = ("extract", "adjacency", "invariant", "partition", "pack", "checkpoint.resume")
TILE_COUNTS = {
    "extract.entities": "count",
    "adjacency.edges": "count",
    "partition.rounds": "count",
    "partition.groups.direction": "count",
    "partition.groups.cell": "count",
    "partition.groups.ml_finish": "count",
    "partition.cut_edges": "count",
    "partition.cells_l0": "count",
    "partition.cells_l1": "count",
    "checkpoint.files": "count",
    "checkpoint.mb": "MB",
    "kernel.local_partition_s": "s",
    "kernel.parity": "flag",
}
LEAF_FIELDS = {"wall_s": "s", "tasks": "count", "shuffle_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit. A layer
    the workload does not call reports 0."""
    from leaves import LEAVES

    units = {f"{s}.{f}": SPAN_UNITS[f] for s in TILE_SPANS for f in SPAN_FIELDS}
    units.update(TILE_COUNTS)
    units["kernel.cdinic"] = "flag"
    units["host.cpu_probe_s"] = "s"
    units.update({f"rss.{k}_mb": "MB" for k in ("jvm", "python", "max_worker")})
    units["traced.run_s"] = "s"
    units["traced.self_s"] = "s"
    for leaf in LEAVES:
        units.update({f"leaf.{leaf}.{f}": u for f, u in LEAF_FIELDS.items()})
    return units


def workloads():
    from leaves import LeavesWorkload
    from tile import TileWorkload

    return {w.name: w for w in (TileWorkload, LeavesWorkload)}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--corrupt-fingerprint",
        action="store_true",
        help="alter the reference outputs after the cold iteration, so every "
        "timed iteration must be reported as failed (checks the checker)",
    )
    return p.parse_args(argv)


def prepare_environment(workdir: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``workdir``'s parent, and quiet the console progress bar. The temp dir
    is shared across runs: it holds the compiled max-flow kernel, which
    the package caches under the temp dir on first use."""
    tmp = os.path.join(os.path.dirname(workdir), "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # in case an import already cached the old one
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')} "
        "pyspark-shell"
    )


def cpu_probe(spark, cores: int) -> float:
    """Seconds for a fixed core-saturating JVM sum, after a warm-up; a
    slow reading flags a contended window."""
    spark.range(0, 10_000_000, 1, cores).selectExpr("sum(id % 7)").collect()
    t0 = time.perf_counter()
    spark.range(0, 2_000_000_000, 1, cores).selectExpr("sum(id % 7)").collect()
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(descendants(proc_parents(), os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def traced_metrics(wl, outs, spans_per_iter, counts, probe_s, cdinic, cores) -> dict:
    units = per_layer_units()
    values = dict.fromkeys(units, 0.0)
    for name in units:
        base, _, field = name.rpartition(".")
        samples = []
        for spans in spans_per_iter:
            if base in spans and field in SPAN_FIELDS:
                samples.append(spans[base].fields(cores)[field])
        if samples:
            values[name] = median(samples)
    values.update(counts)
    values.update(wl.layer_counts)
    values["kernel.cdinic"] = int(cdinic)
    values["host.cpu_probe_s"] = probe_s
    values["traced.run_s"] = median([o["wall_s"] for o in outs])
    values["traced.self_s"] = median([spans["iteration"].self_wall_s for spans in spans_per_iter])
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    bad_env = plan_changing_env(os.environ)
    if bad_env:
        print(
            f"refusing to run: {', '.join(bad_env)} set; these knobs change the "
            "plan or the partitioner's rounds, so the run would measure another program",
            file=sys.stderr,
        )
        return 2
    try:
        wl_cls = workloads()[args.workload]
    except KeyError:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads())}", file=sys.stderr)
        return 2

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import pyspark  # noqa: F401

        import osm_inertial_flow_partitioner_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the package from {root}: {e}", file=sys.stderr)
        return 2

    workdir = os.path.join(root, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(workdir, ignore_errors=True)
    prepare_environment(workdir)
    cores = len(os.sched_getaffinity(0))
    attempted, failed, errors = 1, 0, []
    outs, metrics, extras, phases = [], {}, {}, {}
    setup_s, cdinic_ok = None, None
    rss = TreeRssSampler().start()
    spark = None
    try:
        from osm_inertial_flow_partitioner_spark.kernel import cdinic
        from osm_inertial_flow_partitioner_spark.session import get_spark
        from tracing import SpanRecorder

        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
        phases["session"] = time.perf_counter() - t_start
        wl = wl_cls(spark, args.seed, workdir)
        untraced = SpanRecorder(spark, enabled=False)

        # set-up: session start, inputs, one cold iteration; its deep checks
        # are timed apart and left out of setup_s
        wl.setup()
        phases["inputs"] = time.perf_counter() - t_start - phases["session"]
        cold = wl.iteration(untraced, cold=True)
        setup_s = time.perf_counter() - t_start
        phases["cold"] = setup_s - sum(phases.values())
        try:
            cold_errors = wl.check(cold) + wl.deep_check(cold)
        finally:
            wl.cleanup(cold)
        phases["checks"] = time.perf_counter() - t_start - setup_s
        if cold_errors:
            failed += 1
            errors += cold_errors
        if args.corrupt_fingerprint:
            wl.corrupt_reference()

        cdinic_ok = cdinic.available()
        if not cdinic_ok:
            print(
                "WARNING: kernel.cdinic=0 - the compiled max-flow kernel did not "
                "load; every cut runs on the numpy fallback and times are not "
                "comparable with a run where it loads",
                file=sys.stderr,
            )

        probe_s = cpu_probe(spark, cores) if args.trace else 0.0
        recorder = SpanRecorder(spark, enabled=bool(args.trace))
        spans_per_iter, counts = [], {}
        t_timed = time.perf_counter()
        while not outs or time.perf_counter() - t_timed < args.seconds:
            attempted += 1
            n_spans = {k: len(v) for k, v in recorder.spans.items()}
            try:
                with recorder.span("iteration"):
                    out = wl.iteration(recorder)
            except Exception:  # noqa: BLE001 - an iteration that raises is a failure
                failed += 1
                errors.append(traceback.format_exc(limit=3))
                if time.perf_counter() - t_timed >= args.seconds:
                    break
                continue
            try:
                iter_errors = wl.check(out)
                if args.trace:
                    # each layer is called once per iteration
                    spans_per_iter.append(
                        {k: v[-1] for k, v in recorder.spans.items() if len(v) > n_spans.get(k, 0)}
                    )
                    counts = counts or wl.counts(out)
            finally:
                wl.cleanup(out)
            if iter_errors:
                failed += 1
                errors += iter_errors
            outs.append(out)

        if args.trace and outs:
            metrics = traced_metrics(wl, outs, spans_per_iter, counts, probe_s, cdinic_ok, cores)
        elif outs:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "run_s": {"value": median([o["wall_s"] for o in outs]), "unit": "s"},
            }
        extras = wl.summary(outs) if outs else {}
    except Exception:  # noqa: BLE001 - set-up or the cold iteration raised
        failed += 1
        errors.append(traceback.format_exc(limit=5))
        outs, metrics = [], {}
    finally:
        if spark is not None:
            stop_spark(spark)
        peaks = rss.stop()
        shutil.rmtree(workdir, ignore_errors=True)

    if metrics and args.trace:
        metrics.update({f"rss.{k}_mb": {"value": v, "unit": "MB"} for k, v in peaks.items()})
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} cores={cores} "
          f"kernel.cdinic={'?' if cdinic_ok is None else int(cdinic_ok)}")
    if outs:
        s = summarize([o["wall_s"] for o in outs])
        walls = ", ".join(f"{o['wall_s']:.3f}" for o in outs)
        print(
            f"  run_s       median {s['median']:.3f} s, p{s['tail_p']} {s['tail']:.3f} s, "
            f"n={s['n']} ({walls})"
        )
    for name, (unit, value) in extras.items():
        print(f"  {name:<31} {value:.3f} {unit}")
    if setup_s is not None:
        print(f"  setup_s     {setup_s:.3f} s ({', '.join(f'{k} {v:.1f} s' for k, v in phases.items())})")
    print(
        f"  peak RSS    JVM {peaks['jvm']:.1f} MB, Python processes {peaks['python']:.1f} MB, "
        f"largest worker {peaks['max_worker']:.1f} MB"
    )
    print(f"  fail_frac   {failed}/{attempted} = {failed / attempted:.3f}")
    print(
        json.dumps(
            {
                "correct": failed == 0 and bool(outs),
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
