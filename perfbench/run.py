#!/usr/bin/env python3
"""Spatial-engine benchmark: one closed-loop client driving Spark
local[nproc] through the engine's public operators.

    python3 perfbench/run.py --workload assign --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run generates (or reuses) the seed's
inputs, starts a session, sets up the served index, issues every
operation once untimed, then issues them round robin until
``--seconds`` have passed.  Every operation's output is checked against
an oracle outside the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics of the traced run with ``--trace 1``.  The line
before it carries the per-operation medians, percentiles and sample
counts.  Exit status is non-zero when any operation fails or disagrees
with its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("assign", "ingest")
# Throughputs are scaled to a reference machine speed: raw rate x (median
# of this run's probe jobs / PROBE_REF_S).  On the shared 4-vCPU host the
# wall time of every operation moves by up to 40% between runs minutes
# apart, and most of an operation here is Spark's per-job cost.  A tiny
# Spark job with a Python worker (``probes.spark_probe``), issued before
# every untimed operation and every PROBE_EVERY-th timed one, moves with
# it (correlation 0.93-1.0 over runs).  PROBE_REF_S is the probe's median
# on that host when it is quiet.  Raw rates are in the summary line.
PROBE_REF_S = 0.33
PROBE_EVERY = 2
DRIVER_MEM = "2g"
# per-operation throughputs: rows / median wall time; printed in the
# summary line
PER_OP = {
    "ingest_polygons_per_s": ("ingest", "polygons/s"),
    "assign_images_per_s": ("assign", "images/s"),
    "knn_images_per_s": ("knn", "images/s"),
    "crosswalk_tiles_per_s": ("crosswalk", "tiles/s"),
    "validate_images_per_s": ("validate", "images/s"),
}
# the gated throughputs: input rows / median wall time, for ingest; for
# the four read operations on the served index, their input rows / the
# sum of their medians, i.e. the rate of one closed-loop pass over them.
# A read operation gets three or four timed samples a run, too few for a
# steady median of its own; the pass pools them.
END_TO_END = {  # metric -> (operations, input tables, unit)
    "ingest_polygons_per_s": (("ingest",), ("polygons",), "polygons/s"),
    "read_rows_per_s": (("assign", "knn", "crosswalk", "validate"), ("points", "knn", "tiles", "images"), "rows/s"),
}


def _session(nproc: int, work: str):
    from simplepolygon_spark.session import get_spark

    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        "perfbench",
        parallelism=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the JVM commits and touches its whole heap at start, so the
            # memory peak does not follow the collector's heap resizing
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        },
    )


def _warm(batches):
    # importing the operator modules is the per-worker first-use cost
    import simplepolygon_spark.operators.fused  # noqa: F401
    import simplepolygon_spark.operators.overlap  # noqa: F401
    import simplepolygon_spark.plans.pipeline  # noqa: F401

    yield from batches


def _stop(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def layer_metrics(bench, tracer, sc, nproc: int, extra: dict) -> dict:
    """Per-layer metrics of a traced run (see README.md for the map to
    the end-to-end metrics)."""
    from perfbench.probes import stage_counters
    from perfbench.workloads import CYCLE, TRACED_ONLY

    t0 = time.perf_counter()
    spans = [s for s in tracer.spans if s.op not in ("setup", "warmup")]

    def med(name):
        d = [s.dur for s in spans if s.name == name]
        return statistics.median(d) if d else 0.0

    def counters(name):
        ss = [s for s in spans if s.name == name]
        return stage_counters(sc, [s.group for s in ss], sum(s.dur for s in ss), nproc)

    m = dict(extra)
    for name in ("operators.decompose.decompose_polygons", "operators.tiling.build_interval_index",
                 "operators.tiling.broadcast_index", "operators.tiling.pip_join", "plans.pipeline.salted_ring_stats",
                 "operators.knn.knn_join", "operators.crosswalk.crosswalk", "operators.crosswalk.covers_df",
                 "operators.overlap.overlap_join", "operators.fused.validate_and_assign",
                 "plans.pipeline.run_pipeline", "plans.lineage.write_with_lineage", "plans.lineage.remaining"):
        m[f"{name}.s"] = med(name)
    dp = counters("operators.decompose.decompose_polygons")
    m["operators.decompose.decompose_polygons.rings_out"] = bench.counts["ingest.rings_out"]
    m["operators.decompose.decompose_polygons.slot_util"] = dp["slot_util"]
    m["operators.decompose.decompose_polygons.task_skew"] = dp["task_skew"]
    ix = bench.counts["ingest.index"]
    m["operators.tiling.build_interval_index.n_intervals"] = ix["n_intervals"]
    m["operators.tiling.build_interval_index.csr_entries"] = ix["csr_entries"]
    m["operators.tiling.build_interval_index.index_bytes"] = ix["index_bytes"]
    m["operators.tiling.pip_join.slot_util"] = counters("operators.tiling.pip_join")["slot_util"]
    sr = counters("plans.pipeline.salted_ring_stats")
    m["plans.pipeline.salted_ring_stats.shuffle_bytes"] = sr["shuffle_write_bytes"]
    m["plans.pipeline.salted_ring_stats.task_skew"] = sr["task_skew"]
    m["operators.knn.knn_join.slot_util"] = counters("operators.knn.knn_join")["slot_util"]
    m["operators.crosswalk.crosswalk.hit_ratio"] = bench.counts["crosswalk.hits"] / max(1, bench.counts["crosswalk.rows"])
    ov = counters("operators.overlap.overlap_join")
    m["operators.overlap.overlap_join.pairs_out"] = bench.counts["overlap.pairs_out"]
    m["operators.overlap.overlap_join.shuffle_bytes"] = ov["shuffle_write_bytes"] / max(1, len(tracer.named("operators.overlap.overlap_join")))
    m["operators.overlap.overlap_join.slot_util"] = ov["slot_util"]

    for op in [op for op, _, _ in CYCLE] + list(TRACED_ONLY):
        roots = [s for s in spans if s.name == f"op.{op}"]
        m[f"op.{op}.self_s"] = statistics.median(tracer.self_time(s) for s in roots)
        c = stage_counters(sc, [s.group for s in spans if s.op == op], sum(s.dur for s in roots), nproc)
        n = len(roots)
        m[f"spark.{op}.tasks"] = c["tasks"] / n
        m[f"spark.{op}.failed_tasks"] = c["failed_tasks"]
        m[f"spark.{op}.executor_run_s"] = c["executor_run_s"] / n
        m[f"spark.{op}.executor_cpu_s"] = c["executor_cpu_s"] / n
        m[f"spark.{op}.shuffle_write_bytes"] = c["shuffle_write_bytes"] / n
        m[f"spark.{op}.slot_util"] = c["slot_util"]
        m[f"spark.{op}.task_skew"] = c["task_skew"]
    m["trace.status_read_s"] = time.perf_counter() - t0
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if os.environ.get("PYTHONHASHSEED") != "0":
        # fixed str hashing, here and in the Python workers, so set and
        # dict order (and the work that follows it) is the same every run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    # the engine is imported from the checkout, by this process and by
    # the Spark Python workers (which inherit the environment)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    try:
        import simplepolygon_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    os.environ["TMPDIR"] = work

    from perfbench import inputs
    from perfbench.oracles import Mismatch
    from perfbench.probes import MemSampler, Tracer, spark_probe
    from perfbench.workloads import CYCLE, WORKLOADS, Bench, percentile_summary

    nproc = len(os.sched_getaffinity(0))
    spark = None
    errors: list[str] = []
    attempted = failed = 0
    samples: dict = {op: [] for op, _, _ in CYCLE}
    probes: list[float] = []
    try:
        with MemSampler() as mem:
            t0 = time.perf_counter()
            spark = _session(nproc, work)
            session_s = time.perf_counter() - t0
            sc = spark.sparkContext
            sc.setLogLevel("ERROR")
            t0 = time.perf_counter()
            spark.range(0, nproc, 1, nproc).mapInArrow(_warm, "id long").count()
            warm_s = time.perf_counter() - t0

            t0 = time.perf_counter()
            paths = inputs.materialize(spark, os.path.join(ROOT, ".perfbench_cache"), args.workload, args.seed,
                                       WORKLOADS[args.workload], nproc)
            inputs_s = time.perf_counter() - t0
            tracer = Tracer(sc, enabled=bool(args.trace))
            t0 = time.perf_counter()
            bench = Bench(spark, args.workload, paths, tracer, work)
            init_s = time.perf_counter() - t0
            check_s: dict = {}
            warmup: dict = {op: [] for op in samples}
            build_s = 0.0
            if args.workload != "ingest":
                t0 = time.perf_counter()
                bench.build_served()
                build_s = time.perf_counter() - t0
            setup_s = session_s + warm_s + build_s

            def issue(op: str, timed: bool) -> None:
                nonlocal attempted, failed
                attempted += 1
                with tracer.span(f"op.{op}", op if timed else "warmup"):
                    t0 = time.perf_counter()
                    out = getattr(bench, f"op_{op}")()
                    dt = time.perf_counter() - t0
                (samples if timed else warmup)[op].append(dt)
                t0 = time.perf_counter()
                try:
                    getattr(bench, f"check_{op}")(out)
                except Mismatch as e:
                    failed += 1
                    errors.append(str(e))
                check_s[op] = check_s.get(op, 0.0) + time.perf_counter() - t0

            # every operation runs once, checked but untimed: the first
            # execution pays first-use costs (JIT, codegen, imports)
            for op, _, _ in CYCLE:
                probes.append(spark_probe(spark, nproc))
                issue(op, timed=False)
            book0 = tracer.bookkeeping_s
            # round robin until the window closes; the operation running
            # then completes, so sample counts differ by at most one
            order = [op for op, _, _ in CYCLE]
            deadline = time.perf_counter() + args.seconds
            n = 0
            while time.perf_counter() < deadline:
                if n % PROBE_EVERY == 0:
                    probes.append(spark_probe(spark, nproc))
                issue(order[n % len(order)], timed=True)
                n += 1
            loop_s = sum(map(sum, samples.values()))
            extra = {"session.get_spark.s": session_s,
                     "trace.bookkeeping_share": (tracer.bookkeeping_s - book0) / loop_s}
            if args.trace:
                extra.update(bench.layer_pass())
        peak_pss_mb = mem.peak_mb
        if args.trace:
            metrics_raw = layer_metrics(bench, tracer, sc, nproc, extra)
    except Mismatch as e:
        failed += 1
        errors.append(str(e))
    except Exception as e:  # the engine raised: report it as a failed run
        import traceback

        traceback.print_exc()
        failed += 1
        errors.append(f"{type(e).__name__}: {e}")
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))

    correct = failed == 0
    if not correct:
        for e in errors:
            print(f"perfbench: {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": max(attempted, 1), "failed": failed, "metrics": {}}))
        return 1

    scale = statistics.median(probes) / PROBE_REF_S
    units = {op: unit for op, unit, _ in CYCLE}
    items = {op: bench.items[table] for op, _, table in CYCLE}
    ops = {op: dict(percentile_summary(s), items=items[op], unit=units[op], samples_s=s,
                    per_s=items[op] / statistics.median(s)) for op, s in samples.items()}
    summary = {"workload": args.workload, "seed": args.seed, "cores": nproc,
               "session_s": session_s, "warm_s": warm_s, "inputs_s": inputs_s, "index_build_s": build_s,
               "failed_ops_ratio": failed / attempted, "init_s": init_s, "check_s": check_s,
               "warmup_s": warmup, "probe_s": probes, "scale": scale, "ops": ops,
               "throughputs": {name: {"value": ops[op]["per_s"], "unit": unit} for name, (op, unit) in PER_OP.items()}}
    print(json.dumps({"summary": summary}))

    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(metrics_raw.items())}
    else:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"},
                   "peak_pss_mb": {"value": peak_pss_mb, "unit": "MB"}}
        for name, (group, tables, unit) in END_TO_END.items():
            rows = sum(bench.items[t] for t in tables)
            metrics[name] = {"value": scale * rows / sum(ops[op]["median_s"] for op in group), "unit": unit}
    print(json.dumps({"correct": True, "attempted": attempted, "failed": 0, "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last in ("s", "self_s", "executor_run_s", "executor_cpu_s", "status_read_s", "s_per_10k"):
        return "s"
    if last.endswith("bytes"):
        return "bytes"
    if last in ("fixture", "crossing"):
        return "ms"
    if last in ("slot_util", "task_skew", "full_share", "accept_ratio", "hit_ratio", "bookkeeping_share",
                "candidates_per_point", "cells_per_tile"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
