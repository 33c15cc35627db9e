#!/usr/bin/env python3
"""Lakehouse benchmark: one workload per invocation, end-to-end metrics
with tracing off, per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up starts one Spark session on
``local[<cores>]`` with the engine's own defaults (no other Spark conf),
generates the workload's inputs from the seed, and, for the query
workload, runs every query once against its DuckDB oracle as warm-up.
Then it repeats the workload's unit of work until ``--seconds`` have
passed (at least once), checks every output, and prints one JSON line
of metrics last. Everything it writes goes under ``.bench_work/`` in
the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

PIPELINE_SPANS = ["pipeline.ingest_bronze", "pipeline.promote_silver",
                  "pipeline.build_gold", "pipeline.incremental_fact_update",
                  "pipeline.update_dimension_scd2"]
CHILD_SPANS = ["quality.run", "writers.write", "writers.merge"]
SPAN_FIELDS = ["self_s", "jobs", "tasks", "exec_cpu_s", "shuffle_bytes",
               "spill_bytes", "io_bytes"]
PLAN_MODULES = ["relational", "windows", "events", "quality", "analytics",
                "relational_r6", "text", "vectors", "curation"]
PLAN_FIELDS = ["build_s", "run_s", "jobs", "tasks", "exec_cpu_s",
               "shuffle_bytes", "python_s"]


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_bytes"):
        return "bytes"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("ratio"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = [f"{s}.{f}" for s in PIPELINE_SPANS + CHILD_SPANS for f in SPAN_FIELDS]
    names += ["writers.write.files", "writers.merge.files"]
    names += [f"plans.{m}.{f}" for m in PLAN_MODULES for f in PLAN_FIELDS]
    names += ["plans.floor_s", "session.get_spark.self_s",
              "datagen.generate.self_s", "lake.stored_bytes_ratio", "lake.files",
              "process.peak_rss_mb", "trace.wall_s"]
    return names


def layer_metrics(agg: dict, runs: int, cores: int, extra: dict) -> dict[str, float]:
    """The per-layer metric set, per measured run, from aggregated spans."""
    from spans import empty_metrics

    zero = empty_metrics()
    out: dict[str, float] = {}
    for s in PIPELINE_SPANS + CHILD_SPANS:
        a = agg.get(s, zero)
        for f in SPAN_FIELDS:
            out[f"{s}.{f}"] = a[f] / runs
    for s in ("writers.write", "writers.merge"):
        out[f"{s}.files"] = agg.get(s, zero)["files"] / runs
    run_s = exec_run_s = 0.0
    for m in PLAN_MODULES:
        a, b = agg.get(f"plans.{m}", zero), agg.get(f"plans.{m}.build", zero)
        run_s += a["self_s"]
        exec_run_s += a["exec_run_s"] - b["exec_run_s"]
        vals = {"build_s": b["wall_s"], "run_s": a["self_s"], "jobs": a["jobs"],
                "tasks": a["tasks"], "exec_cpu_s": a["exec_cpu_s"],
                "shuffle_bytes": a["shuffle_bytes"], "python_s": a["python_s"]}
        for f in PLAN_FIELDS:
            out[f"plans.{m}.{f}"] = vals[f] / runs
    out["plans.floor_s"] = (run_s - exec_run_s / cores) / runs
    for s in ("session.get_spark", "datagen.generate"):  # set-up, once per instance
        a = agg.get(s, zero)
        out[f"{s}.self_s"] = a["self_s"] / max(1, a["spans"])
    out["lake.stored_bytes_ratio"] = extra.get("lake.stored_bytes_ratio", 0.0)
    out["lake.files"] = extra.get("lake.files", 0.0)
    return out


def effective_conf(spark) -> dict[str, str]:
    """The session's explicitly set conf (without per-launch values and
    JVM flags) plus the SQL defaults the workloads are most sensitive
    to."""
    conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
            if not k.startswith(("spark.app.", "spark.driver.host",
                                 "spark.driver.port", "spark.executor.id",
                                 "spark.submit.", "spark.repl."))
            and not k.endswith("extraJavaOptions")}
    for key in ("spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
                "spark.sql.autoBroadcastJoinThreshold"):
        conf[key] = spark.conf.get(key)
    return dict(sorted(conf.items()))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and every process
    under it, waiting until each has ended."""
    from pyspark import SparkContext

    from stats import process_tree

    pids = [p for p in process_tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


def main() -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    try:
        import bench  # the engine's bench helpers
        from fintech_lakehouse_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from stats import median, tail_percentile, percentile, tree_peak_rss_mb, drift
    from spans import Tracer, aggregate, fetch, nesting_problems
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep Spark's scratch space and every temp file inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")

    cores = len(os.sched_getaffinity(0))  # what nproc reports
    tracer = Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench", master=f"local[{cores}]")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tracer.sc = spark.sparkContext
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed,
                                      bool(args.trace))
        gen_s = wl.setup()
        warm_s = wl.warm_and_check()
        setup_s = session_s + gen_s + warm_s

        steal0, total0 = bench._cpu_stat()
        runs, t_start = [], time.perf_counter()
        while not runs or time.perf_counter() - t_start < args.seconds:
            runs.append(wl.run())
        steal1, total1 = bench._cpu_stat()
        t_measured = time.perf_counter()
        peak_rss_mb = tree_peak_rss_mb()

        walls = [sum(w for _, w, _ in ops) for ops in runs]
        cpus = [sum(c for _, _, c in ops) for ops in runs]
        latencies = [w for ops in runs for _, w, _ in ops]
        tail_p = tail_percentile(len(latencies))
        noise = {
            "steal_frac": (steal1 - steal0) / (total1 - total0)
            if total1 > total0 else 0.0,
            "wall_drift_per_run": drift(walls),
            "runs": len(runs),
            "walls_s": walls,
        }
        ops_first = {}
        for name, w, _ in runs[0]:
            ops_first[name] = ops_first.get(name, 0.0) + w
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "wall_s": (median(walls), "s"),
            "cpu_s": (median(cpus), "s"),
        }
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": cores, "ops": len(latencies), "peak_rss_mb": peak_rss_mb,
            "op_p50_s": median(latencies),
            "op_tail": ({"percentile": tail_p,
                         "value_s": percentile(latencies, tail_p)}
                        if tail_p else None),
            "setup_parts_s": {"session": session_s, "inputs_median": gen_s,
                              "warm_check": warm_s},
            "spark_conf": effective_conf(spark),
            "noise": noise,
            "first_run_ops_s": ops_first,
            "problems": wl.problems[:20],
        }
        failed = wl.failed
        if args.trace:
            t_collect = time.perf_counter()
            agg, evidence = aggregate(
                tracer.spans, fetch(spark.sparkContext.uiWebUrl,
                                    spark.sparkContext.applicationId))
            evidence += nesting_problems(tracer.spans)
            failed += len(evidence)
            layers = layer_metrics(agg, len(runs), cores, wl.layer_extra)
            layers["process.peak_rss_mb"] = peak_rss_mb
            layers["trace.wall_s"] = median(walls)
            metrics = {k: {"value": layers[k], "unit": unit_of(k)}
                       for k in per_layer_names()}
            info["evidence_problems"] = evidence[:20]
            info["collect_s"] = time.perf_counter() - t_collect
        else:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in end_to_end.items()}
            info["lake"] = wl.layer_extra
        info["failed_frac"] = failed / wl.attempted
        info["wrong_results"] = len(wl.problems)
        result = {
            "correct": not wl.problems and failed == 0,
            "attempted": wl.attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    info["phases_s"] = {"to_session": t0 - t_main, "setup": t_start - t0,
                        "measure": t_measured - t_start,
                        "after": time.perf_counter() - t_measured}
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
