"""Benchmark entry point.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 16 --trace 0

Starts one Spark session sized to the host, prepares the workload's seeded
inputs, runs timed passes until ``--seconds`` seconds have passed (at least
one pass, at most the workload's ``max_passes``), checks the
outputs and prints, as its last stdout line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same passes with layer
wrappers installed and reports the per-layer metrics instead. The line
before it carries the run's context: host sizing, the host probe, step
counts and the traced run's coverage. Everything a run writes goes under
``.perfbench/`` at the repository root; the span trace of a traced run is
kept there, the rest is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

import host
import workloads
from spans import (
    GROUP_PREFIX,
    LAYER_TARGETS,
    Tracer,
    children_of,
    covered,
    job_stats,
    python_boundary_stats,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s"}

# Per-layer metric -> (unit, better, the end-to-end metric and workload it
# should move). BENCHMARK.json's per_layer list is checked against this.
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s on every workload"),
    "process.peak_rss_mb": ("MB", "lower", "none: memory cost of the passes, every workload"),
    "pipeline.route_s": ("s", "lower", "pass_s on etl"),
    "pipeline.count_s": ("s", "lower", "pass_s on etl"),
    "storage.cached_bytes": ("bytes", "lower", "pass_cpu_s on etl (pipeline caches) and query_mix (pins)"),
    "documents.read_s": ("s", "lower", "pass_s on etl"),
    "documents.listing_tasks": ("count", "lower", "pass_s on etl"),
    "documents.quarantined": ("count", "lower", "none: must equal the injected malformed files"),
    "normalize.build_ms": ("ms", "lower", "pass_s on etl"),
    "normalize.tables": ("count", "lower", "pass_s on etl"),
    "sinks.write_s": ("s", "lower", "pass_s on etl"),
    "sinks.files": ("count", "lower", "pass_s on etl"),
    "sinks.bytes": ("bytes", "lower", "pass_s on etl"),
    "sinks.rows": ("count", "higher", "none: fixed by the corpus"),
    "sinks.bytes_per_in_byte": ("ratio", "lower", "pass_s on etl"),
    "ingest.batches": ("count", "lower", "pass_s on etl"),
    "ingest.add_batch_s": ("s", "lower", "pass_s on etl"),
    "ingest.wal_commit_s": ("s", "lower", "pass_s on etl"),
    "ingest.latest_offset_s": ("s", "lower", "pass_s on etl"),
    "ingest.query_planning_s": ("s", "lower", "pass_s on etl"),
    "ingest.batch_p50_s": ("s", "lower", "pass_s on etl"),
    "ingest.batch_max_s": ("s", "lower", "pass_s on etl"),
    "plans.build_s": ("s", "lower", "pass_s on query_mix"),
    "plans.build_jobs": ("count", "lower", "pass_s on query_mix"),
    "pinning.pins": ("count", "lower", "pass_s on query_mix"),
    "pinning.pin_s": ("s", "lower", "pass_s on query_mix"),
    "catalog.table_s": ("s", "lower", "pass_s on query_mix"),
    "catalyst.analysis_ms": ("ms", "lower", "pass_s on query_mix"),
    "catalyst.optimization_ms": ("ms", "lower", "pass_s on query_mix"),
    "catalyst.planning_ms": ("ms", "lower", "pass_s on query_mix"),
    "spark.jobs": ("count", "lower", "pass_s on every workload"),
    "spark.stages": ("count", "lower", "pass_s on every workload"),
    "spark.tasks": ("count", "lower", "pass_s on every workload"),
    "tasks.run_ms": ("ms", "lower", "pass_s on every workload"),
    "tasks.cpu_ms": ("ms", "lower", "pass_cpu_s on every workload"),
    "tasks.gc_ms": ("ms", "lower", "pass_s and pass_cpu_s on every workload"),
    "tasks.idle_slot_ms": ("ms", "lower", "pass_s on query_mix and etl"),
    "shuffle.write_bytes": ("bytes", "lower", "pass_s on query_mix"),
    "shuffle.fetch_wait_ms": ("ms", "lower", "pass_s on query_mix"),
    "scan.input_bytes": ("bytes", "lower", "pass_s on query_mix"),
    "arrow.bytes_sent": ("bytes", "lower", "pass_s on query_mix; 0 on etl"),
    "arrow.bytes_received": ("bytes", "lower", "pass_s on query_mix; 0 on etl"),
    "arrow.rows": ("count", "lower", "pass_s on query_mix; 0 on etl"),
    "trace.pass_s": ("s", "lower", "none: traced pass_s, its excess over pass_s is the tracing overhead"),
    "trace.coverage": ("ratio", "higher", "none: share of pass wall time the top-level spans cover"),
}


def _configure_spark_env(work: str, trace: bool, cpus: int, mem_gb: int) -> None:
    """Session sizing and the run's file locations, fixed before the JVM starts."""
    for sub in ("local", "tmp", "warehouse", "derby"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_gb}g"
    # Python workers import the program (mapInPandas codecs) from the
    # repository root whatever the caller's working directory is.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Every JVM, the spark-submit launcher included: no hsperfdata under
    # /tmp, and native libraries unpack to the run's own tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'derby')}"
    )
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every job, stage and SQL execution of the run in the status store
        confs.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                      "spark.sql.ui.retainedExecutions": "100000"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM ignored its closed stdin
            proc.kill()
            proc.wait(timeout=30)


def _layer_metrics(tracer, jobs, arrow, workload, check, session_s, passes, storage_peak) -> dict[str, float]:
    spans = {s.id: s for s in tracer.spans}

    def chain(span_id):
        names = []
        while span_id is not None:
            names.append(spans[span_id].name)
            span_id = spans[span_id].parent
        return names

    def total(name, under=None):
        return sum(s.duration for s in spans.values() if s.name == name and (under is None or under in chain(s.parent)))

    def count(name):
        return sum(1 for s in spans.values() if s.name == name)

    def job_chain(job):
        group = job["group"] or ""
        span_id = group[len(GROUP_PREFIX):]
        return chain(int(span_id)) if group.startswith(GROUP_PREFIX) and span_id.isdigit() else []

    kids = children_of(tracer.spans)
    batch_s = [p["durationMs"]["triggerExecution"] / 1000 for p in getattr(workload, "progress", [])]
    pass_spans = [s for s in spans.values() if s.name == "pass"]
    stream = workload.stream_durations() if hasattr(workload, "stream_durations") else {}
    catalyst = [s.attrs for s in spans.values() if s.name == "catalyst.plan"]
    m = {
        "session.start_s": session_s,
        "pipeline.route_s": total("pipeline.route_files"),
        "pipeline.count_s": total("spark.count", under="pipeline.run_batch_pipeline"),
        "storage.cached_bytes": storage_peak,
        "documents.read_s": total("documents.read_form") + total("documents.quarantine_corrupt"),
        "documents.listing_tasks": sum(j["tasks"] for j in jobs if "documents.read_form" in job_chain(j)),
        "documents.quarantined": check.get("quarantined", 0),
        "normalize.build_ms": 1000 * total("normalize.normalize"),
        "normalize.tables": sum(s.attrs.get("items", 0) for s in spans.values() if s.name == "normalize.normalize"),
        "sinks.write_s": total("sinks.write_parquet"),
        "sinks.files": check.get("sink_files", 0),
        "sinks.bytes": check.get("sink_bytes", 0),
        "sinks.rows": check.get("sink_rows", 0),
        "sinks.bytes_per_in_byte": check["sink_bytes"] / check["in_bytes"] if check.get("in_bytes") else 0.0,
        "ingest.batches": len(getattr(workload, "progress", [])),
        "ingest.add_batch_s": stream.get("addBatch", 0.0),
        "ingest.wal_commit_s": stream.get("walCommit", 0.0),
        "ingest.latest_offset_s": stream.get("latestOffset", 0.0),
        "ingest.query_planning_s": stream.get("queryPlanning", 0.0),
        "ingest.batch_p50_s": statistics.median(batch_s) if batch_s else 0.0,
        "ingest.batch_max_s": max(batch_s, default=0.0),
        "plans.build_s": total("plans.build"),
        "plans.build_jobs": sum(1 for j in jobs if "plans.build" in job_chain(j)),
        "pinning.pins": count("pinning.pin"),
        "pinning.pin_s": total("pinning.pin"),
        "catalog.table_s": total("catalog.table"),
        "catalyst.analysis_ms": sum(a["analysis"] for a in catalyst),
        "catalyst.optimization_ms": sum(a["optimization"] for a in catalyst),
        "catalyst.planning_ms": sum(a["planning"] for a in catalyst),
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "tasks.run_ms": sum(j["run_ms"] for j in jobs),
        "tasks.cpu_ms": sum(j["cpu_ms"] for j in jobs),
        "tasks.gc_ms": sum(j["gc_ms"] for j in jobs),
        "tasks.idle_slot_ms": sum(j["idle_slot_ms"] for j in jobs),
        "shuffle.write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        "shuffle.fetch_wait_ms": sum(j["fetch_wait_ms"] for j in jobs),
        "scan.input_bytes": sum(j["input_bytes"] for j in jobs),
        "arrow.bytes_sent": arrow["sent"],
        "arrow.bytes_received": arrow["received"],
        "arrow.rows": arrow["rows"],
        "trace.pass_s": statistics.median(passes),
        "trace.coverage": sum(covered(p, kids.get(p.id, [])) for p in pass_spans) / sum(p.duration for p in pass_spans),
    }
    return {k: float(v) for k, v in m.items()}


def run(args, work: str) -> tuple[dict, dict]:
    cpus, mem_gb = host.cpus(), host.driver_mem_gb()
    probe_before, ticks_before = host.cpu_probe_s(), host.cpu_ticks()
    _configure_spark_env(work, args.trace, cpus, mem_gb)

    from etl_sample_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    try:
        workload = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            workload.setup(rep)
            reps.append(time.perf_counter() - t)
        attempted, failed = workload.validate()
        errors = list(getattr(workload, "failures", []))

        tracer = storage = None
        if args.trace:
            tracer = Tracer(f"{args.workload}-{args.seed}", spark.sparkContext)
            tracer.install(LAYER_TARGETS)
            tracer.install_spark(spark)
            jsc = spark.sparkContext._jsc.sc()
            storage = host.PeakSampler(
                lambda: sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo()), 0.2
            ).start()
        rss = host.PeakSampler(host.descendants_rss_mb).start()
        cpu_before = host.tree_cpu_s()
        since_ms = time.time() * 1000
        passes, steps = [], []
        loop_start = time.perf_counter()
        while True:
            attempted += workload.ops_per_pass
            try:
                if tracer:
                    with tracer.span("pass", index=len(passes)):
                        wall, pass_steps = workload.one_pass(len(passes), tracer)
                else:
                    wall, pass_steps = workload.one_pass(len(passes))
            except Exception as ex:  # noqa: BLE001 - a failed operation is counted, not fatal
                failed += 1
                errors.append(f"pass {len(passes)}: {type(ex).__name__}: {str(ex)[:300]}")
                break
            passes.append(wall)
            steps += pass_steps
            if time.perf_counter() - loop_start >= args.seconds or len(passes) == workload.max_passes:
                break
        cpu_s = host.tree_cpu_s() - cpu_before
        peak_rss_mb = rss.stop()
        storage_peak = storage.stop() if storage else 0
        if tracer:
            tracer.uninstall()
        check = {}
        if passes:
            try:
                check = workload.check()
            except workloads.Failed as ex:
                failed += 1
                errors.append(f"check: {ex}")

        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "spark_graft_cpus": cpus, "spark_graft_driver_mem": f"{mem_gb}g",
            "passes": [round(p, 4) for p in passes], "steps": [round(x, 4) for x in steps], "setup_reps_s": [round(r, 4) for r in reps],
            "peak_rss_mb": peak_rss_mb,
            "errors": errors, **check,
        }
        if "docs" in check and passes:
            detail["docs_per_s"] = check["docs"] / statistics.median(passes)
        metrics = {}
        if passes and not args.trace:
            metrics = {
                "setup_s": session_s + statistics.median(reps),
                "pass_s": statistics.median(passes),
                "pass_cpu_s": cpu_s / len(passes),
            }
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
        elif passes:
            jobs = job_stats(spark, since_ms)
            arrow = python_boundary_stats(spark, since_ms)
            layer = _layer_metrics(tracer, jobs, arrow, workload, check, session_s, passes, storage_peak)
            layer["process.peak_rss_mb"] = peak_rss_mb
            metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in layer.items()}
            detail["trace_coverage"] = layer["trace.coverage"]
            os.makedirs(os.path.join(RUN_DIR, "traces"), exist_ok=True)
            trace_path = os.path.join(RUN_DIR, "traces", f"{args.workload}-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"run": detail, "layers": layer, **tracer.to_json(), "jobs": jobs}, f)
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
    finally:
        _stop_spark(spark)
    detail["probe_before_s"] = probe_before
    detail["probe_after_s"] = host.cpu_probe_s()
    detail["probe_parallel_s"] = host.parallel_probe_s(cpus)
    detail["steal_pct"] = host.steal_pct(ticks_before, host.cpu_ticks())
    result = {"correct": failed == 0 and bool(passes), "attempted": attempted, "failed": failed, "metrics": metrics}
    return detail, result


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import driver_sim  # noqa: F401 - the oracle comparison the query workload reuses
        import etl_sample_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the program under test cannot be imported: {ex}", file=sys.stderr)
        return 2

    os.makedirs(RUN_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=RUN_DIR)
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
