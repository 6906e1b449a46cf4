"""Benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload lake_etl --seed 1 --seconds 10 --trace 0

The workload's inputs are generated from ``--seed`` under
``.perfbench_work/`` in the repository root (and removed when the run
ends), a Spark session is
started with ``local[<cores>]``, one shuffle partition per core and a
fixed 2 GiB driver heap (``HEAP``; the package defaults to 8 GiB),
untimed iterations warm it up (the workload's ``warm_runs``, on inputs
of its ``warm_sizes`` if set), and then iterations run (closed loop, one
client) until ``--seconds`` have passed. Every iteration's outputs are
checked, outside its wall clock. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``      session start plus the warm-up iterations, until the
                   first timed call (input generation excluded);
- ``run_s``        median wall time of one iteration;
- ``publish_s``    median time from an iteration's fresh inputs until
                   its first durable output: the upserted ``documents``
                   table (lake_etl), the IVF index (embed_search), the
                   first memo-backed result (dedup_graph);
- ``peak_rss_mb``  peak resident memory of the driver Python process,
                   the JVM and the Python workers during the timed
                   iterations.

``--trace 1`` alternates untraced and traced iterations and reports
the per-layer metrics (``PER_LAYER``); the spans are written to
``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "citeconnect_datapipeline_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "publish_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.build_jobs": "count",
    "plans.jobs": "count",
    "plans.self_s": "s",
    "memo.builds": "count",
    "memo.hits": "count",
    "memo.hit_ratio": "ratio",
    "memo.build_s": "s",
    "sources.ingest_jsonl_s": "s",
    "sources.rows_valid": "count",
    "sources.rows_quarantined": "count",
    "sources.input_bytes": "B",
    "sources.self_s": "s",
    "sinks.upsert_parquet_s": "s",
    "sinks.write_zone_s": "s",
    "sinks.write_json_artifact_s": "s",
    "sinks.rows_inserted": "count",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "sinks.write_amp": "ratio",
    "sinks.self_s": "s",
    "similarity.embed_s": "s",
    "similarity.build_ivf_index_s": "s",
    "similarity.search_ms": "ms",
    "similarity.probe_p50_ms": "ms",
    "similarity.probe_p90_ms": "ms",
    "similarity.self_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.stage_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.one_task_stage_s": "s",
    "spark.slot_util": "ratio",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "python.stage_run_s": "s",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
    "trace.call_coverage": "ratio",
}
SELF_LAYERS = ("plans", "sources", "sinks", "similarity")
# failed calls after which a run stops retrying iterations
MAX_FAILED = 3


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Keep every file Spark and its Python workers write inside the
    work directory, and let the workers import the package: they start
    from a fresh interpreter that only sees ``PYTHONPATH``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    # A fixed 2 GiB driver heap instead of the package's 8g default
    # (spark.driver.memory). On dedup_graph over five seeds (4-core VM),
    # IQR/median of peak_rss_mb was 0.25 with the default heap grown on
    # demand; with -Xms8g it was 0.04 but the process reached 7 GB and
    # run_s spread 0.26; with -Xms2g 0.01 at 3.3 GB and run_s 0.16.
    # A change that needs far more driver heap shows GC time here
    # (spark.gc_s) before it would at the default size.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # -UsePerfData: no hsperfdata file in the system temp directory,
    # from the launcher JVM of spark-submit or from the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{HEAP} "
        "-XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def stop_session(spark) -> None:
    """Stop the session, then the JVM: closing its stdin ends the
    gateway process, and its Python workers with it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


@contextmanager
def instrument(tracer):
    """Spans around the package's memo and zone-writer entry points,
    which the timed calls reach indirectly."""
    from citeconnect_datapipeline_spark import memo
    from citeconnect_datapipeline_spark.sinks import zones

    shared, write_zone = memo.shared_intermediate, zones.write_zone

    def traced_shared(spark, name, key_parts, build):
        key = (spark.sparkContext.applicationId, name, *key_parts)
        with tracer.span("memo.shared_intermediate", hit=key in memo._CACHE):
            return shared(spark, name, key_parts, build)

    def traced_write_zone(*args, **kwargs):
        with tracer.span("sinks.write_zone"):
            return write_zone(*args, **kwargs)

    memo.shared_intermediate = traced_shared
    zones.write_zone = traced_write_zone
    try:
        yield
    finally:
        memo.shared_intermediate = shared
        zones.write_zone = write_zone


def percentile(values, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def layer_metrics(tracer, readout, wl, out: dict, wall: float) -> dict:
    """Per-layer metrics of one traced iteration."""
    from perfbench.trace import union_length, self_times

    spans = [s for s in tracer.spans if s.run_id == tracer.run_id]
    selfs = self_times(spans)
    m = {k: 0.0 for k in PER_LAYER}

    def total(name):
        return sum(s.dur for s in spans if s.name == name)

    readout.drain()
    per_span = {}
    for i, s in enumerate(spans):
        if not s.groups:
            continue
        g = readout.group_metrics(s.groups)
        per_span[i] = g
        busy = union_length(g["intervals"])
        m["spark.stage_busy_s"] += busy
        m["spark.driver_gap_s"] += max(s.dur - busy, 0.0)
        for k in (
            "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "one_task_stage_s",
        ):
            m["spark." + k] += g[k]
        if s.name.startswith("plans."):
            m["plans.build_s"] += s.attrs["build_s"]
            m["plans.exec_s"] += s.dur - s.attrs["build_s"]
            m["plans.build_jobs"] += g["jobs.build"]
            m["plans.jobs"] += g["jobs.exec"]
    for jobs, totals in readout.python_metrics():
        if any(jobs & g["job_ids"] for g in per_span.values()):
            for k, v in totals.items():
                m[k] += v
    if m["spark.stage_busy_s"]:
        m["spark.slot_util"] = m["spark.executor_run_s"] / (
            m["spark.stage_busy_s"] * readout.cores
        )

    memo_spans = [s for s in spans if s.name == "memo.shared_intermediate"]
    m["memo.hits"] = sum(1 for s in memo_spans if s.attrs["hit"])
    m["memo.builds"] = len(memo_spans) - m["memo.hits"]
    if memo_spans:
        m["memo.hit_ratio"] = m["memo.hits"] / len(memo_spans)
    m["memo.build_s"] = sum(
        s.dur
        for s in memo_spans
        if not s.attrs["hit"]
        and (s.parent is None or spans[s.parent].name != s.name)
    )
    for i, s in enumerate(spans):
        layer = s.name.split(".", 1)[0]
        if layer in SELF_LAYERS:
            m[layer + ".self_s"] += selfs[i]

    m["sources.ingest_jsonl_s"] = total("sources.ingest_jsonl_to_zone")
    m["sinks.upsert_parquet_s"] = total("sinks.upsert_parquet")
    m["sinks.write_zone_s"] = total("sinks.write_zone")
    m["sinks.write_json_artifact_s"] = total("sinks.write_json_artifact")
    if "counts" in out:
        m["sources.rows_valid"] = out["counts"]["n_valid"]
        m["sources.rows_quarantined"] = out["counts"]["n_quarantined"]
        m["sources.input_bytes"] = wl.batch_bytes
        m["sinks.rows_inserted"] = out["inserted"]
        ws = wl.write_stats()
        m["sinks.bytes_written"] = ws["bytes"]
        m["sinks.files_written"] = ws["files"]
        m["sinks.write_amp"] = ws["write_amp"]
    m["similarity.embed_s"] = total("similarity.embed_with_model")
    m["similarity.build_ivf_index_s"] = total("similarity.build_ivf_index")
    probes = [s.dur for s in spans if s.name == "similarity.search_ivf_index"]
    if probes:
        m["similarity.search_ms"] = statistics.median(probes) * 1e3
    top = sum(s.dur for s in spans if s.parent is None)
    m["trace.run_s"] = wall
    m["trace.call_coverage"] = top / wall
    return m


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.trace import PeakRss, SparkReadout, Tracer
    from perfbench.workloads import WORKLOADS, Caller, CallFailed, rmtree

    configure_env()
    wl = WORKLOADS[workload](WORK, seed)
    sizes = wl.prepare()
    warm = wl
    if wl.warm_sizes:
        warm = WORKLOADS[workload](os.path.join(WORK, "warm"), seed, wl.warm_sizes)
        warm.prepare()

    import pyspark

    from citeconnect_datapipeline_spark.session import get_spark

    cores = host_cores()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.start(spark)
        if warm is not wl:
            warm.start(spark)
        tracer = Tracer(spark.sparkContext)
        caller = Caller(spark, tracer)
        t0 = time.perf_counter()
        for _ in range(wl.warm_runs):
            warm.restore()
            warm.iteration(caller, warm=True)
        warm_s = time.perf_counter() - t0
        caller.attempted = caller.failed = 0

        readout = SparkReadout(spark) if trace else None
        walls, traced_walls, publish, probe_s, layers = [], [], [], [], []
        check_failures = 0
        rss = PeakRss()
        rss.reset()
        loop_start = time.perf_counter()
        i = 0
        while (
            time.perf_counter() - loop_start < seconds
            or not walls
            or (trace and not traced_walls)
        ):
            traced = trace and i % 2 == 1
            i += 1
            wl.restore()
            settle(spark)
            tracer.enabled = traced
            tracer.run_id = i
            try:
                with instrument(tracer) if traced else nullcontext():
                    t0 = time.perf_counter()
                    out = wl.iteration(caller)
                    wall = time.perf_counter() - t0
                rss.read()
            except CallFailed:
                if caller.failed >= MAX_FAILED:
                    break
                continue
            finally:
                tracer.enabled = False
            if traced:
                traced_walls.append(wall)
                layers.append(layer_metrics(tracer, readout, wl, out, wall))
            else:
                walls.append(wall)
                publish.append(out["publish_s"])
                probe_s += out.get("probe_s", [])
            fails = wl.check(out)
            for f in fails:
                print(f"check failed: {f}", file=sys.stderr)
            check_failures += len(fails)
        if not walls or (trace and not traced_walls):
            raise RuntimeError(f"{caller.failed} calls failed; no result")
        info = {
            "workload": workload,
            "seed": seed,
            "cores": cores,
            "spark_version": pyspark.__version__,
            "loop": "closed, 1 client",
            "inputs": sizes,
            "iteration_s": walls,
            "traced_iterations": len(traced_walls),
            "check_failures": check_failures,
        }
        if probe_s:
            info["probes"] = len(probe_s)
            info["probe_p50_ms"] = percentile(probe_s, 0.5) * 1e3
            info["probe_p90_ms"] = percentile(probe_s, 0.9) * 1e3
        if trace:
            metrics = {
                k: statistics.median(l[k] for l in layers) for k in PER_LAYER
            }
            metrics["session.start_s"] = start_s
            metrics["session.warm_s"] = warm_s
            metrics["trace.overhead_s"] = statistics.median(
                traced_walls
            ) - statistics.median(walls)
            if probe_s:
                metrics["similarity.probe_p50_ms"] = info["probe_p50_ms"]
                metrics["similarity.probe_p90_ms"] = info["probe_p90_ms"]
            tracer.dump(
                os.path.join(WORK, f"trace-{workload}-{seed}.json"), info
            )
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": start_s + warm_s,
                "run_s": statistics.median(walls),
                "publish_s": statistics.median(publish),
                "peak_rss_mb": rss.peak / 2**20,
            }
            units = END_TO_END
        print(json.dumps({"info": info}))
        return {
            "correct": caller.failed == 0 and check_failures == 0,
            "attempted": caller.attempted,
            "failed": caller.failed,
            "metrics": {
                k: {"value": v, "unit": units[k]} for k, v in metrics.items()
            },
        }
    finally:
        stop_session(spark)
        rmtree(wl.work, warm.work)


def settle(spark) -> None:
    """Collect garbage on both sides so every iteration starts from the
    same heap state (untimed)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
