"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process, one client thread, one
SparkSession on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may use).  Phases:

1. session start (imports plus ``session.get_spark``), once;
2. set-up, three times: seeded fixture generation and source
   registration (``setup_s`` = session start + median set-up);
3. untimed warm-up, which is also the output check for the catalog
   workloads;
4. the timed phase: a fixed, seeded list of operations whose length is
   ``--seconds`` times the workload's planning rate, rounded to whole
   rounds or passes (at least one); with ``--trace 1`` the list runs once untraced and
   once traced, and per-layer metrics come from the traced pass;
5. an untimed check of the timed operations' answers.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records
the run's settings and versions.  Spans of a traced run are written to
``.perfbench_work/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time

import measure
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
LAYERS = ("op", "context", "sources", "queries", "engine", "cache", "sinks")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("dashboard", "pipeline", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Everything the session and its Python workers write stays under
    ``work``; workers import the package from the repo root whatever
    the working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # The program's own default heap (16g) lets G1 grow the heap at will:
    # peak RSS of a pipeline run then read 4.5-11.2 GB over five seeds
    # (interquartile range 1.05 of the median) on a 4-core, 15 GB box.
    # A 2g cap keeps the run's memory bounded and peak_rss_mb steady.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _start_session(work: str):
    from exosql_spark import catalog, get_spark

    catalog.all_queries()
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file under /tmp; temp files under the run directory
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )


def _install_probes(wl) -> None:
    """Traced runs time ``resolve_source`` per spec kind by wrapping the
    name ``context.py`` calls it through; spans go to the workload's
    current tracer."""
    from exosql_spark import context

    resolve = context.resolve_source

    def traced(spark, spec):
        kind = next((k for k in ("csv", "jsonl", "parquet", "http") if k in spec), "other")
        with wl.tr.span(f"sources.resolve.{kind}"):
            return resolve(spark, spec)

    context.resolve_source = traced


def _shutdown(spark) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait
    for the JVM and every Python worker it started."""
    from pyspark import SparkContext

    procs = measure.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if procs:
            time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _timed(wl, ops, tracer, spark):
    """Run ``ops`` in a closed loop.  Returns per-op results, latencies
    (s) and the phase wall time (s).  With tracing on, each op runs
    under its own job groups and its engine counters are read after
    its root span closes (inside the phase time, outside the op's)."""
    sc = spark.sparkContext
    results, lat = [], []
    t_phase = time.perf_counter()
    for op in ops:
        if tracer.enabled:
            sc.setJobGroup(f"pb-{op.idx}-act", op.kind)
        t0 = time.perf_counter()
        with tracer.op_span(op.kind):
            res = workloads.safe_run(wl, op)
        lat.append(time.perf_counter() - t0)
        results.append(res)
        if tracer.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
            build = measure.engine_counters(spark, f"pb-{op.idx}-build")
            act = measure.engine_counters(spark, f"pb-{op.idx}-act")
            tracer.count("queries.build_jobs", build.pop("engine.jobs"))
            for k, v in list(build.items()) + list(act.items()):
                tracer.count(k, v)
            tracer.count("result.rows", res.n_rows)
    return results, lat, time.perf_counter() - t_phase


def _layer_metrics(wl, ops, lat, tracer, setup_tracer, extra) -> dict[str, tuple[float, str]]:
    mean = measure.mean
    n = len(ops)
    per_op = tracer.counters

    def total(name):
        return sum(c.get(name, 0.0) for c in per_op)

    def span_mean(name, *tracers):
        return mean([d for t in tracers for d in t.durations_ms(name)])

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (extra["session_start_s"], "s")
    m["session.warmup_s"] = (extra["warmup_s"], "s")
    m["context.prepare_ms"] = (span_mean("context.prepare", setup_tracer), "ms")
    m["context.run_ms"] = (span_mean("context.run", tracer), "ms")
    m["context.cold_prepare_ms"] = (span_mean("context.cold_prepare", tracer), "ms")
    for k in ("csv", "jsonl", "parquet", "http"):
        m[f"sources.resolve_ms.{k}"] = (span_mean(f"sources.resolve.{k}", setup_tracer, tracer), "ms")
    api = [l for op, l in zip(ops, lat) if op.kind == "api"]
    m["sources.http_op_ms"] = (mean(api) * 1000.0, "ms")
    rows = total("result.rows")
    m["io.input_bytes"] = (total("io.input_bytes") / n, "bytes")
    m["io.input_bytes_per_row"] = (total("io.input_bytes") / rows if rows else 0.0, "bytes/row")
    m["queries.build_ms"] = (span_mean("queries.build", tracer), "ms")
    m["queries.build_jobs"] = (total("queries.build_jobs") / n, "count")
    m["engine.plan_ms"] = (span_mean("engine.plan", tracer), "ms")
    m["engine.action_ms"] = (span_mean("engine.action", tracer), "ms")
    for k, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("failed_tasks", "count"),
        ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ):
        m[f"engine.{k}"] = (total(f"engine.{k}") / n, unit)
    run_ms = total("engine.executor_run_ms")
    m["engine.useful_work_ratio"] = (total("engine.executor_cpu_ms") / run_ms if run_ms else 0.0, "ratio")
    is_pipeline = wl.name == "pipeline"
    build_ms = sum(tracer.durations_ms("queries.build"))
    m["operators.jobs_per_op"] = (
        (total("queries.build_jobs") + total("engine.jobs")) / n if is_pipeline else 0.0, "count"
    )
    m["operators.build_share"] = (build_ms / (sum(lat) * 1000.0) if is_pipeline else 0.0, "ratio")
    m["cache.live_frames"] = (total("cache.live_frames") / n, "count")
    m["cache.released"] = (total("cache.released") / n, "count")
    m["cache.release_ms"] = (span_mean("cache.release", tracer), "ms")
    m["cache.storage_mb"] = (total("cache.storage_mb") / n, "MB")
    written = total("sinks.rows")
    writes = len(tracer.durations_ms("sinks.write"))
    m["sinks.write_ms"] = (span_mean("sinks.write", tracer), "ms")
    m["sinks.bytes_per_row"] = (total("sinks.bytes") / written if written else 0.0, "bytes/row")
    m["sinks.files_written"] = (total("sinks.files_written") / writes if writes else 0.0, "count")
    per_layer, roots = tracer.layer_self_ms()
    for layer in LAYERS:
        m[f"self_ms.{layer}"] = (per_layer.get(layer, 0.0) / n, "ms")
    root_cover, attributed = measure.attribution(per_layer, roots, sum(lat) * 1000.0)
    m["trace.root_cover_frac"] = (root_cover, "ratio")
    m["trace.attributed_frac"] = (attributed, "ratio")
    m["trace.untraced_ops_s"] = (extra["untraced_ops_s"], "1/s")
    m["trace.traced_ops_s"] = (extra["traced_ops_s"], "1/s")
    m["trace.overhead_frac"] = (extra["overhead_frac"], "ratio")
    m["run.failed_frac"] = (extra["failed_frac"], "frac")
    return m


def end_to_end(setup_s, ops_s, lat_s, attempted, failed, peak_bytes) -> dict[str, tuple[float, str]]:
    ms = [x * 1000.0 for x in lat_s]
    return {
        "setup_s": (setup_s, "s"),
        "throughput_ops_s": (ops_s, "1/s"),
        "latency_p50_ms": (statistics.median(ms), "ms"),
        "latency_tail_ms": (measure.tail_value(ms), "ms"),
        "ok_frac": ((attempted - failed) / attempted, "frac"),
        "peak_rss_mb": (peak_bytes / 1e6, "MB"),
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "exosql_spark", "__init__.py")):
        print(f"perfbench: no exosql_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    _environment(work)
    t0 = time.perf_counter()
    spark = _start_session(work)
    session_start_s = time.perf_counter() - t0
    try:
        return _run(args, spark, work, base, session_start_s)
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spark, work, base, session_start_s) -> int:
    setup_tracer = measure.Tracer(enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, setup_tracer)
    if args.trace:
        _install_probes(wl)
    reps = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup(rep)
        reps.append(time.perf_counter() - t)
    setup_s = session_start_s + statistics.median(reps)

    quiet = measure.Tracer(enabled=False)
    wl.tr = quiet
    t = time.perf_counter()
    warm_bad = wl.warmup_and_check()
    warmup_s = time.perf_counter() - t
    for k, why in warm_bad.items():
        print(f"perfbench: check failed: {k}: {why}", file=sys.stderr)

    n_units = max(1, round(args.seconds * wl.planned_ops_s / wl.unit_ops))
    ops = wl.plan(n_units, "timed")
    sampler = measure.RssSampler()
    sampler.start()
    results, lat, wall = _timed(wl, ops, quiet, spark)
    peak = sampler.stop()
    untraced_ops_s = len(ops) / wall

    if args.trace:
        tracer = measure.Tracer(enabled=True)
        wl.tr = tracer
        t_results, t_lat, t_wall = _timed(wl, ops, tracer, spark)
        traced_ops_s = len(ops) / t_wall
        results, lat = results + t_results, lat + t_lat
        ops_checked = ops + ops
    else:
        ops_checked = ops

    bad = wl.check_timed(ops_checked, results)
    for op, why in bad:
        print(f"perfbench: op {op.idx} ({op.kind}) failed: {why}", file=sys.stderr)
    attempted = len(ops_checked)
    failed = len(bad)
    n = len(ops)

    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": workloads.SF, "ops": n,
        "tail_percentile": measure.tail_percentile(n),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "setup_reps_s": reps, "warmup_s": warmup_s,
        "op_ms": [[op.kind, round(x * 1000.0, 1)] for op, x in zip(ops, lat)],
        "warmup_failures": warm_bad,
    }
    if args.trace:
        extra = {
            "session_start_s": session_start_s, "warmup_s": warmup_s,
            "untraced_ops_s": untraced_ops_s, "traced_ops_s": traced_ops_s,
            "overhead_frac": measure.overhead_frac(untraced_ops_s, traced_ops_s),
            "failed_frac": failed / attempted,
        }
        metrics = _layer_metrics(wl, ops, t_lat, tracer, setup_tracer, extra)
        os.makedirs(base, exist_ok=True)
        with open(os.path.join(base, f"trace-{args.workload}-s{args.seed}.json"), "w") as fh:
            json.dump({"info": info, "setup_spans": setup_tracer.dump(),
                       "spans": tracer.dump(), "counters": tracer.counters}, fh)
    else:
        metrics = end_to_end(setup_s, untraced_ops_s, lat, attempted, failed, peak)
    for name in metrics:
        if not measure.METRIC_NAME.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
