"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the inputs on first use (under
``.bench_work/data/``, reused by later runs), starts the engine in this
process (one client, Spark ``local[<cores>]``), warms it with a fixed
number of operations, runs a fixed number of the workload's loops (from
``--seconds``), checks every result, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's layer boundaries
in spans, turns on the Spark event log, and reports the per-layer metrics
(spans land in ``.bench_out/``). Workloads, metrics and the layer map are
described in ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STREAM_PHASES = ("triggerExecution", "latestOffset", "getBatch", "queryPlanning",
                 "addBatch", "walCommit", "commitOffsets")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="scale factor override (the self-test runs sf0.001)")
    p.add_argument("--wrong-expected", action="store_true",
                   help="make the first check compare against a wrong result")
    return p.parse_args(argv)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _by_type(ops) -> dict[str, list]:
    out: dict[str, list] = {}
    for o in ops:
        out.setdefault(o.type, []).append(o)
    return out


def _typical_ms(ops, attr: str) -> float:
    """Each operation type's median, then the geometric mean over types
    (the types differ several-fold in cost), in ms."""
    medians = [_median(getattr(o, attr) for o in group) for group in _by_type(ops).values()]
    return statistics.geometric_mean(medians) * 1000.0


def end_to_end(run, setup_s: float, rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_ms": _typical_ms(run.ops, "wall"),
        "op_cpu_ms": _typical_ms(run.ops, "cpu"),
        "peak_rss_mb": rss_mb,
    }


def _drift(ops) -> float:
    """Per type, the second half's median over the first half's, minus 1;
    the type that drifted most, with its sign."""
    worst = 0.0
    for group in _by_type(ops).values():
        half = len(group) // 2
        if half == 0:
            continue
        d = _median(o.wall for o in group[-half:]) / _median(o.wall for o in group[:half]) - 1
        worst = d if abs(d) > abs(worst) else worst
    return worst


def per_layer(run, e2e: dict, all_types: list[str]) -> dict[str, float]:
    from biglake_iceberg_python_spark.plans.eventlog import parse_event_log
    from harness import cores
    from spans import LAYERS, execution_metrics, jobs_between
    from workloads import ANALYTIC_QUERIES

    loops = run.loops
    ops = run.ops
    by_type = _by_type(ops)
    queries = [o for o in ops if o.type in run.registry]
    secs, calls = run.tracer.totals(run.window_start, run.window_end)
    selfs = run.tracer.self_times(run.window_start, run.window_end)
    log = os.path.join(run.event_log_dir, os.listdir(run.event_log_dir)[0])
    jobs = parse_event_log(log)

    def build_jobs(o) -> int:
        return jobs_between(jobs, o.start, o.start + o.build)

    def op_jobs(o) -> int:
        return jobs_between(jobs, o.start, o.end)

    def per_loop(v: float) -> float:
        return v / loops

    def med(kind: str, f) -> float:
        return _median(f(o) for o in by_type.get(kind, []))

    def total(kind: str, f) -> float:
        return per_loop(sum(f(o) for o in by_type.get(kind, [])))

    m: dict[str, float] = {
        "session.build_s": run.setup["session.build_s"],
        "registry.load_s": run.setup["registry.load_s"],
        "setup.warm_s": run.setup["setup.warm_s"],
        "sources.load_table_calls": per_loop(calls.get("sources.load_table", 0)),
        "sources.load_table_ms": per_loop(secs.get("sources.load_table", 0.0)) * 1000,
        "operators.build_ms": per_loop(sum(o.build for o in queries)) * 1000,
        "operators.build_jobs": per_loop(sum(build_jobs(o) for o in queries)),
        "exec.collect_ms": per_loop(sum(o.wall - o.build for o in queries)) * 1000,
    }
    for q in ANALYTIC_QUERIES:
        m[f"analytic.{q}.build_ms"] = med(q, lambda o: o.build) * 1000
        m[f"analytic.{q}.exec_ms"] = med(q, lambda o: o.wall - o.build) * 1000
        m[f"analytic.{q}.build_jobs"] = med(q, build_jobs)
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = per_loop(sum(o.extra.get(phase, 0.0) for o in ops))
    m["catalyst.codegen_compiles"] = per_loop(sum(o.extra["codegen_compiles"] for o in ops))

    for k, v in execution_metrics(log, jobs, ops, cores()).items():
        keep = k in ("execution.max_task_s", "execution.core_utilization")
        m[k] = v if keep else per_loop(v)

    ingest_s = secs.get("catalog.ingest_parquet", 0.0)
    ingest_rows = run.ingest_rows * calls.get("catalog.ingest_parquet", 0)
    m.update(
        {
            "catalog.ddl_ms": per_loop(secs.get("catalog.create_namespace", 0.0)
                                       + secs.get("catalog.create_table", 0.0)) * 1000,
            "catalog.ingest_ms": per_loop(ingest_s) * 1000,
            "catalog.ingest_rows_per_s": ingest_rows / ingest_s if ingest_s else 0.0,
            "snapshots.write_ms": total("append", lambda o: o.wall) * 1000,
            "snapshots.write_jobs": total("append", op_jobs),
        }
    )
    for k in ("log_bytes", "log_bytes_written_per_commit", "data_files_per_commit",
              "stored_bytes_per_user_byte"):
        m[f"snapshots.{k}"] = _median(s[k] for s in run.shape)
    m.update(
        {
            "snapshots.read_build_ms": med("count", lambda o: o.build) * 1000,
            "snapshots.count_ms": med("count", lambda o: o.wall) * 1000,
            "snapshots.time_travel_ms": med("time_travel", lambda o: o.wall) * 1000,
            "snapshots.metadata_count_ms": med("metadata_count", lambda o: o.wall) * 1000,
            "snapshots.cow_rewrite_ms": med("cow_delete", lambda o: o.wall) * 1000,
        }
    )

    # Micro-batches run on the stream's own thread, outside the caller's
    # job group (statusTracker().getJobIdsForGroup sees none of them), so
    # batch and row counts come from each replay's recentProgress.
    replays = [o for o in ops if "progress" in o.extra]
    batches = [b for o in replays for b in o.extra["progress"]]
    m["stream.batches"] = per_loop(len(batches))
    m["stream.input_rows"] = per_loop(sum(b[0] for b in batches))
    for k in STREAM_PHASES:
        m[f"stream.{k}_ms"] = per_loop(sum(b[1].get(k, 0) for b in batches))
    m["stream.outside_trigger_ms"] = per_loop(
        sum(o.build for o in replays) * 1000
        - sum(b[1].get("triggerExecution", 0) for b in batches)
    )
    m["state.rows_total"] = max((b[2] for b in batches), default=0)
    m["state.memory_used_bytes"] = max((b[3] for b in batches), default=0)

    m["jvm.jit_ms"] = _mean(o.extra["jit_ms"] for o in ops)
    m["jvm.gc_ms"] = _mean(o.extra["gc_ms"] for o in ops)
    m["host.steal_share"] = run.steal
    m["window.drift"] = _drift(ops)
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = per_loop(selfs.get(layer, 0.0)) * 1000
    for t in all_types:
        group = by_type.get(t, [])
        m[f"ops.{t}.n"] = len(group)
        m[f"ops.{t}.max_ms"] = max((o.wall for o in group), default=0.0) * 1000
    m["failed_ratio"] = run.failed / max(1, run.attempted)
    for k, v in e2e.items():
        m[f"traced.{k}"] = v
    return m


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _with_units(metrics: dict, kind: str) -> dict:
    """The metrics named in BENCHMARK.json under ``kind``, in its order,
    each with its unit. A metric the run did not produce is an error."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)[kind]
    out = {}
    for m in spec:
        v = metrics[m["name"]]
        if not math.isfinite(v):
            raise ValueError(f"{m['name']} is not finite: {v}")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    from harness import process_start_epoch

    t_proc = process_start_epoch()
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import biglake_iceberg_python_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not in this checkout: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        run, metrics = _measure(args, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} loops={run.loops} "
          f"window_s={run.window_end - run.window_start:.1f}")
    for t, group in _by_type(run.ops).items():
        walls = [o.wall * 1000 for o in group]
        print(f"# {t}: n={len(group)} median_ms={_median(walls):.1f} max_ms={max(walls):.1f} "
              f"cpu_median_ms={_median(o.cpu * 1000 for o in group):.1f}")
    for what in run.failures:
        print(f"# FAILED check: {what}")
    kind = "per_layer" if args.trace else "end_to_end"
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": _with_units(metrics, kind),
    }))
    return 0


def _measure(args, work: str, t_proc: float):
    """Run the workload in this process, stop every process it started,
    and return the run and its metrics."""
    import datagen
    from harness import Run, cores, peak_rss_mb
    from workloads import WORKLOADS, loops_for

    body, default_sf, loop_s, _ = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else default_sf
    t = time.perf_counter()
    sf_dir = datagen.cached(os.path.join(ROOT, ".bench_work", "data"), sf)
    data_s = time.perf_counter() - t

    os.makedirs(os.path.join(work, "tmp"))
    # Every temporary file of the engine (stream staging, checkpoints,
    # scratch tables) lands inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    import tempfile

    tempfile.tempdir = None

    run = Run(work, bool(args.trace), args.seed, args.wrong_expected)
    try:
        run.start()
        if run.trace:
            from spans import Tracer, install

            run.tracer = Tracer()
            install(run.tracer, run.registry)
        body(run, sf_dir, loops_for(args.seconds, loop_s))
        setup_s = run.window_start - t_proc - data_s
        e2e = end_to_end(run, setup_s, peak_rss_mb())
    finally:
        run.stop()
    if not run.trace:
        return run, e2e
    all_types = [t for w in WORKLOADS.values() for t in w[3]]
    metrics = per_layer(run, e2e, all_types)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    run.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    return run, metrics


if __name__ == "__main__":
    raise SystemExit(main())
