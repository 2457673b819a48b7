"""Pipeline benchmark for smart_data_lake_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--scale bench|smoke]

Runs one workload (see BENCHMARK.json and perfbench/README.md) on one local
Spark session: builds the session, warms it, generates the inputs from the
seed and sets up the storage (several times; `setup_s` reports the median
set-up plus session build and warm-up), then repeats the workload in a
closed loop with one client until `--seconds` have passed, checks the
outputs against DuckDB references outside the timed region, and prints one
JSON object as the last line of stdout.

With `--trace 0` the metrics are the end-to-end ones. With `--trace 1`
every other repetition runs with the layer entry points wrapped, and the
metrics are the per-layer ones (medians over the traced repetitions), plus
the tracing overhead. Spans are written to .perfbench/traces/.

Exits non-zero without a result if the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SCALES = {
    "bench": {"medallion_sf": 0.02, "scd2_sf": 0.05, "queries_sf": 0.01},
    "smoke": {"medallion_sf": 0.001, "scd2_sf": 0.001, "queries_sf": 0.001},
}

INITIAL_HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "rows_per_s": "rows/s",
    "ms_per_action": "ms",
    "write_amplification": "ratio",
    "correct_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    from workloads import QUERIES

    units = {
        "session.build_s": "s",
        "session.warmup_s": "s",
        "session.load_s": "s",
        "session.peak_rss_mb": "MB",
        "config.load_s": "s",
        "plans.select_s": "s",
        "plans.prepare_s": "s",
        "plans.init_s": "s",
        "plans.exec_s": "s",
        "plans.state_saves": "count",
        "plans.state_save_s": "s",
        "plans.state_bytes": "bytes",
        "plans.spark_idle_s": "s",
        "plans.critical_path_s": "s",
        "plans.critical_path_actions": "count",
        "actions.copy.exec_s": "s",
        "actions.historize.exec_s": "s",
        "actions.deduplicate.exec_s": "s",
        "actions.custom.exec_s": "s",
        "actions.exec_calls": "count",
        "execution_modes.apply_s": "s",
        "execution_modes.partitions_selected": "count",
        "dataobjects.list_partitions_s": "s",
        "dataobjects.merge_s": "s",
        "dataobjects.read_s": "s",
        "dataobjects.write_s": "s",
        "dataobjects.plan_s": "s",
        "dataobjects.bytes_written": "bytes",
        "dataobjects.files_written": "count",
        "expectations.s": "s",
    }
    units.update({f"functions.{q}_s": "s" for q in QUERIES})
    units.update({f"{layer}.self_s": "s" for layer in
                  ("config", "plans", "actions", "execution_modes", "dataobjects", "expectations", "functions")})
    units.update({
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.executor_run_s": "s",
        "spark.input_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.output_bytes": "bytes",
        "trace.run_s": "s",
        "trace.untraced_run_s": "s",
        "trace.overhead_s": "s",
    })
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="bench")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package (they do not inherit sys.path)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
    )
    # start the driver JVM with its heap already sized: grown on demand,
    # the first minutes of a run measure G1 resizing the heap, a cost that
    # differs from run to run (spark-submit passes these to the driver JVM)
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), f"-Xms{INITIAL_HEAP}") if p
    )
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    sys.path[:0] = [ROOT, HERE]
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import smart_data_lake_spark  # noqa: F401
        from smart_data_lake_spark.session import build_session, release_persistent_rdds
        from workloads import WORKLOADS, Ctx
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    import measure
    import spans as tr

    prepare_env(work)
    nproc = len(os.sched_getaffinity(0))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(
            app_name=f"perfbench_{args.workload}",
            master=f"local[{nproc}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.local.dir": os.path.join(work, "tmp"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        build_s = time.perf_counter() - t0
        ctx = Ctx(spark, work, args.seed, SCALES[args.scale], parallelism=nproc)
        wl = WORKLOADS[args.workload](ctx)

        setups = []
        for _ in range(wl.setup_repeats):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.load()
        load_s = time.perf_counter() - t0
        # the first repetitions run cold (JIT, codegen, class loading, ICU
        # tables, Python workers, streaming init); they are part of warming
        # up, not of the measurement
        t0 = time.perf_counter()
        for _ in range(wl.warm_reps):
            wl.before_rep()
            wl.rep()
            release_persistent_rdds(spark)
        warm_s = time.perf_counter() - t0
        setup_s = build_s + statistics.median(setups) + load_s + warm_s

        tracer = tr.Tracer() if args.trace else None
        reps: list[dict] = []
        seen_jobs = set(measure.job_ids(spark, [None]))
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline or len(reps) < wl.min_reps + args.trace:
            i = len(reps)
            traced = tracer is not None and i % 2 == 1
            wl.before_rep()
            group = f"perfbench-rep{i}"
            spark.sparkContext.setJobGroup(group, f"{args.workload} repetition {i}")
            before = measure.snapshot(wl.storage())
            measure.reset_peak_rss(spark)
            if traced:
                tracer.rep = i
                tracer.install()
                ctx.tracer = tracer
            t0 = time.perf_counter()
            wl.rep()
            dur = time.perf_counter() - t0
            if traced:
                tracer.uninstall()
                ctx.tracer = None
            rss = measure.peak_rss_mb(spark)
            attempted, failed = wl.outcome()
            written, files = measure.created(before, measure.snapshot(wl.storage()))
            rec = {"rep": i, "traced": traced, "run_s": dur, "attempted": attempted, "failed": failed,
                   "bytes_written": written, "files_written": files, "peak_rss_mb": rss,
                   "query_s": dict(getattr(wl, "query_s", {}))}
            if tracer is not None:
                ids = [j for j in measure.job_ids(spark, [None, group]) if j not in seen_jobs]
                seen_jobs.update(ids)
                rec["spark"], rec["jobs"] = measure.spark_counters(spark, ids)
                rec["edges"] = tracer.dag_edges
            reps.append(rec)
            release_persistent_rdds(spark)

        checks = wl.check()
        for name, ok, detail in checks:
            print(f"check {name}: {'ok' if ok else 'MISMATCH'} ({detail})")
        attempted = sum(r["attempted"] for r in reps)
        failed = sum(r["failed"] for r in reps)
        correct_ratio = sum(ok for _, ok, _ in checks) / len(checks)
        untraced = [r for r in reps if not r["traced"]]
        run_s = statistics.median(r["run_s"] for r in untraced)

        if not args.trace:
            values = {
                "setup_s": setup_s,
                "run_s": run_s,
                "rows_per_s": wl.input_rows / run_s,
                "ms_per_action": 1000.0 * run_s / wl.units,
                "write_amplification": statistics.median(r["bytes_written"] for r in untraced) / wl.input_bytes,
                "correct_ratio": correct_ratio,
            }
            units = END_TO_END
        else:
            values = layer_metrics(reps, tracer, build_s, warm_s)
            values["session.load_s"] = load_s
            units = per_layer_units()
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        print(f"{args.workload}: {len(reps)} repetitions, {attempted} operations, {failed} failed, "
              f"{sum(ok for _, ok, _ in checks)}/{len(checks)} checks ok; repetition times "
              + " ".join(f"{r['run_s']:.3f}{'t' if r['traced'] else ''}" for r in reps))
        for k, v in values.items():
            print(f"  {k} = {v:.6g} {units[k]}")
        result = {
            "correct": correct_ratio == 1.0 and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def layer_metrics(reps: list[dict], tracer, build_s: float, warm_s: float) -> dict[str, float]:
    import spans as tr
    from workloads import QUERIES

    traced = [r for r in reps if r["traced"]]
    per_rep = []
    for r in traced:
        spans = [s for s in tracer.spans if s["rep"] == r["rep"]]
        m = {k: 0.0 for k in per_layer_units()}
        m.update(tr.fold_rep(spans, r["edges"], r["jobs"]))
        m.update(r["spark"])
        m["session.peak_rss_mb"] = r["peak_rss_mb"]
        m["dataobjects.bytes_written"] = r["bytes_written"]
        m["dataobjects.files_written"] = r["files_written"]
        for q in QUERIES:
            m[f"functions.{q}_s"] = r["query_s"].get(q, 0.0)
        per_rep.append(m)
    out = {k: float(statistics.median(m[k] for m in per_rep)) for k in per_rep[0]}
    out["session.build_s"] = build_s
    out["session.warmup_s"] = warm_s
    out["trace.run_s"] = statistics.median(r["run_s"] for r in traced)
    out["trace.untraced_run_s"] = statistics.median(r["run_s"] for r in reps if not r["traced"])
    out["trace.overhead_s"] = out["trace.run_s"] - out["trace.untraced_run_s"]
    return out


if __name__ == "__main__":
    sys.exit(main())
