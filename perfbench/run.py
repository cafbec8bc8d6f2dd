"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` (before any clock starts), sets up a Spark session several
times and reports the median set-up time, makes one untimed warm-up
pass, then runs as many timed passes of the workload as fit in
``--seconds`` (at least one), checking every pass's output after its
clock stops. Times are medians over the timed passes.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
same passes with job tags, Python call sites and an uncompressed event
log on, and prints the per-layer metrics rolled up from that log; it
also writes a per-query/per-pass detail file under ``.perfbench_work/``.
The last line of standard output is always the result object; progress
and failures go to standard error.
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
WORK = os.path.join(ROOT, ".perfbench_work")
#: CPUs a run uses (``local[CORES]``)
CORES = 2
#: set-ups per run; ``setup_s`` is their median
SETUPS = 5


def session(run_dir: str, cores: int, traced: bool):
    from parcel_analytics_etl_notebook_spark.session import get_spark

    # -Xms pins the driver heap at its 1g default maximum: without it,
    # when G1 grows the heap decides peak RSS, which then spread 10-16%
    # over seeds; with it, 1-2%
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp -Xms1g",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
        })
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="perfbench")
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import parcel_analytics_etl_notebook_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        parser.error(f"--workload must be one of {sorted(WORKLOADS)}")
    # The run pins itself, and so the JVM and Python workers it starts,
    # to CORES of its CPUs. On a shared 4-vCPU host, catalog pass walls
    # on all four spread about 45% between back-to-back runs, on two
    # pinned ones about 15%, on one 1% (at twice the wall): a job's
    # threads wake each other across vCPUs, and every vCPU the host
    # deschedules stalls the hand-off.
    cpus = sorted(os.sched_getaffinity(0))[:CORES]
    os.sched_setaffinity(0, cpus)
    cores = len(cpus)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # Spark and Python temp files stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    traced = bool(args.trace)
    try:
        workload = WORKLOADS[args.workload](run_dir, os.path.join(WORK, "cache"), args.seed)
        workload.prepare()

        tracer = trace.Tracer(tagging=traced)
        if traced:
            trace.install_call_sites()
            from parcel_analytics_etl_notebook_spark.plans import curation_run, parcel_run

            for fn in ("write_parquet", "write_csv_audit"):
                tracer.wrap(parcel_run, fn, "write")
            for fn in ("dq_checkpoint", "dq_checkpoint_observed"):
                tracer.wrap(parcel_run, fn, "dq")
            tracer.wrap(curation_run, "write_parquet", "write")

        setups = []
        spark = warm = None
        try:
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = session(run_dir, cores, traced)
                t1 = time.perf_counter()
                tracer.attach(spark)
                workload.warmup(spark, tracer)
                setups.append((t1 - t0, time.perf_counter() - t1))
                if warm is None:
                    # A cold first pass ran 1.4-1.8x slower than warm
                    # ones and spread far more over seeds, so one pass
                    # is checked but not timed. It runs before the
                    # session restarts, which then set up in a warm JVM
                    # as the first set-up (the JVM start) does not.
                    warm = workload.run_pass(spark, tracer, "warm")
                    _log(warm)
            print(f"perfbench: setups_s {[(round(a, 3), round(b, 3)) for a, b in setups]}", file=sys.stderr)

            # timed passes fill the --seconds window: another pass starts
            # only if one as long as the last still ends inside it
            passes = []
            deadline = time.perf_counter() + args.seconds
            while True:
                t0 = time.perf_counter()
                passes.append(workload.run_pass(spark, tracer, str(len(passes))))
                _log(passes[-1])
                now = time.perf_counter()
                if now + (now - t0) > deadline:
                    break
            app_id = spark.sparkContext.applicationId
        finally:
            if spark is not None:
                _stop_jvm(spark)

        walls = [p.span.seconds for p in passes]
        if traced:
            events = trace.load_event_log(os.path.join(run_dir, "eventlog"), app_id)
            rows = []
            for p in passes:
                row = trace.rollup(events, tracer.spans, p.span, cores)
                # a catalog pass publishes result bytes, not files
                row["sources.write_bytes"] = p.out_bytes if p.out_files else 0
                row["sources.write_files"] = p.out_files
                row["spark.persisted_rdds_after"] = p.persisted_rdds
                rows.append(row)
            values = trace.median_metrics(rows)
            values["session.start_s"] = statistics.median(s for s, _ in setups)
            values["session.warmup_s"] = statistics.median(w for _, w in setups)
            values["trace.wall_s"] = statistics.median(walls)
            _write_detail(args, passes, rows, trace.jobs_of(events))
            units = PER_LAYER_UNITS
        else:
            values = {
                "setup_s": statistics.median(s + w for s, w in setups),
                "wall_s": statistics.median(walls),
                # each operation's median over the passes, so a stall
                # in one pass moves only its own sample
                "query_gmean_s": statistics.geometric_mean(
                    statistics.median(op) for op in zip(*(p.latencies for p in passes))
                ),
                "peak_rss_mb": max(p.peak_rss_mb for p in passes),
                "out_bytes_per_in_byte": statistics.median(
                    p.out_bytes / p.in_bytes for p in passes
                ),
            }
            units = END_TO_END_UNITS
        attempted = warm.attempted + sum(p.attempted for p in passes)
        failed = warm.failed + sum(p.failed for p in passes)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _log(p) -> None:
    print("perfbench: " + json.dumps({
        "pass": p.span.name, "wall_s": round(p.span.seconds, 3),
        "ops_s": [round(x, 3) for x in p.latencies],
        "ops": [q["query"] for q in p.detail],
    }), file=sys.stderr)


def _stop_jvm(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: the
    JVM exits when its standard input closes, and takes PySpark's
    Python workers with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "query_gmean_s": "s",
    "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_tasks": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_executor_s": "s",
    "sources.write_s": "s",
    "sources.write_bytes": "bytes",
    "sources.write_files": "count",
    "plans.build_s": "s",
    "plans.probe_jobs": "count",
    "plans.action_s": "s",
    "plans.memo_s": "s",
    "plans.memo_jobs": "count",
    "plans.dq_s": "s",
    "operators.jobs": "count",
    "operators.executor_s": "s",
    "operators.graph.jobs": "count",
    "operators.indexing.jobs": "count",
    "operators.dedup_fuzzy.jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.per_job_gap_ms": "ms",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.persisted_rdds_after": "count",
    "spark.unattributed_jobs": "count",
    "trace.wall_s": "s",
}


def _write_detail(args, passes, rows, jobs) -> None:
    """Per-pass roll-ups and, for the catalog, per-query rows with the
    query's job count and the probe jobs issued while building it."""
    from perfbench.trace import TAG

    for p in passes:
        pass_jobs = [j for j in jobs.values() if f"{TAG}{p.span.name}" in j.tags]
        for q in p.detail:
            mine = [j for j in pass_jobs if f"{TAG}q:{q['query']}" in j.tags]
            q["jobs"] = len(mine)
            q["probe_jobs"] = sum(1 for j in mine if f"{TAG}build" in j.tags)
    os.makedirs(os.path.join(WORK, "detail"), exist_ok=True)
    path = os.path.join(WORK, "detail", f"{args.workload}-seed{args.seed}-trace.json")
    with open(path, "w") as fh:
        json.dump(
            [{"wall_s": p.span.seconds, "layers": r, "queries": p.detail}
             for p, r in zip(passes, rows)],
            fh, indent=1,
        )
    print(f"perfbench: trace detail in {path}", file=sys.stderr)


if __name__ == "__main__":
    raise SystemExit(main())
