"""Deterministic per-query cost profile: jobs / stages / tasks.

Wall-clock at small SF is dominated by per-action scheduling overhead,
which varies severalfold across rounds on shared hosts (see bench.py's
``action_overhead_ms`` calibration) — so "is this query cheaper than
yesterday" is unanswerable from wall times alone. Job, stage, and task
counts are noise-free: a rewrite that cuts actions or stages shows up
here exactly, every run. Use this when tuning; use bench.py only for
the headline wall numbers.

Run: ``python tools/job_profile.py [name ...]`` (default: a curated
set of multi-action queries). The session runs ``local[N]`` with N
shuffle partitions, N = ``$SPARK_GRAFT_CPUS`` (the variable bench.py
sizes its session by; default here: the host's core count), so job,
stage and task counts match the sessions they are compared against.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

DEFAULT = [
    "rfm_segmentation",
    "spearman_spend_balance",
    "ks_drift_acctbal",
    "doc_length_deciles",
    "score_calibration_deciles",
    "orders_global_index",
    "token_batch_packing",
    "winnowing_fingerprint_pairs",
]


def profile(spark, fn, name: str) -> dict:
    sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup(name, name)
    t0 = time.perf_counter()
    fn(spark, SF).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    jids = tracker.getJobIdsForGroup(name)
    stages = []
    for j in jids:
        info = tracker.getJobInfo(j)
        if info:
            stages.extend(info.stageIds)
    tasks = 0
    for s in set(stages):
        si = tracker.getStageInfo(s)
        if si:
            tasks += si.numTasks
    return {
        "jobs": len(jids),
        "stages": len(set(stages)),
        "tasks": tasks,
        "wall": round(wall, 2),
    }


def main() -> None:
    from parcel_analytics_etl_notebook_spark.plans.catalog import queries
    from parcel_analytics_etl_notebook_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    spark = get_spark(
        app_name="job-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    names = sys.argv[1:] or DEFAULT
    # warmup: codegen + parquet footers
    qs["lifecycle_kpis"](spark, SF).collect()
    for name in names:
        p = profile(spark, qs[name], name)
        print(
            f"{name:38s} jobs={p['jobs']:3d} stages={p['stages']:3d} "
            f"tasks={p['tasks']:5d} wall={p['wall']}s",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
