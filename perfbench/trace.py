"""Spans, job tags and the event-log roll-up of a traced run.

All of it sits outside the engine. The benchmark opens a :class:`Span`
around each call it makes into a layer; in a traced run the span also
adds a SparkContext job tag (``perfbench:<span>``) that every job
started inside it carries, including AQE's asynchronous stage jobs and
plain RDD jobs. :func:`install_call_sites` makes the DataFrame actions
that PySpark does not annotate (``count``, writer saves, checkpoints)
record the engine file and line that issued them, as ``collect`` and
``toPandas`` already do. Spark writes all of it, with per-task metrics,
to an uncompressed event log; :func:`rollup` turns one pass's share of
that log into the per-layer metrics.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import time
import traceback
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG = "perfbench:"

#: engine modules whose jobs are counted per module
OPERATOR_MODULES = ("graph", "indexing", "dedup_fuzzy")


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


@dataclass
class Tracer:
    """Records spans (always; they cost two clock reads) and, when
    ``tagging`` is on, tags the jobs started inside each span."""

    tagging: bool = False
    spans: list[Span] = field(default_factory=list)
    _sc: object = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        s = Span(name, time.time())
        if self.tagging:
            self._sc.addJobTag(TAG + name)
        try:
            yield s
        finally:
            s.t1 = time.time()
            if self.tagging:
                self._sc.removeJobTag(TAG + name)
            self.spans.append(s)

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a wrapper that runs it inside a
        span: how a traced run times calls the engine makes internally
        (its writers and DQ checkpoints) without changing engine code."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        setattr(module, attr, spanned)


# ------------------------------------------------------------ call sites

_PYSPARK_DIR = None


def _user_call_site(action: str) -> str:
    """``"<action> at <file>:<line>"`` for the innermost frame outside
    pyspark and this file (the engine line that issued the action), in
    the form PySpark's own call sites take."""
    for frame in reversed(traceback.extract_stack()[:-1]):
        if frame.filename.startswith(_PYSPARK_DIR) or frame.filename == __file__:
            continue
        return f"{action} at {frame.filename}:{frame.lineno}"
    return action


def install_call_sites() -> None:
    """Make the DataFrame actions that PySpark leaves without a Python
    call site set one, for the rest of the process. Nested calls keep
    the outermost site, like PySpark's own ``SCCallSiteSync``."""
    global _PYSPARK_DIR
    import pyspark
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.traceback_utils import SCCallSiteSync

    _PYSPARK_DIR = os.path.dirname(pyspark.__file__)

    def sited(fn, sc_of):
        @functools.wraps(fn)
        def call(self, *args, **kwargs):
            if SCCallSiteSync._spark_stack_depth:
                return fn(self, *args, **kwargs)
            jsc = sc_of(self)._jsc
            jsc.setCallSite(_user_call_site(fn.__name__))
            SCCallSiteSync._spark_stack_depth += 1
            try:
                return fn(self, *args, **kwargs)
            finally:
                SCCallSiteSync._spark_stack_depth -= 1
                jsc.setCallSite(None)

        return call

    for name in ("count", "isEmpty", "localCheckpoint", "checkpoint"):
        setattr(DataFrame, name, sited(getattr(DataFrame, name), lambda df: df._sc))
    for name in ("save", "parquet", "csv", "json", "orc", "text", "saveAsTable", "insertInto"):
        setattr(
            DataFrameWriter,
            name,
            sited(getattr(DataFrameWriter, name), lambda w: w._spark.sparkContext),
        )


# -------------------------------------------------------------- event log

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)


def load_event_log(log_dir: str, app_id: str) -> list[dict]:
    """The events of application ``app_id`` from Spark's rolling log
    directory ``<log_dir>/eventlog_v2_<app>/events_<n>_<app>``. Only the
    four event kinds the roll-up reads are decoded."""
    files = sorted(
        glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*")),
        key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)),
    )
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    events = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                head = line[:60]
                if any(w in head for w in _WANTED):
                    events.append(json.loads(line))
    return events


@dataclass
class Job:
    id: int
    start_ms: int
    end_ms: int
    tags: frozenset
    call_site: str
    stage_ids: tuple


def jobs_of(events: list[dict]) -> dict[int, Job]:
    ends = {
        e["Job ID"]: e["Completion Time"]
        for e in events
        if e["Event"] == "SparkListenerJobEnd"
    }
    jobs = {}
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        props = e.get("Properties") or {}
        tags = frozenset(t for t in props.get("spark.job.tags", "").split(",") if t)
        site = props.get("callSite.short") or (
            e["Stage Infos"][0]["Stage Name"] if e["Stage Infos"] else ""
        )
        jid = e["Job ID"]
        jobs[jid] = Job(
            jid, e["Submission Time"], ends.get(jid, e["Submission Time"]),
            tags, site, tuple(e["Stage IDs"]),
        )
    return jobs


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _module_of(call_site: str) -> str | None:
    """``operators.graph`` for a call site in ``.../operators/graph.py``."""
    m = re.search(r"[/\\](operators|plans|sources|functions|streaming)[/\\](\w+)\.py:", call_site)
    return f"{m.group(1)}.{m.group(2)}" if m else None


def rollup(
    events: list[dict],
    spans: list[Span],
    pass_span: Span,
    cores: int,
) -> dict[str, float]:
    """Per-layer metrics of one pass.

    ``pass_span`` is the pass's own span: its jobs are the ones tagged
    with it, and the spans inside its interval are its layer spans.
    ``spark.driver_gap_s`` is the pass wall minus the union of its job
    intervals (clipped to the pass), so gap plus busy equals the wall.
    """
    pass_tag = TAG + pass_span.name
    lo_ms, hi_ms = pass_span.t0 * 1000, pass_span.t1 * 1000
    wall = pass_span.seconds
    all_jobs = jobs_of(events)
    jobs = [j for j in all_jobs.values() if pass_tag in j.tags]
    inner = [
        s for s in spans
        if s is not pass_span and s.t0 >= pass_span.t0 and s.t1 <= pass_span.t1
    ]

    def span_s(prefix: str) -> float:
        return sum(s.seconds for s in inner if s.name.startswith(prefix))

    def tagged(prefix: str) -> list[Job]:
        return [j for j in jobs if any(t.startswith(TAG + prefix) for t in j.tags)]

    stage_ids = {sid for j in jobs for sid in j.stage_ids}
    stages = [
        e for e in events
        if e["Event"] == "SparkListenerStageCompleted"
        and e["Stage Info"]["Stage ID"] in stage_ids
    ]
    tasks = [
        e for e in events
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids
    ]

    def metric(t: dict, *path: str) -> float:
        v = t.get("Task Metrics") or {}
        for p in path:
            v = v.get(p, 0) if isinstance(v, dict) else 0
        return v or 0

    run_ms = sum(metric(t, "Executor Run Time") for t in tasks)
    read_by_stage: dict[int, float] = {}
    for t in tasks:
        read_by_stage[t["Stage ID"]] = read_by_stage.get(t["Stage ID"], 0) + metric(
            t, "Input Metrics", "Bytes Read"
        )
    scan_stages = {sid for sid, b in read_by_stage.items() if b > 0}
    scan_tasks = [t for t in tasks if t["Stage ID"] in scan_stages]

    def module_jobs(prefix: str) -> list[Job]:
        return [j for j in jobs if (_module_of(j.call_site) or "").startswith(prefix)]

    op_jobs = module_jobs("operators.")
    op_stage_ids = {sid for j in op_jobs for sid in j.stage_ids}
    busy_ms = _union_ms(
        [(max(j.start_ms, lo_ms), min(j.end_ms, hi_ms)) for j in jobs if j.end_ms > lo_ms]
    )
    in_window = [j for j in all_jobs.values() if lo_ms <= j.start_ms <= hi_ms]
    unattributed = sum(
        1 for j in in_window
        if pass_tag not in j.tags
        or not any(t.startswith(TAG) and t != pass_tag for t in j.tags)
    )
    gap = wall - busy_ms / 1000
    out = {
        "plans.build_s": span_s("build"),
        "plans.probe_jobs": len(tagged("build")),
        "plans.action_s": span_s("action"),
        "plans.memo_s": span_s("memo:"),
        "plans.memo_jobs": len(tagged("memo:")),
        "plans.dq_s": span_s("dq"),
        "sources.scan_tasks": len(scan_tasks),
        "sources.scan_bytes": sum(metric(t, "Input Metrics", "Bytes Read") for t in scan_tasks),
        "sources.scan_executor_s": sum(metric(t, "Executor Run Time") for t in scan_tasks) / 1000,
        "sources.write_s": span_s("write"),
        "operators.jobs": len(op_jobs),
        "operators.executor_s": sum(
            metric(t, "Executor Run Time") for t in tasks if t["Stage ID"] in op_stage_ids
        ) / 1000,
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.job_busy_s": busy_ms / 1000,
        "spark.driver_gap_s": gap,
        "spark.per_job_gap_ms": 1000 * gap / len(jobs) if jobs else 0.0,
        "spark.executor_run_s": run_ms / 1000,
        "spark.executor_cpu_s": sum(metric(t, "Executor CPU Time") for t in tasks) / 1e9,
        "spark.gc_s": sum(metric(t, "JVM GC Time") for t in tasks) / 1000,
        "spark.core_util": run_ms / 1000 / (wall * cores) if wall > 0 else 0.0,
        "spark.shuffle_write_bytes": sum(
            metric(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks
        ),
        "spark.shuffle_read_bytes": sum(
            metric(t, "Shuffle Read Metrics", "Remote Bytes Read")
            + metric(t, "Shuffle Read Metrics", "Local Bytes Read")
            for t in tasks
        ),
        "spark.spill_bytes": sum(
            metric(t, "Memory Bytes Spilled") + metric(t, "Disk Bytes Spilled") for t in tasks
        ),
        "spark.failed_tasks": sum(
            1 for t in tasks
            if t["Task Info"].get("Failed") or t["Task Info"].get("Killed")
        ),
        "spark.unattributed_jobs": unattributed,
    }
    for mod in OPERATOR_MODULES:
        out[f"operators.{mod}.jobs"] = len(module_jobs(f"operators.{mod}"))
    return out


def median_metrics(rows: list[dict[str, float]]) -> dict[str, float]:
    """Key-wise median over passes."""
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
