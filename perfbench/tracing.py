"""Per-layer metrics of a traced run.

Three sources, all read from the benchmark's own files:

* the Spark event log of the traced SparkContext (``read_events``), whose
  jobs, stages, tasks and SQL executions are attributed to ops by the
  op's wall interval (``attribute``), and cross-checked against the job
  group the runner set for the op;
* timers the runner wraps around public entry points (``Wrappers``):
  ``session.read_table`` and ``Context.to_dict``;
* per-op facts the runner records itself (build/terminal split, rows
  collected, persistent RDDs, artifact bytes), passed in on each span.

Each metric is named ``<layer>.<metric>``; ``PER_PASS`` lists them. A pass's
value is the sum over its ops (``shuffle.skew_max_over_median``: the max;
``pins.rdds``: distinct RDD ids), and a run reports the median over its
traced passes.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import time
from dataclasses import dataclass, field

# Task-level SQL metrics, by event-log name.
_TASK_SQL_METRICS = {
    "time to start Python workers": ("arrow.worker_start_s", 1e-3),
    "time to initialize Python workers": ("arrow.worker_init_s", 1e-3),
    "time to run Python workers": ("arrow.python_run_s", 1e-3),
    "data sent to Python workers": ("arrow.bytes_to_python", 1),
    "data returned from Python workers": ("arrow.bytes_from_python", 1),
    "scan time": ("jvm.scan_s", 1e-3),
}

PER_PASS = [
    ("pipeline.build_s", "s"),
    ("pipeline.build_jobs", "count"),
    ("pipeline.terminal_s", "s"),
    ("pipeline.collect_rows", "count"),
    ("session.read_table_calls", "count"),
    ("session.read_table_s", "s"),
    ("context.accumulators", "count"),
    ("context.to_dict_s", "s"),
    ("driver.jobs", "count"),
    ("driver.stages", "count"),
    ("driver.tasks", "count"),
    ("driver.sql_executions", "count"),
    ("driver.job_s", "s"),
    ("driver.gap_s", "s"),
    ("driver.task_failures", "count"),
    ("driver.failed_jobs", "count"),
    ("jvm.executor_run_s", "s"),
    ("jvm.executor_cpu_s", "s"),
    ("jvm.scan_s", "s"),
    ("jvm.input_bytes", "bytes"),
    ("jvm.input_rows", "count"),
    ("jvm.gc_s", "s"),
    ("arrow.worker_start_s", "s"),
    ("arrow.worker_init_s", "s"),
    ("arrow.python_run_s", "s"),
    ("arrow.bytes_to_python", "bytes"),
    ("arrow.bytes_from_python", "bytes"),
    ("shuffle.write_bytes", "bytes"),
    ("shuffle.write_s", "s"),
    ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"),
    ("shuffle.skew_max_over_median", "ratio"),
    ("spill.memory_bytes", "bytes"),
    ("spill.disk_bytes", "bytes"),
    ("pins.rdds", "count"),
    ("pins.leaked", "count"),
    ("artifact.bytes_written", "bytes"),
    ("artifact.records_written", "count"),
    ("artifact.stored_bytes", "bytes"),
    ("artifact.stored_bytes_per_input_byte", "ratio"),
]


@dataclass
class Span:
    """One op call in a traced pass. Times are epoch milliseconds, the
    clock the event log uses."""

    op: str
    pass_no: int
    start_ms: float
    end_ms: float
    build_end_ms: float
    group: str
    facts: dict = field(default_factory=dict)


def read_events(path: str) -> list[dict]:
    """Events of one application's log: a single file, or a rolling-log
    directory of ``events_<n>_*`` files read in order."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        files = [path]
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class _Index:
    """Finds the span whose wall interval holds a timestamp."""

    def __init__(self, spans: list[Span]):
        self.spans = sorted(spans, key=lambda s: s.start_ms)
        self.starts = [s.start_ms for s in self.spans]

    def find(self, t: float) -> Span | None:
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.spans[i].end_ms:
            return self.spans[i]
        return None


def attribute(events: list[dict], spans: list[Span]) -> dict:
    """Attribute event-log work to spans by time. Returns per-span metric
    dicts (keyed by ``id(span)``) and the job-group cross-check counts:
    ``agree`` (the job's group is the span's op), ``ungrouped`` (no group:
    jobs submitted from pool threads, which do not inherit it),
    ``disagree`` and ``unattributed`` (a job outside every span)."""
    idx = _Index(spans)
    per = {id(s): {"_jobs": [], "_rdds": set(), "_skew": 0.0} for s in spans}
    check = {"agree": 0, "ungrouped": 0, "disagree": 0, "unattributed": 0}
    ends = {e["Job ID"]: e for e in events if e["Event"] == "SparkListenerJobEnd"}
    shuffle_reads: dict[int, list[int]] = {}
    stage_span: dict[int, Span] = {}

    def add(m: dict, key: str, v: float) -> None:
        m[key] = m.get(key, 0) + v

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = idx.find(e["Submission Time"])
            if span is None:
                check["unattributed"] += 1
                continue
            m = per[id(span)]
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            check["agree" if group == span.group else "ungrouped" if group is None else "disagree"] += 1
            end = ends.get(e["Job ID"])
            done = end["Completion Time"] if end else span.end_ms
            m["_jobs"].append((e["Submission Time"], done))
            add(m, "driver.jobs", 1)
            if e["Submission Time"] <= span.build_end_ms:
                add(m, "pipeline.build_jobs", 1)
            if end is None or end["Job Result"].get("Result") != "JobSucceeded":
                add(m, "driver.failed_jobs", 1)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            span = idx.find(info.get("Submission Time") or 0)
            if span is None:
                continue
            stage_span[info["Stage ID"]] = span
            m = per[id(span)]
            add(m, "driver.stages", 1)
            for rdd in info.get("RDD Info", []):
                level = rdd.get("Storage Level", {})
                if level.get("Use Memory") or level.get("Use Disk"):
                    m["_rdds"].add(rdd["RDD ID"])
        elif kind == "SparkListenerTaskEnd":
            span = idx.find(e["Task Info"]["Launch Time"])
            if span is None:
                continue
            m = per[id(span)]
            add(m, "driver.tasks", 1)
            if e["Task End Reason"].get("Reason") != "Success":
                add(m, "driver.task_failures", 1)
            tm = e.get("Task Metrics") or {}
            add(m, "jvm.executor_run_s", tm.get("Executor Run Time", 0) / 1e3)
            add(m, "jvm.executor_cpu_s", tm.get("Executor CPU Time", 0) / 1e9)
            add(m, "jvm.gc_s", tm.get("JVM GC Time", 0) / 1e3)
            inp = tm.get("Input Metrics", {})
            add(m, "jvm.input_bytes", inp.get("Bytes Read", 0))
            add(m, "jvm.input_rows", inp.get("Records Read", 0))
            sw = tm.get("Shuffle Write Metrics", {})
            add(m, "shuffle.write_bytes", sw.get("Shuffle Bytes Written", 0))
            add(m, "shuffle.write_s", sw.get("Shuffle Write Time", 0) / 1e9)
            sr = tm.get("Shuffle Read Metrics", {})
            read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            add(m, "shuffle.read_bytes", read)
            add(m, "shuffle.fetch_wait_s", sr.get("Fetch Wait Time", 0) / 1e3)
            if sr.get("Local Blocks Fetched", 0) + sr.get("Remote Blocks Fetched", 0):
                shuffle_reads.setdefault(e["Stage ID"], []).append(read)
            add(m, "spill.memory_bytes", tm.get("Memory Bytes Spilled", 0))
            add(m, "spill.disk_bytes", tm.get("Disk Bytes Spilled", 0))
            out = tm.get("Output Metrics", {})
            add(m, "artifact.bytes_written", out.get("Bytes Written", 0))
            add(m, "artifact.records_written", out.get("Records Written", 0))
            for acc in e["Task Info"].get("Accumulables", []):
                hit = _TASK_SQL_METRICS.get(acc.get("Name"))
                if hit is not None:
                    add(m, hit[0], float(acc.get("Update") or 0) * hit[1])
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            span = idx.find(e.get("time", 0))
            if span is not None:
                add(per[id(span)], "driver.sql_executions", 1)

    for stage, reads in shuffle_reads.items():
        span = stage_span.get(stage)
        med = statistics.median(reads)
        if span is not None and len(reads) > 1 and med > 0:
            m = per[id(span)]
            m["_skew"] = max(m["_skew"], max(reads) / med)
    for s in spans:
        m = per[id(s)]
        m["driver.job_s"] = sum(b - a for a, b in m["_jobs"]) / 1e3
        clipped = [(max(a, s.start_ms), min(b, s.end_ms)) for a, b in m["_jobs"]]
        m["driver.gap_s"] = (s.end_ms - s.start_ms - _union_ms(clipped)) / 1e3
    return {"per_span": per, "group_check": check}


def pass_metrics(spans: list[Span], per_span: dict) -> dict[int, dict[str, float]]:
    """Per-pass totals of every ``PER_PASS`` metric."""
    out: dict[int, dict[str, float]] = {}
    rdds: dict[int, set] = {}
    for s in spans:
        m = out.setdefault(s.pass_no, {name: 0.0 for name, _ in PER_PASS})
        got = per_span[id(s)]
        for name, _ in PER_PASS:
            if name in got and not name.startswith("_"):
                m[name] += got[name]
        for name, v in s.facts.items():
            m[name] += v
        m["shuffle.skew_max_over_median"] = max(m["shuffle.skew_max_over_median"], got["_skew"])
        rdds.setdefault(s.pass_no, set()).update(got["_rdds"])
    for p, ids in rdds.items():
        out[p]["pins.rdds"] = float(len(ids))
    return out


def median_over_passes(per_pass: dict[int, dict[str, float]]) -> dict[str, float]:
    return {
        name: statistics.median(m[name] for m in per_pass.values()) for name, _ in PER_PASS
    }


class Wrappers:
    """Timers around ``session.read_table`` and ``Context.to_dict``.

    ``install`` must run before the query modules are imported: they bind
    ``read_table`` by name at import time."""

    def __init__(self) -> None:
        self.counts = {"session.read_table_calls": 0, "session.read_table_s": 0.0,
                       "context.accumulators": 0, "context.to_dict_s": 0.0}

    def install(self) -> None:
        from laygo_python_spark import context, session

        read_table, to_dict = session.read_table, context.Context.to_dict
        counts = self.counts

        def timed_read_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return read_table(*args, **kwargs)
            finally:
                counts["session.read_table_calls"] += 1
                counts["session.read_table_s"] += time.perf_counter() - t0

        def timed_to_dict(ctx):
            t0 = time.perf_counter()
            try:
                return to_dict(ctx)
            finally:
                counts["context.accumulators"] += len(ctx._accumulators)
                counts["context.to_dict_s"] += time.perf_counter() - t0

        session.read_table = timed_read_table
        context.Context.to_dict = timed_to_dict

    def take(self) -> dict:
        """Counts since the previous call, then reset."""
        got = dict(self.counts)
        for k in self.counts:
            self.counts[k] = 0
        return got
