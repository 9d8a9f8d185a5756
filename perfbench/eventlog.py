"""Fold Spark's own event log into per-span metrics.

The benchmark wraps each call it makes into the program (a set-up step,
``init_crawl``, one crawl round, one registry query, the correctness
check) in a *span*: a name, a wall-clock window and a Spark job group.
Spark writes the job group into each job's properties, so most jobs
name their span directly.  Jobs that the program launches from its own
worker threads carry no group (job groups are thread-local); those are
attributed to the span whose window contains their submission time.

Only plain-JSON logs are read (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"

MB = 1024 * 1024

# SQL metrics of the Python evaluation nodes (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, ...), as task accumulables:
# name -> (SpanMetrics field, divisor); sizes are bytes, times ms
PY_ACCUMS = {
    "data sent to Python workers": ("py_sent_mb", MB),
    "data returned from Python workers": ("py_returned_mb", MB),
    "time to run Python workers": ("py_run_s", 1000.0),
    "time to initialize Python workers": ("py_init_s", 1000.0),
}


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float

    @property
    def group(self) -> str:
        return GROUP_PREFIX + self.name


@dataclass
class SpanMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    busy_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    peak_exec_mem_mb: float = 0.0
    py_sent_mb: float = 0.0
    py_returned_mb: float = 0.0
    py_run_s: float = 0.0
    py_init_s: float = 0.0


@dataclass
class Folded:
    spans: dict[str, SpanMetrics]
    n_jobs: int = 0
    n_grouped: int = 0
    n_window: int = 0
    unattributed: list[int] = field(default_factory=list)


def read_events(log_dir: str, app_id: str):
    """Yield the events of ``app_id`` from ``log_dir``: the rolling
    layout (``eventlog_v2_<app>/events_<n>_<app>``) or a single file."""
    rolled = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    if rolled:
        paths = sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        paths = [os.path.join(log_dir, app_id)]
    for p in paths:
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def _span_at(spans: list[Span], t_ms: float) -> Span | None:
    """Innermost span whose window holds ``t_ms``."""
    hits = [s for s in spans if s.start_ms <= t_ms <= s.end_ms]
    return min(hits, key=lambda s: s.end_ms - s.start_ms) if hits else None


def fold(events, spans: list[Span]) -> Folded:
    by_group = {s.group: s for s in spans}
    out = Folded(spans={s.name: SpanMetrics() for s in spans})
    job_span: dict[int, Span | None] = {}
    job_window: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    done_stages: set[int] = set()

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            span = by_group.get(group)
            if span is not None:
                out.n_grouped += 1
            else:
                span = _span_at(spans, e["Submission Time"])
                if span is not None:
                    out.n_window += 1
                else:
                    out.unattributed.append(jid)
            out.n_jobs += 1
            job_span[jid] = span
            job_window[jid] = [e["Submission Time"], e["Submission Time"]]
            for sid in e.get("Stage IDs", []):
                # a shuffle stage shared by later jobs runs (at most
                # once) under the first job that lists it
                stage_job.setdefault(sid, jid)
            if span is not None:
                out.spans[span.name].jobs += 1
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_window:
                job_window[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            span = job_span.get(stage_job.get(sid))
            if span is not None and sid not in done_stages:
                done_stages.add(sid)
                out.spans[span.name].stages += 1
        elif kind == "SparkListenerTaskEnd":
            span = job_span.get(stage_job.get(e["Stage ID"]))
            if span is not None:
                _add_task(out.spans[span.name], e)

    per_span_windows: dict[str, list[tuple[float, float]]] = {}
    for jid, (lo, hi) in job_window.items():
        span = job_span[jid]
        if span is not None:
            per_span_windows.setdefault(span.name, []).append(
                (max(lo, span.start_ms), min(hi, span.end_ms))
            )
    for name, iv in per_span_windows.items():
        out.spans[name].busy_s = _union_s([(lo, hi) for lo, hi in iv if hi > lo])
    return out


def _add_task(m: SpanMetrics, e: dict) -> None:
    tm = e.get("Task Metrics") or {}
    m.tasks += 1
    m.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
    m.gc_s += tm.get("JVM GC Time", 0) / 1000.0
    sw = tm.get("Shuffle Write Metrics") or {}
    m.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
    sr = tm.get("Shuffle Read Metrics") or {}
    m.shuffle_read_mb += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    ) / MB
    m.spill_mb += tm.get("Disk Bytes Spilled", 0) / MB
    peak = max(
        tm.get("Peak Execution Memory", 0),
        tm.get("Peak On Heap Execution Memory", 0)
        + tm.get("Peak Off Heap Execution Memory", 0),
    )
    m.peak_exec_mem_mb = max(m.peak_exec_mem_mb, peak / MB)
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        field_div = PY_ACCUMS.get(acc.get("Name"))
        if field_div is not None:
            name, div = field_div
            setattr(m, name, getattr(m, name) + float(acc.get("Update") or 0) / div)
