"""Event-log folder on a small recorded log.

The log comes from a two-span session: ``warm`` runs two grouped jobs;
``work`` runs two grouped jobs through a pandas UDF and then three more
from a ``ThreadPoolExecutor`` thread, which carry no job group.

Run with: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog as el  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")


def _load():
    with open(os.path.join(DATA, "spans.json")) as f:
        rec = json.load(f)
    spans = [el.Span(**s) for s in rec["spans"]]
    return list(el.read_events(DATA, rec["app_id"])), spans


def test_every_job_is_attributed_by_group_or_window():
    events, spans = _load()
    folded = el.fold(events, spans)
    n_start = sum(e["Event"] == "SparkListenerJobStart" for e in events)
    assert folded.n_jobs == n_start == 7
    assert folded.unattributed == []
    assert folded.n_grouped + folded.n_window == folded.n_jobs
    assert folded.n_grouped == 4
    assert folded.n_window == 3
    assert sum(m.jobs for m in folded.spans.values()) == folded.n_jobs


def test_groupless_jobs_land_in_the_enclosing_window():
    events, spans = _load()
    folded = el.fold(events, spans)
    assert folded.spans["warm"].jobs == 2
    assert folded.spans["work"].jobs == 5


def test_task_metrics_and_python_boundary_fold_per_span():
    events, spans = _load()
    folded = el.fold(events, spans)
    n_tasks = sum(e["Event"] == "SparkListenerTaskEnd" for e in events)
    assert sum(m.tasks for m in folded.spans.values()) == n_tasks
    work, warm = folded.spans["work"], folded.spans["warm"]
    # only the pandas-UDF stage crosses the Python boundary
    assert warm.py_sent_mb == 0.0
    sent = sum(
        float(a["Update"])
        for e in events
        if e["Event"] == "SparkListenerTaskEnd"
        for a in e["Task Info"]["Accumulables"]
        if a["Name"] == "data sent to Python workers"
    )
    assert sent > 0
    assert abs(work.py_sent_mb - sent / el.MB) < 1e-12
    assert work.py_returned_mb > 0 and work.py_run_s > 0
    assert work.cpu_s > 0 and work.shuffle_write_mb > 0
    # the busy time of a span never exceeds its window
    for s in spans:
        assert folded.spans[s.name].busy_s <= (s.end_ms - s.start_ms) / 1000.0


def test_job_outside_every_span_is_reported_unattributed():
    events, spans = _load()
    folded = el.fold(events, spans[1:])  # drop the "warm" span
    assert sorted(folded.unattributed) == [0, 1]
    assert folded.n_grouped + folded.n_window + len(folded.unattributed) == 7
