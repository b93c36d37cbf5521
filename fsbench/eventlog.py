"""Per-op Spark metrics from Spark's own event log (traced run only).

Each timed op runs under a job group named after it (``setJobGroup``);
a stream drain's jobs carry the query's run id as their group. After
the session stops, the log is read back and every job is attributed to
the op call whose group it carries, giving per call:

* ``jobs``, ``stages``, ``tasks`` — what the op scheduled;
* ``exec_run_ms`` — summed task executor run time;
* ``driver_gap_ms`` — op wall time not covered by any of its jobs;
* ``shuffle_bytes`` — shuffle bytes written;
* ``spill_bytes`` — bytes spilled to disk.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

OPS = ("lookup", "pit_dict", "write", "compact", "build", "drain", "stats_read")
FIELDS = ("jobs", "stages", "tasks", "exec_run_ms", "driver_gap_ms",
          "shuffle_bytes", "spill_bytes")


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order. Spark 4 writes a directory per app
    (``eventlog_v2_<app>/events_<n>_<app>``); older layouts write one
    file per app."""
    out = []
    for d, _sub, files in os.walk(log_dir):
        for name in files:
            if name.startswith("appstatus_") or name.startswith("."):
                continue
            parts = name.split("_")
            index = int(parts[1]) if name.startswith("events_") and parts[1].isdigit() else 0
            out.append((d, index, os.path.join(d, name)))
    return [p for _d, _i, p in sorted(out)]


def _events(log_dir: str):
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def _covered_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def op_metrics(log_dir: str, spans: dict[str, list[tuple[str, float, float]]]) -> dict[str, float]:
    """``spans`` maps op name -> [(job group, start epoch ms, end epoch
    ms)] for every call the benchmark made under tracing. Returns
    ``spark.<op>.<field>`` per-call means (0 for an op never called)."""
    group_op = {g: op for op, calls in spans.items() for g, _s, _e in calls}
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stages_run: set[int] = set()
    per_group: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group not in group_op:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
            for sid in ev.get("Stage IDs", ()):
                stage_job[sid] = jid
            per_group[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job and sid not in stages_run:
                stages_run.add(sid)
                per_group[job_group[stage_job[sid]]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
            acc = per_group[job_group[stage_job[ev["Stage ID"]]]]
            tm = ev.get("Task Metrics") or {}
            acc["tasks"] += 1
            acc["exec_run_ms"] += tm.get("Executor Run Time", 0)
            acc["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    jobs_of: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for jid, (s, e) in job_span.items():
        jobs_of[job_group[jid]].append((s, e))

    out: dict[str, float] = {}
    for op in OPS:
        calls = spans.get(op, [])
        tot: dict[str, float] = defaultdict(float)
        for group, start, end in calls:
            for f in FIELDS:
                tot[f] += per_group[group][f]
            tot["driver_gap_ms"] += max(0.0, (end - start) - _covered_ms(jobs_of[group]))
        for f in FIELDS:
            out[f"spark.{op}.{f}"] = tot[f] / len(calls) if calls else 0.0
    return out
