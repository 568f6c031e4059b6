"""Fold a Spark event log into per-job rows, then into per-call rows.

The benchmark's client is sequential, so every job submitted while a call
runs belongs to that call. That includes the micro-batch jobs a streaming
query submits under its own job group (Spark sets the group to the query's
run id, replacing the caller's). Calls are therefore matched to jobs by
submission time. The job group each call sets (``<id>:<op>:<phase>``)
stays in the log for reading it by eye.

The log must be uncompressed and unrolled (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``). Per job, ``fold`` sums:

- ``jobs`` (1), ``stages`` (completed stage attempts), ``tasks``;
- ``run_ms`` (executor run time) and ``cpu_ms`` (executor CPU time, which
  Spark records in nanoseconds). Their gap is time a task spent off the JVM
  CPU: mostly the Python/Arrow boundary, plus waiting;
- ``gc_ms``, ``shuffle_write_mb`` and ``spill_mb`` (memory + disk spill).
"""

from __future__ import annotations

import json

GROUP_PROP = "spark.jobGroup.id"
FIELDS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
          "shuffle_write_mb", "spill_mb")
MB = 1024 * 1024


def _zero() -> dict:
    return dict.fromkeys(FIELDS, 0)


def fold(lines) -> dict[int, dict]:
    """{job id: row}, each row also holding the job's ``group`` and its
    ``submitted`` time (epoch ms)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    seen_stages: set[tuple[int, int]] = set()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            row = _zero()
            row["jobs"] = 1
            row["group"] = (ev.get("Properties") or {}).get(GROUP_PROP) or ""
            row["submitted"] = ev.get("Submission Time", 0)
            jobs[ev["Job ID"]] = row
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            # Skipped stages (reused shuffle output) never complete, so a
            # completed attempt is work that ran.
            if key not in seen_stages and info["Stage ID"] in stage_job:
                seen_stages.add(key)
                jobs[stage_job[info["Stage ID"]]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if ev["Stage ID"] not in stage_job:
                continue
            m = ev.get("Task Metrics") or {}
            row = jobs[stage_job[ev["Stage ID"]]]
            row["tasks"] += 1
            row["run_ms"] += m.get("Executor Run Time", 0)
            row["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            row["gc_ms"] += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            row["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            row["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / MB
    return jobs


def fold_file(path: str) -> dict[int, dict]:
    with open(path) as f:
        return fold(f)


def _sum(rows) -> dict:
    out = _zero()
    for row in rows:
        for k in FIELDS:
            out[k] += row[k]
    return out


def window(jobs: dict[int, dict], start_ms: float, end_ms: float) -> dict:
    """Totals of the jobs submitted in [start_ms, end_ms]."""
    return _sum(r for r in jobs.values() if start_ms <= r["submitted"] <= end_ms)
