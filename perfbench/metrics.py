"""The benchmark's metrics, from a workload's calls.

``end_to_end`` gives what a user of the engine sees, from untraced runs.
``per_layer`` gives each layer's share, from a traced run: each call's
wall-clock spans select its jobs in the event log (``eventlog.window``).
See README.md for every metric's definition.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

import eventlog
import harness
from workloads import QUERY_ROWS, median

PHASE_KIND = {"build": "build", "extract": "build", "transform": "build",
              "exec": "exec", "load": "exec", "export": "exec", "run": "exec"}
TRACE_FIELDS = (("stages", "count"), ("tasks", "count"), ("gc_ms", "ms"),
                ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))
ELT_STAGES = ("extract", "load", "transform", "export")


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def end_to_end(out, setup, rec, driver_mb: float):
    """The typical op is the geometric mean of the run's op times, not
    their median: a run times each of its ops once, and the median of
    those few unlike ops is the time of the one or two in the middle,
    while the geometric mean weighs every op alike, so load from outside
    the run during any one op moves it less (see README.md)."""
    ops = [c.total_s for c in out.calls]
    return {
        "setup_s": (setup.setup_s, "s"),
        "op_s.geomean": (geomean(ops), "s"),
        "ops_per_s": (len(ops) / rec.timed, "1/s"),
        "success_rate": (1 - out.failed / len(ops), "share"),
        "driver_rss_mb.max": (driver_mb, "MB"),
    }


def per_layer(out, setup, jobs: dict, host: dict, jvm_mb: float):
    def traced(call, phases=None) -> dict:
        """Event-log totals of the jobs ``call`` submitted in ``phases``."""
        rows = [eventlog.window(jobs, a, b) for ph, a, b in call.spans
                if phases is None or ph in phases]
        return {k: sum(r[k] for r in rows) for k in eventlog.FIELDS}

    def med(calls, fn) -> float:
        return median([fn(c) for c in calls])

    by_layer = defaultdict(list)
    for c in out.calls:
        by_layer[c.layer].append(c)
    m = {
        "session.get_spark_s": (setup.get_spark_s, "s"),
        "session.warmup_s": (setup.warmup_s, "s"),
        "jvm_rss_mb.max": (jvm_mb, "MB"),
    }
    for row in QUERY_ROWS:
        calls = by_layer.get(row, [])
        for ph in ("build", "exec"):
            m[f"{row}.{ph}_s"] = (med(calls, lambda c: c.seconds.get(ph, 0)), "s")
            m[f"{row}.{ph}_jobs"] = (med(calls, lambda c: traced(c, (ph,))["jobs"]), "count")
        m[f"{row}.task_cpu_ms"] = (med(calls, lambda c: traced(c)["cpu_ms"]), "ms")
        m[f"{row}.task_run_ms"] = (med(calls, lambda c: traced(c)["run_ms"]), "ms")

    cat = by_layer.get("catalog", [])
    m["catalog.load_table_s"] = (med(cat, lambda c: c.total_s), "s")
    m["catalog.load_table_jobs"] = (med(cat, lambda c: traced(c)["jobs"]), "count")

    lane = by_layer.get("pipelines.elt", [])
    for st in ELT_STAGES:
        m[f"pipelines.elt.{st}_s"] = (med(lane, lambda c: c.seconds.get(st, 0)), "s")
        m[f"pipelines.elt.{st}_jobs"] = (med(lane, lambda c: traced(c, (st,))["jobs"]), "count")
    m["pipelines.elt.load.tasks"] = (med(lane, lambda c: traced(c, ("load",))["tasks"]), "count")
    for name in ("pipelines.curation_run.run_curation",
                 "pipelines.layout_run.run_layout_maintenance"):
        calls = [c for c in out.calls if c.op == name]
        m[f"{name}_s"] = (med(calls, lambda c: c.total_s), "s")
    units = {"storage.mb.max": "MB", "storage.mb_per_corpus": "MB",
             "pipelines.elt.rows_per_s": "1/s",
             "pipelines.elt.staging_bytes_per_input_byte": "ratio"}
    for name in ("pipelines.elt.rows_per_s", "pipelines.elt.rows_appended",
                 "pipelines.elt.rows_rejected", "pipelines.elt.staging_files",
                 "pipelines.elt.staging_bytes_per_input_byte",
                 "pipelines.layout_run.files_before",
                 "pipelines.layout_run.files_after",
                 "storage.persisted_rdds", "storage.mb.max",
                 "storage.mb_per_corpus"):
        m[name] = (out.layers.get(name, 0), units.get(name, "count"))

    n = len(out.calls)
    for kind in ("build", "exec"):
        phases = {ph for ph, k in PHASE_KIND.items() if k == kind}
        tot = [traced(c, phases) for c in out.calls]
        for field, unit in TRACE_FIELDS:
            m[f"trace.{kind}.{field}"] = (sum(t[field] for t in tot) / n, unit)
    ops = [c.total_s for c in out.calls]
    m["trace.op_s.geomean"] = (geomean(ops), "s")
    m["trace.op_s.median"] = (median(ops), "s")
    m["trace.op_s.tail"] = (harness.tail(ops)[0], "s")
    m["host.nproc"] = (host["nproc"], "count")
    m["host.steal_share"] = (host["steal_share"], "share")
    m["host.loadavg_1m"] = (host["loadavg_1m"], "count")
    return m
