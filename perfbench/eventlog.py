"""Fold a Spark event log into per-call layer records.

The benchmark runs every call into the engine under its own job group,
``<group>#<call id>``. This module reads the uncompressed JSON-lines event
log Spark writes with ``spark.eventLog.enabled=true`` and sums, per job
group, what its jobs, stages and tasks did.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

# the job groups the benchmark runs engine calls under, one per layer
GROUPS = ("epsilon_join", "knn", "covertree", "query.eps", "query.sel")
# per-layer metric suffix -> unit; the order is the order they are reported in
GROUP_METRICS = {
    "wall_s": "s",
    "driver_gap_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "jvm_gc_s": "s",
    "shuffle_write_bytes": "B",
    "shuffle_write_records": "count",
    "shuffle_read_bytes": "B",
    "fetch_wait_s": "s",
    "spill_bytes": "B",
    "result_bytes": "B",
    "task_skew": "ratio",
    "py_bytes_sent": "B",
    "py_bytes_returned": "B",
    "py_worker_s": "s",
    "output_rows": "count",
}
# counts that repeat exactly between runs of one seed
EXACT_GROUP_METRICS = (
    "jobs", "stages", "tasks", "shuffle_write_records", "output_rows",
)

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN = "time to run Python workers"  # a "timing" SQL metric: milliseconds


def read_events(log_dir: Path):
    """Yield the events of the one application logged under ``log_dir``."""
    files = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(files) != 1:  # job and stage ids restart in every application
        raise ValueError(f"{log_dir} holds {len(files)} application logs, not one")
    with files[0].open() as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def fold(log_dir: Path, calls: list[dict]) -> dict[str, dict[str, float]]:
    """One record per call: ``{"<group>#<id>": {metric: value}}``.

    ``calls`` holds the benchmark's own spans (``job_group``, ``start_ms``,
    ``end_ms``, ``rows``); the event log supplies the rest.
    """
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    stage_sums: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stage_task_times: dict[int, list[float]] = defaultdict(list)

    for ev in read_events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            job_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stage_span[info["Stage ID"]] = (
                info.get("Submission Time", 0), info.get("Completion Time", 0)
            )
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            tm = ev.get("Task Metrics") or {}
            s = stage_sums[sid]
            s["tasks"] += 1
            run_ms = tm.get("Executor Run Time", 0)
            stage_task_times[sid].append(run_ms)
            s["executor_run_s"] += run_ms / 1e3
            s["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            s["jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            s["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            s["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            s["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            s["result_bytes"] += tm.get("Result Size", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == _PY_SENT:
                    s["py_bytes_sent"] += int(acc["Update"])
                elif name == _PY_RETURNED:
                    s["py_bytes_returned"] += int(acc["Update"])
                elif name == _PY_RUN:
                    s["py_worker_s"] += int(acc["Update"]) / 1e3

    jobs_of: dict[str, list[int]] = defaultdict(list)
    for jid, grp in job_group.items():
        jobs_of[grp].append(jid)
    stages_of: dict[str, list[int]] = defaultdict(list)
    for sid, jid in stage_job.items():
        if sid in stage_span:  # skipped stages never complete
            stages_of[job_group[jid]].append(sid)

    out = {}
    for call in calls:
        grp = call["job_group"]
        start, end = call["start_ms"], call["end_ms"]
        rec = {m: 0.0 for m in GROUP_METRICS}
        rec["wall_s"] = (end - start) / 1e3
        rec["output_rows"] = float(call["rows"])
        jids = jobs_of.get(grp, [])
        rec["jobs"] = float(len(jids))
        busy = _union_ms([(max(job_span[j][0], start), min(job_span[j][1], end)) for j in jids])
        rec["driver_gap_s"] = max(rec["wall_s"] - busy / 1e3, 0.0)
        sids = stages_of.get(grp, [])
        rec["stages"] = float(len(sids))
        for sid in sids:
            for k, v in stage_sums[sid].items():
                rec[k] += v
        if sids:
            longest = max(sids, key=lambda s: stage_span[s][1] - stage_span[s][0])
            times = stage_task_times[longest]
            med = statistics.median(times) if times else 0
            rec["task_skew"] = max(times) / med if med > 0 else 1.0
        out[grp] = rec
    return out


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(s for s in spans if s[1] > s[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def median_by_group(per_call: dict[str, dict[str, float]], calls: list[dict]) -> dict[str, dict[str, float]]:
    """Median over a group's measured calls of each per-call metric."""
    by_group: dict[str, list[dict]] = defaultdict(list)
    for call in calls:
        if call["measured"]:
            by_group[call["group"]].append(per_call[call["job_group"]])
    return {
        g: {m: statistics.median(r[m] for r in recs) for m in GROUP_METRICS}
        for g, recs in by_group.items()
    }
