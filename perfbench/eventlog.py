"""Fold a Spark event log into per-job counters and assign jobs to spans
(pure Python, no Spark).

A job is assigned to the innermost span open at its submission time:
jobs that the library starts from its own threads do not inherit the
caller's job group, but they do run inside the caller's span. The job
group (``spark.jobGroup.id``, set to the op id around each traced op) is
kept as a cross-check.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.spans import Span, SpanLog

COUNTERS = ("stages", "tasks", "executor_run_s", "executor_cpu_s",
            "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "useful_tasks", "row_tasks")


@dataclass
class Job:
    job_id: int
    submit_s: float
    group: str | None
    stage_ids: list[int]
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


def read_events(log_dir: str):
    """Yield every event of every log file under ``log_dir`` (the log is
    written uncompressed and unrolled; an ``.inprogress`` file is read
    as-is)."""
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            with open(os.path.join(root, name), encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(line)


def _row_metric_count(task_info: dict) -> int:
    return sum(1 for a in task_info.get("Accumulables", ())
               if a.get("Name") == "number of output rows"
               and int(a.get("Update") or 0) > 0)


def fold_jobs(events) -> dict[int, Job]:
    """Per-job counters from an event stream.

    A stage is charged to the most recent active job that lists it (a
    stage reused by a later job is skipped there and runs no tasks).
    ``useful_tasks`` counts tasks whose every row-producing operator
    emitted rows: Spark logs only non-zero SQL metrics, so a task with
    fewer non-zero ``number of output rows`` metrics than the busiest
    task of its stage had an operator that produced nothing.
    ``row_tasks`` counts the tasks that carried any row metric."""
    jobs: dict[int, Job] = {}
    active: list[int] = []
    stage_job: dict[int, int] = {}
    stage_rows: dict[int, list[int]] = defaultdict(list)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(e["Job ID"], e["Submission Time"] / 1000.0,
                      props.get("spark.jobGroup.id"), list(e.get("Stage IDs", ())))
            jobs[job.job_id] = job
            active.append(job.job_id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in active:
                active.remove(e["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            for jid in reversed(active):
                if sid in jobs[jid].stage_ids:
                    stage_job[sid] = jid
                    jobs[jid].counters["stages"] += 1
                    break
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is None:
                continue
            c = jobs[jid].counters
            m = e.get("Task Metrics") or {}
            c["tasks"] += 1
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            stage_rows[e["Stage ID"]].append(_row_metric_count(e.get("Task Info") or {}))
    for sid, counts in stage_rows.items():
        c = jobs[stage_job[sid]].counters
        busiest = max(counts)
        if busiest:
            c["row_tasks"] += len(counts)
            c["useful_tasks"] += sum(1 for n in counts if n == busiest)
    return jobs


def assign_jobs(jobs: dict[int, Job], log: SpanLog) -> tuple[dict[int, list[Job]], dict]:
    """Map span id → jobs submitted while it was the innermost open
    span. Returns the mapping and a cross-check record: how many
    assigned jobs carried a job group, and how many of those groups
    named the op of the span the submit time chose."""
    by_span: dict[int, list[Job]] = defaultdict(list)
    grouped = agree = unassigned = 0
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        span = log.innermost_at(job.submit_s)
        if span is None:
            unassigned += 1
            continue
        by_span[span.span_id].append(job)
        if job.group is not None:
            grouped += 1
            agree += job.group == f"op-{span.op_id}"
    return dict(by_span), {"jobs": len(jobs), "unassigned": unassigned,
                           "grouped": grouped, "group_agrees": agree}


def totals(jobs: list[Job]) -> dict:
    out = dict.fromkeys(COUNTERS, 0)
    out["jobs"] = len(jobs)
    for j in jobs:
        for k, v in j.counters.items():
            out[k] += v
    return out


def fold_by_layer(spans: list[Span], by_span: dict[int, list[Job]]) -> dict[str, dict]:
    """Spark counters summed per layer of the span each job landed in."""
    per_layer: dict[str, list[Job]] = defaultdict(list)
    for span in spans:
        per_layer[span.layer].extend(by_span.get(span.span_id, ()))
    return {layer: totals(js) for layer, js in per_layer.items()}
