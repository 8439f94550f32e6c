"""Assemble the end-to-end and per-layer metrics of one run.

Every workload reports every metric: end-to-end metrics are defined for
all three workloads (see ``END_TO_END``), and a per-layer metric of a
layer a workload does not touch reads 0 there.
"""

from __future__ import annotations

import statistics

from perfbench import eventlog, metrics
from perfbench.spans import self_time_by_layer

#: name -> (unit, meaning). A "call" is the workload's unit of
#: interactive work: a positional or predicate query on the cached index
#: (lazy_scan), a keyed commit (table_maintenance). "rows" are the rows
#: its bulk work moves: full-file scan rows (lazy_scan); keyed-commit
#: rows plus documents through the dedup pipeline (table_maintenance).
END_TO_END = {
    "setup_s": ("s", "session start + seeded generation + median set-up build + warm-up"),
    "call_p50_ms": ("ms", "median call latency"),
    "call_tail_ms": ("ms", "highest percentile with >= 10 calls beyond it (the median below 20 calls)"),
    "rows_per_s": ("rows/s", "bulk throughput"),
    "space_amp": ("ratio", "bytes the engine holds for the data / one fresh parquet write of it"),
    "peak_rss_mb": ("MB", "peak resident memory of the Python driver + driver JVM (VmHWM)"),
}

FRAME_OPS = ("row_range", "rows", "head", "tail", "which", "filter")
VERBS = ("write", "merge", "apply_cdc", "delete_mor", "read", "read_as_of",
         "replicate", "append")
DEDUP_FNS = ("exact_dedup", "dedup_against", "minhash_signatures",
             "incremental_near_dups")
SPARK_LAYERS = ("sources.csv", "rowid", "frame", "functions.compare",
                "sources.versioned", "operators.dedup", "operators.similarity")
SPARK_KEYS = {"self_s": "s", "jobs": "count", "tasks": "count",
              "executor_run_s": "s", "executor_cpu_s": "s", "input_bytes": "bytes",
              "shuffle_bytes": "bytes", "spill_bytes": "bytes"}


def _per_layer_units() -> dict[str, str]:
    u = {"sources.csv.open_ms": "ms", "sources.csv.open_jobs": "count",
         "rowid.build_s": "s", "rowid.build_jobs": "count",
         "rowid.build_tasks": "count", "rowid.cached_bytes": "bytes"}
    for op in FRAME_OPS:
        u.update({f"frame.{op}.p50_ms": "ms", f"frame.{op}.jobs": "count",
                  f"frame.{op}.tasks": "count", f"frame.{op}.useful_task_ratio": "ratio"})
    u.update({"scan.input_bytes": "bytes", "scan.tasks": "count",
              "scan.executor_cpu_s": "s"})
    for v in VERBS:
        u.update({f"sources.versioned.{v}.p50_ms": "ms",
                  f"sources.versioned.{v}.jobs": "count"})
    u.update({"sources.versioned.files_rewritten": "count",
              "sources.versioned.files_written": "count",
              "sources.versioned.write_amp": "ratio",
              "filestats.skip_ratio.clustered": "ratio",
              "filestats.skip_ratio.scattered": "ratio",
              "filestats.files_per_version": "count"})
    for fn in DEDUP_FNS:
        u.update({f"operators.dedup.{fn}.s": "s", f"operators.dedup.{fn}.jobs": "count"})
    u.update({"operators.dedup.minhash.candidate_precision": "ratio",
              "operators.similarity.semantic_dedup_against.s": "s",
              "operators.similarity.semantic_dedup_against.jobs": "count",
              "operators.similarity.pinned_rdds_after_call": "count"})
    for layer in SPARK_LAYERS:
        for k, unit in SPARK_KEYS.items():
            u[f"spark.{layer}.{k}"] = unit
    u.update({"trace.call_p50_ms": "ms", "trace.job_group_agreement": "ratio"})
    return u


PER_LAYER = _per_layer_units()


def with_units(values: dict, kind: str) -> dict:
    units = PER_LAYER if kind == "per_layer" else {k: u for k, (u, _) in END_TO_END.items()}
    if set(values) != set(units):
        raise KeyError(f"{kind} metrics differ: {sorted(set(values) ^ set(units))}")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def end_to_end(wl, rec, setup_s: float, peak_rss: int) -> dict:
    calls = wl.call_samples()
    return {"setup_s": setup_s,
            "call_p50_ms": metrics.median(calls),
            "call_tail_ms": metrics.tail(calls)[1],
            "rows_per_s": wl.rows_per_s(),
            "space_amp": wl.space_amp(),
            "peak_rss_mb": peak_rss / 2**20}


def print_human(args, rec, e2e: dict, detail: dict) -> None:
    """Every end-to-end metric by name and unit, the error rate and the
    workload's own figures, ahead of the JSON result line."""
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for k, (unit, meaning) in END_TO_END.items():
        print(f"{k:>14} {e2e[k]:16.4f} {unit:<7} {meaning}")
    print(f"{'error_rate':>14} {rec.failed / max(rec.attempted, 1):16.4f} {'ratio':<7} "
          f"failed {rec.failed} of {rec.attempted} operations")
    for k, v in detail.items():
        print(f"  {k}: {v}")


# --------------------------------------------------------------------- #
# per-layer
# --------------------------------------------------------------------- #

def _calls(rec, name: str) -> list[dict]:
    """Calls named ``name`` from the measured loop, or from the whole run
    when the loop made none (``write`` and ``exact_dedup`` run in setup)."""
    got = [c for c in rec.calls if c["name"] == name and c["counted"]]
    return got or [c for c in rec.calls if c["name"] == name]


def _p50(calls: list[dict], scale: float = 1.0) -> float:
    return statistics.median(c["ms"] for c in calls) * scale if calls else 0.0


def _mean(calls: list[dict], key: str) -> float:
    vals = [c[key] for c in calls if key in c]
    return statistics.fmean(vals) if vals else 0.0


def per_layer(wl, rec, event_log: str) -> tuple[dict, dict]:
    jobs = eventlog.fold_jobs(eventlog.read_events(event_log))
    by_span, crosscheck = eventlog.assign_jobs(jobs, rec.log)
    spans = rec.log.spans
    loop_spans = [s for s in spans if s.attrs.get("counted")]

    def span_totals(name: str) -> dict:
        """Event-log counters of the jobs that ran inside calls ``name``."""
        return eventlog.totals([j for c in _calls(rec, name)
                                for j in by_span.get(c["span_id"], ())])

    out: dict[str, float] = {}
    opens = _calls(rec, "sources.csv.open")
    out["sources.csv.open_ms"] = _p50(opens)
    out["sources.csv.open_jobs"] = _mean(opens, "jobs")
    builds = _calls(rec, "rowid.build")
    out["rowid.build_s"] = _p50(builds, 1e-3)
    out["rowid.build_jobs"] = _mean(builds, "jobs")
    out["rowid.build_tasks"] = _mean(builds, "tasks")
    out["rowid.cached_bytes"] = float(getattr(wl, "cached_bytes", 0))
    for op in FRAME_OPS:
        cs = _calls(rec, f"frame.{op}")
        tot = span_totals(f"frame.{op}")
        out[f"frame.{op}.p50_ms"] = _p50(cs)
        out[f"frame.{op}.jobs"] = _mean(cs, "jobs")
        out[f"frame.{op}.tasks"] = _mean(cs, "tasks")
        out[f"frame.{op}.useful_task_ratio"] = (
            tot["useful_tasks"] / tot["row_tasks"] if tot["row_tasks"] else 0.0)
    scans = _calls(rec, "scan")
    tot = span_totals("scan")
    n = max(len(scans), 1)
    out["scan.input_bytes"] = tot["input_bytes"] / n
    out["scan.tasks"] = tot["tasks"] / n
    out["scan.executor_cpu_s"] = tot["executor_cpu_s"] / n
    for v in VERBS:
        cs = _calls(rec, f"sources.versioned.{v}")
        out[f"sources.versioned.{v}.p50_ms"] = _p50(cs)
        out[f"sources.versioned.{v}.jobs"] = _mean(cs, "jobs")
    out.update(_commit_values(wl, rec))
    for fn in DEDUP_FNS:
        cs = _calls(rec, f"operators.dedup.{fn}")
        out[f"operators.dedup.{fn}.s"] = _p50(cs, 1e-3)
        out[f"operators.dedup.{fn}.jobs"] = _mean(cs, "jobs")
    sem = _calls(rec, "operators.similarity.semantic_dedup_against")
    out["operators.similarity.semantic_dedup_against.s"] = _p50(sem, 1e-3)
    out["operators.similarity.semantic_dedup_against.jobs"] = _mean(sem, "jobs")
    out["operators.similarity.pinned_rdds_after_call"] = (
        statistics.fmean(c["pins_after"] - c["pins_before"] for c in sem) if sem else 0.0)
    self_s = self_time_by_layer(loop_spans)
    folded = eventlog.fold_by_layer(loop_spans, by_span)
    for layer in SPARK_LAYERS:
        f = folded.get(layer) or eventlog.totals([])
        out[f"spark.{layer}.self_s"] = self_s.get(layer, 0.0)
        out[f"spark.{layer}.jobs"] = f["jobs"]
        out[f"spark.{layer}.tasks"] = f["tasks"]
        out[f"spark.{layer}.executor_run_s"] = f["executor_run_s"]
        out[f"spark.{layer}.executor_cpu_s"] = f["executor_cpu_s"]
        out[f"spark.{layer}.input_bytes"] = f["input_bytes"]
        out[f"spark.{layer}.shuffle_bytes"] = f["shuffle_read_bytes"] + f["shuffle_write_bytes"]
        out[f"spark.{layer}.spill_bytes"] = f["spill_bytes"]
    out["trace.call_p50_ms"] = metrics.median(wl.call_samples())
    out["trace.job_group_agreement"] = (
        crosscheck["group_agrees"] / crosscheck["grouped"] if crosscheck["grouped"] else 0.0)
    doc = {"crosscheck": crosscheck,
           "self_s_by_layer": self_s,
           "spark_by_layer": folded,
           "spans": rec.log.to_json(),
           "calls": rec.calls}
    return out, doc


def _commit_values(wl, rec) -> dict:
    """Versioned-commit and filestats figures from the stats each commit
    returned and the table-directory sizes around it, plus the dedup
    quality figure; 0 where the workload made no such call."""
    commits = [c for c in rec.calls if c["counted"] and "stats" in c]
    out = {"sources.versioned.files_rewritten": _mean_stat(commits, "files_rewritten"),
           "sources.versioned.files_written": _mean_stat(commits, "files_written")}
    batches = [c for c in commits if c.get("batch_bytes")]   # merges and CDC
    added = sum(c["bytes_added"] for c in batches)
    batch = sum(c["batch_bytes"] for c in batches)
    out["sources.versioned.write_amp"] = added / batch if batch else 0.0
    # only keyed batches report files_scan_skipped; a merge-on-read
    # delete takes the same key span on both tables
    keyed = [c for c in commits if c["name"] in (
        "sources.versioned.merge", "sources.versioned.apply_cdc")]
    for kind in ("clustered", "scattered"):
        cs = [c for c in keyed if c.get("batch_kind") == kind]
        skipped = sum(c["stats"].get("files_scan_skipped", 0) for c in cs)
        files = sum(c["stats"].get("files_rewritten", 0) + c["stats"].get("files_carried", 0)
                    for c in cs)
        out[f"filestats.skip_ratio.{kind}"] = skipped / files if files else 0.0
    versions = [c["files_after"] for c in commits if "files_after" in c]
    out["filestats.files_per_version"] = statistics.fmean(versions) if versions else 0.0
    out["operators.dedup.minhash.candidate_precision"] = float(
        getattr(wl, "candidate_precision", lambda: 0.0)())
    return out


def _mean_stat(calls: list[dict], key: str) -> float:
    vals = [c["stats"][key] for c in calls if key in c["stats"]]
    return statistics.fmean(vals) if vals else 0.0
