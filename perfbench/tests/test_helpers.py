"""Tests for the benchmark's own helpers: the percentile rule, self time
on nested spans, event-log folding on a small canned log, and the
agreement of BENCHMARK.json with the metrics the runner emits.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random

import pytest

from perfbench import eventlog, metrics, report
from perfbench.spans import Span, SpanLog, self_time_by_layer, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


# -- percentile rule ---------------------------------------------------- #

@pytest.mark.parametrize("n", [20, 21, 57, 100, 101, 1000])
def test_tail_leaves_exactly_ten_samples_beyond(n):
    values = random.Random(n).sample(range(10 * n), n)
    pct, value = metrics.tail(values)
    assert sum(v > value for v in values) == metrics.TAIL_BEYOND
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_is_p90_at_one_hundred_samples():
    values = list(range(1, 101))
    assert metrics.tail(values) == (90.0, 90.0)


def test_tail_falls_back_to_the_median_below_twenty_samples():
    values = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert metrics.tail(values) == (50.0, 3.0)
    assert metrics.tail(list(range(19)))[0] == 50.0


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        metrics.tail([])


# -- self time ---------------------------------------------------------- #

def _span(i, parent, start, end, layer, op=1):
    return Span(i, op, f"s{i}", layer, float(start), float(end), parent)


def test_self_time_subtracts_children_once_and_ignores_grandchildren():
    spans = [
        _span(0, None, 0, 10, "op"),
        _span(1, 0, 1, 4, "frame"),       # overlaps its sibling on [3, 4]
        _span(2, 0, 3, 6, "rowid"),
        _span(3, 1, 2, 3, "sources.csv"),  # grandchild of 0: only 1 loses it
        _span(4, 0, 9, 12, "frame"),      # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st == {0: pytest.approx(10 - 5 - 1), 1: pytest.approx(2.0),
                  2: pytest.approx(3.0), 3: pytest.approx(1.0), 4: pytest.approx(3.0)}
    by_layer = self_time_by_layer(spans)
    assert by_layer == {"op": pytest.approx(4.0), "frame": pytest.approx(5.0),
                        "rowid": pytest.approx(3.0), "sources.csv": pytest.approx(1.0)}


def test_span_log_nests_and_shares_op_ids():
    log = SpanLog()
    op = log.open("op", "perfbench", new_op=True)
    a = log.open("a", "frame")
    log.close(a)
    log.close(op)
    op2 = log.open("op2", "perfbench", new_op=True)
    log.close(op2)
    assert a.parent == op.span_id and a.op_id == op.op_id != op2.op_id
    assert op.start <= a.start <= a.end <= op.end
    assert log.innermost_at((a.start + a.end) / 2) is a
    with pytest.raises(RuntimeError):
        outer = log.open("x", "l")
        log.open("y", "l")
        log.close(outer)


# -- event-log folding -------------------------------------------------- #

def _canned_spans() -> SpanLog:
    log = SpanLog()
    log.spans = [
        Span(0, 1, "op", "perfbench", 100.0, 103.0, None),
        Span(1, 1, "frame.rows", "frame", 100.2, 101.0, 0),
        Span(2, 1, "rowid.build", "rowid", 101.5, 102.8, 0),
    ]
    return log


def test_fold_jobs_counts_tasks_and_charges_stages_once():
    jobs = eventlog.fold_jobs(eventlog.read_events(os.path.join(HERE, "data")))
    assert sorted(jobs) == [0, 1, 2]
    j0, j1 = jobs[0].counters, jobs[1].counters
    assert j0["tasks"] == 5 and j0["stages"] == 2
    assert j0["executor_run_s"] == pytest.approx(0.42)
    assert j0["executor_cpu_s"] == pytest.approx(0.23)
    assert j0["input_bytes"] == 1500
    assert j0["shuffle_write_bytes"] == 80 and j0["shuffle_read_bytes"] == 80
    # stage 0 is listed by job 1 too, but ran under job 0 only
    assert j1["tasks"] == 1 and j1["stages"] == 1 and j1["spill_bytes"] == 64
    # stage 1: the busiest task has two row metrics; one task matches it,
    # one emitted from one operator only, one carried no row metric
    assert j0["row_tasks"] == 5 and j0["useful_tasks"] == 2 + 1
    assert jobs[2].counters["tasks"] == 0


def test_assign_jobs_by_submit_time_with_group_cross_check():
    jobs = eventlog.fold_jobs(eventlog.read_events(os.path.join(HERE, "data")))
    log = _canned_spans()
    by_span, check = eventlog.assign_jobs(jobs, log)
    assert [j.job_id for j in by_span[1]] == [0]
    assert [j.job_id for j in by_span[2]] == [1]      # library thread: no group
    assert check == {"jobs": 3, "unassigned": 1, "grouped": 1, "group_agrees": 1}
    per_layer = eventlog.fold_by_layer(log.spans, by_span)
    assert per_layer["frame"]["jobs"] == 1 and per_layer["frame"]["tasks"] == 5
    assert per_layer["rowid"]["input_bytes"] == 4000
    assert per_layer["perfbench"]["jobs"] == 0


# -- BENCHMARK.json ----------------------------------------------------- #

def test_benchmark_json_lists_what_the_runner_emits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == {k: unit for k, (unit, _) in report.END_TO_END.items()}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == report.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["lazy_scan", "table_maintenance"]


def test_with_units_rejects_a_missing_metric():
    values = dict.fromkeys(report.END_TO_END, 1.0)
    assert set(report.with_units(values, "end_to_end")) == set(report.END_TO_END)
    del values["setup_s"]
    with pytest.raises(KeyError):
        report.with_units(values, "end_to_end")


# -- commit figures ----------------------------------------------------- #

def test_skip_ratio_counts_only_batches_that_report_skips():
    def commit(name, kind, **stats):
        return {"name": f"sources.versioned.{name}", "counted": True,
                "batch_kind": kind, "stats": stats}

    # 16-file versions: rewritten + carried
    calls = [commit("merge", "clustered", files_scan_skipped=12, files_rewritten=4,
                    files_carried=12),
             commit("apply_cdc", "clustered", files_scan_skipped=14, files_rewritten=2,
                    files_carried=14),
             commit("merge", "scattered", files_scan_skipped=0, files_rewritten=16,
                    files_carried=0),
             # merge-on-read deletes carry every file and never skip
             commit("delete_mor", "clustered", files_carried=16),
             commit("delete_mor", "scattered", files_carried=16)]
    rec = type("Rec", (), {"calls": calls})()
    out = report._commit_values(None, rec)
    assert out["filestats.skip_ratio.clustered"] == pytest.approx(26 / 32)
    assert out["filestats.skip_ratio.scattered"] == 0.0
