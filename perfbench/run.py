"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lazy_scan --seed 1 --seconds 26 --trace 0

Workloads: lazy_scan and table_maintenance (see BENCHMARK.json). One client process drives the library in a closed
loop — each call waits for the previous one — against Spark
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` enables the Spark event log, records a
span around every call and reports the per-layer metrics instead, and
writes the spans and per-layer self times to
``.perfbench_out/trace_<workload>_<seed>.json``.
"""

from __future__ import annotations

import os
import sys

# run as a script, this file's directory leads sys.path; put the
# repository root there instead so perfbench's modules never shadow the
# standard library's and lazy_frame_spark imports from the checkout
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

import argparse
import json
import shutil
import time

#: the program's set-up step (``build``: a cached open and row-index
#: build of the CSV, or the keyed base table's initial write)
#: runs this many times and its median is reported; the session start,
#: the seeded generation and the rest of the warm-up run once
SETUP_ROUNDS = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["lazy_scan", "table_maintenance"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _workload(name: str):
    if name == "lazy_scan":
        from perfbench.wl_lazy_scan import LazyScan
        return LazyScan
    from perfbench.wl_table import TableMaintenance
    return TableMaintenance


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "lazy_frame_spark")):
        print("perfbench: lazy_frame_spark/ not found next to perfbench/ — "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, cpus: int) -> int:
    from perfbench import harness, metrics, report

    with harness.RssSampler() as rss:
        t0 = time.perf_counter()
        event_log = os.path.join(work, "eventlog") if args.trace else None
        spark = harness.start_spark(work, cpus, event_log)
        try:
            session_s = time.perf_counter() - t0
            rec = harness.Recorder(spark, bool(args.trace), args.seconds)
            wl = _workload(args.workload)(spark, rec, work, args.seed)
            t0 = time.perf_counter()
            wl.generate()
            generate_s = time.perf_counter() - t0
            rounds = []
            for _ in range(SETUP_ROUNDS):
                t0 = time.perf_counter()
                wl.build()
                rounds.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warmup()
            warmup_s = time.perf_counter() - t0
            setup_s = session_s + generate_s + metrics.median(rounds) + warmup_s
            rec.counting = True
            wl.run()
            wl.finish()
            rec.counting = False
        finally:
            harness.stop_spark(spark)
    e2e = report.end_to_end(wl, rec, setup_s, rss.peak)
    detail = {"call": harness.timing(wl.call_samples()), "session_s": session_s,
              "warmup_s": warmup_s, "generate_s": generate_s, "build_s": rounds,
              "cpus": cpus, "peak_rss_split_mb": {k: v / 2**20 for k, v in rss.peak_split.items()},
              **wl.details(),
              "samples_ms": {k: [round(v, 1) for v in vs] for k, vs in rec.samples.items()}}
    report.print_human(args, rec, e2e, detail)
    if args.trace:
        layers, trace_doc = report.per_layer(wl, rec, event_log)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace_{args.workload}_{args.seed}.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "end_to_end_under_trace": e2e, "detail": detail,
                       "per_layer": layers, **trace_doc}, fh, indent=1, default=_jsonable)
        out_metrics = report.with_units(layers, "per_layer")
    else:
        out_metrics = report.with_units(e2e, "end_to_end")
    print(json.dumps({"correct": rec.failed == 0, "attempted": rec.attempted,
                      "failed": rec.failed, "metrics": out_metrics}))
    return 0


def _jsonable(x):
    try:
        return float(x)
    except (TypeError, ValueError):
        return str(x)


if __name__ == "__main__":
    sys.exit(main())
