"""Per-layer profile of one workload: an untraced run and a traced run
with the same seed, their per-layer self times, Spark counters and the
tracing overhead (traced minus untraced, per end-to-end metric).

    python3 perfbench/layer_profile.py --workload lazy_scan --seed 1 --seconds 26

Writes ``.perfbench_out/profile_<workload>_<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True, timeout=600,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=26)
    args = ap.parse_args(argv)

    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = _run(args.workload, args.seed, args.seconds, 1)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    with open(os.path.join(out_dir, f"trace_{args.workload}_{args.seed}.json")) as fh:
        trace = json.load(fh)
    untraced = {k: v["value"] for k, v in plain["metrics"].items()}
    overhead = {}
    for k, v in trace["end_to_end_under_trace"].items():
        base = untraced[k]
        overhead[k] = {"untraced": base, "traced": v, "diff": v - base,
                       "share": (v - base) / base if base else None}
    doc = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "correct": plain["correct"] and traced["correct"],
        "tracing_overhead": overhead,
        "self_s_by_layer": trace["self_s_by_layer"],
        "spark_by_layer": trace["spark_by_layer"],
        "crosscheck": trace["crosscheck"],
        "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
    }
    path = os.path.join(out_dir, f"profile_{args.workload}_{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(f"self time by layer (s), {args.workload} seed {args.seed}:")
    for layer, s in sorted(trace["self_s_by_layer"].items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<24} {s:9.3f}")
    print("tracing overhead (traced - untraced):")
    for k, o in overhead.items():
        share = "" if o["share"] is None else f" ({100 * o['share']:+.1f} %)"
        print(f"  {k:<14} {o['untraced']:14.4f} -> {o['traced']:14.4f}{share}")
    print(f"wrote {os.path.relpath(path, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
