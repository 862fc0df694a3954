"""Self-check of the event-log folder on tiny inputs.

Runs every workload traced at a small scale and asserts that each named
per-layer metric is present and non-negative, that the input scan
amplification is close to the bucket-group count (one full re-scan per
group; at most two on the re-run path, whose MERGE key side re-runs the
transform), and that every group span owns Spark jobs.

    python3 perfbench/check_trace.py [--scale 0.05]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import N_GROUPS, PER_LAYER_UNITS, WORK_ROOT, WORKLOADS  # noqa: E402


def check_record(rec: dict) -> list[str]:
    problems = []
    if not rec["result"]["correct"]:
        problems.append(f"run failed its correctness gate: {rec.get('error')}")
        return problems
    layer = rec["per_layer"]
    for name in PER_LAYER_UNITS:
        if name not in layer:
            problems.append(f"{name} missing")
        elif not layer[name] >= 0:
            problems.append(f"{name} = {layer[name]} is negative")
    amp = layer.get("sources.scan_amplification", 0.0)
    high = 2 * N_GROUPS if WORKLOADS[rec["workload"]]["rerun"] else N_GROUPS
    if not N_GROUPS - 0.5 <= amp <= high + 0.5:
        problems.append(f"scan amplification {amp:.2f} not within [{N_GROUPS}, {high}]")
    for f in rec["folds"]:
        # each group span owns its jobs; the only pass-level job is the
        # input's parquet schema read before pipeline.run
        if not all(f["group_jobs"]) or len(f["group_jobs"]) != N_GROUPS:
            problems.append(f"pass {f['label']}: a group span has no Spark job: {f['group_jobs']}")
        if f["jobs_outside_groups"] > 1:
            problems.append(f"pass {f['label']}: {f['jobs_outside_groups']} jobs outside group spans")
    if "traced_minus_untraced_docs_per_s" not in rec.get("trace_overhead", {}):
        problems.append(f"tracing overhead not measured: {rec.get('trace_overhead')}")
    return problems


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--scale", type=float, default=0.05)
    p.add_argument("--seed", type=int, default=7)
    args = p.parse_args()
    failed = 0
    for wl in sorted(WORKLOADS):
        out = os.path.join(WORK_ROOT, "records", f"check-{wl}.json")
        # the untraced run first: the traced run's overhead compares with it
        for trace, record in (("0", []), ("1", ["--record", out])):
            subprocess.run(
                [
                    sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                    "--seed", str(args.seed), "--seconds", "1", "--trace", trace,
                    "--scale", str(args.scale), *record,
                ],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
                timeout=600,
            )
        try:
            with open(out) as f:
                problems = check_record(json.load(f))
        except FileNotFoundError:
            problems = ["no record written"]
        failed += bool(problems)
        print(f"{wl}: {'ok' if not problems else '; '.join(problems)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
