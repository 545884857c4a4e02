"""Summarize benchmark runs recorded in ``.perfbench/results.jsonl``.

    python3 perfbench/compare.py [results.jsonl]

For every workload: each end-to-end metric's median, quartiles and
spread (interquartile range over median) across the untraced runs, and
the tracing overhead (traced median over untraced median, minus one).
For batch_faces, each family's face wall time split into its layers,
from the traced runs.
Records taken at different core counts are never compared: the script
refuses them. No host-speed normalization is applied.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
DEFAULT = os.path.join(os.path.dirname(HERE), ".perfbench", "results.jsonl")


def main(argv: list[str]) -> int:
    path = argv[0] if argv else DEFAULT
    with open(path) as fh:
        records = [json.loads(line) for line in fh if line.strip()]
    by_workload = defaultdict(list)
    for r in records:
        by_workload[r["workload"]].append(r)
    for workload, runs in sorted(by_workload.items()):
        cpus = {r["cpus"] for r in runs}
        if len(cpus) > 1:
            print(f"{workload}: records taken at different core counts {sorted(cpus)}; "
                  "compare only runs made at one core count", file=sys.stderr)
            return 2
        plain = [r for r in runs if not r["trace"]]
        traced = [r for r in runs if r["trace"]]
        print(f"{workload}: {len(plain)} untraced, {len(traced)} traced runs, cpus={cpus.pop()}")
        if not plain:
            continue
        for name in plain[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in plain]
            line = f"  {name:18s} median {statistics.median(vals):12.3f}"
            if len(vals) >= 2:
                q1, q2, q3 = statistics.quantiles(vals, n=4)
                line += f"  q1 {q1:12.3f}  q3 {q3:12.3f}  spread {(q3 - q1) / q2:6.3f}"
            tv = [r["metrics"][f"traced.{name}"]["value"] for r in traced
                  if f"traced.{name}" in r["metrics"]]
            if tv:
                over = statistics.median(tv) / statistics.median(vals) - 1
                line += f"  tracing overhead {over:+.3f}"
            print(line)
        if workload == "batch_faces" and traced:
            family_shares(traced)
    return 0


def family_shares(traced: list[dict]) -> None:
    """Median share of each family's face wall time in plan build, stages
    (the action's stage-busy time) and scheduling gaps, which sum to one;
    Catalyst time falls inside build and gaps, result collection inside
    gaps."""
    from batch import FAMILIES

    for fam in FAMILIES:
        shares = defaultdict(list)
        for r in traced:
            m = {k: v["value"] for k, v in r["metrics"].items()}
            wall_ms = m[f"{fam}.wall_s"] * 1e3
            parts = {
                "build": m[f"{fam}.build_ms"],
                "catalyst": m[f"{fam}.sql_ms"],
                "stages": wall_ms - m[f"{fam}.build_ms"] - m[f"{fam}.exec_gap_ms"],
                "gaps": m[f"{fam}.exec_gap_ms"],
                "collect": m[f"{fam}.collect_ms"],
            }
            for k, v in parts.items():
                shares[k].append(v / wall_ms)
        print(f"  {fam:10s} share of face wall: " + "  ".join(
            f"{k} {statistics.median(v):.2f}" for k, v in shares.items()))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
