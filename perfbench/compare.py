"""Tracing overhead and trace repeatability for one workload and seed.

    python3 perfbench/compare.py --workload serve_mix --seed 1 --seconds 1

Runs the benchmark once untraced and twice traced, then prints the
tracing overhead (traced minus untraced end-to-end figures) and whether
the two traced runs counted the same jobs, stages and tasks per request
type. Exits 1 when the counts differ.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTS = ("jobs", "stages", "tasks", "collect_jobs", "pins")


def run(workload: str, seed: int, seconds: float, trace: int) -> list[str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if p.returncode != 0:
        sys.exit(f"run failed ({p.returncode}): {p.stderr[-2000:]}")
    return p.stdout.strip().splitlines()


def figures(lines: list[str]) -> tuple[dict, dict]:
    """End-to-end figures (bounded metrics and the wall figures of the
    report) and, for a traced run, the per-type layer breakdown."""
    e2e, layers = {}, {}
    for line in lines:
        if line.startswith(("# rounds=", "# traced end-to-end ")):
            for kv in line.split():
                k, _, v = kv.partition("=")
                try:
                    e2e[k] = float(v)
                except ValueError:
                    pass
        elif line.startswith("# layers "):
            _, _, kind, blob = line.split(" ", 3)
            layers[kind] = json.loads(blob)
    if not layers:  # an untraced run's JSON holds the bounded metrics
        e2e.update({k: m["value"] for k, m in json.loads(lines[-1])["metrics"].items()})
    return e2e, layers


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    args = ap.parse_args()

    plain, _ = figures(run(args.workload, args.seed, args.seconds, 0))
    traced = [figures(run(args.workload, args.seed, args.seconds, 1)) for _ in range(2)]
    print(f"tracing overhead on {args.workload} (seed {args.seed}), traced run 1 minus untraced:")
    for k, v in plain.items():
        t = traced[0][0].get(k)
        if t is not None and k != "rounds":
            print(f"  {k:18s} untraced={v:.4f} traced={t:.4f} overhead={t - v:+.4f}")
    same = True
    for kind in sorted(traced[0][1]):
        a, b = traced[0][1][kind], traced[1][1].get(kind, {})
        diff = {c: (a.get(f"{kind}.{c}"), b.get(f"{kind}.{c}")) for c in COUNTS
                if a.get(f"{kind}.{c}") != b.get(f"{kind}.{c}")}
        same &= not diff
        print(f"  {kind}: " + " ".join(f"{c}={a.get(f'{kind}.{c}')}" for c in COUNTS)
              + ("  identical in both traced runs" if not diff else f"  DIFFER {diff}"))
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
