#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced, per end-to-end metric and
workload, on the same seeds.

    python3 loopbench/overhead.py [--seeds 21,22] [--seconds 20]

From the repository root.  For each workload in BENCHMARK.json and each
seed, runs the benchmark with ``--trace 0`` and then ``--trace 1`` and
reads the end-to-end figures both runs put in their ``record:`` line.
Prints a markdown table of the medians over seeds and the difference.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _record(cmd: list[str]) -> dict:
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}: {p.stderr[-400:]}")
    line = p.stdout.strip().splitlines()[-2]
    return json.loads(line.removeprefix("record: "))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="21,22")
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    seeds = [int(s) for s in args.seeds.split(",")]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    rows = ["| workload | metric | untraced | traced | traced - untraced | share |",
            "|---|---|---|---|---|---|"]
    for wl in (w["name"] for w in bench["workloads"]):
        runs = {0: [], 1: []}
        for seed in seeds:
            for tr in (0, 1):
                runs[tr].append(_record([
                    *bench["command"], "--workload", wl, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", str(tr)]))
        for name, unit in units.items():
            u = statistics.median(r["end_to_end"][name] for r in runs[0])
            t = statistics.median(r["end_to_end"][name] for r in runs[1])
            rows.append(f"| {wl} | {name} ({unit}) | {u:.4g} | {t:.4g} | "
                        f"{t - u:+.4g} | {(t - u) / u:+.1%} |")
        probes = [r["host"]["probe_before_s"] for tr in (0, 1) for r in runs[tr]]
        rows.append(f"| {wl} | cpu probe (s), min-max | | | "
                    f"{min(probes):.2f}-{max(probes):.2f} | |")
    print(f"Seeds {seeds}, --seconds {seconds}, medians over seeds.\n")
    print("\n".join(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
