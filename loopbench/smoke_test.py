#!/usr/bin/env python3
"""Smoke test of the benchmark at its smallest input size.

    python3 loopbench/smoke_test.py

From the repository root: every workload in BENCHMARK.json runs untraced
and traced with ``--seconds 1``; each run must exit 0 and report
``"correct": true``, the untraced result must carry exactly the
end-to-end metric names and units of BENCHMARK.json and the traced result
exactly the per-layer ones, each nonzero on the workload that exercises its
layer (``spark.*.gc_ms`` excepted: a short span may see no collection).  Last, the command is run in a directory that
holds only BENCHMARK.json and the benchmark's own files: it must refuse
(non-zero exit) and print no result.  Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _exercises(workload: str, metric: str) -> bool:
    """Whether ``workload`` runs the layer a per-layer ``metric`` measures."""
    if metric.endswith(".gc_ms"):
        return False
    if metric == "session.start_s" or metric.startswith("rss."):
        return True
    curation = metric.startswith(("curation.", "spark.construct.", "spark.action."))
    return curation == (workload == "curation_small")


def _run(cwd: Path, cmd: list[str], timeout: int) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []
    for wl in (w["name"] for w in bench["workloads"]):
        for tr, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*bench["command"], "--workload", wl, "--seed", "1",
                   "--seconds", "1", "--trace", str(tr)]
            p = _run(ROOT, cmd, timeout=900)
            tag = f"{wl} trace={tr}"
            if p.returncode != 0:
                failures.append(f"{tag}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{tag}: result keys {sorted(res)}")
            if res["correct"] is not True or res["failed"] != 0 or res["attempted"] < 1:
                failures.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            if got != want:
                failures.append(f"{tag}: metric names/units differ from BENCHMARK.json "
                                f"(extra {sorted(set(got) - set(want))}, "
                                f"missing {sorted(set(want) - set(got))})")
            if tr:
                idle = [k for k, v in res["metrics"].items()
                        if _exercises(wl, k) and not v["value"]]
                if idle:
                    failures.append(f"{tag}: layers it exercises read 0: {idle}")
            print(f"ran {tag}: correct={res['correct']} metrics={len(got)}", flush=True)

    # without the engine sources the command must refuse and print no result
    bare = ROOT / ".loopbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for path in bench["paths"]:
        shutil.copytree(ROOT / path, bare / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(bare, [*bench["command"], "--workload", bench["workloads"][0]["name"],
                    "--seed", "1", "--seconds", "1", "--trace", "0"], timeout=180)
    if p.returncode == 0 or '"correct"' in p.stdout:
        failures.append(f"bare checkout: exit {p.returncode}, stdout {p.stdout[-200:]!r}")
    else:
        print(f"ok: bare checkout refused with exit {p.returncode}")
    shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    print("smoke:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
