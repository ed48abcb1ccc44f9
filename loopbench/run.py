#!/usr/bin/env python3
"""Closed-loop benchmark of the datayours_spark engine.

    python3 loopbench/run.py --workload carbon_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root.  One client thread issues one operation at
a time against a ``local[nproc // 2]`` Spark session; inputs come from
``--seed``; ``--seconds`` fixes the amount of timed work (not a time
window), so equal arguments mean equal work.  After the timed pass the
outputs are checked against independent references.  The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace
1`` wraps the engine's layer functions in spans, tags Spark jobs by
operation kind, reads the event log, and reports the per-layer metrics.
The line before the result, ``record: {...}``, holds the host context
(CPU probe before and after, nproc, Spark cores), per-kind latencies and
failure counts.  It is also written under ``.loopbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("carbon_ingest", "curation_small")


@dataclass
class Context:
    root: Path
    workload: str
    seed: int
    seconds: int
    trace: bool
    work: str
    session: object = None
    spark: object = None
    ops: object = None
    tracer: object = None
    setup_s: float = 0.0
    op_lat: list = field(default_factory=list)
    lat: dict = field(default_factory=dict)
    pass_s: float = 0.0
    pass_cpu_s: float = 0.0
    problems: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)
    stream_run_ids: set = field(default_factory=set)
    #: epoch ms of the timed pass, for attributing Spark jobs
    window_ms: tuple = (0.0, 0.0)
    #: VmHWM of this process and the JVM, read right after the timed pass,
    #: before the checks (whose collects are not the workload's memory)
    rss: dict = field(default_factory=dict)


def engine_present(root: Path) -> bool:
    return (root / "datayours_spark" / "__init__.py").is_file() and (
        root / "__spark_entry__.py"
    ).is_file()


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    from loopbench import curation, trace

    names = list(trace.per_layer(None, None))
    names[names.index("spark.render.jobs"):names.index("spark.render.jobs")] = [
        "ingest.trigger_ms", "ingest.add_batch_ms", "ingest.latest_offset_ms",
        "ingest.wal_commit_ms", "ingest.commit_offsets_ms",
        "ingest.query_planning_ms", "ingest.rows_in", "ingest.rows_committed",
        "ingest.rows_rejected", "store.datapoints_files", "store.bytes_datapoints",
        "store.bytes_rollups", "store.bytes_stats",
        *curation.layer_names(), "rss.jvm_mb", "rss.python_mb",
    ]
    return names


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.startswith("store.bytes") or name.endswith("_bytes"):
        return "B"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not engine_present(ROOT):
        print(f"loopbench: engine sources not found under {ROOT} "
              "(datayours_spark/ and __spark_entry__.py); refusing to run",
              file=sys.stderr)
        return 3
    sys.path.insert(0, str(ROOT))

    from loopbench import carbon_ingest, curation, harness, trace

    work = harness.fresh_dir(str(ROOT / ".loopbench" / f"work-{os.getpid()}"))
    ctx = Context(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), work)
    ctx.ops = harness.Ops()
    probe_before = harness.cpu_probe_s()
    ctx.session = harness.Session(work, event_log=ctx.trace)
    if ctx.trace:
        ctx.tracer = trace.Tracer().install()
    t_run = time.perf_counter()
    try:
        try:
            if args.workload == "carbon_ingest":
                carbon_ingest.run(ctx)
            else:
                curation.run(ctx)
            rss = ctx.rss
            cores = ctx.spark.sparkContext.defaultParallelism
            app_id = ctx.session.app_id
        finally:
            if ctx.tracer:
                ctx.tracer.uninstall()
            ctx.session.close()
        counters = (trace.spark_counters(ctx.session.event_dir, app_id,
                                         ctx.stream_run_ids, ctx.window_ms)
                    if ctx.trace else None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    probe_after = harness.cpu_probe_s()

    correct = not ctx.problems and ctx.ops.total_failed == 0
    end_to_end = {
        "setup_s": (ctx.setup_s, "s"),
        "op_p50_ms": (1e3 * harness.median(ctx.op_lat), "ms"),
        "pass_s": (ctx.pass_s, "s"),
        "pass_cpu_s": (ctx.pass_cpu_s, "s"),
    }
    if ctx.trace:
        layer = {k: (0.0, _unit(k)) for k in per_layer_names()}
        layer.update(ctx.layer)
        layer["rss.jvm_mb"] = (rss["jvm_mb"], "MB")
        layer["rss.python_mb"] = (rss["python_mb"], "MB")
        layer.update(trace.per_layer(ctx.tracer, counters))
        metrics = {k: layer[k] for k in per_layer_names()}
    else:
        metrics = end_to_end

    lat = {}
    for kind, xs in sorted(ctx.lat.items()):
        p, v, n = harness.tail(xs)
        lat[kind] = {"n": n, "p50_ms": 1e3 * harness.median(xs),
                     "tail_pct": p, "tail_ms": None if v is None else 1e3 * v,
                     "samples_ms": [round(1e3 * x, 1) for x in xs]}
    p, v, n = harness.tail(ctx.op_lat)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "host": {"probe_before_s": probe_before, "probe_after_s": probe_after,
                 "nproc": harness.nproc(), "spark_cores": cores},
        "run_wall_s": time.perf_counter() - t_run,
        "end_to_end": {k: v for k, (v, _u) in end_to_end.items()},
        "op": {"n": n, "p50_ms": 1e3 * harness.median(ctx.op_lat), "tail_pct": p,
               "tail_ms": None if v is None else 1e3 * v},
        "latency_by_kind": lat,
        "attempted": ctx.ops.attempted, "failed": ctx.ops.failed,
        "errors": ctx.ops.errors[:20], "problems": ctx.problems[:20],
        "rss_mb": rss, "peak_rss_mb": rss["jvm_mb"] + rss["python_mb"],
        **ctx.record,
    }
    rec_dir = ROOT / ".loopbench" / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    (rec_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    for why in ctx.problems[:20]:
        print(f"check failed: {why}")
    print("record: " + json.dumps(record, default=str))
    print(harness.result_line(correct, ctx.ops, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
