"""The traced run: spans around calls into each engine layer, recorded
from the benchmark's own files by wrapping the layers' public functions
(the engine is not modified), plus Spark counters per operation kind
read from the application's event log.

Spans live in memory and are summarised when the run ends.  A layer's
self time is its span duration minus the part covered by child spans.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass

#: operation kinds that tag their Spark jobs (``lb|<kind>`` job groups);
#: streaming triggers are tagged by Spark itself with the query's run id
KINDS = ("render", "find", "trigger", "rollup", "construct", "action")
COUNTERS = ("jobs", "tasks", "executor_cpu_ms", "gc_ms", "shuffle_bytes", "input_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    phase: str
    child_s: float = 0.0


class Tracer:
    """Records spans of wrapped engine functions while installed."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.phase = "setup"

    # -- recording --

    def _enter(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.phase))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _exit(self, idx: int) -> None:
        self._stack.pop()
        sp = self.spans[idx]
        sp.end = time.perf_counter()
        if sp.parent >= 0:
            self.spans[sp.parent].child_s += sp.end - sp.start

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            idx = tracer._enter(name)
            try:
                return original(*args, **kwargs)
            finally:
                tracer._exit(idx)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    # -- installation --

    def install(self) -> "Tracer":
        from datayours_spark import api, http, launcher, session
        from datayours_spark.operators import catalog
        from datayours_spark.streaming.ingest import IngestPipeline

        w = self.wrap
        w(session, "get_spark", "session.start")
        w(launcher, "start_from_conf", "launcher.start_from_conf")
        w(http.GraphiteApp, "__call__", "http")
        for fn in ("render_grid", "find"):
            w(api, fn, f"api.{fn}")
        # api holds its own references to the operator and format functions
        w(catalog, "series_catalog", "operators.series_catalog")
        api.series_catalog = catalog.series_catalog
        w(catalog, "find_nodes", "operators.find_nodes")
        api.find_nodes = catalog.find_nodes
        w(api, "fetched_to_series", "render.fetched_to_series")
        for owner, fn in ((api, "render_json"), (api, "render_csv"),
                          (http, "find_treejson"), (http, "jsonify")):
            w(owner, fn, "render.assemble")
        w(IngestPipeline, "datapoints", "ingest.datapoints")
        w(IngestPipeline, "refresh_rollups", "ingest.refresh_rollups")
        return self

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- summaries --

    def total_s(self, name: str, phase: str = "timed") -> float:
        return sum(s.end - s.start for s in self.spans
                   if s.name == name and s.phase == phase)

    def self_s(self, name: str, phase: str = "timed") -> float:
        return sum(s.end - s.start - s.child_s for s in self.spans
                   if s.name == name and s.phase == phase)

    def setup_s(self, name: str) -> float:
        return self.total_s(name, phase="setup")


def spark_counters(event_dir: str, app_id: str, stream_run_ids: set[str],
                   window_ms: tuple[float, float]) -> dict:
    """Per-kind job, task, CPU, GC, shuffle and input counters of the jobs
    submitted inside ``window_ms`` (epoch ms, the timed pass), from the
    event log of ``app_id`` (read after the application stopped)."""
    out = {k: dict.fromkeys(COUNTERS, 0) for k in KINDS}
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        glob.glob(os.path.join(event_dir, f"eventlog_v2_{app_id}", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) or glob.glob(os.path.join(event_dir, f"{app_id}*"))
    stage_kind: dict[int, str] = {}
    for path in paths:
        _count_events(path, out, stage_kind, stream_run_ids, window_ms)
    return out


def _count_events(path: str, out: dict, stage_kind: dict, stream_run_ids: set,
                  window_ms: tuple[float, float]) -> None:
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                if not window_ms[0] <= ev.get("Submission Time", 0) <= window_ms[1]:
                    continue
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                if group.startswith("lb|"):
                    kind = group.split("|")[1]
                elif group in stream_run_ids:
                    kind = "trigger"
                else:
                    continue
                if kind not in out:
                    continue
                out[kind]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_kind[sid] = kind
            elif et == "SparkListenerTaskEnd":
                kind = stage_kind.get(ev.get("Stage ID"))
                if kind is None:
                    continue
                c = out[kind]
                c["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)


def per_layer(tracer: Tracer | None, counters: dict | None) -> dict:
    """The span- and counter-based per-layer metrics; zero where the
    workload does not exercise the layer."""
    t = tracer
    ms = lambda name: 1e3 * t.total_s(name) if t else 0.0  # noqa: E731
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (t.setup_s("session.start") if t else 0.0, "s"),
        "launcher.start_from_conf_s": (
            t.setup_s("launcher.start_from_conf") if t else 0.0, "s"),
        "http.self_ms": (1e3 * t.self_s("http") if t else 0.0, "ms"),
        "api.render_grid_ms": (ms("api.render_grid"), "ms"),
        "api.find_ms": (ms("api.find"), "ms"),
        "operators.series_catalog_ms": (ms("operators.series_catalog"), "ms"),
        "operators.find_nodes_ms": (ms("operators.find_nodes"), "ms"),
        "render.fetched_to_series_ms": (ms("render.fetched_to_series"), "ms"),
        "render.assemble_ms": (ms("render.assemble"), "ms"),
        "ingest.datapoints_ms": (ms("ingest.datapoints"), "ms"),
        "ingest.refresh_rollups_ms": (ms("ingest.refresh_rollups"), "ms"),
    }
    for kind in KINDS:
        c = (counters or {}).get(kind, dict.fromkeys(COUNTERS, 0))
        for key in COUNTERS:
            unit = "ms" if key.endswith("_ms") else ("B" if key.endswith("bytes") else "count")
            m[f"spark.{kind}.{key}"] = (float(c[key]), unit)
    return m
