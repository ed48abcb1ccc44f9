"""``carbon_ingest``: a running conf-booted stack fed one Carbon drop per
step by a single closed-loop client.

Setup (``setup_s``): start the session, boot ``launcher.start_from_conf``,
back-fill a day of history through the stream (the ingest path's
warm-up) and serve one JSON ``/render`` of a history leaf (the read
path's warm-up).

One timed step, issued only after the previous one returned:

1. ``streaming.transport.atomic_drop`` one plaintext file of ~550 seeded
   lines with the FIXTURES §1 anomalies, then ``process_available()``;
2. a JSON ``/render`` of a Zipf-hot leaf the batch touched, through a
   fresh ``graphite_app()`` (the freshness read).

The step's latency, drop to the render that returns the dropped point, is
the workload's operation.  After the last step the pass runs
``refresh_rollups(changed_dates)`` over every date the history and the
batches touched (no rollup exists before it, so it builds every level)
and one ``/metrics/find``.  The store is never compacted, so the read
path meets one more file set per batch.
"""

from __future__ import annotations

import datetime
import os
import time
from urllib.parse import quote

from loopbench import gen, harness, reference
from loopbench.harness import job_group

#: nominal seconds of one timed step on a 4-core host; --seconds / this
#: fixes the step count, so equal --seconds means equal work
STEP_SECONDS = 5.0
MIN_STEPS = 2
HISTORY_DROPS = 1
#: one live batch covers this much event time (~500 lines at the mix)
BATCH_SPAN = 3_180
#: render step of the served app, seconds
APP_STEP = 60


def _date(ts: int) -> str:
    return datetime.datetime.fromtimestamp(ts, tz=datetime.timezone.utc).strftime("%Y-%m-%d")


def request(app, path: str, **params) -> str:
    """One WSGI request; a non-200 status raises, so it counts as failed."""
    status = []
    env = {
        "PATH_INFO": path,
        "QUERY_STRING": "&".join(f"{k}={quote(str(v), safe='')}" for k, v in params.items()),
        "REQUEST_METHOD": "GET",
    }
    body = b"".join(app(env, lambda s, _h: status.append(s))).decode()
    if not status or not status[0].startswith("200"):
        raise RuntimeError(f"{path} answered {status[:1]}")
    return body


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.ns = gen.namespace(ctx.seed)
        self.n_steps = max(MIN_STEPS, round(ctx.seconds / STEP_SECONDS))
        self.live_start = gen.NOW - self.n_steps * BATCH_SPAN
        self.history = gen.history_drops(
            self.ns, ctx.seed, self.live_start - gen.DAY, self.live_start, HISTORY_DROPS
        )
        self.batches = gen.live_batches(
            self.ns, ctx.seed, self.live_start, gen.NOW, self.n_steps
        )
        self.paths = [s.path for s in self.ns.series]
        self.conf = os.path.join(ctx.work, "conf")
        gen.write_confs(self.conf)
        self.stack = None
        self.touched: set[str] = set()  # dates the history and batches wrote
        self.bodies: list[str | None] = []  # freshness render per step
        self.find_body = None

    # -- one step ----------------------------------------------------------

    def _ingest(self, b: int) -> None:
        from datayours_spark.streaming.transport import atomic_drop

        atomic_drop(self.stack.pipeline.input_dir, f"live-{b:04d}.txt",
                    self.batches[b].text)
        self.stack.process_available()

    def _window(self, b: int) -> tuple[int, int]:
        lo = self.live_start + b * BATCH_SPAN
        return lo - 2 * 3_600, min(gen.NOW, lo + BATCH_SPAN)

    def _op(self, kind: str, tag: str | None, fn, *args, **kwargs):
        """One timed operation under its Spark job tag (traced runs)."""
        ctx = self.ctx
        if ctx.trace:
            job_group(ctx.spark, tag)
        ok, out, dt = ctx.ops.run(kind, fn, *args, **kwargs)
        if ctx.trace:
            job_group(ctx.spark, None)
        ctx.lat.setdefault(kind, []).append(dt)
        return ok, out, dt

    def _render(self, **params) -> str:
        """A JSON /render through a fresh app: the view is rebuilt over the
        current files, as serving after an ingest batch must."""
        app = self.stack.graphite_app(step=APP_STEP, now=gen.NOW)
        return request(app, "/render", format="json", **params)

    def step(self, i: int) -> float | None:
        """Timed step i; returns the freshness latency (drop to the render
        returning), or None when either operation failed."""
        t0 = time.perf_counter()
        # trigger jobs carry the stream's own tag, so ingest is untagged
        ok_i, _, _ = self._op("ingest", None, self._ingest, i)
        frm, until = self._window(i)
        ok_r, body, _ = self._op("render", "lb|render", self._render,
                                 target=self.batches[i].probe[0],
                                 **{"from": frm, "until": until})
        fresh = time.perf_counter() - t0
        self.bodies.append(body if ok_r else None)
        self.touched |= {_date(gen.NOW if ts is None else ts)
                         for _p, ts, _v in self.batches[i].records}
        return fresh if ok_i and ok_r else None

    def rollup(self) -> None:
        self._op("rollup", "lb|rollup", self.stack.refresh_rollups, sorted(self.touched))

    def find(self) -> None:
        def find():
            app = self.stack.graphite_app(step=APP_STEP, now=gen.NOW)
            return request(app, "/metrics/find", query=f"{self.ns.controller}.*")

        _ok, self.find_body, _ = self._op("find", "lb|find", find)

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from datayours_spark import launcher
        from datayours_spark.streaming.transport import atomic_drop

        spark = self.ctx.spark = self.ctx.session.start()
        work = harness.fresh_dir(os.path.join(self.ctx.work, "stack"))
        self.stack = launcher.start_from_conf(
            spark, self.conf, work, daemons="Cache Graph", now_override=gen.NOW
        )
        for j, text in enumerate(self.history):
            atomic_drop(self.stack.pipeline.input_dir, f"history-{j:03d}.txt", text)
            self.touched |= {_date(int(ln.rsplit(" ", 1)[1])) for ln in text.splitlines()}
        self.stack.process_available()
        self._render(target=self.ns.hot[0],
                     **{"from": self.live_start - 6 * 3_600, "until": self.live_start})

    # -- checks (untimed) ----------------------------------------------------

    def _state(self, upto: int) -> dict:
        """Reference LWW state after the history and batches[:upto]."""
        state = {}
        for text in self.history:
            for line in text.splitlines():
                p, v, t = line.split()
                state[(p, int(t))] = float(v)
        state.update(gen.lww_reference(self.batches[:upto]))
        return state

    def check(self) -> list[str]:
        problems = []
        for b, body in enumerate(self.bodies):
            if body is None:
                continue
            state = self._state(b + 1)
            frm, until = self._window(b)
            leaf, ts = self.batches[b].probe
            want = reference.render_grid(state, self.paths, leaf, frm, until, APP_STEP)
            why = reference.check_json_render(body, want)
            if why is None and dict(want[leaf]).get(ts - ts % APP_STEP) != state.get((leaf, ts)):
                why = f"dropped point {leaf}@{ts} is not its slot's value"
            if why:
                problems.append(f"freshness batch {b}: {why}")
        final = self._state(len(self.batches))
        pattern = f"{self.ns.controller}.*"
        if self.find_body is not None:
            why = reference.check_find(self.find_body, reference.find_nodes(self.paths, pattern))
            if why:
                problems.append(why)
        # the stored table equals LWW over every accepted line
        got = {(r["path"], r["ts_sec"]): r["value"]
               for r in self.stack.datapoints().collect()}
        if got != final:
            extra = sorted(set(got) - set(final))[:3]
            missing = sorted(set(final) - set(got))[:3]
            diff = [k for k in final if k in got and got[k] != final[k]][:3]
            problems.append(f"datapoints differ: extra {extra} missing {missing} value {diff}")
        if any(t > gen.NOW or gen.NOW - t >= gen.MAX_RETENTION for _p, t in got):
            problems.append("a future or beyond-retention point was stored")
        # the rollup tables, built by the refresh over the touched dates,
        # equal a full recompute of the reference state
        out = self.stack.pipeline.output_dir
        steps = self.stack.pipeline.rollup_steps
        try:
            got = {
                st: {(r["path"], r["slot"]): r["value"]
                     for r in self.ctx.spark.read.parquet(f"{out}/rollup_{st}").collect()}
                for st in steps
            }
        except Exception as exc:  # noqa: BLE001 - e.g. the refresh failed
            return problems + [f"rollup tables unreadable: {type(exc).__name__}"]
        why = reference.check_rollups(
            got, reference.rollup_levels(final, steps, gen.aggregation))
        if why:
            problems.append(why)
        return problems

    # -- layer counts --------------------------------------------------------

    def store_files(self) -> set[str]:
        root = f"{self.stack.pipeline.output_dir}/datapoints"
        return {os.path.join(r, f) for r, _d, fs in os.walk(root)
                for f in fs if f.endswith(".parquet")}

    def layer_counts(self, first_batch_id: int, new_files: set[str]) -> dict:
        import pyarrow.parquet as pq

        out = self.stack.pipeline.output_dir
        dur = dict.fromkeys(
            ("triggerExecution", "addBatch", "latestOffset", "walCommit",
             "commitOffsets", "queryPlanning"), 0.0)
        rows_in = 0
        seen = set()
        for pr in self.stack.query.recentProgress:
            if pr.batchId < first_batch_id or pr.batchId in seen:
                continue
            if "addBatch" not in pr.durationMs:
                continue
            seen.add(pr.batchId)
            rows_in += pr.numInputRows
            for k in dur:
                dur[k] += pr.durationMs.get(k, 0)
        committed = sum(pq.ParquetFile(f).metadata.num_rows for f in new_files)
        rollups = sum(harness.dir_bytes(os.path.join(out, d))
                      for d in os.listdir(out) if d.startswith("rollup_"))
        return {
            "ingest.trigger_ms": (dur["triggerExecution"], "ms"),
            "ingest.add_batch_ms": (dur["addBatch"], "ms"),
            "ingest.latest_offset_ms": (dur["latestOffset"], "ms"),
            "ingest.wal_commit_ms": (dur["walCommit"], "ms"),
            "ingest.commit_offsets_ms": (dur["commitOffsets"], "ms"),
            "ingest.query_planning_ms": (dur["queryPlanning"], "ms"),
            "ingest.rows_in": (rows_in, "count"),
            "ingest.rows_committed": (committed, "count"),
            "ingest.rows_rejected": (rows_in - committed, "count"),
            "store.datapoints_files": (len(self.store_files()), "count"),
            "store.bytes_datapoints": (harness.dir_bytes(f"{out}/datapoints"), "B"),
            "store.bytes_rollups": (rollups, "B"),
            "store.bytes_stats": (harness.dir_bytes(f"{out}/series_stats"), "B"),
        }


def run(ctx) -> None:
    """Fills ctx.setup_s, ctx.lat, ctx.op_lat, ctx.pass_s, ctx.problems,
    ctx.layer and ctx.record."""
    wl = Workload(ctx)
    t0 = time.perf_counter()
    wl.setup()
    ctx.setup_s = time.perf_counter() - t0
    if ctx.tracer:
        ctx.tracer.phase = "timed"
    last = wl.stack.query.lastProgress
    first_batch = last.batchId + 1 if last is not None else 0
    files_before = wl.store_files()
    start_ms = time.time() * 1e3
    cpu0, t0 = ctx.session.cpu_s(), time.perf_counter()
    for i in range(wl.n_steps):
        f = wl.step(i)
        if f is not None:
            ctx.op_lat.append(f)
    wl.rollup()
    wl.find()
    ctx.pass_s = time.perf_counter() - t0
    ctx.pass_cpu_s = ctx.session.cpu_s() - cpu0
    ctx.window_ms = (start_ms, time.time() * 1e3)
    ctx.rss = ctx.session.rss()
    if ctx.tracer:
        ctx.tracer.phase = "check"
    ctx.stream_run_ids = {str(wl.stack.query.runId)}
    ctx.layer.update(wl.layer_counts(first_batch, wl.store_files() - files_before))
    accepted = len(wl._state(len(wl.batches)))
    ctx.record["points_accepted"] = accepted
    ctx.record["store_bytes_per_point"] = (
        harness.dir_bytes(wl.stack.pipeline.output_dir) / max(1, accepted))
    ctx.record["lines_per_batch"] = [b.lines for b in wl.batches]
    ctx.record["steps"] = wl.n_steps
    ctx.problems.extend(wl.check())
    wl.stack.stop()
