"""Seeded input generation for every workload.

Everything here is a pure function of ``seed`` (and the fixed sizes the
caller passes), so the same seed gives the same inputs.  Counts — series,
history points, anomalies per batch, documents, vectors — do not depend on
the seed, and lines per batch only by a few (the series' seeded phases);
the seed moves identities, values, anomaly positions and request order.
Generation is the benchmark's own work and is never billed to ``setup_s``.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

DAY = 86_400
#: pinned "now" for the stack and every render: 2024-01-08 12:00 UTC
NOW = 1_704_715_200
#: admission window; the longest retention in the generated schemas
MAX_RETENTION = 7 * DAY

# Vera namespace (FIXTURES.md §1): service id -> variables with cadence
# choices in seconds.  Each device carries one of the four service mixes
# below, chosen by its index, so the series count and cadence mix are the
# same for every seed.
_T = "urn:upnp-org:serviceId:TemperatureSensor1"
_E = "urn:micasaverde-com:serviceId:EnergyMetering1"
_S = "urn:micasaverde-com:serviceId:SecuritySensor1"
_H = "urn:micasaverde-com:serviceId:HaDevice1"
_MIXES = [
    [(_T, "CurrentTemperature", 300), (_H, "BatteryLevel", 600)],
    [(_E, "Watts", 60), (_E, "KWH", 300)],
    [(_S, "Tripped", 300), (_H, "BatteryLevel", 600), (_T, "CurrentTemperature", 600)],
    [(_E, "Watts", 60), (_E, "KWH", 600), (_S, "Tripped", 60)],
]

SCHEMAS_CONF = """\
[temperature]
pattern = :Temperature
retentions = 5m:2d,1h:7d

[watts]
pattern = \\.Watts$
retentions = 1m:2d,1h:7d

[security]
pattern = :Security
retentions = 1m:1d,1h:7d

[battery]
pattern = Battery
retentions = 10m:7d

[default]
pattern = .*
retentions = 1m:1d,5m:7d
"""

AGGREGATION_CONF = """\
[kwh]
pattern = \\.KWH$
xFilesFactor = 0
aggregationMethod = last

[tripped]
pattern = \\.Tripped$
xFilesFactor = 0
aggregationMethod = max

[battery]
pattern = BatteryLevel$
xFilesFactor = 0
aggregationMethod = min

[watts]
pattern = \\.Watts$
xFilesFactor = 0.1
aggregationMethod = sum

[default]
pattern = .*
xFilesFactor = 0.5
aggregationMethod = average
"""


def _first_rule(conf: str, path: str) -> dict[str, str]:
    """The first section of a Graphite conf whose pattern matches ``path``."""
    import re

    for block in conf.strip().split("\n\n"):
        rule = dict(ln.split(" = ", 1) for ln in block.splitlines()[1:])
        if re.search(rule["pattern"], path):
            return rule
    raise ValueError(path)


def aggregation(path: str) -> tuple[str, float]:
    """(method, xFilesFactor) of the aggregation rule matching ``path``."""
    rule = _first_rule(AGGREGATION_CONF, path)
    return rule["aggregationMethod"], float(rule["xFilesFactor"])


def write_confs(conf_dir: str) -> None:
    """The Graphite conf directory the stack boots from."""
    os.makedirs(conf_dir, exist_ok=True)
    for name, text in (
        ("storage-schemas.conf", SCHEMAS_CONF),
        ("storage-aggregation.conf", AGGREGATION_CONF),
    ):
        with open(os.path.join(conf_dir, name), "w") as fh:
            fh.write(text)


@dataclass
class Series:
    path: str
    cadence: int
    kind: str
    phase: int
    value: float = 0.0

    def step(self, rng: random.Random) -> str:
        """Advance the random walk; return the value token as written."""
        if self.kind == "CurrentTemperature":
            self.value = round(self.value + rng.uniform(-0.6, 0.6), 2)
        elif self.kind == "Watts":
            self.value = float(max(0, int(self.value) + rng.randint(-40, 40)))
        elif self.kind == "KWH":
            self.value = round(self.value + rng.uniform(0, 0.05), 4)
        elif self.kind == "Tripped":
            self.value = float(rng.random() < 0.2)
        else:  # BatteryLevel
            self.value = float(max(0, int(self.value) - (rng.random() < 0.05)))
        v = self.value
        return str(int(v)) if v == int(v) else repr(v)


@dataclass
class Namespace:
    """The generated series set, with a Zipf popularity order."""

    series: list[Series]
    hot: list[str] = field(default_factory=list)  # most popular first
    devices: list[str] = field(default_factory=list)
    controller: str = "Vera-001"

    def pick_hot(self, rng: random.Random, s: float = 1.1) -> str:
        weights = [1.0 / (r + 1) ** s for r in range(len(self.hot))]
        return rng.choices(self.hot, weights)[0]


def namespace(seed: int, n_devices: int = 10) -> Namespace:
    rng = random.Random(seed * 7_919 + 1)
    controller = f"Vera-{rng.randint(1, 999):03d}"
    devices = [f"{d:03d}" for d in sorted(rng.sample(range(1, 400), n_devices))]
    series: list[Series] = []
    for i, dev in enumerate(devices):
        for svc, var, cadence in _MIXES[i % len(_MIXES)]:
            start = {
                "CurrentTemperature": rng.uniform(-5, 25),
                "Watts": float(rng.randint(0, 400)),
                "KWH": rng.uniform(0, 100),
                "Tripped": 0.0,
                "BatteryLevel": float(rng.randint(60, 100)),
            }[var]
            series.append(
                Series(
                    path=f"{controller}.{dev}.{svc}.{var}",
                    cadence=cadence,
                    kind=var,
                    phase=rng.randrange(cadence),
                    value=start,
                )
            )
    hot = [s.path for s in series]
    rng.shuffle(hot)
    return Namespace(series=series, hot=hot, devices=devices, controller=controller)


def history_drops(
    ns: Namespace, seed: int, start: int, end: int, n_drops: int
) -> list[str]:
    """Clean back-fill history in [start, end) as ``n_drops`` plaintext
    files, split by time so each drop is one contiguous span."""
    rng = random.Random(seed * 104_729 + 2)
    bounds = [start + (end - start) * k // n_drops for k in range(n_drops + 1)]
    drops = []
    for lo, hi in zip(bounds, bounds[1:]):
        lines = []
        for s in ns.series:
            t = lo - lo % s.cadence + s.phase
            t = t if t >= lo else t + s.cadence
            while t < hi:
                lines.append(f"{s.path} {s.step(rng)} {t}")
                t += s.cadence
        drops.append("\n".join(lines) + "\n")
    return drops


@dataclass
class Batch:
    text: str
    lines: int
    #: well-formed lines in arrival order as (path, ts, value); ts None =
    #: no timestamp (the receiver stamps arrival time, pinned to NOW)
    records: list[tuple[str, int | None, float]]
    #: (path, ts) of the freshest on-cadence point of a hot leaf
    probe: tuple[str, int]


def live_batches(
    ns: Namespace, seed: int, start: int, end: int, n_batches: int
) -> list[Batch]:
    """Live Carbon drops covering [start, end) in ``n_batches`` steps, with
    the FIXTURES §1 anomalies mixed in at fixed counts per batch: 5% late
    lines (older, inside retention), 1% (path, ts) duplicates with a new
    value, 2% lines without a timestamp, and a few future,
    beyond-retention and malformed lines.

    The seed places the anomalies and draws their values; their counts do
    not depend on it, and the late lines are stratified over the whole
    retention window (one per equal slice, at a seeded second inside it),
    so every seed writes to the same date partitions."""
    rng = random.Random(seed * 15_485_863 + 3)
    bounds = [start + (end - start) * k // n_batches for k in range(n_batches + 1)]
    seen: list[tuple[str, int]] = []
    batches = []
    for b, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        base: list[tuple[str, int, str]] = []
        for s in ns.series:
            t = lo - lo % s.cadence + s.phase
            t = t if t >= lo else t + s.cadence
            while t < hi:
                base.append((s.path, t, s.step(rng)))
                t += s.cadence
        base.sort(key=lambda r: r[1])
        n = len(base)
        out: list[str] = []
        records: list[tuple[str, int | None, float]] = []

        def emit(path: str, ts: int | None, val: str) -> None:
            out.append(f"{path} {val} {ts}" if ts is not None else f"{path} {val}")
            records.append((path, ts, float(val)))

        paths = [s.path for s in ns.series]
        n_late = round(0.05 * n)
        late_at = set(rng.sample(range(n), n_late))
        dup_at = set(rng.sample(range(n), round(0.01 * n)))
        nots_at = set(rng.sample(range(n), round(0.02 * n)))
        old, young = NOW - MAX_RETENTION + 1, lo - 600
        strata = [old + (young - old) * k // n_late for k in range(n_late + 1)]
        rng.shuffle(slices := list(zip(strata, strata[1:])))
        for i, (path, ts, val) in enumerate(base):
            emit(path, ts, val)
            seen.append((path, ts))
            if i in late_at:  # late, anywhere inside retention
                a, z = slices.pop()
                emit(rng.choice(paths), rng.randrange(a, z), f"{rng.uniform(-50, 50):.3f}")
            if i in dup_at:  # duplicate (path, ts)
                p, t = seen[rng.randrange(len(seen))]
                emit(p, t, str(rng.randint(-9, 9)))
            if i in nots_at:  # no timestamp
                emit(rng.choice(paths), None, str(rng.randint(0, 99)))
        # rejected lines: future, beyond retention, malformed
        for _ in range(max(1, n // 200)):
            out.insert(rng.randrange(len(out) + 1),
                       f"{rng.choice(paths)} 1 {NOW + rng.randint(1, 3_600)}")
            out.insert(rng.randrange(len(out) + 1),
                       f"{rng.choice(paths)} 2 "
                       f"{NOW - MAX_RETENTION - rng.randint(0, DAY)}")
            out.insert(rng.randrange(len(out) + 1),
                       rng.choice([f"{rng.choice(paths)} not-a-number {lo}",
                                   f"{rng.choice(paths)}",
                                   f"{rng.choice(paths)} 1 {lo} extra"]))
        # freshness probe: the hottest leaf's last on-cadence point
        leaf = ns.pick_hot(rng)
        hot = [r for r in base if r[0] == leaf] or base[-1:]
        probe = (hot[-1][0], hot[-1][1])
        batches.append(Batch("\n".join(out) + "\n", len(out), records, probe))
    return batches


def lww_reference(
    batches: list[Batch], now: int = NOW, max_retention: int = MAX_RETENTION
) -> dict[tuple[str, int], float]:
    """Pure-Python last-write-wins over every accepted line, in arrival
    order: the expected content of the datapoints view."""
    state: dict[tuple[str, int], float] = {}
    for b in batches:
        for path, ts, val in b.records:
            t = now if ts is None else ts
            if 0 <= now - t < max_retention:
                state[(path, t)] = val
    return state


# -- curation corpora --------------------------------------------------------

_VOCAB = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "big", "query", "customer", "group",
    "filter", "stream", "the", "a", "of", "index", "shard", "token", "model",
    "train", "eval", "vector", "cluster", "score", "rank",
]
_LANGS = ["en", "de", "fr", "es", "zh"]

#: must match __spark_entry__.CONTAM_EVAL_MOD (eval docs are doc_id % 97 == 0)
CONTAM_EVAL_MOD = 97


def curation_tables(
    out_dir: str, seed: int, n_docs: int, n_vecs: int, dim: int = 64,
) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` in the
    testdata schema and layout, one file per table.

    Planted structure: every 20th document is a near-duplicate of the one
    before it (one token changed), every 41st copies a 12-token span of an
    eval document (doc_id % 97 == 0), and every 10th vector is its
    predecessor plus small noise."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 31 + 5)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 19 and texts:
            toks = texts[-1].split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(_VOCAB)
        elif i % 41 == 40 and i >= CONTAM_EVAL_MOD:
            toks = [rng.choice(_VOCAB) for _ in range(rng.randint(20, 50))]
            ev = texts[((i - 1) // CONTAM_EVAL_MOD) * CONTAM_EVAL_MOD].split(" ")
            k = rng.randrange(max(1, len(ev) - 12))
            toks[5:5] = ev[k : k + 12]
        else:
            toks = [rng.choice(_VOCAB) for _ in range(rng.randint(20, 80))]
        texts.append(" ".join(toks))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nrng = np.random.default_rng(seed)
    emb = nrng.normal(0, 0.12, size=(n_vecs, dim)).astype(np.float32)
    emb[9::10] = emb[8::10][: len(emb[9::10])] + nrng.normal(
        0, 0.002, size=emb[9::10].shape
    ).astype(np.float32)
    vecs = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, 10, n_vecs), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("documents", docs), ("embeddings", vecs)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
