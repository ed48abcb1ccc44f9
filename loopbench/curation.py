"""``curation_small``: a fixed list of training-data curation jobs from
``__spark_entry__.queries()``, each constructed and then collected, by a
single closed-loop client.

Seeded ``documents``/``embeddings`` tables in the testdata schema carry
planted near-duplicate families and eval-contaminated copies.  Each table
is one file (one split: the small-input gates ``io.spread_scan``,
``io.static_construct`` and ``_fuse_small`` are on), sized as ``bench.py``'s
sf0.1 tables at ``--seconds 20``.

Setup (``setup_s``): the session (launching the JVM), table registration
through ``io.load_table``, a scan warm-up and one Arrow round trip, as
``bench.py`` warms up; no curation query runs before timing, so the
engine's per-session caches start empty.  The timed pass runs each job
once, as ``bench.py`` does: per-query plan construction and first-use
code generation are part of what is measured.  The action collects the
job's rows where ``bench.py`` writes them to a ``noop`` sink: the rows
the client receives are the rows checked against the oracle, and the
check does not run every job a second time.
"""

from __future__ import annotations

import importlib.util
import os
import time

from loopbench import gen
from loopbench.harness import job_group

JOBS = (
    "q_dedup_minhash",
    "q_winnow_neardup",
    "q_ann_ivf",
    "q_semdedup",
    "q_bpe_merges",
    "q_contamination",
)
#: corpus size per --seconds: sf0.1's 5,000 documents and 2,000 vectors at
#: 20 s, with a floor that keeps every job's clustering well posed
DOCS_PER_SECOND, MIN_DOCS = 250, 200
VECS_PER_SECOND, MIN_VECS = 100, 150


def _selfcheck(root: str):
    """tools/selfcheck.py's result normalization."""
    spec = importlib.util.spec_from_file_location(
        "loopbench_selfcheck", os.path.join(root, "tools", "selfcheck.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def _identity(batches):
    yield from batches


def _setup(ctx, data: str) -> None:
    from datayours_spark.io import load_table

    spark = ctx.spark = ctx.session.start()
    load_table(spark, data, "documents").groupBy("lang").count().collect()
    load_table(spark, data, "embeddings").count()
    spark.createDataFrame([(1,), (2,)], "x int").mapInPandas(_identity, "x int").count()


def _job(ctx, registry, name: str, data: str):
    """One job: construction (the query function returns), then the
    collect.  Failures are counted, the list goes on.  Returns (columns,
    rows) for the output check, or None if the job failed."""
    if ctx.trace:
        job_group(ctx.spark, "lb|construct")
    t0 = time.perf_counter()
    ok, df, t_c = ctx.ops.run("construct", registry[name], ctx.spark, data)
    t_a, rows = 0.0, None
    if ok:
        if ctx.trace:
            job_group(ctx.spark, "lb|action")
        ok, rows, t_a = ctx.ops.run("action", df.collect)
    if ctx.trace:
        job_group(ctx.spark, None)
    ctx.record.setdefault("jobs", {})[name] = {"construct_s": t_c, "action_s": t_a}
    if not ok:
        return None
    ctx.op_lat.append(time.perf_counter() - t0)
    return df.columns, [tuple(r) for r in rows]


def run(ctx) -> None:
    import __spark_entry__ as entry

    data = os.path.join(ctx.work, "data")
    n_docs = max(MIN_DOCS, DOCS_PER_SECOND * ctx.seconds)
    n_vecs = max(MIN_VECS, VECS_PER_SECOND * ctx.seconds)
    gen.curation_tables(data, ctx.seed, n_docs, n_vecs)
    ctx.record["corpus"] = {"documents": n_docs, "vectors": n_vecs}
    registry = entry.queries()

    t0 = time.perf_counter()
    _setup(ctx, data)
    ctx.setup_s = time.perf_counter() - t0

    if ctx.tracer:
        ctx.tracer.phase = "timed"
    start_ms = time.time() * 1e3
    cpu0, t0 = ctx.session.cpu_s(), time.perf_counter()
    results = {name: _job(ctx, registry, name, data) for name in JOBS}
    ctx.pass_s = time.perf_counter() - t0
    ctx.pass_cpu_s = ctx.session.cpu_s() - cpu0
    ctx.window_ms = (start_ms, time.time() * 1e3)
    ctx.rss = ctx.session.rss()
    if ctx.tracer:
        ctx.tracer.phase = "check"

    jobs = ctx.record.get("jobs", {})
    ctx.layer["curation.construct_s"] = (sum(j["construct_s"] for j in jobs.values()), "s")
    ctx.layer["curation.action_s"] = (sum(j["action_s"] for j in jobs.values()), "s")
    for name, j in jobs.items():
        short = name.removeprefix("q_")
        ctx.layer[f"curation.{short}.construct_s"] = (j["construct_s"], "s")
        ctx.layer[f"curation.{short}.action_s"] = (j["action_s"], "s")
    ctx.problems.extend(_check(results, data, ctx.root))


def _check(results: dict, data: str, root) -> list[str]:
    """Every job's collected rows equal its oracle_sql() in DuckDB,
    compared under tools/selfcheck.py's normalization."""
    import duckdb

    import __spark_entry__ as entry

    normalize = _selfcheck(str(root))
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    problems = []
    for name, result in results.items():
        if result is None:
            problems.append(f"{name}: no result to check")
            continue
        cols, rows = result
        try:
            got = normalize(rows, cols)
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            want = normalize(cur.fetchall(), ocols)
        except Exception as exc:  # noqa: BLE001 - a check that cannot run fails
            problems.append(f"{name}: check raised {type(exc).__name__}: {exc}"[:300])
            continue
        if sorted(cols) != sorted(ocols):
            problems.append(f"{name}: columns {sorted(cols)} != {sorted(ocols)}")
        elif got != want:
            problems.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
    con.close()
    return problems


def layer_names() -> list[str]:
    names = ["curation.construct_s", "curation.action_s"]
    for name in JOBS:
        short = name.removeprefix("q_")
        names += [f"curation.{short}.construct_s", f"curation.{short}.action_s"]
    return names
