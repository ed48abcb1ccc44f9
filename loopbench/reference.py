"""Independent expectations for the Graphite read and write paths, in
plain Python over the reference last-write-wins state (a dict of
(path, second) -> value), and the comparison of response bodies with
them.  No engine code is used here."""

from __future__ import annotations

import fnmatch
import json
import math


def glob_leaves(paths, pattern: str) -> list[str]:
    """Leaf paths matching a Graphite glob, level by level."""
    levels = pattern.split(".")
    return sorted(
        p for p in paths
        if len(p.split(".")) == len(levels)
        and all(fnmatch.fnmatchcase(s, g) for s, g in zip(p.split("."), levels))
    )


def find_nodes(paths, pattern: str) -> list[tuple[str, str, bool]]:
    """(path, name, is_leaf) nodes of /metrics/find, ordered by path then
    branch-before-leaf."""
    levels = pattern.split(".")
    n = len(levels)
    has_leaf: dict[str, bool] = {}
    has_branch: dict[str, bool] = {}
    for p in paths:
        segs = p.split(".")
        if len(segs) < n:
            continue
        if not all(fnmatch.fnmatchcase(s, g) for s, g in zip(segs[:n], levels)):
            continue
        prefix = ".".join(segs[:n])
        if len(segs) == n:
            has_leaf[prefix] = True
        else:
            has_branch[prefix] = True
    nodes = []
    for prefix in sorted(set(has_leaf) | set(has_branch)):
        name = prefix.split(".")[-1]
        if has_branch.get(prefix):
            nodes.append((prefix, name, False))
        if has_leaf.get(prefix):
            nodes.append((prefix, name, True))
    return nodes


def slot_lww(state: dict, paths: list[str], step: int, lo: int, hi: int) -> dict:
    """(path, slot) -> value of the latest second in each slot."""
    best: dict[tuple[str, int], tuple[int, float]] = {}
    wanted = set(paths)
    for (p, t), v in state.items():
        if p in wanted and lo <= t < hi + step:
            key = (p, t - t % step)
            if key not in best or t > best[key][0]:
                best[key] = (t, v)
    return {k: v for k, (_t, v) in best.items()}


def render_grid(state: dict, paths, target: str, frm: int, until: int,
                step: int) -> dict[str, list]:
    """Expected /render series: leaf -> [(slot, value or None), ...], for a
    window under the engine's max_points bound (no coarsening)."""
    leaves = glob_leaves(paths, target)
    lo, hi = frm - frm % step, until - until % step
    vals = slot_lww(state, leaves, step, lo, hi)
    return {
        p: [(s, vals.get((p, s))) for s in range(lo, hi + 1, step)] for p in leaves
    }


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return float(f"{a:.14g}") == float(f"{b:.14g}")


def check_json_render(body: str, expected: dict[str, list]) -> str | None:
    """None when the /render JSON body equals the expectation, else why."""
    got = json.loads(body) if body.strip() else None
    if not isinstance(got, list):
        return "render body is not a JSON list"
    series = {s["target"]: [(t, v) for v, t in s["datapoints"]] for s in got}
    if sorted(series) != sorted(expected):
        return f"targets {sorted(series)[:3]} != {sorted(expected)[:3]}"
    for p, pts in expected.items():
        g = series[p]
        if len(g) != len(pts):
            return f"{p}: {len(g)} slots != {len(pts)}"
        for (ts, v), (ets, ev) in zip(g, pts):
            if ts != ets or not _same(v, ev):
                return f"{p}@{ets}: got {v!r} want {ev!r}"
    return None


def check_find(body: str, expected: list[tuple[str, str, bool]]) -> str | None:
    got = [(n["id"], n["text"], bool(n["leaf"])) for n in json.loads(body)]
    return None if got == expected else f"find {got[:3]} != {expected[:3]}"


def rollup_levels(state: dict, steps: tuple[int, ...], rule) -> dict[int, dict]:
    """Expected maintained rollup tables: the finest level is the slot
    last-write-wins table; each coarser level aggregates the previous one
    per series with the (method, xff) ``rule(path)`` assigns, a slot kept
    only when known / ratio >= xff (whisper propagation)."""
    steps = sorted(steps)
    best: dict[tuple[str, int], tuple[int, float]] = {}
    for (p, t), v in state.items():
        key = (p, t - t % steps[0])
        if key not in best or t > best[key][0]:
            best[key] = (t, v)
    levels = {steps[0]: {k: v for k, (_t, v) in best.items()}}
    for prev, step in zip(steps, steps[1:]):
        groups: dict[tuple[str, int], list[tuple[int, float]]] = {}
        for (p, s), v in levels[prev].items():
            groups.setdefault((p, s - s % step), []).append((s, v))
        level = {}
        for (p, s), pts in groups.items():
            method, xff = rule(p)
            if len(pts) / (step // prev) < xff:
                continue
            vals = [v for _s, v in sorted(pts)]
            level[(p, s)] = {
                "average": sum(vals) / len(vals), "sum": sum(vals), "last": vals[-1],
                "max": max(vals), "min": min(vals),
            }[method]
        levels[step] = level
    return levels


def check_rollups(got: dict[int, dict], want: dict[int, dict]) -> str | None:
    for step, level in want.items():
        g = got.get(step, {})
        if set(g) != set(level):
            return f"rollup_{step}: {len(g)} slots != {len(level)}"
        for k, v in level.items():
            if not math.isclose(g[k], v, rel_tol=1e-9, abs_tol=1e-9):
                return f"rollup_{step} {k}: {g[k]!r} != {v!r}"
    return None
