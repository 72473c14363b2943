"""The benchmark's own arithmetic: result fingerprints, percentiles,
interval unions for span self time, and the end-to-end and per-layer
summaries. Pure functions, so ``perfbench/tests`` can pin them."""

from __future__ import annotations

import hashlib
import math
import statistics
from datetime import date, datetime
from decimal import Decimal

# --- result fingerprints ------------------------------------------------
# Same canonical form as tests/_compare.py: values rendered with a type
# tag, columns ordered by lower-cased name, rows sorted as strings.


def canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, datetime):
        return f"t:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def rowset(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def result_fingerprint(cols, rows) -> str:
    """Order-insensitive digest of a result: sorted lower-cased column
    names, row count and the canonical row set."""
    cols = [c.lower() for c in cols]
    h = hashlib.sha256()
    h.update(("\x1f".join(sorted(cols)) + f"\x1e{len(rows)}\x1e").encode())
    for line in rowset(cols, rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()[:32]


# --- percentiles ----------------------------------------------------------

def nearest_rank(values, p: float) -> float:
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail(values, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``beyond`` samples
    above it. Returns (value, percentile, sample count). With too few
    samples for that, it falls back to the median."""
    n = len(values)
    if n <= 2 * beyond:
        return statistics.median(values), 50.0, n
    p = 100.0 * (n - beyond) / n
    return nearest_rank(values, p), round(p, 2), n


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# --- spans ---------------------------------------------------------------

def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs), optionally clipped
    to [lo, hi]. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, -math.inf
    for a, b in sorted(clipped):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans) -> dict[str, float]:
    """Self time per span id: its duration minus the union of its
    children's intervals inside it."""
    kids: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def counted_stages(stages, since: float | None = None) -> list[dict]:
    """Stage attempts that ran for this execution, each once. Skipped
    stages (their shuffle output was reused) and pending ones (their job
    failed first) did no work; a stage that several jobs list is counted
    once; with ``since`` (epoch seconds), a stage submitted before it ran
    for an earlier execution."""
    seen, out = set(), []
    for s in stages:
        key = (s["stageId"], s.get("attemptId", 0))
        if s.get("status") in ("SKIPPED", "PENDING") or key in seen:
            continue
        if since is not None and s.get("submitted", since) < since:
            continue
        seen.add(key)
        out.append(s)
    return out


# --- end-to-end summary -----------------------------------------------------

def failed_ratio(executions) -> float:
    """Executions that raised or returned a wrong result, over attempts."""
    if not executions:
        return 0.0
    return sum(1 for e in executions if not e["ok"]) / len(executions)


def end_to_end(setups, executions, pass_walls) -> dict:
    """The end-to-end figures of one run. ``executions`` carry ``pass``
    (0 is the cold pass), ``name``, ``latency_s`` and ``ok``;
    ``pass_walls`` is the wall time of each pass."""
    warm = [e for e in executions if e["pass"] > 0]
    lat = [e["latency_s"] for e in warm]
    per_query: dict[str, list[float]] = {}
    for e in warm:
        per_query.setdefault(e["name"], []).append(e["latency_s"])
    tail_v, tail_p, n = tail(lat)
    return {
        "setup_s": statistics.median(setups),
        "cold_pass_s": pass_walls[0],
        "warm_qps": len(warm) / sum(pass_walls[1:]),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail_v,
        "query_tail_percentile": tail_p,
        "warm_samples": n,
        "query_geomean_s": geomean([statistics.median(v) for v in per_query.values()]),
        "failed_ratio": failed_ratio(executions),
    }
