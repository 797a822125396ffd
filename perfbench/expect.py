"""Independent expectations and statistics for the benchmark.

Nothing here imports the program: the expected records are computed
from the generated bytes alone, by the rules the CLI documents (line
split on LF, one trailing CR stripped, empty lines dropped, the line
wrapped as ``{output_key: line, **entries}``; in JSON mode top-level
nulls skipped and entries merged into objects only, an entry winning a
key collision).
"""

from __future__ import annotations

import json
import math
from collections import Counter


def canonical(text: str) -> str:
    """One delivered or expected record as comparable text: parsed JSON
    re-serialized with sorted keys."""
    return json.dumps(json.loads(text), sort_keys=True, separators=(",", ":"))


def expected_line_records(raw: bytes, output_key: str,
                          entries: dict[str, str]) -> list[str]:
    """Records ``-f line -F json`` must deliver for input ``raw``."""
    text = raw.decode("utf-8", "replace")
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # the final LF ends the last line
    out = []
    for line in lines:
        if line.endswith("\r"):
            line = line[:-1]
        if line:
            out.append(json.dumps({output_key: line, **entries}))
    return out


def expected_json_records(values: list[object],
                          entries: dict[str, str]) -> list[str]:
    """Records ``-f json`` must deliver for the given top-level values."""
    out = []
    for v in values:
        if v is None:
            continue
        if isinstance(v, dict):
            v = {**v, **entries}
        out.append(json.dumps(v))
    return out


def throttled(record: str, reject_mod: int) -> bool:
    """The endpoint's rule: an object whose ``event_id`` is a multiple of
    ``reject_mod`` is refused."""
    v = json.loads(record)
    return isinstance(v, dict) and isinstance(v.get("event_id"), int) \
        and v["event_id"] % reject_mod == 0


def compare(expected: list[str], delivered: list[str]) -> dict:
    """Multiset comparison of canonical records.

    Returns counts of ``missing`` (expected, not delivered),
    ``unexpected`` (delivered, never expected) and ``duplicates``
    (delivered more often than expected)."""
    want = Counter(canonical(r) for r in expected)
    got = Counter(canonical(r) for r in delivered)
    missing = sum((want - got).values())
    extra = got - want
    duplicates = sum(min(n, got[k] - 1) for k, n in extra.items() if k in want)
    return {
        "expected": sum(want.values()),
        "delivered": sum(got.values()),
        "missing": missing,
        "duplicates": duplicates,
        "unexpected": sum(extra.values()) - duplicates,
    }


def percentile(samples: list[float], p: float, beyond: int = 10) -> float:
    """The ``p``-th percentile (0-100, nearest rank) of ``samples``.

    Refuses (raises ``ValueError``) unless at least ``beyond`` samples lie
    above the percentile's rank, so a tail figure is never read off a
    handful of points."""
    n = len(samples)
    rank = max(math.ceil(p / 100.0 * n), 1)
    if n - rank < beyond:
        raise ValueError(
            f"p{p:g} needs {beyond} samples beyond it; have {n} samples "
            f"({n - rank} beyond)")
    return sorted(samples)[rank - 1]


def median(samples: list[float]) -> float:
    s = sorted(samples)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def geomean(samples: list[float]) -> float:
    """Geometric mean: each sample weighs the same in relative terms, so
    one slow query does not drown the fast ones."""
    if not samples:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(x) for x in samples) / len(samples))


def backlog_grew(rate: float, backlog: int, limit_s: float) -> bool:
    """Ladder stop rule: a step's backlog grows when more records wait
    than the step's rate delivers within the latency limit.

    By Little's law a steady queue of ``rate * limit_s`` records means
    a wait of ``limit_s``; more than that at the step's end means input
    arrives faster than the program drains it."""
    return backlog > rate * limit_s


def ladder(start: float, cap: float) -> list[float]:
    """Doubling rates from ``start`` up to and including ``cap``."""
    rates = []
    r = start
    while r <= cap:
        rates.append(r)
        r *= 2
    return rates


def sustained_rate(steps: list[dict]) -> float:
    """Highest step rate reached before the first step whose backlog grew.

    ``steps`` are in ladder order, each ``{"rate": r, "grew": bool}``.
    Returns 0.0 when even the first step grew."""
    best = 0.0
    for s in steps:
        if s["grew"]:
            break
        best = s["rate"]
    return best
