"""Small pure helpers: percentiles, span self time, answer hashing, names."""

from __future__ import annotations

import hashlib
import math
import re
import statistics
from decimal import Decimal

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, target: float = 90.0) -> tuple[float, float, int]:
    """The tail percentile a sample supports: ``target`` when at least ten
    samples lie beyond it, else the highest percentile that still has ten
    samples beyond it (nearest-rank).  Below 20 samples no percentile above
    the median has ten beyond it, and the median is used.  Returns
    ``(percentile, value, n)`` so the sample count is always stated with the
    figure."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n < 20:
        return 50.0, median(s), n
    p = min(target, 100.0 * (n - 10) / n)
    idx = max(0, math.ceil(round(p * n / 100.0, 9)) - 1)
    return p, float(s[idx]), n


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of ``[start, end]`` its children
    cover (overlapping children are counted once, and only inside the
    parent's interval)."""
    ivs = sorted((max(a, start), min(b, end)) for a, b in children)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return (end - start) - covered


def _cell(v) -> str:
    if isinstance(v, Decimal):
        v = float(v)
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        r = round(v, 6)
        if r == int(r) and abs(r) < 2**53:
            return str(int(r))
        return f"{r:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def answer(rows, columns) -> tuple[int, str]:
    """Order-insensitive fingerprint of a result: row count and a hash of
    the rows rendered with sorted column names and doubles rounded to 1e-6
    (the canonical form the registry's oracle checks use)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return len(lines), h.hexdigest()[:16]
