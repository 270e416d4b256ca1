"""Small numeric helpers shared by the benchmark and its self-test."""

from __future__ import annotations

import os
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles `statistics.quantiles`
    gives (its default 'exclusive' method); 0 for fewer than 2 values."""
    if len(values) < 2:
        return 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    mid = median(values)
    return (q3 - q1) / mid if mid else float("inf")


Snapshot = dict[str, tuple[int, int]]


def snapshot(root: str) -> Snapshot:
    """{relative path: (size, mtime_ns)} for every file under root."""
    out: Snapshot = {}
    for base, _dirs, files in os.walk(root):
        for name in files:
            st = os.stat(os.path.join(base, name))
            out[os.path.relpath(os.path.join(base, name), root)] = (
                st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: Snapshot, after: Snapshot) -> dict[str, int]:
    """Bytes of the files that are new or rewritten between two
    snapshots, summed by top-level directory (the store table); a file
    at the root (the commit manifest) counts under its own name."""
    out: dict[str, int] = {}
    for rel, (size, mtime) in after.items():
        if before.get(rel) == (size, mtime):
            continue
        table = rel.split(os.sep, 1)[0]
        out[table] = out.get(table, 0) + size
    return out
