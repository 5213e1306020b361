"""Brute-force references for the engine's answers, in numpy.

Points are float32 in storage and every distance is computed in float64, as
the engine does. Point ids are row indices of the coordinate array. Each
check returns an error string, or None when the engine's rows match.
"""

from __future__ import annotations

import numpy as np


def _d2(xy64: np.ndarray, src: int) -> np.ndarray:
    dx = xy64[:, 0] - xy64[src, 0]
    dy = xy64[:, 1] - xy64[src, 1]
    return dx * dx + dy * dy


def radius_ids(xy64: np.ndarray, src: int, radius: float) -> np.ndarray:
    """Sorted ids within ``radius`` of point ``src`` (itself included)."""
    return np.nonzero(_d2(xy64, src) <= radius * radius)[0]


def knn_ids(xy64: np.ndarray, src: int, k: int) -> np.ndarray:
    """The k nearest ids of point ``src``, itself excluded, ordered by
    (d², id)."""
    d2 = _d2(xy64, src)
    d2[src] = np.inf
    cut = np.argpartition(d2, k)[: k + 1]
    # ties at the k-th distance may reach past the partition: widen to all
    # ids at or below the (k+1)-th smallest distance before the exact sort
    cand = np.nonzero(d2 <= d2[cut].max())[0]
    order = np.lexsort((cand, d2[cand]))
    return cand[order][:k]


def radius_count(xy64: np.ndarray, radius: float, sources) -> int:
    """Number of (src, dst) pairs with d² ≤ radius², src in ``sources`` and
    dst any point (self-loops included): the row count of an exact ε-join of
    those sources against all points. Points are bucketed into square cells
    slightly wider than ``radius``, so only the 3×3 ring of a source's cell
    can hold its neighbours."""
    src = np.asarray(sources, dtype=np.int64)
    cells = np.floor(xy64 / (radius * (1.0 + 1e-9))).astype(np.int64)
    cells -= cells.min(axis=0) - 1
    width = int(cells[:, 1].max()) + 2
    keys = cells[:, 0] * width + cells[:, 1]
    order = np.argsort(keys, kind="stable")
    sorted_keys, sorted_xy = keys[order], xy64[order]
    total = 0
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            k = keys[src] + dx * width + dy
            lo = np.searchsorted(sorted_keys, k, "left")
            cnt = np.searchsorted(sorted_keys, k, "right") - lo
            starts = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
            idx = starts + np.arange(int(cnt.sum()))
            d = sorted_xy[idx] - xy64[np.repeat(src, cnt)]
            total += int(np.count_nonzero(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]
                                          <= radius * radius))
    return total


def check_radius(xy64: np.ndarray, radius: float, sources, pairs: np.ndarray) -> str | None:
    """``pairs`` (m, 2) = (src, dst) rows the engine returned for ``sources``."""
    got = {}
    for s, d in pairs:
        got.setdefault(int(s), []).append(int(d))
    for s in sources:
        want = radius_ids(xy64, int(s), radius)
        have = np.sort(np.asarray(got.pop(int(s), []), dtype=np.int64))
        if len(have) != len(want) or not np.array_equal(have, want):
            return (f"radius src={int(s)}: {len(have)} rows, want {len(want)}; "
                    f"missing {np.setdiff1d(want, have)[:5].tolist()} "
                    f"extra {np.setdiff1d(have, want)[:5].tolist()}")
    if got:
        return f"radius: rows for unexpected sources {sorted(got)[:5]}"
    return None


def check_knn(xy64: np.ndarray, k: int, sources, rows: np.ndarray) -> str | None:
    """``rows`` (m, 3) = (src, rank, dst) rows the engine returned for
    ``sources``; ranks are 1-based."""
    got = {}
    for s, rank, d in rows:
        got.setdefault(int(s), {})[int(rank)] = int(d)
    for s in sources:
        want = knn_ids(xy64, int(s), k).tolist()
        ranks = got.pop(int(s), {})
        have = [ranks.get(i) for i in range(1, len(ranks) + 1)]
        if have != want:
            return f"knn src={int(s)}: got {have}, want {want}"
    if got:
        return f"knn: rows for unexpected sources {sorted(got)[:5]}"
    return None
