"""Seeded point generators: coordinates are a pure function of (id, seed).

Each coordinate comes from a counter-based hash (splitmix64) of the point id
and the seed, so a point's coordinates do not depend on which other ids are
generated with it or on how the ids are split into partitions. Coordinates
are stored as float32, like the engine's point tables.

The engine's own generators are deliberately not used: ``geo.x_col`` /
``geo.y_col`` repeat with period 1,000,003 ids, and ``sources.synthetic`` is
engine code a change could alter, which would change the benchmark inputs.
"""

from __future__ import annotations

import math

import numpy as np

EXTENT = 10.0  # uniform points lie in [-EXTENT, EXTENT)^2
OUTLIER_GAP = 3.0  # the uniform workload's point 0 lies this far above the square
VAR = 10.0     # Gaussian points are iid N(0, VAR) per coordinate

_U64 = np.uint64
_GOLDEN = _U64(0x9E3779B97F4A7C15)


def _splitmix64(z: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = z + _GOLDEN
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        return z ^ (z >> _U64(31))


def _unit(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Uniform doubles in (0, 1), one per id, for one (seed, stream) pair."""
    key = _splitmix64(np.array([seed * 4 + stream], dtype=_U64))[0]
    with np.errstate(over="ignore"):
        h = _splitmix64(np.asarray(ids, dtype=np.int64).astype(_U64) ^ key)
    return ((h >> _U64(11)).astype(np.float64) + 0.5) / float(1 << 53)


def uniform_xy(ids: np.ndarray, seed: int) -> np.ndarray:
    """(len(ids), 2) float32 points, uniform on [-EXTENT, EXTENT)^2."""
    u = np.stack([_unit(ids, seed, 0), _unit(ids, seed, 1)], axis=1)
    return ((u * 2.0 - 1.0) * EXTENT).astype(np.float32)


def gaussian_xy(ids: np.ndarray, seed: int) -> np.ndarray:
    """(len(ids), 2) float32 points, iid N(0, VAR) per coordinate (Box-Muller)."""
    u1, u2 = _unit(ids, seed, 2), _unit(ids, seed, 3)
    rad = np.sqrt(-2.0 * np.log(u1) * VAR)
    ang = 2.0 * np.pi * u2
    return np.stack([rad * np.cos(ang), rad * np.sin(ang)], axis=1).astype(np.float32)


def uniform_outlier_xy(ids: np.ndarray, seed: int) -> np.ndarray:
    """``uniform_xy``, except that point 0 lies OUTLIER_GAP above the
    square, far from every other point. Its nearest neighbours are outside
    the cells the kNN kernel's first round searches, so every seed leaves at
    least one kNN straggler and runs the straggler pass; uniform points
    alone leave none on some seeds."""
    xy = uniform_xy(ids, seed)
    xy[np.asarray(ids) == 0] = (0.0, EXTENT + OUTLIER_GAP)
    return xy


GENERATORS = {"uniform": uniform_outlier_xy, "gaussian": gaussian_xy}


def degree_radius(geometry: str, n: int, degree: float) -> float:
    """ε radius whose mean ε-graph degree (self-loop included) is ``degree``.

    Uniform: degree = n·πr²/area. Gaussian: the mean density seen by a point
    is ∫f² = 1/(4π·VAR), so degree = n·πr²/(4π·VAR) = n·r²/(4·VAR).
    """
    if geometry == "uniform":
        return math.sqrt(degree * (2 * EXTENT) ** 2 / (math.pi * n))
    return math.sqrt(degree * 4.0 * VAR / n)
