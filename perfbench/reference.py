"""Brute-force point-in-polygon reference, independent of the engine.

Coordinates are int64 lattice units (1e-7 degree, see ``gen.py``), so the
crossing-number test is exact: for an edge (x1, y1)-(x2, y2) that
straddles the point's row (half-open rule), the point is left of the edge
crossing iff ``((py - y1) * dx - (px - x1) * dy) * sign(dy) > 0``. A zero
cross product means the point lies exactly on the edge; such points are
reported as ties so the generator can move them off the boundary.

A polygon contains a point when its exterior ring does and none of its
holes does. Candidates come from a bbox window over the points sorted by
x, not from tiles, so the reference shares no filter with the engine.
"""

from __future__ import annotations

import numpy as np


def _ring_test(px, py, ring):
    """-> (inside bool[m], tie bool[m]) for one closed int64 ring."""
    x1, y1 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x2, y2 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    dx, dy = x2 - x1, y2 - y1
    inside = np.zeros(px.shape[0], dtype=bool)
    tie = np.zeros(px.shape[0], dtype=bool)
    block = 4096
    for s in range(0, px.shape[0], block):
        bx = px[s : s + block, None]
        by = py[s : s + block, None]
        straddle = (y1 > by) != (y2 > by)
        cross = (by - y1) * dx - (bx - x1) * dy
        hit = straddle & (cross * np.sign(dy) > 0)
        inside[s : s + block] = (hit.sum(axis=1) % 2) == 1
        tie[s : s + block] = (straddle & (cross == 0)).any(axis=1)
    return inside, tie


def polygon_hits(px, py, rings):
    """-> (inside, tie) for points against one polygon (exterior + holes)."""
    inside, tie = _ring_test(px, py, rings[0])
    for hole in rings[1:]:
        h, t = _ring_test(px, py, hole)
        inside &= ~h
        tie |= t
    return inside, tie


def pip_reference(tagged, lon_u, lat_u, rings_list):
    """-> dict with per-feature hit counts, total joined rows and the
    indices of pages lying exactly on a polygon edge."""
    idx = np.nonzero(tagged)[0]
    order = np.argsort(lon_u[idx], kind="stable")
    idx = idx[order]
    xs = lon_u[idx]
    counts, ties = [], []
    total = 0
    for rings in rings_list:
        ext = rings[0]
        lo = np.searchsorted(xs, ext[:, 0].min(), side="left")
        hi = np.searchsorted(xs, ext[:, 0].max(), side="right")
        cand = idx[lo:hi]
        ys = lat_u[cand]
        cand = cand[(ys >= ext[:, 1].min()) & (ys <= ext[:, 1].max())]
        inside, tie = polygon_hits(lon_u[cand], lat_u[cand], rings)
        hit = cand[inside]
        counts.append(int(hit.size))
        total += int(hit.size)
        ties.extend(cand[tie].tolist())
    return {
        "per_feature": counts,
        "joined_rows": total,
        "ties": sorted(set(ties)),
    }
