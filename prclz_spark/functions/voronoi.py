"""Voronoi cells by exact half-plane clipping, pure numpy.

Replaces ``pytess.voronoi`` (/root/reference/prclz/complexity.py:22) and R
``st_voronoi`` (prclz/parcelization/midway_parcelization.R:67-70). Runs
per block inside ``applyInPandas`` groups — blocks carry 10–10^3 points
(SURVEY.md §7.4), so per-cell clipping is fine; the distributed
dimension is the *number of blocks*, not points per block.

``parcel.block_cells`` is the one loop over a block's cells: it clips
each ``halfplane_voronoi_cell`` to the block, and parcels and the
k-complexity S0 are both made from its pieces.
"""

from __future__ import annotations

import numpy as np


def perturb_duplicates(points) -> np.ndarray:
    """(n, 2) float copy of ``points`` whose k-th exact duplicate of a
    coordinate moves by k·1e-9 on both axes (SURVEY.md §7.4)."""
    pts = np.array(points, dtype=float).reshape(-1, 2)
    seen: dict[tuple[float, float], int] = {}
    for i in range(len(pts)):
        key = (pts[i, 0], pts[i, 1])
        if key in seen:
            seen[key] += 1
            pts[i] += 1e-9 * seen[key]
        else:
            seen[key] = 0
    return pts


def halfplane_voronoi_cell(i: int, pts: np.ndarray, frame: np.ndarray) -> np.ndarray:
    """Exact convex Voronoi cell of pts[i]: successively clip ``frame`` by
    the bisector half-plane toward other points, *nearest first*, stopping
    once the security radius is reached — if ||q-p||/2 >= max_v ||v-p||
    over current cell vertices v, then for every vertex ||v-q|| >=
    ||q-p|| - ||v-p|| >= ||v-p||, so q's bisector cannot cut the cell, and
    neither can any farther point. Exact result, typically O(k) clips for
    k natural neighbors instead of O(n)."""
    # list-of-tuples representation: cells are tiny (~6 vertices) so plain
    # Python beats numpy dispatch; the arithmetic expressions are identical
    # op-for-op, hence bit-identical results
    cell = [(float(x), float(y)) for x, y in frame]
    px, py = float(pts[i, 0]), float(pts[i, 1])
    d2 = (pts[:, 0] - px) ** 2 + (pts[:, 1] - py) ** 2
    order = np.argsort(d2, kind="stable").tolist()
    d2l = d2.tolist()
    max_r2 = max((cx - px) ** 2 + (cy - py) ** 2 for cx, cy in cell)
    for j in order:
        if j == i or not cell:
            continue
        if d2l[j] >= 4.0 * max_r2:
            break  # all remaining points are at least this far (sorted)
        qx, qy = float(pts[j, 0]), float(pts[j, 1])
        mx, my = (px + qx) / 2.0, (py + qy) / 2.0
        nx_, ny_ = qx - px, qy - py  # outward normal (toward q)
        side = [(x - mx) * nx_ + (y - my) * ny_ for x, y in cell]
        if all(s <= 1e-15 for s in side):  # keep side <= 0 (closer to p)
            continue
        n = len(cell)
        new_pts: list[tuple[float, float]] = []
        for a in range(n):
            b = a + 1 if a + 1 < n else 0
            sa, sb = side[a], side[b]
            if sa <= 1e-15:
                new_pts.append(cell[a])
                if not sb <= 1e-15:
                    t = sa / (sa - sb)
                    new_pts.append(
                        (cell[a][0] + t * (cell[b][0] - cell[a][0]),
                         cell[a][1] + t * (cell[b][1] - cell[a][1]))
                    )
            elif sb <= 1e-15:
                t = sa / (sa - sb)
                new_pts.append(
                    (cell[a][0] + t * (cell[b][0] - cell[a][0]),
                     cell[a][1] + t * (cell[b][1] - cell[a][1]))
                )
        cell = new_pts
        if cell:
            max_r2 = max((cx - px) ** 2 + (cy - py) ** 2 for cx, cy in cell)
    return np.asarray(cell) if cell else np.empty((0, 2))
