"""Pure-numpy planar geometry kernels.

The reference does all geometry through shapely/geopandas objects
(/root/reference/prclz/topology.py, prclz/blocks/methods.py); neither is
available here and per-row object graphs don't vectorize anyway. These
kernels operate on numpy arrays and run inside Arrow pandas UDFs — the
batch is the unit of work, never the row (input_hint: "no per-row Python").

Conventions: a *ring* is an (n,2) float64 array of [x, y] vertices, open
(first vertex NOT repeated) unless noted; a *segment set* is (m,2,2).
"""

from __future__ import annotations

import numpy as np

SNAP = 1e-9  # ~0.1mm in degrees


def snap_ring(ring: np.ndarray) -> np.ndarray:
    """Round coordinates to the ``SNAP`` grid so vertices computed through
    different float paths (e.g. the shared edge of two independently
    clipped Voronoi cells) coincide exactly and graph nodes merge."""
    return np.round(np.asarray(ring, dtype=float) / SNAP) * SNAP


def ring_to_np(val) -> np.ndarray:
    """Arrow deserializes array<array<double>> as an object ndarray of
    float ndarrays; np.asarray(..., dtype=float) rejects that. Normalize
    any list/array-of-pairs value to an (n,2) float64 array."""
    if isinstance(val, np.ndarray) and val.dtype == object:
        return np.stack([np.asarray(p, dtype=float) for p in val])
    return np.asarray(val, dtype=float)


# ---------------------------------------------------------------------------
# point in polygon
# ---------------------------------------------------------------------------

def points_in_polygon(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast: True where (px,py) is strictly inside
    ``ring``. Replaces gpd.sjoin(op='within') refinement
    (/root/reference/prclz/utils.py:73). O(n_points * n_vertices) with no
    Python loop over points."""
    if ring.shape[0] >= 2 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    x0, y0 = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    px = px[:, None]
    py = py[:, None]
    # edge straddles the horizontal ray through py
    cond = (y0[None, :] > py) != (y1[None, :] > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0[None, :] + (py - y0[None, :]) / (y1[None, :] - y0[None, :]) * (
            x1[None, :] - x0[None, :]
        )
    crossings = (cond & (px < xint)).sum(axis=1)
    return (crossings % 2).astype(bool)


def ring_edges(ring: np.ndarray) -> np.ndarray:
    """(n, 4) ``[x0, y0, x1, y1]`` edges of ``ring`` exactly as
    points_in_polygon walks them, less the ones that can never flip its
    parity: horizontal edges (the straddle test is always False) and edges
    with a NaN coordinate (straddle or ``px < xint`` is always False).
    A ring with fewer than 3 vertices once the closing one is dropped
    (empty, None, a point, a segment) has no area and gets no edges."""
    if ring.ndim != 2 or ring.shape[0] < 3:
        return np.zeros((0, 4))
    if np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    if ring.shape[0] < 3:
        return np.zeros((0, 4))
    e = np.concatenate([ring, np.roll(ring, -1, axis=0)], axis=1)
    return e[(e[:, 1] != e[:, 3]) & ~np.isnan(e).any(axis=1)]


def point_in_polygon(x: float, y: float, ring: np.ndarray) -> bool:
    return bool(points_in_polygon(np.array([x]), np.array([y]), ring)[0])


# ---------------------------------------------------------------------------
# segment projection / distance — replicates the reference's Edge methods so
# tie behavior matches (prclz/topology.py:93-189)
# ---------------------------------------------------------------------------

def seg_point_distance(
    ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray,
    px: np.ndarray, py: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """For segments (a,b) and points p (broadcastable shapes): distance to
    the *segment*, and the closest point on it.

    Matches Edge.closest_point_to_node semantics
    (prclz/topology.py:175-189): project onto the infinite line; accept the
    projection iff it passes the midpoint-radius on-segment test
    (node_on_edge, :152-173 — dist(mid, proj) <= |ab|/2); otherwise snap to
    the nearer endpoint."""
    abx, aby = bx - ax, by - ay
    ab2 = abx * abx + aby * aby
    apx, apy = px - ax, py - ay
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(ab2 > 0, (apx * abx + apy * aby) / ab2, 0.0)
    projx, projy = ax + t * abx, ay + t * aby
    # reference's on-segment test: distance from midpoint <= half length
    midx, midy = (ax + bx) / 2.0, (ay + by) / 2.0
    half = np.sqrt(ab2) / 2.0
    on_seg = np.hypot(projx - midx, projy - midy) <= half
    d0 = np.hypot(px - ax, py - ay)
    d1 = np.hypot(px - bx, py - by)
    endx = np.where(d0 <= d1, ax, bx)
    endy = np.where(d0 <= d1, ay, by)
    cx = np.where(on_seg, projx, endx)
    cy = np.where(on_seg, projy, endy)
    dist = np.hypot(px - cx, py - cy)
    return dist, cx, cy


# ---------------------------------------------------------------------------
# area / centroid / bounds (prclz/topology.py:232-271)
# ---------------------------------------------------------------------------

def ring_area(ring: np.ndarray) -> float:
    """Shoelace |area| (Face.area, prclz/topology.py:233-234)."""
    x, y = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    return 0.5 * abs(float(np.sum(x * y1 - x1 * y)))


def signed_ring_area2(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    return float(np.sum(x * y1 - x1 * y))


def ring_centroid(ring: np.ndarray) -> tuple[float, float]:
    """Shoelace centroid with the reference's near-zero-area fallback to the
    vertex mean — |2A| < 0.02 (prclz/topology.py:253-271). The fallback
    threshold is load-bearing for k-complexity row parity (SURVEY.md §7.3
    step 5) so it is replicated exactly, including operating on the
    *distinct* vertex set the Face keeps.

    Plain-Python accumulation: faces are tiny (4-10 vertices) and this is
    the hottest call in the weak-dual iteration — interpreter loops beat
    numpy dispatch overhead by ~5x at these sizes (left-to-right summation,
    matching the reference's sequential loop, topology.py:255-259)."""
    n = len(ring)
    acc_a2 = 0.0
    sx = 0.0
    sy = 0.0
    for i in range(n):
        x0_, y0_ = ring[i, 0], ring[i, 1]
        j = i + 1 if i + 1 < n else 0
        x1_, y1_ = ring[j, 0], ring[j, 1]
        cross = x0_ * y1_ - x1_ * y0_
        acc_a2 += cross
        sx += (x0_ + x1_) * cross
        sy += (y0_ + y1_) * cross
    if abs(acc_a2) < 0.02:
        uniq = sorted({(float(ring[i, 0]), float(ring[i, 1])) for i in range(n)})
        return (
            sum(p[0] for p in uniq) / len(uniq),
            sum(p[1] for p in uniq) / len(uniq),
        )
    a6 = 3.0 * acc_a2
    return float(sx) / a6, float(sy) / a6


def ring_bounds(ring: np.ndarray) -> tuple[float, float, float, float]:
    return (
        float(ring[:, 0].min()), float(ring[:, 1].min()),
        float(ring[:, 0].max()), float(ring[:, 1].max()),
    )


# ---------------------------------------------------------------------------
# convex hull (Andrew monotone chain) — st_convex_hull / .convex_hull
# (midway_parcelization.R:50; reblock/i_reblock.py:288)
# ---------------------------------------------------------------------------

def convex_hull(points: np.ndarray) -> np.ndarray:
    pts = np.unique(points, axis=0)
    if len(pts) <= 2:
        return pts
    # lexicographic sort is what np.unique gives us already
    def half(iterable):
        chain: list[np.ndarray] = []
        for p in iterable:
            while len(chain) >= 2:
                o, a = chain[-2], chain[-1]
                if (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0]) <= 0:
                    chain.pop()
                else:
                    break
            chain.append(p)
        return chain

    lower = half(pts)
    upper = half(pts[::-1])
    return np.asarray(lower[:-1] + upper[:-1])


def min_rotated_rect(points: np.ndarray) -> np.ndarray:
    """Minimum-area rotated rectangle of a point set (rotating calipers
    over hull edges): shapely's minimum_rotated_rectangle
    (/root/reference/reblock/i_reblock.py:288 — F11). Returns the 4
    corners CCW."""
    hull = convex_hull(points)
    if len(hull) <= 2:
        # degenerate: axis-aligned bbox with zero thickness
        x0, y0 = points.min(axis=0)
        x1, y1 = points.max(axis=0)
        return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
    best = None
    n = len(hull)
    for i in range(n):
        e = hull[(i + 1) % n] - hull[i]
        L = np.hypot(*e)
        if L < 1e-30:
            continue
        ux, uy = e / L  # edge direction; normal = (-uy, ux)
        proj_u = hull @ np.array([ux, uy])
        proj_v = hull @ np.array([-uy, ux])
        area = proj_u.ptp() * proj_v.ptp()
        if best is None or area < best[0] - 1e-18:
            best = (area, ux, uy, proj_u.min(), proj_u.max(), proj_v.min(), proj_v.max())
    _, ux, uy, u0, u1, v0, v1 = best
    U = np.array([ux, uy])
    V = np.array([-uy, ux])
    return np.array([u0 * U + v0 * V, u1 * U + v0 * V, u1 * U + v1 * V, u0 * U + v1 * V])


def outside_point(points: np.ndarray) -> tuple[float, float]:
    """A deterministic point inside the min rotated rectangle but outside
    the convex hull — the reference's synthetic 'outside' terminal
    (minimum_rotated_rectangle.difference(convex_hull)
    .representative_point(), i_reblock.py:287-291). Pick the MRR corner
    farthest from the hull and step halfway from the hull surface toward
    it: that midpoint is beyond the hull boundary yet inside the (convex)
    rectangle. Falls back to the farthest corner itself when degenerate."""
    hull = convex_hull(points)
    rect = min_rotated_rect(points)
    hsegs = np.stack([hull, np.roll(hull, -1, axis=0)], axis=1)
    best = None
    for cx, cy in rect:
        d, qx, qy = seg_point_distance(
            hsegs[:, 0, 0], hsegs[:, 0, 1], hsegs[:, 1, 0], hsegs[:, 1, 1],
            np.full(len(hsegs), cx), np.full(len(hsegs), cy),
        )
        i = int(np.argmin(d))
        if best is None or d[i] > best[0] + 1e-18:
            best = (float(d[i]), cx, cy, float(qx[i]), float(qy[i]))
    _, cx, cy, qx, qy = best
    if abs(cx - qx) < 1e-15 and abs(cy - qy) < 1e-15:
        return (cx, cy)
    return ((cx + qx) / 2.0, (cy + qy) / 2.0)


# ---------------------------------------------------------------------------
# polygon clipping (Sutherland–Hodgman, convex clipper) — replaces
# shapely .intersection for the Voronoi-cell-clip (prclz/complexity.py:28)
# and tile∩parcel weights (process_worldpop.py:225-231)
# ---------------------------------------------------------------------------

def clip_polygon_convex(subject: np.ndarray, clipper: np.ndarray) -> np.ndarray:
    """Clip ``subject`` (any simple polygon) against convex ``clipper``.
    Returns the (possibly empty) clipped ring. Clipper must be CCW."""
    if signed_ring_area2(clipper) < 0:
        clipper = clipper[::-1]
    output = subject
    m = len(clipper)
    for i in range(m):
        if len(output) == 0:
            return output
        cx0, cy0 = clipper[i]
        cx1, cy1 = clipper[(i + 1) % m]
        ex, ey = cx1 - cx0, cy1 - cy0
        x, y = output[:, 0], output[:, 1]
        side = ex * (y - cy0) - ey * (x - cx0)  # >=0 == inside (left of edge)
        inside = side >= -1e-12
        nxt = np.roll(np.arange(len(output)), -1)
        new_pts = []
        for j in range(len(output)):
            k = nxt[j]
            if inside[j]:
                new_pts.append(output[j])
                if not inside[k]:
                    new_pts.append(_line_isect(output[j], output[k], (cx0, cy0), (cx1, cy1)))
            elif inside[k]:
                new_pts.append(_line_isect(output[j], output[k], (cx0, cy0), (cx1, cy1)))
        output = np.asarray(new_pts) if new_pts else np.empty((0, 2))
    return output


def _line_isect(p, q, a, b):
    px, py = p
    qx, qy = q
    ax, ay = a
    bx, by = b
    dx1, dy1 = qx - px, qy - py
    dx2, dy2 = bx - ax, by - ay
    denom = dx1 * dy2 - dy1 * dx2
    if abs(denom) < 1e-30:
        return np.array([qx, qy])
    t = ((ax - px) * dy2 - (ay - py) * dx2) / denom
    return np.array([px + t * dx1, py + t * dy1])


def is_axis_rect(ring: np.ndarray) -> bool:
    """True iff the ring is a plain axis-aligned rectangle (4 distinct
    vertices, every edge axis-parallel). Fast path detector for the
    closed-form rect∩rect overlap."""
    if ring.shape[0] >= 2 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    if len(ring) != 4:
        return False
    dx = np.roll(ring[:, 0], -1) - ring[:, 0]
    dy = np.roll(ring[:, 1], -1) - ring[:, 1]
    return bool(np.all((dx == 0) | (dy == 0)) and np.all((dx != 0) | (dy != 0)))


def is_convex_ring(ring: np.ndarray) -> bool:
    """True iff the simple ring is convex (all turn cross-products share a
    sign; collinear vertices allowed)."""
    if ring.shape[0] >= 2 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    if len(ring) < 4:
        return True
    d = np.roll(ring, -1, axis=0) - ring
    cross = d[:, 0] * np.roll(d[:, 1], -1) - d[:, 1] * np.roll(d[:, 0], -1)
    return bool((cross >= -1e-12).all() or (cross <= 1e-12).all())


def _fan_triangles(ring: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Signed triangle-fan decomposition about the vertex mean: triangles
    (O, v_i, v_{i+1}) with signed areas. For a CCW simple polygon the
    signed indicator functions of the fan sum to the polygon's indicator
    (winding-number identity), so non-convexity is handled by
    cancellation. Returns (m,3,2) triangles and (m,) signed areas."""
    if ring.shape[0] >= 2 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    o = ring.mean(axis=0)
    a, b = ring, np.roll(ring, -1, axis=0)
    s = 0.5 * ((a[:, 0] - o[0]) * (b[:, 1] - o[1]) - (a[:, 1] - o[1]) * (b[:, 0] - o[0]))
    tris = np.stack([np.broadcast_to(o, a.shape), a, b], axis=1)
    keep = np.abs(s) > 1e-18
    return tris[keep], s[keep]


def intersection_area(ring_a: np.ndarray, ring_b: np.ndarray) -> float:
    """|A ∩ B| for two ARBITRARY simple polygons (either may be
    non-convex; the intersection may be disconnected) — replaces shapely's
    ``.intersection(...).area`` (/root/reference/prclz/complexity.py:28)
    where neither operand is known convex.

    Signed fan identity: 1_A = Σ_i σ_i 1_{T_i}, 1_B = Σ_j τ_j 1_{U_j}
    (fans about each polygon's vertex mean, CCW orientation), so
    area(A∩B) = Σ_{i,j} σ_i τ_j |T_i ∩ U_j| with every T∩U a
    convex-convex clip. O(n·m) triangle pairs, exact up to FP."""
    ring_a, ring_b = np.asarray(ring_a, float), np.asarray(ring_b, float)
    if signed_ring_area2(ring_a) < 0:
        ring_a = ring_a[::-1]
    if signed_ring_area2(ring_b) < 0:
        ring_b = ring_b[::-1]
    # bbox reject
    if (ring_a[:, 0].max() < ring_b[:, 0].min() or ring_b[:, 0].max() < ring_a[:, 0].min()
            or ring_a[:, 1].max() < ring_b[:, 1].min() or ring_b[:, 1].max() < ring_a[:, 1].min()):
        return 0.0
    ta, sa = _fan_triangles(ring_a)
    tb, sb = _fan_triangles(ring_b)
    total = 0.0
    for i in range(len(ta)):
        tri_a = ta[i] if sa[i] > 0 else ta[i][::-1]
        # bbox of tri_a for cheap rejects
        ax0, ay0 = tri_a[:, 0].min(), tri_a[:, 1].min()
        ax1, ay1 = tri_a[:, 0].max(), tri_a[:, 1].max()
        for j in range(len(tb)):
            tri_b = tb[j]
            if (tri_b[:, 0].min() > ax1 or tri_b[:, 0].max() < ax0
                    or tri_b[:, 1].min() > ay1 or tri_b[:, 1].max() < ay0):
                continue
            clipped = clip_polygon_convex(tri_b, tri_a)
            if len(clipped) >= 3:
                area = 0.5 * signed_ring_area2(clipped)
                total += np.sign(sa[i]) * np.sign(sb[j]) * abs(area)
    return abs(total)


def polygon_intersection(subject: np.ndarray, clipper: np.ndarray) -> list[np.ndarray]:
    """Clip an ARBITRARY simple ``subject`` polygon against a CONVEX
    ``clipper``, returning a LIST of disjoint rings — the geometry-true
    replacement for ``clip_polygon_convex`` when the subject is
    non-convex and subject∩clipper may be disconnected (a U-shaped block
    ∩ a Voronoi cell), where Sutherland–Hodgman emits one ring with
    degenerate bridges (correct area, phantom mesh edges).

    Convex-clipper Weiler chain-stitch: (1) clip every subject edge to
    the clipper's half-plane intersection (parametric interval clamp —
    each edge keeps at most one sub-segment), (2) chain consecutive kept
    sub-segments, (3) join each chain's exit to the next chain entry
    CCW along the clipper boundary, inserting passed clipper corners.
    Reference semantics: shapely .intersection
    (/root/reference/prclz/complexity.py:28)."""
    subject = np.asarray(subject, float)
    clipper = np.asarray(clipper, float)
    if subject.shape[0] >= 2 and np.array_equal(subject[0], subject[-1]):
        subject = subject[:-1]
    if clipper.shape[0] >= 2 and np.array_equal(clipper[0], clipper[-1]):
        clipper = clipper[:-1]
    if signed_ring_area2(subject) < 0:
        subject = subject[::-1]
    if signed_ring_area2(clipper) < 0:
        clipper = clipper[::-1]
    eps = 1e-12

    # fast path: convex subject — plain SH is already geometry-true
    if is_convex_ring(subject):
        out = clip_polygon_convex(subject, clipper)
        return [out] if len(out) >= 3 and ring_area(out) > 0 else []

    m = len(clipper)
    cx, cy = clipper[:, 0], clipper[:, 1]
    ex = np.roll(cx, -1) - cx
    ey = np.roll(cy, -1) - cy

    # --- 1. per-edge parametric clip against all clipper half-planes
    n = len(subject)
    segs = []  # (sub_edge_idx, t0, t1, p0, p1)
    for i in range(n):
        p = subject[i]
        q = subject[(i + 1) % n]
        dx, dy = q[0] - p[0], q[1] - p[1]
        t0, t1 = 0.0, 1.0
        ok = True
        for k in range(m):
            # inside == left of edge k: ex*(y-cy) - ey*(x-cx) >= 0
            f_p = ex[k] * (p[1] - cy[k]) - ey[k] * (p[0] - cx[k])
            df = ex[k] * dy - ey[k] * dx
            if abs(df) < 1e-30:
                if f_p < -eps:
                    ok = False
                    break
                continue
            t_cross = -f_p / df
            if df > 0:  # entering
                t0 = max(t0, t_cross)
            else:  # leaving
                t1 = min(t1, t_cross)
            if t0 > t1 + eps:
                ok = False
                break
        if ok and t1 - t0 > eps:
            a = np.array([p[0] + t0 * dx, p[1] + t0 * dy])
            b = np.array([p[0] + t1 * dx, p[1] + t1 * dy])
            segs.append((i, t0, t1, a, b))

    if not segs:
        # disjoint, or clipper wholly inside subject
        if point_in_polygon(float(clipper[:, 0].mean()), float(clipper[:, 1].mean()), subject):
            return [clipper.copy()]
        return []

    # --- 2. chain consecutive sub-segments (subject walk order)
    full = all(t0 <= eps and t1 >= 1 - eps for _, t0, t1, _, _ in segs)
    if full and len(segs) == n:
        return [subject.copy()]  # subject wholly inside clipper

    def close_pt(a, b):
        return abs(a[0] - b[0]) <= 1e-9 and abs(a[1] - b[1]) <= 1e-9

    chains: list[list[np.ndarray]] = []
    cur: list[np.ndarray] = []
    for idx in range(len(segs)):
        i, t0, t1, a, b = segs[idx]
        if cur and close_pt(cur[-1], a):
            cur.append(b)
        else:
            if cur:
                chains.append(cur)
            cur = [a, b]
    if cur:
        chains.append(cur)
    # the walk may wrap: last chain can connect to the first
    if len(chains) > 1 and close_pt(chains[-1][-1], chains[0][0]):
        chains[0] = chains[-1] + chains[0][1:]
        chains.pop()
    if len(chains) == 1 and close_pt(chains[0][-1], chains[0][0]):
        ring = np.asarray(chains[0][:-1])
        return [ring] if len(ring) >= 3 and ring_area(ring) > 0 else []

    # --- 3. stitch chains along the clipper boundary (CCW)
    seg_len = np.hypot(ex, ey)
    cum = np.concatenate([[0.0], np.cumsum(seg_len)])
    perim = cum[-1]

    def boundary_pos(pt) -> float:
        """Arc-length position of a point on the clipper boundary."""
        best = (np.inf, 0.0)
        for k in range(m):
            L = seg_len[k]
            if L < 1e-30:
                continue
            t = ((pt[0] - cx[k]) * ex[k] + (pt[1] - cy[k]) * ey[k]) / (L * L)
            t = min(1.0, max(0.0, t))
            qx_, qy_ = cx[k] + t * ex[k], cy[k] + t * ey[k]
            d = np.hypot(pt[0] - qx_, pt[1] - qy_)
            if d < best[0]:
                best = (d, cum[k] + t * L)
        return best[1] % perim

    entries = [(boundary_pos(c[0]), ci) for ci, c in enumerate(chains)]
    rings: list[np.ndarray] = []
    used = [False] * len(chains)
    for start in range(len(chains)):
        if used[start]:
            continue
        ring_pts: list[np.ndarray] = []
        ci = start
        while not used[ci]:
            used[ci] = True
            ring_pts.extend(chains[ci])
            exit_pos = boundary_pos(chains[ci][-1])
            # next entry CCW along the boundary from exit_pos
            nxt, best_d = None, np.inf
            for pos, cj in entries:
                if used[cj] and cj != start:
                    continue
                d = (pos - exit_pos) % perim
                if d < best_d:
                    best_d, nxt = d, (pos, cj)
            if nxt is None:
                break
            pos, cj = nxt
            # insert clipper corners passed CCW between exit_pos and pos
            for off, k in sorted(((cum[k] - exit_pos) % perim, k) for k in range(m)):
                if 1e-9 < off < best_d - 1e-9:
                    ring_pts.append(clipper[k].copy())
            if cj == start:
                break
            ci = cj
        ring = np.asarray(ring_pts)
        # drop consecutive duplicates (chain joins can coincide)
        if len(ring) >= 2:
            keep = np.ones(len(ring), bool)
            keep[1:] = np.hypot(*(ring[1:] - ring[:-1]).T) > 1e-9
            if close_pt(ring[-1], ring[0]) and len(ring) > 1:
                keep[-1] = False
            ring = ring[keep]
        if len(ring) >= 3 and ring_area(ring) > 0:
            rings.append(ring)
    return rings


def clip_polygon_rect(subject: np.ndarray, x0: float, y0: float, x1: float, y1: float) -> np.ndarray:
    rect = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=float)
    return clip_polygon_convex(subject, rect)


def rect_polygon_overlap_area(
    x0: float, y0: float, x1: float, y1: float, ring: np.ndarray
) -> float:
    """|rect ∩ polygon| — the F27 area-weighted allocation kernel
    (process_worldpop.py:202-238: pct = (cell ∩ block).area / cell.area)."""
    clipped = clip_polygon_rect(ring, x0, y0, x1, y1)
    if len(clipped) < 3:
        return 0.0
    return ring_area(clipped)


# ---------------------------------------------------------------------------
# densify / distances / projections
# ---------------------------------------------------------------------------

def segmentize(line: np.ndarray, max_dist: float) -> np.ndarray:
    """Insert vertices so no segment exceeds max_dist (st_segmentize,
    midway_parcelization.R:62)."""
    out = [line[0]]
    for i in range(1, len(line)):
        a, b = line[i - 1], line[i]
        d = float(np.hypot(*(b - a)))
        n = max(1, int(np.ceil(d / max_dist)))
        for j in range(1, n + 1):
            out.append(a + (b - a) * (j / n))
    return np.asarray(out)


EARTH_RADIUS_M = 6_371_009.0


def haversine_m(lon0, lat0, lon1, lat1):
    """Geodesic meters (replaces geopy.distance,
    reblock/i_topology.py:50-55). Vectorized."""
    rl0, rl1 = np.radians(lat0), np.radians(lat1)
    dlat = rl1 - rl0
    dlon = np.radians(lon1) - np.radians(lon0)
    a = np.sin(dlat / 2) ** 2 + np.cos(rl0) * np.cos(rl1) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
