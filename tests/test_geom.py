"""Geometry kernel tests — the reference's assert-script fixtures ported to
pytest (prclz/test_topology.py:5-110; SURVEY.md §5 item 1) plus kernel
coverage the reference lacks."""

import numpy as np
import pytest

from prclz_spark.functions import geom


def _closest_on_segment(a, b, p):
    d, cx, cy = geom.seg_point_distance(
        np.array([a[0]]), np.array([a[1]]), np.array([b[0]]), np.array([b[1]]),
        np.array([p[0]]), np.array([p[1]]),
    )
    return float(d[0]), (float(cx[0]), float(cy[0]))


def _on_edge(a, b, p):
    """The reference's midpoint-radius on-segment test
    (prclz/test_topology.py tests 1a-4c via Edge.node_on_edge)."""
    mid = ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2)
    half = np.hypot(a[0] - b[0], a[1] - b[1]) / 2
    return np.hypot(p[0] - mid[0], p[1] - mid[1]) <= half


@pytest.mark.parametrize(
    "a,b,inside,outside",
    [
        ((0, 0), (1, 1), (0.5, 0.5), [(-0.5, -0.5), (1.5, 1.5)]),      # y=x
        ((0, 0), (1, 0), (0.5, 0), [(-0.5, 0), (1.5, 0)]),             # horiz
        ((0, 0), (-1, 1), (-0.5, 0.5), [(0.5, -0.5), (-1.5, 1.5)]),    # y=-x
        ((0, 0), (0, 1), (0, 0.5), [(0, -0.5), (0, 1.5)]),             # vert
    ],
)
def test_node_on_edge_four_orientations(a, b, inside, outside):
    assert _on_edge(a, b, inside)
    for p in outside:
        assert not _on_edge(a, b, p)


def test_projection_lands_on_edge():
    # prclz/test_topology.py:58-76: projections of these points onto the
    # edge (0,1)-(1,0) stay on the segment
    a, b = (0, 1), (1, 0)
    pts = [(-0.5, 0.5), (-0.25, 0.25), (0, 0), (0.25, -0.25), (0.5, -0.5),
           (0, 0.5), (0.5, 0.5), (0.5, 0), (0.5, -0.5), (0, -0.5),
           (-0.5, -0.5), (-0.5, 0)]
    for p in pts:
        _, c = _closest_on_segment(a, b, p)
        assert _on_edge(a, b, c), f"projection of {p} left the segment"
        # closest point is on the line x + y = 1 when interior
        assert abs(c[0] + c[1] - 1) < 1e-9 or c in (a, b)


def test_closest_point_snaps_to_endpoint():
    # prclz/test_topology.py:84-91 (test 3)
    d, c = _closest_on_segment((0, 0), (0, 1), (-0.1, -0.1))
    assert c == (0.0, 0.0)
    assert d == pytest.approx(np.hypot(0.1, 0.1))


def test_points_in_polygon():
    square = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], dtype=float)
    px = np.array([0.5, -0.5, 1.5, 0.25])
    py = np.array([0.5, 0.5, 0.5, 0.99])
    assert geom.points_in_polygon(px, py, square).tolist() == [True, False, False, True]
    # concave polygon (L-shape)
    L = np.array([[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2]], dtype=float)
    assert geom.point_in_polygon(0.5, 1.5, L)
    assert not geom.point_in_polygon(1.5, 1.5, L)


def test_area_centroid_and_fallback():
    sq = np.array([[0, 0], [2, 0], [2, 2], [0, 2]], dtype=float)
    assert geom.ring_area(sq) == pytest.approx(4.0)
    assert geom.ring_centroid(sq) == pytest.approx((1.0, 1.0))
    # near-zero-area ring triggers the vertex-mean fallback
    # (prclz/topology.py:261-265: |2A| < 0.02)
    sliver = np.array([[0, 0], [1, 0], [1, 0.004], [0, 0.004]], dtype=float)
    cx, cy = geom.ring_centroid(sliver)
    assert (cx, cy) == pytest.approx((0.5, 0.002))


def test_convex_hull():
    pts = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0.5, 0.5], [0.2, 0.8]])
    hull = geom.convex_hull(pts)
    assert sorted(map(tuple, hull)) == [(0, 0), (0, 1), (1, 0), (1, 1)]


def test_clip_and_overlap_area():
    tri = np.array([[0, 0], [4, 0], [0, 4]], dtype=float)
    # rect fully inside
    assert geom.rect_polygon_overlap_area(0.5, 0.5, 1.5, 1.5, tri) == pytest.approx(1.0)
    # rect straddling the hypotenuse x+y=4
    a = geom.rect_polygon_overlap_area(1, 1, 3, 3, tri)
    assert a == pytest.approx(2.0)  # half of the 4-unit rect
    # disjoint
    assert geom.rect_polygon_overlap_area(5, 5, 6, 6, tri) == 0.0


def test_segmentize():
    line = np.array([[0, 0], [1, 0]], dtype=float)
    out = geom.segmentize(line, 0.3)
    assert len(out) == 5  # 4 sub-segments of 0.25
    assert np.allclose(np.diff(out[:, 0]), 0.25)


def test_haversine():
    # 1 degree of longitude at the equator ≈ 111.2 km
    d = geom.haversine_m(0.0, 0.0, 1.0, 0.0)
    assert d == pytest.approx(111_194, rel=1e-3)


# ---------------------------------------------------------------------------
# non-convex intersection (area + multi-ring clip)
# ---------------------------------------------------------------------------

U_RING = np.array([  # U-shape: prongs x∈[0,1] and x∈[2,3], base y∈[0,1], top y=3
    [0, 0], [3, 0], [3, 3], [2, 3], [2, 1], [1, 1], [1, 3], [0, 3],
], dtype=float)

L_RING = np.array([[0, 0], [3, 0], [3, 1], [1, 1], [1, 3], [0, 3]], dtype=float)


def test_intersection_area_convex_matches_sh():
    tri = np.array([[0, 0], [4, 0], [0, 4]], dtype=float)
    sq = np.array([[1, 1], [3, 1], [3, 3], [1, 3]], dtype=float)
    want = geom.ring_area(geom.clip_polygon_convex(tri, sq))
    assert geom.intersection_area(tri, sq) == pytest.approx(want, abs=1e-12)
    # orientation-insensitive
    assert geom.intersection_area(tri[::-1], sq[::-1]) == pytest.approx(want, abs=1e-12)


def test_intersection_area_nonconvex_disconnected():
    # rect y∈[2,3] slices off the two prong tops: area 1+1
    rect = np.array([[-1, 2], [4, 2], [4, 3], [-1, 3]], dtype=float)
    assert geom.intersection_area(U_RING, rect) == pytest.approx(2.0, abs=1e-9)
    # nonconvex x nonconvex: U ∩ shifted U
    u2 = U_RING + np.array([0.5, 0.0])
    a = geom.intersection_area(U_RING, u2)
    # overlap: base strip x∈[0.5,3],y∈[0,1] area 2.5; prong overlaps x∈[2.5,3]
    # (U prong2 x∈[2,3] vs u2 prong2 x∈[2.5,3.5]) y∈[1,3] → 1.0; and u2 prong1
    # x∈[0.5,1.5] vs U prong1 x∈[0,1] → x∈[0.5,1] y∈[1,3] → 1.0
    assert a == pytest.approx(2.5 + 1.0 + 1.0, abs=1e-9)


def test_polygon_intersection_disconnected_rings():
    rect = np.array([[-1, 2], [4, 2], [4, 3], [-1, 3]], dtype=float)
    rings = geom.polygon_intersection(U_RING, rect)
    assert len(rings) == 2
    areas = sorted(geom.ring_area(r) for r in rings)
    assert areas == pytest.approx([1.0, 1.0], abs=1e-9)
    xs = sorted(float(r[:, 0].mean()) for r in rings)
    assert xs == pytest.approx([0.5, 2.5], abs=1e-9)


def test_polygon_intersection_l_shape_single_ring():
    cell = np.array([[0.5, 0.5], [2.5, 0.5], [2.5, 2.5], [0.5, 2.5]], dtype=float)
    rings = geom.polygon_intersection(L_RING, cell)
    assert len(rings) == 1
    want = geom.intersection_area(L_RING, cell)
    assert geom.ring_area(rings[0]) == pytest.approx(want, abs=1e-9)
    # bottom strip [0.5,2.5]x[0.5,1] = 1.0 plus left arm [0.5,1]x[1,2.5] = 0.75
    assert want == pytest.approx(1.75, abs=1e-9)


def test_polygon_intersection_containment_cases():
    cell = np.array([[-1, -1], [4, -1], [4, 4], [-1, 4]], dtype=float)
    rings = geom.polygon_intersection(U_RING, cell)  # subject inside clipper
    assert len(rings) == 1 and geom.ring_area(rings[0]) == pytest.approx(geom.ring_area(U_RING))
    tiny = np.array([[0.2, 0.2], [0.6, 0.2], [0.6, 0.6], [0.2, 0.6]], dtype=float)
    rings = geom.polygon_intersection(U_RING, tiny)  # clipper inside subject
    assert len(rings) == 1 and geom.ring_area(rings[0]) == pytest.approx(0.16)
    far = np.array([[10, 10], [11, 10], [11, 11], [10, 11]], dtype=float)
    assert geom.polygon_intersection(U_RING, far) == []
    # clipper inside the U's NOTCH (outside the subject)
    notch = np.array([[1.2, 1.5], [1.8, 1.5], [1.8, 2.5], [1.2, 2.5]], dtype=float)
    assert geom.polygon_intersection(U_RING, notch) == []


def test_polygon_intersection_area_agrees_with_fan_randomized():
    rng = np.random.default_rng(7)
    for _ in range(25):
        # random convex clipper (hull of random points) x the U subject
        pts = rng.uniform(-0.5, 3.5, size=(8, 2))
        cell = geom.convex_hull(pts)
        if len(cell) < 3:
            continue
        rings = geom.polygon_intersection(U_RING, cell)
        got = sum(geom.ring_area(r) for r in rings)
        want = geom.intersection_area(U_RING, cell)
        assert got == pytest.approx(want, abs=1e-8)


def test_is_axis_rect_and_convex():
    assert geom.is_axis_rect(np.array([[0, 0], [2, 0], [2, 1], [0, 1]], float))
    assert geom.is_axis_rect(np.array([[0, 0], [0, 1], [2, 1], [2, 0]], float))  # CW
    assert not geom.is_axis_rect(np.array([[0, 0], [2, 0], [2.1, 1], [0, 1]], float))
    assert not geom.is_axis_rect(U_RING)
    assert geom.is_convex_ring(np.array([[0, 0], [2, 0], [2, 1], [0, 1]], float))
    assert not geom.is_convex_ring(U_RING)
    assert not geom.is_convex_ring(L_RING)
