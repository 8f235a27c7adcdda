"""Parcelization + Steiner reblocking tests (reference entry point 3 —
/root/reference/reblock/i_reblock.py, steiner_tree.py; parcelization
midway_parcelization.R)."""

import numpy as np
import pytest

from prclz_spark.functions import geom
from prclz_spark.functions.graphops import PlanarGraph
from prclz_spark.operators.parcel import block_parcels
from prclz_spark.operators.reblock import reblock_kernel

RING = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])


def _pts(n, seed=11):
    return np.random.default_rng(seed).uniform(0.05, 0.95, (n, 2))


def test_parcels_partition_block():
    pts = _pts(30)
    parcels = block_parcels(RING, [f"p{i}" for i in range(30)], pts)
    assert len(parcels) == 30
    total = sum(geom.ring_area(c) for _, c in parcels)
    assert abs(total - 1.0) < 1e-9  # cells exactly partition the block
    # each anchor point lies in (or on) its own cell
    for (pid, cell), p in zip(parcels, pts):
        assert geom.point_in_polygon(p[0], p[1], geom.snap_ring(cell)) or min(
            np.hypot(cell[:, 0] - p[0], cell[:, 1] - p[1])
        ) < 1e-6


def test_parcel_mesh_connected_after_snap():
    pts = _pts(25)
    parcels = block_parcels(RING, [f"p{i}" for i in range(25)], pts)
    g = PlanarGraph.from_polygons([geom.snap_ring(c) for _, c in parcels])
    assert len(g.connected_components()) == 1


def test_footprint_parcels_partition_and_dissolve():
    """A4/F12: densified-footprint Voronoi cells dissolve by footprint id
    into parcels that exactly partition the block; every footprint gets
    one parcel built from >1 cells (the dissolve is not the identity)."""
    from prclz_spark.operators.parcel import block_parcels_footprint

    rng = np.random.default_rng(7)
    pts = rng.uniform(0.08, 0.92, (20, 2))
    h = 0.02
    rings = [
        np.array([[x - h, y - h], [x + h, y - h], [x + h, y + h], [x - h, y + h]])
        for x, y in pts
    ]
    out = block_parcels_footprint(
        RING, [f"f{i}" for i in range(20)], rings, ptdist=0.01
    )
    assert len(out) == 20
    assert abs(sum(a for _, _, a in out) - 1.0) < 1e-9
    assert all(n > 1 for _, n, _ in out)  # dissolve merged multiple cells
    # pure-python dissolve oracle: per-cell areas grouped by label must
    # equal the operator's aggregation (recompute independently)
    out2 = block_parcels_footprint(
        RING, [f"f{i}" for i in range(20)], rings, ptdist=0.01
    )
    assert out == out2  # deterministic


def test_footprint_parcels_retry_ladder(spark):
    """P8 retry ladder (midway_parcelization.R:126-135): a ptdist too fine
    for the anchor budget falls back to the coarser rung; when both rungs
    fail the block inherits its boundary as a single fallback parcel."""
    import pandas as pd
    from pyspark.sql import functions as F

    from prclz_spark.operators import parcel as parcel_op

    blk = pd.DataFrame(
        [{"block_id": "b0", "geometry": [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]}]
    )
    rng = np.random.default_rng(5)
    pts = pd.DataFrame(
        {
            "block_id": "b0",
            "image_id": [f"p{i:02d}" for i in range(10)],
            "lon": rng.uniform(0.2, 0.8, 10),
            "lat": rng.uniform(0.2, 0.8, 10),
        }
    )
    blocks_sdf = spark.createDataFrame(blk)
    pts_sdf = spark.createDataFrame(pts)
    # rung 1 fine (succeeds): ptdist_used == ptdist
    fine = parcel_op.parcelize_footprints(
        pts_sdf, blocks_sdf, footprint_side=0.04, ptdist=0.02
    ).toPandas()
    assert set(fine.ptdist_used) == {0.02}
    assert len(fine) == 10
    # rung 1 fails (10 perimeters of 0.16 at 1e-4: ~16,000 anchors, over
    # the budget), rung 2 coarse succeeds (~160 anchors at 1e-2)
    coarse = parcel_op.parcelize_footprints(
        pts_sdf, blocks_sdf, footprint_side=0.04, ptdist=1e-4
    ).toPandas()
    assert set(coarse.ptdist_used) == {1e-4 * parcel_op.COARSE_FACTOR}
    assert len(coarse) == 10
    assert abs(coarse.area.sum() - 1.0) < 1e-9
    # both rungs fail (~1.6e7 and ~1.6e5 anchors) -> inherit block boundary
    fb = parcel_op.parcelize_footprints(
        pts_sdf, blocks_sdf, footprint_side=0.04, ptdist=1e-7
    ).toPandas()
    assert list(fb.parcel_id) == [parcel_op.FALLBACK_PARCEL_ID]
    assert list(fb.ptdist_used) == [-1.0]
    assert abs(fb.area.iloc[0] - 1.0) < 1e-9


def test_reblock_kernel_invariants():
    pts = _pts(25)
    parcels = block_parcels(RING, [f"p{i}" for i in range(25)], pts)
    edges, summary = reblock_kernel(RING, [c for _, c in parcels], pts)
    assert summary["status"] == 0
    assert summary["n_terminals"] >= 20  # merges allowed, most points survive
    assert summary["n_new_edges"] > 0
    # steiner result is a single connected subgraph containing all terminals
    g = PlanarGraph()
    for _, a, b, _ in edges:
        g.add_edge(a, b)
    assert len(g.connected_components()) == 1
    # existing edges lie on the block boundary (weight-0 roads)
    b = RING
    bsegs = np.stack([b, np.roll(b, -1, axis=0)], axis=1)
    for et, a, bb, _ in edges:
        if et == "existing":
            for p in (a, bb):
                d, _, _ = geom.seg_point_distance(
                    bsegs[:, 0, 0], bsegs[:, 0, 1], bsegs[:, 1, 0], bsegs[:, 1, 1],
                    np.full(4, p[0]), np.full(4, p[1]),
                )
                assert d.min() <= 1e-8


def test_reblock_kernel_deterministic():
    pts = _pts(20, seed=5)
    parcels = block_parcels(RING, [f"p{i}" for i in range(20)], pts)
    e1, s1 = reblock_kernel(RING, [c for _, c in parcels], pts)
    e2, s2 = reblock_kernel(RING, [c for _, c in parcels], pts)
    assert [e[:3] for e in e1] == [e[:3] for e in e2]
    s1.pop("wall_ms"), s2.pop("wall_ms")
    assert s1 == s2


def test_reblock_few_terminals_skipped():
    pts = _pts(1)
    edges, summary = reblock_kernel(RING, [RING], pts)
    assert summary["status"] == 2
    assert edges == []


@pytest.mark.slow
def test_parcelize_and_reblock_distributed(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from prclz_spark.operators import assign, parcel, reblock
    from prclz_spark.sources import synth

    g = 3
    cover = assign.block_cover_pdf(synth.grid_blocks(g), 15)
    base = spark.range(0, 400, numPartitions=4)
    lon, lat = synth.lonlat_cols(F.col("id"))
    pts = base.select(F.col("id").cast("string").alias("image_id"),
                      lon.alias("lon"), lat.alias("lat"))
    assigned = assign.assign_points_to_blocks(pts, cover, 15)
    blocks_sdf = spark.createDataFrame(synth.grid_blocks(g))
    parcels = parcel.parcelize(assigned, blocks_sdf)
    # partition of unity: each block's parcel areas sum to the block area
    total_area = parcels.toPandas().groupby("block_id")["area"].sum()
    step = synth.AOI_SPAN / g
    assert len(total_area) > 0
    assert (np.abs(total_area - step * step) < 1e-9).all()

    summary = reblock.reblock(parcels, assigned, blocks_sdf, emit="summary").toPandas()
    assert set(summary.status) <= {0, 2, 3}  # 3 = MAX_NODES budget skip
    ok = summary[summary.status == 0]
    assert len(ok) > 0
    assert (ok.n_new_edges > 0).all()

    edges = reblock.reblock(parcels, assigned, blocks_sdf, emit="edges").toPandas()
    assert set(edges.edge_type) <= {"existing", "new"}
    assert (edges.length >= 0).all()


def test_min_rotated_rect_properties():
    rng = np.random.default_rng(9)
    for _ in range(20):
        pts = rng.uniform(0, 1, (12, 2))
        rect = geom.min_rotated_rect(pts)
        assert rect.shape == (4, 2)
        # contains every input point: inside, or on the boundary to 1e-9
        # (hull vertices lie on it, where point_in_polygon may say False)
        closed = np.vstack([rect, rect[:1]])
        for p in pts:
            d, _, _ = geom.seg_point_distance(
                closed[:-1, 0], closed[:-1, 1], closed[1:, 0], closed[1:, 1],
                p[0], p[1],
            )
            assert geom.point_in_polygon(p[0], p[1], rect) or d.min() <= 1e-9
        a = np.array(pts)
        bbox_area = a[:, 0].ptp() * a[:, 1].ptp()
        assert geom.ring_area(rect) <= bbox_area + 1e-12  # never worse than AABB


def test_min_rotated_rect_rotated_square():
    # a 45-degree square: MRR area equals the square's own area, half the AABB's
    s = np.array([[0.0, 1.0], [1.0, 0.0], [2.0, 1.0], [1.0, 2.0]])
    rect = geom.min_rotated_rect(s)
    assert abs(geom.ring_area(rect) - 2.0) < 1e-9


def test_outside_point_is_outside_hull():
    rng = np.random.default_rng(4)
    for _ in range(10):
        pts = rng.uniform(0, 1, (9, 2))
        ox, oy = geom.outside_point(pts)
        hull = geom.convex_hull(pts)
        assert not geom.point_in_polygon(ox, oy, hull)
        rect = geom.min_rotated_rect(pts)
        # inside (or on) the rectangle
        grown = rect.mean(axis=0) + (rect - rect.mean(axis=0)) * (1 + 1e-9)
        assert geom.point_in_polygon(ox, oy, grown)


def test_simplify_expand_matches_unsimplified():
    """F24: degree-2 contraction + path re-expansion must reproduce the
    unsimplified Steiner output (same expanded segment set)."""
    pts = _pts(25, seed=13)
    parcels = block_parcels(RING, [f"p{i}" for i in range(25)], pts)
    rings = [c for _, c in parcels]
    e_simpl, s_simpl = reblock_kernel(RING, rings, pts, simplify=True)
    e_plain, s_plain = reblock_kernel(RING, rings, pts, simplify=False)
    key = lambda e: (e[0], tuple(sorted((e[1], e[2]))))  # noqa: E731
    assert {key(e) for e in e_simpl} == {key(e) for e in e_plain}
    assert abs(s_simpl["new_len"] - s_plain["new_len"]) < 1e-9
    assert abs(s_simpl["existing_len"] - s_plain["existing_len"]) < 1e-9


def test_simplify_degree2_chains_expand():
    """A path a-b-c-d with only a, d kept contracts to one edge whose
    expansion returns the original segments with their own weights."""
    g = PlanarGraph()
    a, b, c, d = (0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (3.0, 0.0)
    g.add_edge(a, b, 1.0)
    g.add_edge(b, c, 2.0)
    g.add_edge(c, d, 3.0)
    g.terminal[a] = True
    g.terminal[d] = True
    sub = g.simplify_degree2()
    assert sub.number_of_nodes() == 2
    assert abs(sub.adj[a][d] - 6.0) < 1e-12
    expanded = sub.expand_edges([(a, d)])
    assert expanded == [(a, b, 1.0), (b, c, 2.0), (c, d, 3.0)]
    expanded_rev = sub.expand_edges([(d, a)])
    assert expanded_rev == [(d, c, 3.0), (c, b, 2.0), (b, a, 1.0)]


def test_drop_boundary_parcel_terminals():
    """i_reblock.py:168-210: a point whose parcel touches the block
    boundary is excluded from the terminal set; interior-parcel points
    survive. With only boundary-parcel points left, the block skips."""
    pts = _pts(12, seed=3)
    ids = [f"p{i}" for i in range(12)]
    parcels = block_parcels(RING, ids, pts)
    rings = [c for _, c in parcels]
    bsegs = np.stack([RING, np.roll(RING, -1, axis=0)], axis=1)

    def touches(r):
        d, _, _ = geom.seg_point_distance(
            np.repeat(bsegs[:, 0, 0], len(r)), np.repeat(bsegs[:, 0, 1], len(r)),
            np.repeat(bsegs[:, 1, 0], len(r)), np.repeat(bsegs[:, 1, 1], len(r)),
            np.tile(r[:, 0], 4), np.tile(r[:, 1], 4),
        )
        return d.min() <= 1e-9

    touching = [touches(geom.snap_ring(r)) for r in rings]
    n_interior = sum(1 for t in touching if not t)
    assert 0 < n_interior < 12  # fixture genuinely exercises both cases
    cells = np.arange(12)
    _, s_filtered = reblock_kernel(
        RING, rings, pts, terminal_cells=cells, drop_boundary_parcels=True
    )
    _, s_all = reblock_kernel(
        RING, rings, pts, terminal_cells=cells, drop_boundary_parcels=False
    )
    # +1 = the synthetic outside terminal in both
    assert s_filtered["n_terminals"] <= n_interior + 1
    assert s_all["n_terminals"] > s_filtered["n_terminals"]
    # all-boundary fixture: every parcel touches → skip with status 2
    _, s_skip = reblock_kernel(
        RING, [RING.copy(), RING.copy()], np.array([[0.3, 0.3], [0.7, 0.7]]),
        terminal_cells=np.array([0, 1]), drop_boundary_parcels=True,
    )
    assert s_skip["status"] == 2


def test_waterway_boundary_weighting():
    """F25: boundary segments typed waterway/natural get weight 1e5 —
    never emitted as free 'existing' roads; highway segments stay 0."""
    pts = _pts(15, seed=21)
    parcels = block_parcels(RING, [f"p{i}" for i in range(15)], pts)
    rings = [c for _, c in parcels]
    # RING segments: 0 bottom, 1 right, 2 top, 3 left — make the right
    # side a waterway
    btypes = ["highway", "waterway", "highway", "highway"]
    edges, s = reblock_kernel(RING, rings, pts, boundary_types=btypes)
    assert s["status"] == 0
    for et, a, b, _ in edges:
        if et == "existing":
            # existing edges must lie on a highway side (x==1 is waterway)
            assert not (abs(a[0] - 1.0) < 1e-9 and abs(b[0] - 1.0) < 1e-9)


def test_reblock_with_outside_terminal_connected():
    pts = _pts(20, seed=8)
    parcels = block_parcels(RING, [f"p{i}" for i in range(20)], pts)
    edges, s = reblock_kernel(RING, [c for _, c in parcels], pts, outside_terminal=True)
    assert s["status"] == 0
    g = PlanarGraph()
    for _, a, b, _ in edges:
        g.add_edge(a, b)
    assert len(g.connected_components()) == 1


def test_relabel_covers_entire_boundary():
    """Regression: relabel walks must run on the ORIGINAL length weights
    (two-phase, like the reference's update_edge_types) — zeroing weights
    mid-loop let later segments' walks detour through already-zeroed
    sides, leaving whole boundary sides unrelabeled."""
    from prclz_spark.operators.reblock import (
        _boundary_segments,
        _relabel_boundary_edges,
    )
    from prclz_spark.functions.graphops import PlanarGraph

    cells_2x2 = [
        np.array([[x0, y0], [x0 + 0.5, y0], [x0 + 0.5, y0 + 0.5], [x0, y0 + 0.5]])
        for x0 in (0.0, 0.5)
        for y0 in (0.0, 0.5)
    ]
    g = PlanarGraph.from_polygons([geom.snap_ring(c) for c in cells_2x2])
    _relabel_boundary_edges(g, geom.snap_ring(RING), None)
    bsegs = _boundary_segments(geom.snap_ring(RING))
    for u, v in g.edges():
        mx, my = (u[0] + v[0]) / 2.0, (u[1] + v[1]) / 2.0
        pts_on = [
            geom.seg_point_distance(
                bsegs[:, 0, 0], bsegs[:, 0, 1], bsegs[:, 1, 0], bsegs[:, 1, 1],
                np.full(4, px), np.full(4, py),
            )[0].min() <= 1e-9
            for px, py in (u, v, (mx, my))
        ]
        if all(pts_on):  # a true boundary edge
            assert g.adj[u][v] == 0.0, (u, v)
            assert frozenset((u, v)) in g.road_edges


def test_one_interior_building_reblocks_with_dummy():
    """i_reblock.py:283-296: the dummy outside terminal is appended BEFORE
    the second <=1 guard, so a block with exactly ONE surviving interior
    building reblocks (building connected to the outside network) instead
    of skipping."""
    n = 40  # dense enough that interior (non-boundary-touching) cells exist
    pts = _pts(n, seed=2)
    parcels = block_parcels(RING, [f"p{i}" for i in range(n)], pts)
    rings = [c for _, c in parcels]
    # keep only the single most-interior point as a terminal candidate
    bsegs = np.stack([RING, np.roll(RING, -1, axis=0)], axis=1)

    def ring_min_d(r):
        return geom.seg_point_distance(
            np.repeat(bsegs[:, 0, 0], len(r)), np.repeat(bsegs[:, 0, 1], len(r)),
            np.repeat(bsegs[:, 1, 0], len(r)), np.repeat(bsegs[:, 1, 1], len(r)),
            np.tile(r[:, 0], 4), np.tile(r[:, 1], 4),
        )[0].min()

    dmins = [ring_min_d(geom.snap_ring(r)) for r in rings]
    best = int(np.argmax(dmins))
    assert dmins[best] > 1e-9  # genuinely interior parcel
    edge_cell = int(np.argmin(dmins))  # a boundary-touching parcel
    # raw list of 2 buildings passes guard 1; the boundary one is
    # filtered, leaving 1 survivor + dummy = 2 terminals -> reblock
    two = np.array([pts[best], pts[edge_cell]])
    cells2 = np.array([best, edge_cell])
    edges, s = reblock_kernel(
        RING, rings, two, terminal_cells=cells2, outside_terminal=True,
    )
    assert s["status"] == 0
    assert s["n_new_edges"] > 0
    # without the dummy the same block skips (1 survivor <= 1)
    _, s2 = reblock_kernel(
        RING, rings, two, terminal_cells=cells2, outside_terminal=False,
    )
    assert s2["status"] == 2
