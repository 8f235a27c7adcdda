"""Distance-join tests (J4 dilated-line join / J13 threshold classify —
/root/reference/data_processing/split_lines.py:23-38,
reblock/i_topology_utils.py:309-329)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from prclz_spark.functions import cells
from prclz_spark.operators import knn, rangejoin
from prclz_spark.sources import synth


def _grid_segments(g: int, jitter: float = 0.0) -> pd.DataFrame:
    roads = synth.road_grid_lines(g, jitter=jitter)
    roads = roads[roads.highway.notna()]
    rows = []
    for r in roads.itertuples(index=False):
        for i in range(len(r.geometry) - 1):
            rows.append(
                {"seg_id": f"{r.osm_id}_{i}",
                 "ax": r.geometry[i][0], "ay": r.geometry[i][1],
                 "bx": r.geometry[i + 1][0], "by": r.geometry[i + 1][1]}
            )
    return pd.DataFrame(rows)


def _segment_cover_pdf(segments_pdf: pd.DataFrame, res: int) -> pd.DataFrame:
    """numpy oracle for ``rangejoin.segment_cover_df``: (seg_id, ax, ay,
    bx, by) → one row per (cell, segment), sampling at 1/4-cell steps
    with 1-cell dilation, so every cell within one cell of the segment
    is present."""
    nx = 1 << res
    rows = []
    for r in segments_pdf.itertuples(index=False):
        u0, v0 = (r.ax + 180.0) / 360.0 * nx, (r.ay + 90.0) / 180.0 * nx
        u1, v1 = (r.bx + 180.0) / 360.0 * nx, (r.by + 90.0) / 180.0 * nx
        n = max(1, int(np.ceil(max(abs(u1 - u0), abs(v1 - v0)) / 0.25)))
        t = np.linspace(0.0, 1.0, n + 1)
        iu = np.floor(u0 + t * (u1 - u0)).astype(np.int64)
        iv = np.floor(v0 + t * (v1 - v0)).astype(np.int64)
        cs = set()
        for du in (-1, 0, 1):
            for dv in (-1, 0, 1):
                uu = np.clip(iu + du, 0, nx - 1)
                vv = np.clip(iv + dv, 0, nx - 1)
                cs.update(
                    (res * cells.RES_BITS_SHIFT + uu * cells.XY_SHIFT + vv).tolist()
                )
        for c in cs:
            rows.append(
                {"cell": int(c), "seg_id": r.seg_id,
                 "ax": r.ax, "ay": r.ay, "bx": r.bx, "by": r.by}
            )
    return pd.DataFrame(rows)


def _bruteforce_nearest(
    pts: pd.DataFrame, segs: pd.DataFrame, decimals: int | None = None
) -> list[tuple]:
    """numpy oracle: sorted (pid, seg_id, dist) of every point's nearest
    segment, with ``rangejoin._seg_dist_cols``' arithmetic in the same
    operation order (so distances match bit for bit) and ties broken to
    the lowest seg_id. ``decimals`` ranks by the rounded distance, as
    boundary typing does."""
    segs = segs.sort_values("seg_id", kind="stable")
    ids = segs.seg_id.to_numpy()
    ax, ay, bx, by = (segs[c].to_numpy()[None, :] for c in ("ax", "ay", "bx", "by"))
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    out = []
    for lo in range(0, len(pts), 256):
        chunk = pts.iloc[lo:lo + 256]
        px = chunk.lon.to_numpy()[:, None]
        py = chunk.lat.to_numpy()[:, None]
        with np.errstate(divide="ignore", invalid="ignore"):
            t_raw = ((px - ax) * dx + (py - ay) * dy) / len2
        t = np.where(len2 > 0, np.maximum(0.0, np.minimum(1.0, t_raw)), 0.0)
        cx = ax + t * dx
        cy = ay + t * dy
        d = np.sqrt((px - cx) * (px - cx) + (py - cy) * (py - cy))
        if decimals is not None:
            d = np.round(d, decimals)
        k = d.argmin(axis=1)  # the first minimum: the lowest seg_id
        out += zip(chunk.pid, ids[k], d[np.arange(len(k)), k])
    return sorted(out)


def _record_level_plans(monkeypatch) -> list[str]:
    """Executed plan of every cascade level's argmin (each level is
    checkpointed, so the output frame's own plan hides them)."""
    plans = []
    seg_argmin = rangejoin._seg_argmin

    def recording(keys, dist):
        argmin = seg_argmin(keys, dist)

        def run(cand):
            out = argmin(cand)
            plans.append(out._jdf.queryExecution().executedPlan().toString())
            return out

        return run

    monkeypatch.setattr(rangejoin, "_seg_argmin", recording)
    return plans


def _assert_no_cartesian_no_python(plans: list[str]) -> None:
    for p in plans:
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_segment_cover_dilated(spark):
    segs = pd.DataFrame(
        [{"seg_id": "s", "ax": 10.0, "ay": 50.0, "bx": 10.01, "by": 50.0}]
    )
    cov = rangejoin.segment_cover_df(spark.createDataFrame(segs), 14).toPandas()
    assert len(cov) >= 9  # at least the 3x3 dilation of one cell
    assert set(cov.columns) == {"cell", "seg_id", "ax", "ay", "bx", "by"}


@pytest.mark.slow
def test_nearest_segment_matches_bruteforce(spark):
    g = 4
    segs = _grid_segments(g)
    base = spark.range(0, 500, numPartitions=4)
    lon, lat = synth.lonlat_cols(F.col("id"))
    pts = base.select(F.col("id").alias("pid"), lon.alias("lon"), lat.alias("lat"))
    out = rangejoin.nearest_segment_join_distributed(
        pts, spark.createDataFrame(segs), 13
    ).toPandas()
    assert len(out) == 500
    got = sorted(map(tuple, out[["pid", "seg_id", "road_dist"]].itertuples(index=False)))
    assert got == _bruteforce_nearest(out, segs)


@pytest.mark.slow
def test_classify_threshold(spark):
    segs = _grid_segments(4)
    base = spark.range(0, 300, numPartitions=4)
    lon, lat = synth.lonlat_cols(F.col("id"))
    pts = base.select(F.col("id").alias("pid"), lon.alias("lon"), lat.alias("lat"))
    joined = rangejoin.nearest_segment_join_distributed(
        pts, spark.createDataFrame(segs), 13
    )
    out = rangejoin.classify_by_distance(joined, 0.005).toPandas()
    near = out[out.road_class == "near_road"]
    far = out[out.road_class == "off_road"]
    assert (near.road_dist <= 0.005).all()
    assert (far.road_dist > 0.005).all()
    assert len(near) > 0 and len(far) > 0


def test_parcel_assign_border_fallback_and_ties(spark):
    """parcel_assign: a point whose GLOBAL nearest anchor sits across the
    block border must fall back to its own block's anchors (exact
    in-block argmin), and equidistant in-block anchors resolve to the
    lower anchor id on every path."""
    import pandas as pd

    from prclz_spark.operators import knn as knn_op

    # two blocks side by side; point P in block L at x=0.9 — global NN is
    # anchor R0 in block R (x=1.1, d=0.2) but its parcel owner is L's
    # nearest anchor (x=0.5, d=0.4)
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": [1, 2],
        "block_id": ["L", "L"],
        "lon": [0.9, 0.5],
        "lat": [10.5, 10.5],
    }))
    anchors = spark.createDataFrame(pd.DataFrame({
        "anchor_id": ["a_mid", "a_far", "r0", "z_mid"],
        "block_id": ["L", "L", "R", "L"],
        "ax": [0.5, 0.1, 1.1, 0.5],
        "ay": [10.5, 10.5, 10.5, 10.5],
    }))
    out = (
        knn_op.parcel_assign(pts, anchors, 12, point_id="pid")
        .toPandas().set_index("pid")
    )
    # P1: global NN r0 is out-of-block -> fallback -> a_mid (0.4 < 0.8)
    assert out.loc[1, "anchor_id"] == "a_mid"
    assert abs(out.loc[1, "nn_dist"] - 0.4) < 1e-12
    # P2 sits ON a_mid == z_mid position: tie resolves to lower id
    assert out.loc[2, "anchor_id"] == "a_mid"


# ---------------------------------------------------------------------------
# Distributed segment-cover path (fact-sized roads)
# ---------------------------------------------------------------------------


def test_segments_from_lines_df_parity(spark):
    """The distributed flatten must reproduce the driver builder exactly —
    ids, coordinates, AND the last-non-null tag-override order (waterway <
    highway < natural; untagged -> 'highway')."""
    lines = pd.DataFrame([
        {"osm_id": "w0", "highway": "residential", "waterway": None,
         "natural": None, "geometry": [[10.0, 50.0], [10.1, 50.0], [10.1, 50.1]]},
        {"osm_id": "w1", "highway": "primary", "waterway": "stream",
         "natural": None, "geometry": [[10.0, 50.2], [10.2, 50.2]]},
        {"osm_id": "w2", "highway": "x", "waterway": "y", "natural": "coast",
         "geometry": [[10.0, 50.3], [10.2, 50.3]]},
        {"osm_id": "w3", "highway": None, "waterway": None, "natural": None,
         "geometry": [[10.0, 50.4], [10.2, 50.4]]},
        # degenerate: 1-vertex and null geometry must yield ZERO segments
        # (not a sequence(0,-1) element_at crash), like the pandas twin
        {"osm_id": "w4", "highway": "residential", "waterway": None,
         "natural": None, "geometry": [[10.0, 50.5]]},
        {"osm_id": "w5", "highway": "residential", "waterway": None,
         "natural": None, "geometry": None},
    ])
    want = rangejoin.segments_from_lines(lines).sort_values("seg_id").reset_index(drop=True)
    got = (
        rangejoin.segments_from_lines_df(spark.createDataFrame(lines))
        .toPandas().sort_values("seg_id").reset_index(drop=True)[want.columns]
    )
    pd.testing.assert_frame_equal(want, got)


def test_segments_from_lines_skips_nan_geometry(spark):
    """pandas IO writes a missing geometry as float NaN, not None: the
    driver builder must skip it like None (zero segments, no crash), so it
    still matches the Spark flatten, which sees a null geometry."""
    lines = pd.DataFrame([
        {"osm_id": "w0", "highway": "residential", "waterway": np.nan,
         "natural": np.nan, "geometry": [[10.0, 50.0], [10.1, 50.0]]},
        {"osm_id": "w1", "highway": "residential", "waterway": np.nan,
         "natural": np.nan, "geometry": np.nan},
    ])
    want = rangejoin.segments_from_lines(lines)
    assert list(want.seg_id) == ["w0_0"]
    spark_lines = lines.astype(object).where(lines.notna(), None)
    got = rangejoin.segments_from_lines_df(
        spark.createDataFrame(
            spark_lines,
            "osm_id string, highway string, waterway string, natural string, "
            "geometry array<array<double>>",
        )
    ).toPandas()[want.columns]
    pd.testing.assert_frame_equal(want, got)


def test_segment_cover_df_parity(spark):
    """Column-side supercover emits the IDENTICAL (cell, seg_id) set as
    the numpy oracle (same linspace arithmetic, same dilation), on
    jittered general-position segments."""
    segs = _grid_segments(6, jitter=0.4)
    want = _segment_cover_pdf(segs, 13)
    got = rangejoin.segment_cover_df(spark.createDataFrame(segs), 13).toPandas()
    sa = set(map(tuple, want[["cell", "seg_id"]].itertuples(index=False)))
    sb = set(map(tuple, got[["cell", "seg_id"]].itertuples(index=False)))
    assert sa == sb


def _random_segments(n: int, res: int, seed: int = 11) -> pd.DataFrame:
    """n seeded uniform-random segments over the AOI, 0.3–2 cells long
    at ``res``, in random directions."""
    rng = np.random.default_rng(seed)
    cell_h = 180.0 / (1 << res)
    ax = synth.AOI_LON0 + rng.uniform(0, synth.AOI_SPAN, n)
    ay = synth.AOI_LAT0 + rng.uniform(0, synth.AOI_SPAN, n)
    ang = rng.uniform(0, 2 * np.pi, n)
    ln = rng.uniform(0.3, 2.0, n) * cell_h
    return pd.DataFrame({
        "seg_id": [f"s{i}" for i in range(n)], "ax": ax, "ay": ay,
        "bx": ax + ln * np.cos(ang), "by": ay + ln * np.sin(ang),
    })


def test_distributed_join_matches_bruteforce_with_residue(spark, monkeypatch):
    """nearest_segment_join_distributed == the numpy brute force
    row-for-row, including a far outlier that is residue at the caller's
    resolution (drained by the auto-appended coarser levels, not a
    cartesian). Two inputs: a jittered road grid, and seeded random
    segments in general position (random anchors, directions and
    lengths)."""
    cases = [
        (_grid_segments(4, jitter=0.3), 13, 800),
        (_random_segments(2_000, 16), 16, 4_000),
    ]
    plans = _record_level_plans(monkeypatch)
    for segs, res, n in cases:
        base = spark.range(0, n, numPartitions=4)
        lon, lat = synth.lonlat_cols(F.col("id"))
        pts = base.select(F.col("id").alias("pid"), lon.alias("lon"), lat.alias("lat"))
        pts = pts.unionByName(spark.createDataFrame(
            pd.DataFrame({"pid": [99999], "lon": [-150.0], "lat": [-70.0]})
        ))
        dist = rangejoin.nearest_segment_join_distributed(
            pts, spark.createDataFrame(segs), res, point_id="pid"
        )
        got = dist.select("pid", "lon", "lat", "seg_id", "road_dist").toPandas()
        want = _bruteforce_nearest(got, segs)
        assert sorted(
            map(tuple, got[["pid", "seg_id", "road_dist"]].itertuples(index=False))
        ) == want and len(want) == n + 1, res
        plans.append(dist._jdf.queryExecution().executedPlan().toString())
    # fully JVM-side: no level of the cascade has a cartesian or a
    # Python stage
    assert len(plans) > 2 * len(cases)
    _assert_no_cartesian_no_python(plans)


def test_nearest_segment_tie_breaks_to_lowest_seg_id(spark):
    """Points equidistant from two segments resolve to the lower seg_id,
    at the first level (pid 1, within one cell) and in the residue
    (pid 2, drained by the coarser levels). Dyadic coordinates make both
    distances bit-identical."""
    h = 2.0 ** -7
    segs = pd.DataFrame({
        "seg_id": ["s2", "s1"],  # the higher id comes first in the input
        "ax": [10.0, 10.0 + h], "ay": [50.0, 50.0],
        "bx": [10.0, 10.0 + h], "by": [50.0 + h, 50.0 + h],
    })
    pts_pdf = pd.DataFrame({
        "pid": [1, 2], "lon": [10.0 + h / 2, 10.0 + h / 2],
        "lat": [50.0 + h / 2, 50.5],
    })
    res = 13
    dist = rangejoin.nearest_segment_join_distributed(
        spark.createDataFrame(pts_pdf), spark.createDataFrame(segs), res
    )
    b = sorted(map(tuple, dist.select("pid", "seg_id", "road_dist").collect()))
    assert b == _bruteforce_nearest(pts_pdf, segs)
    assert [r[1] for r in b] == ["s1", "s1"]
    assert b[0][2] == h / 2 and b[1][2] > 180.0 / (1 << res)


def test_nearest_segment_tie_at_residue_bound(spark):
    """A coarser level must still rank a target tied with the residue
    bound. At res 8 the point's cell sees only s2 (one cell to the east,
    distance d = 2 cell heights, beyond the ring guarantee), so the point
    falls through carrying __ub = d. The next level also finds s1 (two
    cell heights north) at the same d, and the tie goes to s1. With the
    bound compared as ``<`` the point would be dropped; compared squared
    (d > 1) likewise. Dyadic coordinates make both distances exactly d."""
    res = 8
    w, h = 360.0 / (1 << res), 180.0 / (1 << res)
    px, py = -180.0 + 135.5 * w, -90.0 + 199.5 * h  # the centre of a cell
    d = 2 * h
    segs = pd.DataFrame({
        "seg_id": ["s2", "s1"],
        "ax": [px + d, px - w / 4], "ay": [py - h / 4, py + d],
        "bx": [px + d, px + w / 4], "by": [py + h / 4, py + d],
    })
    pts_pdf = pd.DataFrame({"pid": [1], "lon": [px], "lat": [py]})
    dist = rangejoin.nearest_segment_join_distributed(
        spark.createDataFrame(pts_pdf), spark.createDataFrame(segs), res
    )
    assert d > 1.0 and d > h
    assert _bruteforce_nearest(pts_pdf, segs) == [(1, "s1", d)]
    assert [tuple(r) for r in dist.select("pid", "seg_id", "road_dist").collect()] == [
        (1, "s1", d)
    ]


def test_nn_paths_keep_nan_and_null_points(spark):
    """A NaN or null coordinate gives a NaN or null distance at every
    level, so the point stays in the residue with a NaN or null bound.
    That bound must never filter out the terminal level's (or brute
    pass's) candidates: every NN entry point returns one row per point."""
    segs = pd.DataFrame({
        "seg_id": ["s1", "s2"], "ax": [10.0, 10.05], "ay": [50.0, 50.0],
        "bx": [10.0, 10.05], "by": [50.05, 50.05],
        "feature_type": ["waterway", "highway"],
    })
    tgt = spark.createDataFrame(pd.DataFrame(
        {"target_id": [1, 2], "tx": [10.0, 10.05], "ty": [50.0, 50.05]}
    ))
    anchors = spark.createDataFrame(pd.DataFrame(
        {"anchor_id": [1, 2], "block_id": ["b0", "b0"],
         "ax": [10.0, 10.05], "ay": [50.0, 50.05]}
    ))
    # pid 2 gets a NaN lon made in Spark (pandas would turn it into
    # null), pid 3 a null lon
    base = spark.createDataFrame(pd.DataFrame(
        {"pid": [1, 2, 3], "lon": [10.01] * 3, "lat": [50.01, 50.02, 50.03]}
    ))
    lon = (
        F.when(F.col("pid") == 2, F.lit(float("nan")))
        .when(F.col("pid") == 3, F.lit(None).cast("double"))
        .otherwise(F.col("lon"))
    )
    pts = base.select("pid", lon.alias("lon"), "lat", F.lit("b0").alias("block_id"))
    levels = [16, 13]
    runs = {
        "knn_join": knn.knn_join(pts, tgt, levels, point_id="pid"),
        "knn_join_shuffle": knn.knn_join(
            pts, tgt, levels, point_id="pid", broadcast_targets=False
        ),
        "parcel_assign": knn.parcel_assign(pts, anchors, levels, point_id="pid"),
        "nearest_segment_join_distributed": rangejoin.nearest_segment_join_distributed(
            pts, spark.createDataFrame(segs.drop(columns="feature_type")), levels,
            point_id="pid",
        ).withColumnRenamed("road_dist", "nn_dist"),
    }
    for name, out in runs.items():
        rows = sorted(out.select("pid", "nn_dist").collect())
        assert [r.pid for r in rows] == [1, 2, 3], name
        assert 0.0 < rows[0].nn_dist < 0.02, name
        assert math.isnan(rows[1].nn_dist), name
        assert rows[2].nn_dist is None, name
    # the finite point's segment and distance are the brute force's
    road = runs["nearest_segment_join_distributed"].filter("pid = 1")
    assert [tuple(r) for r in road.select("pid", "seg_id", "nn_dist").collect()] == (
        _bruteforce_nearest(road.select("pid", "lon", "lat").toPandas(), segs)
    )

    # boundary types: the ring's vertices are the points. The NaN vertex
    # types as 'gadm_boundary' (NaN exceeds the threshold); the null one
    # keeps its nearest segment's type, the lowest seg_id s1's
    v = lambda x, y: F.array(F.lit(x).cast("double"), F.lit(y).cast("double"))
    blocks = spark.range(1).select(
        F.lit("blk").alias("block_id"),
        F.array(
            v(10.01, 50.01), v(float("nan"), 50.02), v(None, 50.03),
            v(10.04, 50.01), v(10.01, 50.01),
        ).alias("geometry"),
    )
    out = rangejoin.boundary_types_for_blocks(blocks, segs, 14, threshold=0.5)
    assert [tuple(r) for r in out.select("block_id", "boundary_types").collect()] == [
        ("blk", ["natural", "natural", "highway", "highway"])
    ]


def test_boundary_types_beyond_first_level_match_bruteforce(spark, monkeypatch):
    """Boundary typing of vertices that no first-level candidate set can
    settle: every vertex lies farther from every line than the res-14
    ring guarantee, so each one falls through to the coarser levels (the
    case a cross-join brute pass used to cover). The threshold keeps
    every nearest type, so the types are the brute force's nearest
    segments under the combine rule. Vertex (10.125, 49.75) is equally
    far from a and b (dyadic coordinates), and the tie goes to a."""
    segs = pd.DataFrame({
        "seg_id": ["a", "b", "c", "d"],
        "ax": [10.0, 10.25, 10.0, 10.5], "ay": [49.5, 49.5, 50.0, 50.25],
        "bx": [10.0, 10.25, 10.25, 10.75], "by": [50.0, 50.0, 50.0, 50.5],
        "feature_type": ["waterway", "highway", "natural", "waterway"],
    })
    rings = {
        "near_ab": [(10.125, 49.75), (10.375, 49.625), (9.875, 49.625)],
        "north": [(10.125, 50.25), (10.375, 50.125), (10.25, 50.5), (10.0, 50.25)],
        "east": [(11.0, 49.75), (11.0, 50.0), (10.5, 49.75), (10.75, 50.0)],
    }
    res, threshold = 14, 10.0
    blocks = spark.createDataFrame(pd.DataFrame({
        "block_id": list(rings),
        "geometry": [[list(v) for v in ring] for ring in rings.values()],
    }))
    plans = _record_level_plans(monkeypatch)
    out = rangejoin.boundary_types_for_blocks(blocks, segs, res, threshold=threshold)
    got = {r.block_id: list(r.boundary_types) for r in out.collect()}

    ftype = dict(zip(segs.seg_id, segs.feature_type))
    combine = lambda a, b: a if a == b else ("highway" if "highway" in (a, b) else "natural")
    want = {}
    for bid, ring in rings.items():
        verts = pd.DataFrame({
            "pid": range(len(ring)), "lon": [v[0] for v in ring],
            "lat": [v[1] for v in ring],
        })
        nearest = _bruteforce_nearest(verts, segs, decimals=9)
        assert all(d > 180.0 / (1 << res) for _, _, d in nearest)  # all residue
        assert all(d <= threshold for _, _, d in nearest)
        vt = [ftype[seg] for _, seg, _ in nearest]
        want[bid] = [combine(vt[i], vt[(i + 1) % len(vt)]) for i in range(len(vt))]
        if bid == "near_ab":
            assert [seg for _, seg, _ in nearest] == ["a", "b", "a"]
    assert got == want

    plans.append(out._jdf.queryExecution().executedPlan().toString())
    assert len(plans) > 2  # the coarser levels ran
    _assert_no_cartesian_no_python(plans)


def test_star_junction_hot_cell_guard(spark, monkeypatch):
    """Degenerate skew fixture: N roads all through ONE junction point, so
    one cell (and its ring) holds every segment. The hot-cell guard must
    split the cell into hash chunks (bounded per-key candidate count) and
    stay EXACT — identical output to the numpy brute force."""
    rng = np.random.default_rng(7)
    n = 120
    ang = rng.uniform(0, 2 * np.pi, n)
    r = rng.uniform(0.02, 0.05, n)
    jx, jy = 10.05, 50.05  # the junction
    segs = pd.DataFrame({
        "seg_id": [f"s{i}" for i in range(n)],
        "ax": jx, "ay": jy,
        "bx": jx + r * np.cos(ang), "by": jy + r * np.sin(ang),
    })
    base = spark.range(0, 400, numPartitions=4)
    pts = base.select(
        F.col("id").alias("pid"),
        (F.lit(jx) + (F.pmod(F.col("id") * 37, F.lit(100)) - 50) / 500.0).alias("lon"),
        (F.lit(jy) + (F.pmod(F.col("id") * 53, F.lit(100)) - 50) / 500.0).alias("lat"),
    )
    sdf = spark.createDataFrame(segs)
    res = 12  # coarse enough that the junction cell holds all n segments
    cov = rangejoin.segment_cover_df(sdf, res).toPandas()
    hot = cov.groupby("cell").size().max()
    assert hot == n  # the fixture IS degenerate: one cell holds every segment

    cap = 16
    monkeypatch.setattr(rangejoin, "MAX_SEGS_PER_CELL", cap)
    guarded = rangejoin.nearest_segment_join_distributed(
        pts, sdf, res, point_id="pid"
    ).select("pid", "lon", "lat", "seg_id", "road_dist").toPandas()
    g = sorted(map(tuple, guarded[["pid", "seg_id", "road_dist"]].itertuples(index=False)))
    assert g == _bruteforce_nearest(guarded, segs) and len(g) == 400

    # the bounded per-key property: with the guard, every (cell, chunk)
    # join key holds ~cap segments (hash-balanced), never the full hot
    # cell — recompute the guard's own chunking and measure the max key
    nb = int(np.ceil(hot / cap))
    assert nb > 1
    key_sizes = (
        rangejoin.segment_cover_df(sdf, res)
        .groupBy("cell")
        .agg(F.count("*").alias("cn"), F.collect_list("seg_id").alias("ids"))
        .select(
            "cell",
            F.explode("ids").alias("seg_id"),
            F.ceil(F.col("cn") / F.lit(cap)).cast("int").alias("nb"),
        )
        .withColumn("chunk", F.pmod(F.xxhash64("seg_id"), F.col("nb")))
        .groupBy("cell", "chunk")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert key_sizes <= 3 * cap  # hash-balanced, far below the hot cell's n
