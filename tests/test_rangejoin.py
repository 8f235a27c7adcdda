"""Distance-join tests (J4 dilated-line join / J13 threshold classify —
/root/reference/data_processing/split_lines.py:23-38,
reblock/i_topology_utils.py:309-329)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

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


def test_segment_cover_dilated():
    segs = pd.DataFrame(
        [{"seg_id": "s", "ax": 10.0, "ay": 50.0, "bx": 10.01, "by": 50.0}]
    )
    cov = rangejoin.segment_cover_pdf(segs, 14)
    assert len(cov) >= 9  # at least the 3x3 dilation of one cell
    assert set(cov.columns) == {"cell", "seg_id", "ax", "ay", "bx", "by"}


@pytest.mark.slow
def test_nearest_segment_matches_bruteforce(spark):
    g = 4
    segs = _grid_segments(g)
    cover = rangejoin.segment_cover_pdf(segs, 13)
    base = spark.range(0, 500, numPartitions=4)
    lon, lat = synth.lonlat_cols(F.col("id"))
    pts = base.select(F.col("id").alias("pid"), lon.alias("lon"), lat.alias("lat"))
    out = rangejoin.nearest_segment_join(pts, cover, 13).toPandas()
    assert len(out) == 500

    # numpy brute-force oracle
    a = segs[["ax", "ay"]].to_numpy()
    b = segs[["bx", "by"]].to_numpy()
    p = out[["lon", "lat"]].to_numpy()
    d_ab = b - a
    len2 = (d_ab**2).sum(1)
    for i in range(len(p)):
        t = np.clip(((p[i] - a) * d_ab).sum(1) / len2, 0, 1)
        c = a + t[:, None] * d_ab
        d = np.hypot(*(p[i] - c).T)
        assert abs(out.road_dist.iloc[i] - d.min()) < 1e-12


@pytest.mark.slow
def test_classify_threshold(spark):
    segs = _grid_segments(4)
    cover = rangejoin.segment_cover_pdf(segs, 13)
    base = spark.range(0, 300, numPartitions=4)
    lon, lat = synth.lonlat_cols(F.col("id"))
    pts = base.select(F.col("id").alias("pid"), lon.alias("lon"), lat.alias("lat"))
    joined = rangejoin.nearest_segment_join(pts, cover, 13)
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
    the driver pandas builder (same linspace arithmetic, same dilation),
    on jittered general-position segments."""
    segs = _grid_segments(6, jitter=0.4)
    want = rangejoin.segment_cover_pdf(segs, 13)
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


def test_distributed_join_matches_legacy_with_residue(spark):
    """nearest_segment_join_distributed == the broadcast path row-for-row,
    including a far outlier that is residue at the caller's resolution
    (drained by the auto-appended coarser levels, not a cartesian). Two
    inputs: a jittered road grid, and seeded random segments in general
    position (random anchors, directions and lengths)."""
    cases = [
        (_grid_segments(4, jitter=0.3), 13, 800),
        (_random_segments(2_000, 16), 16, 4_000),
    ]
    for segs, res, n in cases:
        cover = rangejoin.segment_cover_pdf(segs, res)
        base = spark.range(0, n, numPartitions=4)
        lon, lat = synth.lonlat_cols(F.col("id"))
        pts = base.select(F.col("id").alias("pid"), lon.alias("lon"), lat.alias("lat"))
        pts = pts.unionByName(spark.createDataFrame(
            pd.DataFrame({"pid": [99999], "lon": [-150.0], "lat": [-70.0]})
        ))
        legacy = rangejoin.nearest_segment_join(pts, cover, res)
        dist = rangejoin.nearest_segment_join_distributed(
            pts, spark.createDataFrame(segs), res, point_id="pid"
        )
        a = sorted(map(tuple, legacy.select("pid", F.round("road_dist", 9)).collect()))
        b = sorted(map(tuple, dist.select("pid", F.round("road_dist", 9)).collect()))
        assert a == b and len(b) == n + 1, res
        p = dist._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        # fully JVM-side: the distributed path has no Python stage at all
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_nearest_segment_tie_breaks_to_lowest_seg_id(spark):
    """Points equidistant from two segments resolve to the lower seg_id on
    the broadcast and the distributed path alike — at the first level
    (pid 1, within one cell) and in the residue (pid 2, drained by the
    brute pass / coarser levels). Dyadic coordinates make both distances
    bit-identical."""
    h = 2.0 ** -7
    segs = pd.DataFrame({
        "seg_id": ["s2", "s1"],  # the higher id comes first in the input
        "ax": [10.0, 10.0 + h], "ay": [50.0, 50.0],
        "bx": [10.0, 10.0 + h], "by": [50.0 + h, 50.0 + h],
    })
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": [1, 2], "lon": [10.0 + h / 2, 10.0 + h / 2],
        "lat": [50.0 + h / 2, 50.5],
    }))
    res = 13
    legacy = rangejoin.nearest_segment_join(
        pts, rangejoin.segment_cover_pdf(segs, res), res
    )
    dist = rangejoin.nearest_segment_join_distributed(
        pts, spark.createDataFrame(segs), res
    )
    cols = ["pid", "seg_id", "road_dist"]
    a = sorted(map(tuple, legacy.select(*cols).collect()))
    b = sorted(map(tuple, dist.select(*cols).collect()))
    assert a == b
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
    pts = spark.createDataFrame(pd.DataFrame({"pid": [1], "lon": [px], "lat": [py]}))
    legacy = rangejoin.nearest_segment_join(
        pts, rangejoin.segment_cover_pdf(segs, res), res
    )
    dist = rangejoin.nearest_segment_join_distributed(
        pts, spark.createDataFrame(segs), res
    )
    assert d > 1.0 and d > h
    for out in (legacy, dist):
        assert [tuple(r) for r in out.select("pid", "seg_id", "road_dist").collect()] == [
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
        "nearest_segment_join": rangejoin.nearest_segment_join(
            pts, rangejoin.segment_cover_pdf(segs, 14), 14, point_id="pid"
        ).withColumnRenamed("road_dist", "nn_dist"),
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


def test_star_junction_hot_cell_guard(spark):
    """Degenerate skew fixture: N roads all through ONE junction point, so
    one cell (and its ring) holds every segment. The hot-cell guard must
    split the cell into hash chunks (bounded per-key candidate count) and
    stay EXACT — identical output to the legacy broadcast path."""
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
    guarded = rangejoin.nearest_segment_join_distributed(
        pts, sdf, res, point_id="pid", max_segs_per_cell=cap
    )
    legacy = rangejoin.nearest_segment_join(
        pts, rangejoin.segment_cover_pdf(segs, res), res, point_id="pid"
    )
    g = sorted(map(tuple, guarded.select("pid", F.round("road_dist", 9)).collect()))
    l = sorted(map(tuple, legacy.select("pid", F.round("road_dist", 9)).collect()))
    assert g == l and len(g) == 400

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
