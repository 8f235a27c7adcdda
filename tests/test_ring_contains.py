"""The JVM point-in-polygon ray cast (geomcols.ring_contains) against its
numpy twin (geom.points_in_polygon): element-for-element agreement on
concave and axis-aligned rings, over whole-ring edge lists and over the
cell-local lists every assign path broadcasts; degenerate rings and
NaN/None points give no match and no crash."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from prclz_spark.functions import cells, geom, geomcols
from prclz_spark.operators import assign
from prclz_spark.sources import synth

RES = 14
RING_DDL = "geometry array<array<double>>"


def _star(n=256, cx=10.16, cy=50.16, r_out=0.05, r_in=0.02):
    """Concave star: n vertices alternating between two radii."""
    t = np.arange(n) * 2 * np.pi / n
    r = np.where(np.arange(n) % 2 == 0, r_out, r_in)
    return np.column_stack([cx + r * np.cos(t), cy + r * np.sin(t)])


def _staircase():
    """Rectilinear staircase: half its edges are horizontal."""
    return np.array([
        [10.0, 50.0], [10.3, 50.0], [10.3, 50.1], [10.2, 50.1],
        [10.2, 50.2], [10.1, 50.2], [10.1, 50.3], [10.0, 50.3],
    ])


def _probes(ring, n_random=3000, seed=7):
    """Random points over the bbox, plus points one ulp around every
    vertex, random points at every vertex height (and one ulp either side),
    and for small rings the full grid of vertex xs, their midpoints and
    vertex heights (on-edge and just-off-edge cases)."""
    rng = np.random.default_rng(seed)
    (x0, y0), (x1, y1) = ring.min(axis=0), ring.max(axis=0)
    px = [rng.uniform(x0 - 0.01, x1 + 0.01, n_random)]
    py = [rng.uniform(y0 - 0.01, y1 + 0.01, n_random)]

    def ulps(v):
        return np.stack([np.nextafter(v, -np.inf), v, np.nextafter(v, np.inf)])

    vx, vy = ulps(ring[:, 0]), ulps(ring[:, 1])
    px.append(np.repeat(vx, 3, axis=0).ravel())
    py.append(np.tile(vy, (3, 1)).ravel())
    hy = np.repeat(vy.ravel(), 8)
    px.append(rng.uniform(x0, x1, len(hy)))
    py.append(hy)
    xs, ys = np.unique(ring[:, 0]), np.unique(ring[:, 1])
    if len(xs) * len(ys) <= 100:
        gx, gy = np.meshgrid(ulps(np.concatenate([xs, (xs[:-1] + xs[1:]) / 2])), ulps(ys))
        px.append(gx.ravel())
        py.append(gy.ravel())
    return np.concatenate(px), np.concatenate(py)


def _rings():
    star, stair = _star(), _staircase()
    return {
        "star256": star,
        "horizontal_edges": stair,
        "open": star[:64:3],
        "closed": np.vstack([star[:64:3], star[:1]]),
    }


@pytest.fixture(scope="module")
def probes_df(spark):
    rows = []
    for name, ring in _rings().items():
        px, py = _probes(ring)
        rows.append(pd.DataFrame({"name": name, "pid": np.arange(len(px)), "x": px, "y": py}))
    return spark.createDataFrame(
        pd.concat(rows, ignore_index=True), "name string, pid long, x double, y double"
    )


@pytest.mark.parametrize("name", list(_rings()))
def test_ring_contains_matches_numpy(spark, probes_df, name):
    """Whole-ring edges, built on either side (geom.ring_edges on the
    driver, geomcols.with_ring_edges in the JVM), give the numpy answer
    for every probe."""
    ring = _rings()[name]
    px, py = _probes(ring)
    want = geom.points_in_polygon(px, py, ring)
    ring_df = spark.createDataFrame([(ring.tolist(),)], RING_DDL)
    jvm_edges = geomcols.with_ring_edges(ring_df)
    np_edges = spark.createDataFrame(
        [(geom.ring_edges(ring).tolist(),)], "edges array<array<double>>"
    )
    pts = probes_df.filter(F.col("name") == name)
    for edges in (jvm_edges, np_edges):
        got = (
            pts.crossJoin(edges.select("edges"))
            .select("pid", geomcols.ring_contains(F.col("edges"), F.col("x"), F.col("y")).alias("c"))
            .toPandas()
            .sort_values("pid")
        )
        assert got.c.to_numpy().tolist() == want.tolist()
    assert want.any() and not want.all()


@pytest.mark.parametrize("name", list(_rings()))
def test_assign_cell_local_edges_match_numpy(spark, probes_df, name):
    """Through the operator: the cell-local edge lists of the small,
    compact and distributed paths select exactly the numpy-inside probes."""
    ring = _rings()[name]
    px, py = _probes(ring)
    want = set(np.nonzero(geom.points_in_polygon(px, py, ring))[0].tolist())
    cover = assign.block_cover_pdf(pd.DataFrame({"block_id": ["b"], "geometry": [ring.tolist()]}), RES)
    assert (~cover.interior).any()
    pts = probes_df.filter(F.col("name") == name).withColumnRenamed("x", "lon").withColumnRenamed("y", "lat")
    outs = {
        "small": assign.assign_points_to_blocks(pts, cover, RES),
        "compact": assign.assign_points_to_blocks_compact(pts, cover, RES, RES - 3),
        "dist": assign.assign_points_to_blocks(pts, spark.createDataFrame(cover), RES),
    }
    for path, out in outs.items():
        got = [r.pid for r in out.select("pid").collect()]
        assert len(got) == len(set(got)) and set(got) == want, path


DEGENERATE = {
    "none": None,
    "empty": [],
    "point": [[10.1, 50.1]],
    "segment": [[10.1, 50.1], [10.2, 50.2]],
    "closed_segment": [[10.1, 50.1], [10.2, 50.2], [10.1, 50.1]],
}


def test_degenerate_rings_match_nothing(spark):
    """Rings with no area give an empty edge list on both sides, so the
    ray cast matches nothing, and the operator neither crashes nor
    assigns: the driver cover skips them, a Spark cover's rows carry
    empty edge lists."""
    for g in DEGENERATE.values():
        assert geom.ring_edges(geom.ring_to_np(g)).shape == (0, 4)
    rings = spark.createDataFrame(
        [(k, v) for k, v in DEGENERATE.items()], "block_id string, " + RING_DDL
    )
    got = (
        geomcols.with_ring_edges(rings)
        .withColumn("c", geomcols.ring_contains(F.col("edges"), F.lit(10.15), F.lit(50.15)))
        .collect()
    )
    assert len(got) == len(DEGENERATE)
    assert all(r.edges == [] and r.c is False for r in got)

    blocks = pd.DataFrame({"block_id": list(DEGENERATE), "geometry": list(DEGENERATE.values())})
    assert len(assign.block_cover_pdf(blocks, RES)) == 0
    pts = spark.createDataFrame(
        [(1, 10.15, 50.15), (2, 10.1, 50.1)], "image_id long, lon double, lat double"
    )
    cell = int(cells.cell_id_np(np.array([10.15]), np.array([50.15]), RES)[0])
    cov = spark.createDataFrame(
        [(cell, k, v, False) for k, v in DEGENERATE.items()],
        "cell long, block_id string, " + RING_DDL + ", interior boolean",
    )
    assert assign.assign_points_to_blocks(pts, cov, RES).count() == 0
    assert assign.assign_points_to_blocks(pts, cov, RES, salt=3).count() == 0


def test_nan_and_null_points_get_no_row(spark):
    """NaN or None lon/lat: no row and no crash on the small, compact and
    salted paths; the valid points are still assigned."""
    blocks = synth.grid_blocks(4)
    cover = assign.block_cover_pdf(blocks, 15)
    nan = float("nan")
    pts = spark.createDataFrame(
        [
            (1, nan, 50.1), (2, 10.1, nan), (3, nan, nan),
            (4, None, 50.1), (5, 10.1, None), (6, None, None),
            (7, 10.05, 50.05), (8, 10.3, 50.3),
        ],
        "image_id long, lon double, lat double",
    )
    outs = {
        "small": assign.assign_points_to_blocks(pts, cover, 15),
        "compact": assign.assign_points_to_blocks_compact(pts, cover, 15, 11),
        "salted": assign.assign_points_to_blocks(
            pts, spark.createDataFrame(cover), 15, salt=4
        ),
    }
    for path, out in outs.items():
        got = sorted((r.image_id, r.block_id) for r in out.select("image_id", "block_id").collect())
        assert got == [(7, "city_0"), (8, "city_15")], path
