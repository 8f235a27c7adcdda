"""Deterministic synthetic data: the graft images table + a synthetic city.

Everything is seeded, parallelism-independent (value depends only on the
row id, never the partition — FIXTURES.md preamble), and uses only integer
arithmetic that an ANSI-SQL oracle can replay:

    u(id) = ((id * 48271 + 11) mod 104729) / 104729
    v(id) = ((id * 16807 +  7) mod 104729) / 104729

Images land uniformly in the AOI except a 30% *hotspot* share packed into
one dense "urban" sub-box to exercise skew/salting (FIXTURES.md §1).

Scale note: ``images_df`` builds from ``spark.range(n)`` and synthesizes
pixels inside ``mapInPandas`` — generation itself is distributed and
embarrassingly parallel; at 10^12 rows the same generator runs as a
write-once backfill job partitioned by id range.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import imagecodec

# AOI: a 0.32° x 0.32° synthetic city
AOI_LON0, AOI_LAT0, AOI_SPAN = 10.0, 50.0, 0.32
# hotspot: dense urban pocket (~1.5% of the AOI area, 30% of the images)
HOT_LON0, HOT_LAT0, HOT_SPAN = 10.20, 50.20, 0.04
HOT_MOD, HOT_LT = 10, 3  # id % 10 < 3 → hotspot

M1 = 104729
A_U, B_U = 48271, 11
A_V, B_V = 16807, 7

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)


# ---------------------------------------------------------------------------
# position derivation (input table carries no lon/lat — SURVEY.md §1.4)
# ---------------------------------------------------------------------------

def _uv_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    # +0.5 keeps positions strictly off cell/block boundaries (no exact
    # floor ties between engines)
    u = (((ids * A_U + B_U) % M1) + 0.5) / M1
    v = (((ids * A_V + B_V) % M1) + 0.5) / M1
    return u, v


def lonlat_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    u, v = _uv_np(ids.astype(np.int64))
    hot = (ids % HOT_MOD) < HOT_LT
    lon = np.where(hot, HOT_LON0 + u * HOT_SPAN, AOI_LON0 + u * AOI_SPAN)
    lat = np.where(hot, HOT_LAT0 + v * HOT_SPAN, AOI_LAT0 + v * AOI_SPAN)
    return lon, lat


def lonlat_cols(idnum: Column) -> tuple[Column, Column]:
    """Same derivation as JVM-side Column arithmetic (codegen, no UDF)."""
    u = ((idnum * F.lit(A_U) + F.lit(B_U)) % F.lit(M1) + F.lit(0.5)) / F.lit(float(M1))
    v = ((idnum * F.lit(A_V) + F.lit(B_V)) % F.lit(M1) + F.lit(0.5)) / F.lit(float(M1))
    hot = (idnum % F.lit(HOT_MOD)) < F.lit(HOT_LT)
    lon = F.when(hot, F.lit(HOT_LON0) + u * F.lit(HOT_SPAN)).otherwise(
        F.lit(AOI_LON0) + u * F.lit(AOI_SPAN)
    )
    lat = F.when(hot, F.lit(HOT_LAT0) + v * F.lit(HOT_SPAN)).otherwise(
        F.lit(AOI_LAT0) + v * F.lit(AOI_SPAN)
    )
    return lon, lat


def lonlat_sql(id_expr: str) -> tuple[str, str]:
    u = f"(((({id_expr}) * {A_U} + {B_U}) % {M1}) + 0.5) / {M1}.0"
    v = f"(((({id_expr}) * {A_V} + {B_V}) % {M1}) + 0.5) / {M1}.0"
    hot = f"(({id_expr}) % {HOT_MOD}) < {HOT_LT}"
    lon = (
        f"(case when {hot} then {HOT_LON0} + ({u}) * {HOT_SPAN} "
        f"else {AOI_LON0} + ({u}) * {AOI_SPAN} end)"
    )
    lat = (
        f"(case when {hot} then {HOT_LAT0} + ({v}) * {HOT_SPAN} "
        f"else {AOI_LAT0} + ({v}) * {AOI_SPAN} end)"
    )
    return lon, lat


# ---------------------------------------------------------------------------
# image payloads
# ---------------------------------------------------------------------------

def pixels_for_id(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h,w,3) uint8 pattern — function of id only."""
    ys, xs = np.mgrid[0:h, 0:w]
    base = (xs * 3 + ys * 7 + (i % 997) * 13)[..., None] + np.array([0, 31, 62])
    return (base % 256).astype(np.uint8)


def image_row(i: int, w: int = 16, h: int = 16) -> dict:
    fmt = "raw" if i % 2 == 0 else "q6"
    px = pixels_for_id(i, w, h)
    return {
        "image_id": f"img_{i:09d}",
        "bytes": imagecodec.encode(px, fmt),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": f"synthetic caption img_{i:09d}",
        "phash": imagecodec.phash64(imagecodec.decode(imagecodec.encode(px, fmt), w, h, fmt)),
    }


def images_batch_pdf(ids: np.ndarray, w: int = 16, h: int = 16) -> pd.DataFrame:
    return pd.DataFrame([image_row(int(i), w, h) for i in ids])


def images_df(spark: SparkSession, n: int, w: int = 16, h: int = 16,
              partitions: int | None = None) -> DataFrame:
    """Distributed images table at the exact input_hint schema."""
    base = spark.range(0, n, numPartitions=partitions or max(4, n // 50_000))

    def gen(batches):
        for pdf in batches:
            yield images_batch_pdf(pdf["id"].to_numpy(), w, h)

    return base.mapInPandas(gen, IMAGES_SCHEMA)


def image_id_num(image_id: Column) -> Column:
    """Recover the numeric id from 'img_%09d' — arithmetic/SQL friendly."""
    return F.substring(image_id, 5, 9).cast("long")


# ---------------------------------------------------------------------------
# synthetic city: road grid, blocks, buildings
# ---------------------------------------------------------------------------

# Spark schemas of grid_blocks / road_grid_lines frames: pass them to
# createDataFrame so no session has to infer (and without Arrow, inference
# fails on road_grid_lines' all-None tag columns)
BLOCKS_DDL = "block_id string, geometry array<array<double>>"
LINES_DDL = (
    "osm_id string, highway string, waterway string, natural string, "
    "geometry array<array<double>>"
)


def grid_blocks(g: int = 8) -> pd.DataFrame:
    """Axis-aligned g x g street blocks covering the AOI. SQL-oracle
    friendly (PIP = range predicates); block ids minted in canonical
    row-major order 'city_{i}' replicating the reference's
    `{gadm}_{i}` minting (midway/midway_blocks.py:37-39) under an explicit
    total order (SURVEY.md §7.4)."""
    step = AOI_SPAN / g
    rows = []
    i = 0
    for gy in range(g):
        for gx in range(g):
            x0 = AOI_LON0 + gx * step
            y0 = AOI_LAT0 + gy * step
            ring = [
                [x0, y0], [x0 + step, y0],
                [x0 + step, y0 + step], [x0, y0 + step],
            ]
            rows.append({"block_id": f"city_{i}", "geometry": ring})
            i += 1
    return pd.DataFrame(rows)


def road_grid_lines(g: int = 8, jitter: float = 0.0) -> pd.DataFrame:
    """(g+1) vertical + (g+1) horizontal road polylines over the AOI, with
    optional deterministic jitter of interior vertices (irregular-block
    variant for the polygonization operator), plus one diagonal waterway.
    Schema per FIXTURES.md §2."""
    step = AOI_SPAN / g
    rows = []
    osm = 0

    def jit(k: int, scale: float) -> float:
        return scale * (((k * 2654435761) % 1000) / 1000.0 - 0.5)

    for gx in range(g + 1):
        x = AOI_LON0 + gx * step
        pts = []
        for gy in range(g + 1):
            y = AOI_LAT0 + gy * step
            jx = jit(osm * 131 + gy, jitter * step) if 0 < gy < g and 0 < gx < g else 0.0
            pts.append([x + jx, y])
        rows.append({"osm_id": f"way_{osm}", "highway": "residential",
                     "waterway": None, "natural": None, "geometry": pts})
        osm += 1
    for gy in range(g + 1):
        y = AOI_LAT0 + gy * step
        pts = []
        for gx in range(g + 1):
            x = AOI_LON0 + gx * step
            jy = jit(osm * 137 + gx, jitter * step) if 0 < gx < g and 0 < gy < g else 0.0
            pts.append([x, y + jy])
        rows.append({"osm_id": f"way_{osm}", "highway": "residential",
                     "waterway": None, "natural": None, "geometry": pts})
        osm += 1
    # one waterway crossing the AOI (weight 1e5 in reblocking)
    rows.append({
        "osm_id": f"way_{osm}", "highway": None, "waterway": "stream",
        "natural": None,
        "geometry": [[AOI_LON0, AOI_LAT0],
                     [AOI_LON0 + AOI_SPAN, AOI_LAT0 + AOI_SPAN]],
    })
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# parquet fixture writer (pyarrow — visible to the DuckDB oracle by path)
# ---------------------------------------------------------------------------

def write_images_parquet(path: str, n: int, w: int = 16, h: int = 16) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = images_batch_pdf(np.arange(n), w, h)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
