"""Raster↔vector tiling: map image tiles onto block/parcel geometries.

Reference semantics: area-weighted raster allocation
(/root/reference/data_processing/process_worldpop.py:202-238) — polygonize
raster cells (F26), intersect with block polygons, weight by
``(cell ∩ block).area / cell.area`` (F27). In the graft, the raster is the
*image*: each geo-tagged image has a square ground footprint centered at
its derived position; a t×t tile grid subdivides the footprint; each tile
is matched to the geometry it lands on with its intersection-area weight
(FIXTURES.md §8 tile_membership contract).

Two physical paths:

- ``tile_membership_rect``: geometries are axis-aligned (grid blocks /
  rectilinear parcels) → weights are pure Column arithmetic (1-D overlap
  products), whole-stage codegen, zero Python. This is the 100-TB path:
  explode t² tile rows per image (narrow data: 4 doubles), broadcast-join
  the block-bounds dim, no shuffle of the fact side.
- ``tile_membership_poly``: arbitrary parcel rings → cell equi-join
  prefilter + Sutherland–Hodgman clip kernel in an Arrow pandas UDF
  (exact F27 semantics for irregular geometry).

``tile_pixel_stats`` decodes the actual payload bytes and reduces each
tile's pixels (mean RGB) — the decode/feature-extract plumbing for
multimodal columns (real codec for raw/q6; see operators.multimodal for
the external-format stubs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells, geom, imagecodec

DEFAULT_FOOTPRINT = 0.002  # degrees of ground per image side


def _tile_rects(points: DataFrame, t: int, footprint: float) -> DataFrame:
    """Explode each point (lon, lat) into t×t tile rectangles (tx0, ty0,
    tx1, ty1)."""
    half = footprint / 2.0
    tile = footprint / t
    idx = F.explode(F.sequence(F.lit(0), F.lit(t * t - 1))).alias("tile_idx")
    out = points.select("*", idx)
    tr = (F.col("tile_idx") / t).cast("int")
    tc = F.col("tile_idx") % t
    return (
        out.withColumn("tile_row", tr)
        .withColumn("tile_col", tc)
        .withColumn("tx0", F.col("lon") - F.lit(half) + F.col("tile_col") * F.lit(tile))
        .withColumn("ty0", F.col("lat") - F.lit(half) + F.col("tile_row") * F.lit(tile))
        .withColumn("tx1", F.col("tx0") + F.lit(tile))
        .withColumn("ty1", F.col("ty0") + F.lit(tile))
        .drop("tile_idx")
    )


def tile_membership_rect(
    points: DataFrame,
    block_bounds: DataFrame,
    t: int = 2,
    footprint: float = DEFAULT_FOOTPRINT,
) -> DataFrame:
    """Tile membership against axis-aligned blocks.

    ``block_bounds``: (block_id, bx0, by0, bx1, by1), broadcast. Output:
    (image_id, tile_row, tile_col, block_id, weight) with weight =
    |tile ∩ block| / |tile| > 0. All arithmetic JVM-side."""
    tiles = _tile_rects(points, t, footprint)
    j = tiles.join(
        F.broadcast(block_bounds),
        (F.col("tx0") < F.col("bx1")) & (F.col("tx1") > F.col("bx0"))
        & (F.col("ty0") < F.col("by1")) & (F.col("ty1") > F.col("by0")),
        "inner",
    )
    ox = F.least(F.col("tx1"), F.col("bx1")) - F.greatest(F.col("tx0"), F.col("bx0"))
    oy = F.least(F.col("ty1"), F.col("by1")) - F.greatest(F.col("ty0"), F.col("by0"))
    tile_area = F.lit((footprint / t) * (footprint / t))
    return j.select(
        F.col("image_id"),
        "tile_row",
        "tile_col",
        "block_id",
        (ox * oy / tile_area).alias("weight"),
    )


def tile_membership_poly(
    points: DataFrame,
    cover: DataFrame,
    res: int,
    t: int = 2,
    footprint: float = DEFAULT_FOOTPRINT,
) -> DataFrame:
    """Tile membership against arbitrary polygon rings (cover = exploded
    cell dimension from operators.assign.block_cover_*). Exact clip kernel.
    Output columns as :func:`tile_membership_rect`."""
    tiles = _tile_rects(points, t, footprint)
    # candidate polygons: any polygon covering the cell of the tile center
    cx = (F.col("tx0") + F.col("tx1")) / 2
    cy = (F.col("ty0") + F.col("ty1")) / 2
    tiles = tiles.withColumn("cell", F.explode(cells.kring_cells(cx, cy, res, 1)))
    cand = tiles.join(F.broadcast(cover), on="cell", how="inner")

    @F.pandas_udf(T.DoubleType())
    def overlap_frac(tx0, ty0, tx1, ty1, block_id, ring):
        out = np.zeros(len(tx0))
        groups = pd.Series(range(len(block_id))).groupby(block_id.to_numpy()).groups
        for _, idx in groups.items():
            ii = np.asarray(idx)
            r = geom.ring_to_np(ring.iloc[ii[0]])
            for k in ii:
                a = geom.rect_polygon_overlap_area(
                    tx0.iloc[k], ty0.iloc[k], tx1.iloc[k], ty1.iloc[k], r
                )
                area = (tx1.iloc[k] - tx0.iloc[k]) * (ty1.iloc[k] - ty0.iloc[k])
                out[k] = a / area if area > 0 else 0.0
        return pd.Series(out)

    scored = cand.withColumn(
        "weight",
        overlap_frac(
            F.col("tx0"), F.col("ty0"), F.col("tx1"), F.col("ty1"),
            F.col("block_id"), F.col("geometry"),
        ),
    ).filter(F.col("weight") > 0)
    # a tile may meet the same polygon through several cover cells → dedupe
    return scored.select(
        "image_id", "tile_row", "tile_col", "block_id", "weight"
    ).dropDuplicates(["image_id", "tile_row", "tile_col", "block_id"])


TILE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("tile_row", T.IntegerType()),
        T.StructField("tile_col", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def tile_pixel_stats(images: DataFrame, t: int = 2) -> DataFrame:
    """Decode payload bytes and emit per-tile mean RGB — the
    decode→tile→reduce multimodal path (raster windowing analog of
    process_worldpop.py:197-207, window = array slice)."""

    def per_batch(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(r.bytes, r.w, r.h, r.fmt).astype(np.float64)
                ys = np.linspace(0, r.h, t + 1).astype(int)
                xs = np.linspace(0, r.w, t + 1).astype(int)
                for i in range(t):
                    for j in range(t):
                        tile = px[ys[i]:ys[i + 1], xs[j]:xs[j + 1]]
                        m = tile.reshape(-1, 3).mean(axis=0)
                        rows.append(
                            (r.image_id, i, j, float(m[0]), float(m[1]), float(m[2]))
                        )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "tile_row", "tile_col", "mean_r", "mean_g", "mean_b"],
            )

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        per_batch, TILE_STATS_SCHEMA
    )
