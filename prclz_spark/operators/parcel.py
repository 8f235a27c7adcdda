"""Parcelization: Voronoi-decompose each block on its assigned points.

Reference stage 3 (/root/reference/prclz/parcelization/
midway_parcelization.R:44-91): densify building footprints, Voronoi-
tessellate the block, dissolve cells by footprint id, emit the cell mesh
as a MULTILINESTRING parcel layer per block. In the graft the building
role is played by image points (SURVEY.md §1.4), so a parcel is the
clipped Voronoi cell of one point — the dissolve step is the identity —
and the mesh is the union of cell boundaries.

``block_cells`` is the engine's one cell loop; parcels and k-complexity's
S0 mesh both derive from it, so they agree. The pipeline computes each
block's cells once (``reblock.block_rows``) and its parcels table is a
filter sink of ``reblock_all``. Spark shape of ``parcelize``: assigned
points cogrouped with blocks by block_id (``_cogroup_by_block``, shared
by every per-block operator); one shuffle, kernels pure numpy."""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geom
from ..functions.voronoi import halfplane_voronoi_cell, perturb_duplicates

PARCELS_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.StringType()),
        T.StructField("parcel_point_id", T.StringType()),
        T.StructField("geometry", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("area", T.DoubleType()),
    ]
)


def _cogroup_by_block(
    points: DataFrame, point_cols: list[str], blocks: DataFrame,
    kernel: Callable[[pd.DataFrame, str, np.ndarray, list | None], list[dict]],
    schema: T.StructType,
) -> DataFrame:
    """The per-block operators' one cogroup: ``kernel(pts_pdf, block_id,
    ring, boundary_types)`` returns a block's output rows as dicts (missing
    keys become nulls; boundary_types is None unless the blocks frame
    carries them); a group without a block row yields nothing. No side may
    carry a nested array column: an empty group of one crashes the Python
    worker's Arrow read, so rings travel flattened (``F.flatten``).

    The kernels are CPU-heavy while their shuffle is byte-light, so AQE's
    size-based coalescing would collapse the stage to a handful of tasks.
    Both sides are therefore hash-partitioned on block_id with an explicit
    count, 2x default parallelism — an exchange the cogroup reuses and AQE
    does not coalesce."""
    cols = [f.name for f in schema.fields]
    blk_cols = ["block_id", F.flatten("geometry").alias("geometry")] + (
        ["boundary_types"] if "boundary_types" in blocks.columns else []
    )

    def per_block(pts_pdf: pd.DataFrame, blk_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(blk_pdf) == 0:
            return pd.DataFrame(columns=cols)
        blk = blk_pdf.iloc[0]
        bt = blk.get("boundary_types")
        rows = kernel(
            pts_pdf, blk["block_id"], np.asarray(blk["geometry"], float).reshape(-1, 2),
            None if bt is None else list(bt),
        )
        return pd.DataFrame(rows, columns=cols)

    n = points.sparkSession.sparkContext.defaultParallelism * 2
    return (
        points.select(*point_cols).repartition(n, "block_id").groupBy("block_id")
        .cogroup(
            blocks.select(*blk_cols).repartition(n, "block_id").groupBy("block_id")
        )
        .applyInPandas(per_block, schema)
    )


def _canonical_points(point_ids, pts_xy) -> tuple[list[str], np.ndarray]:
    """(string ids, (n, 2) lon/lat) in point-id order: the duplicate
    perturbation depends on order, so not on the cogroup's arrival. Every
    per-block kernel takes its points through here."""
    ids = pd.Series(point_ids).reset_index(drop=True).sort_values(kind="stable")
    xy = np.asarray(pts_xy, dtype=float).reshape(-1, 2)[ids.index.to_numpy()]
    return [str(v) for v in ids], xy


def _cell_frame(block_ring: np.ndarray) -> np.ndarray:
    """The block's bbox expanded by its larger side: the frame every
    Voronoi cell is clipped from."""
    x0, y0, x1, y1 = geom.ring_bounds(block_ring)
    m = max(x1 - x0, y1 - y0, 1e-9)
    return np.array(
        [[x0 - m, y0 - m], [x1 + m, y0 - m], [x1 + m, y1 + m], [x0 - m, y1 + m]]
    )


def block_cells(
    block_ring: np.ndarray, pts_xy
) -> tuple[np.ndarray, list[list[np.ndarray]]]:
    """Each point's Voronoi cell clipped to the block: (perturbed points,
    per point its pieces with >= 3 vertices and positive area, in
    ``polygon_intersection`` order). Cells are exact half-plane clips of
    the bbox frame. The clip to the block is multi-ring: a NON-CONVEX
    block ∩ a convex cell can be disconnected, where Sutherland–Hodgman
    would emit one ring whose bridge edges become phantom mesh edges
    (shapely .intersection semantics, prclz/complexity.py:28)."""
    block_ring = np.asarray(block_ring, dtype=float)
    pts, frame = perturb_duplicates(pts_xy), _cell_frame(block_ring)
    pieces = []
    for i in range(len(pts)):
        cell = halfplane_voronoi_cell(i, pts, frame)
        pieces.append(
            [
                p for p in geom.polygon_intersection(block_ring, cell)
                if len(p) >= 3 and geom.ring_area(p) > 0
            ]
            if len(cell) >= 3 else []
        )
    return pts, pieces


def parcels_from_cells(point_ids: list[str], pts: np.ndarray, pieces: list) -> list[tuple]:
    """Parcels from ``block_cells``: the piece holding the (perturbed)
    generating point keeps the point id — terminals pair with their parcel
    by id in reblock — and detached pieces get a "#k" suffix so their
    edges still enter the parcel mesh."""
    out = []
    for pid, (x, y), ps in zip(point_ids, pts, pieces):
        if len(ps) <= 1:
            out.extend((pid, p) for p in ps)
            continue
        own = [j for j, p in enumerate(ps) if geom.point_in_polygon(x, y, p)]
        main = own[0] if own else int(np.argmax([geom.ring_area(p) for p in ps]))
        out.append((pid, ps[main]))
        out.extend((f"{pid}#{j}", p) for j, p in enumerate(ps) if j != main)
    return out


def block_parcels(
    block_ring: np.ndarray,
    point_ids: list[str],
    pts_xy: np.ndarray,
) -> list[tuple[str, np.ndarray]]:
    """Clipped Voronoi cell per point, in input order; duplicates
    perturbed deterministically."""
    return parcels_from_cells(point_ids, *block_cells(block_ring, pts_xy))


def _parcel_row(block_id: str, pid: str, ring: np.ndarray) -> dict:
    """One parcels-table row."""
    return {
        "block_id": block_id,
        "parcel_point_id": pid,
        "geometry": [[float(x), float(y)] for x, y in ring],
        "area": geom.ring_area(ring),
    }


def parcelize(assigned_points: DataFrame, blocks: DataFrame) -> DataFrame:
    """(block_id, parcel_point_id, geometry, area): one parcel per
    assigned point. ``assigned_points``: (block_id, image_id, lon, lat);
    ``blocks``: (block_id, geometry ring). Points are taken in point-id
    order, so the output does not depend on shuffle arrival order."""

    def kernel(pts_pdf, bid, ring, _types) -> list[dict]:
        ids, xy = _canonical_points(pts_pdf["image_id"], pts_pdf[["lon", "lat"]])
        try:
            cells_out = block_parcels(ring, ids, xy)
        except Exception:
            cells_out = []  # fault isolation, never fail the stage
        return [_parcel_row(bid, pid, cell) for pid, cell in cells_out]

    return _cogroup_by_block(
        assigned_points, ["block_id", "image_id", "lon", "lat"], blocks, kernel,
        PARCELS_SCHEMA,
    )


# ---------------------------------------------------------------------------
# footprint parcelization (A4 dissolve + F12 densification)
# ---------------------------------------------------------------------------

FOOTPRINT_PARCELS_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.StringType()),
        T.StructField("parcel_id", T.StringType()),
        T.StructField("n_cells", T.IntegerType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("ptdist_used", T.DoubleType()),  # -1.0 = boundary fallback
    ]
)

FALLBACK_PARCEL_ID = "__block_boundary__"

MAX_ANCHORS = 6_000  # per-block densification budget (parcelize_footprints)
COARSE_FACTOR = 100.0  # ptdist multiplier of the retry ladder's coarse rung


def block_parcels_footprint(
    block_ring: np.ndarray,
    fp_ids: list[str],
    fp_rings: list[np.ndarray],
    ptdist: float,
) -> list[tuple[str, int, float]]:
    """One block's footprint parcelization (midway_parcelization.R:62-76):
    densify every footprint boundary at ``ptdist`` (st_segmentize), Voronoi-
    tessellate the block on the densified points, dissolve cells by
    footprint id. Returns [(fp_id, n_cells, dissolved_area)].

    Because cells are disjoint and exactly partition the block, the
    dissolved area is the sum of the member cells' areas — no polygon
    union is computed (the union's *boundary*, when needed for a mesh
    sink, is the member cells' non-shared edges). Raises when the anchor
    budget ``MAX_ANCHORS`` is exceeded, which the retry ladder converts
    into a coarser ``ptdist`` attempt."""
    # budget is enforced BEFORE densifying (perimeter/ptdist estimate) and
    # again while accumulating, so a pathological ptdist raises in O(1)
    # instead of materializing millions of anchors first
    est = 0.0
    for ring in fp_rings:
        r = np.asarray(ring, dtype=float)
        if len(r) >= 2:
            closed = np.vstack([r, r[:1]])
            est += float(np.hypot(*(np.diff(closed, axis=0).T)).sum()) / ptdist
    if est > MAX_ANCHORS:
        raise ValueError(
            f"footprint densification would produce ~{int(est)} anchors "
            f"(> {MAX_ANCHORS}) at ptdist={ptdist}"
        )
    anchors: list[tuple[float, float]] = []
    labels: list[int] = []
    for k, ring in enumerate(fp_rings):
        r = np.asarray(ring, dtype=float)
        if len(r) < 2:
            anchors.append((float(r[0, 0]), float(r[0, 1])))
            labels.append(k)
            continue
        closed = np.vstack([r, r[:1]]) if not np.array_equal(r[0], r[-1]) else r
        dens = geom.segmentize(closed, ptdist)[:-1]  # drop repeated first
        for p in dens:
            anchors.append((float(p[0]), float(p[1])))
            labels.append(k)
        if len(anchors) > MAX_ANCHORS:
            raise ValueError(
                f"footprint densification produced {len(anchors)} anchors "
                f"(> {MAX_ANCHORS}) at ptdist={ptdist}"
            )
    # exact duplicates: shared footprint corners / overlapping rings
    pts, frame = perturb_duplicates(anchors), _cell_frame(block_ring)
    agg_area: dict[int, float] = {}
    agg_cells: dict[int, int] = {}
    for i in range(len(pts)):
        cell = halfplane_voronoi_cell(i, pts, frame)
        if len(cell) < 3:
            continue
        # area-only path: SH with a convex clipper is exact for any simple
        # subject — disconnected-overlap bridge edges are traversed once in
        # each direction and cancel in the shoelace sum
        clipped = geom.clip_polygon_convex(block_ring, cell)
        if len(clipped) >= 3:
            a = geom.ring_area(clipped)
            if a > 0:
                k = labels[i]
                agg_area[k] = agg_area.get(k, 0.0) + a
                agg_cells[k] = agg_cells.get(k, 0) + 1
    return [(fp_ids[k], agg_cells[k], agg_area[k]) for k in sorted(agg_area)]


def parcelize_footprints(
    assigned_points: DataFrame,
    blocks: DataFrame,
    footprint_side: float,
    ptdist: float,
) -> DataFrame:
    """Distributed footprint parcelization with the reference's retry
    ladder (midway_parcelization.R:126-135): per block, try the fine
    ``ptdist``; on failure retry at ``ptdist * COARSE_FACTOR``; if both
    fail, inherit the block boundary as a single fallback parcel
    (parcel_id '__block_boundary__', ptdist_used -1).

    ``MAX_ANCHORS`` is the per-block straggler budget: the Voronoi kernel
    is O(n² log n) in anchors, so a hotspot block (30% of points in 1.5%
    of the area in the synthetic skew) must densify coarsely — exceeding
    the budget at the fine rung is precisely what drops it to the coarse
    rung, the reference's own ptdist ladder motivation.

    Footprints are squares of side ``footprint_side`` centered on each
    assigned point (the graft's building-footprint analog — the same
    model the tiling operator uses). Output:
    (block_id, parcel_id, n_cells, area, ptdist_used)."""

    def kernel(pts_pdf, bid, ring, _types) -> list[dict]:
        if len(pts_pdf) == 0:
            return []
        ids, xy = _canonical_points(pts_pdf["image_id"], pts_pdf[["lon", "lat"]])
        h = footprint_side / 2.0
        rings = [
            np.array(
                [[x - h, y - h], [x + h, y - h], [x + h, y + h], [x - h, y + h]]
            )
            for x, y in xy
        ]
        for d in (ptdist, ptdist * COARSE_FACTOR):
            try:
                out = block_parcels_footprint(ring, ids, rings, d)
            except Exception:
                continue
            if out:
                return [
                    {"block_id": bid, "parcel_id": pid, "n_cells": nc,
                     "area": a, "ptdist_used": float(d)}
                    for pid, nc, a in out
                ]
        # inherit-block-boundary fallback: the whole block as one parcel
        return [{"block_id": bid, "parcel_id": FALLBACK_PARCEL_ID, "n_cells": 1,
                 "area": geom.ring_area(geom.snap_ring(ring)),
                 "ptdist_used": -1.0}]

    return _cogroup_by_block(
        assigned_points, ["block_id", "image_id", "lon", "lat"], blocks, kernel,
        FOOTPRINT_PARCELS_SCHEMA,
    )
