"""Spatial-join operators: point-in-polygon assignment, largest-overlap,
with explicit skew handling.

The reference's workhorse is ``gpd.sjoin(points, polygons, op='within')``
(/root/reference/prclz/utils.py:73, reblock/i_topology_utils.py:147) — an
in-memory rtree. The distributed re-expression (SURVEY.md §2.3 J1) is a
**two-stage join**:

1. *cell equi-join prefilter* — every point gets its integer cell id
   (JVM-side arithmetic, ``functions.cells``); every polygon is exploded to
   its covering cell set. The join on ``cell`` is a plain equi-join
   Catalyst can broadcast (small dim) or shuffle (large dim, AQE
   skew-split).
2. *exact refine* — a candidate in an interior cell is assigned by the
   join alone; one in a boundary cell passes a JVM even-odd ray cast
   (``geomcols.ring_contains``) over that cell's own edge list: the ring
   edges a ``+x`` ray from inside the cell can cross, built once on the
   dimension side. One filter, one scan of the points, no Python worker.

Skew: dense urban cells concentrate candidates. Three levers, all explicit:
``res`` (smaller cells spread hot spots), optional *salting* (replicate the
polygon side k ways, point side picks a deterministic salt — the
north_rule's "salted two-stage join"), and AQE skew-join splitting which is
on by default (session.py).

At 10^12 rows the point side is never shuffled for the broadcast variant —
the only wide exchange is the final aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions import cells, geom, geomcols

RING_TYPE = T.ArrayType(T.ArrayType(T.DoubleType()))


# ---------------------------------------------------------------------------
# polygon cover dimension
# ---------------------------------------------------------------------------

def block_cover_pdf(blocks_pdf: pd.DataFrame, res: int) -> pd.DataFrame:
    """Explode (block_id, geometry ring) → (cell, block_id, geometry,
    interior): one row per covering cell. Driver-side for the small
    dimension path.

    ``interior`` is True when the cell rectangle lies entirely inside the
    polygon — points landing there are assigned by the equi-join alone,
    no exact-PIP refine (the standard covering-with-containment-flag
    optimization; the reference's rtree gives only a maybe-set, SURVEY.md
    §2.3 J1). At fine ``res`` the interior share approaches 1 - O(1/√cells)
    so the ray cast touches only a boundary sliver."""
    frames = []
    for r in blocks_pdf.itertuples(index=False):
        ring = geom.ring_to_np(r.geometry)
        if len(geom.ring_edges(ring)) == 0:
            continue  # no area (None, empty, under 3 vertices): covers nothing
        ids, interior = cells.cover_cells_classified(ring, res)
        frames.append(pd.DataFrame({
            "cell": ids,
            "block_id": r.block_id,
            "geometry": [r.geometry] * len(ids),
            "interior": interior,
        }))
    if not frames:
        return pd.DataFrame({"cell": np.zeros(0, np.int64), "block_id": [],
                             "geometry": [], "interior": np.zeros(0, bool)})
    return pd.concat(frames, ignore_index=True)


# ---------------------------------------------------------------------------
# cell-local edge lists (the boundary refine's dimension side)
# ---------------------------------------------------------------------------

# band padding, as a fraction of a cell: far above float rounding, so a
# point whose cell id rounds across a cell edge still finds every edge
EDGE_PAD = 1.0 / 16


def _cell_edges(cover_pdf: pd.DataFrame) -> list:
    """Per cover row, the ``[x0, y0, x1, y1]`` ring edges a ``+x`` ray from
    a point in that cell can cross; ``None`` on interior rows, which need
    no refine. An edge is kept when its y-range meets the cell's y-band and
    its east end is at or east of the cell's west edge, each bound padded
    by EDGE_PAD of a cell, so rounding can only add edges, never drop one.
    The ray cast's parity over any superset of the crossable edges equals
    the one over the whole ring. Vectorized per block with numpy; reads
    ``interior`` as final, so it runs on the cover actually broadcast
    (compacted or not)."""
    out = [None] * len(cover_pdf)
    pos = np.nonzero(~cover_pdf["interior"].to_numpy(dtype=bool))[0]
    cell_ids = cover_pdf["cell"].to_numpy()
    geoms = cover_pdf["geometry"]
    for ii in cover_pdf.iloc[pos].groupby("block_id", sort=False).indices.values():
        rows = pos[ii]
        e = geom.ring_edges(geom.ring_to_np(geoms.iloc[rows[0]]))
        lo, hi = np.minimum(e[:, 1], e[:, 3]), np.maximum(e[:, 1], e[:, 3])
        east = np.maximum(e[:, 0], e[:, 2])
        x0, y0, x1, y1 = cells.cell_bounds_np(cell_ids[rows])
        padx, pady = (x1 - x0) * EDGE_PAD, (y1 - y0) * EDGE_PAD
        step = max(1, 4_000_000 // max(1, len(e)))  # bounds the mask's memory
        for c in range(0, len(rows), step):
            sl = slice(c, c + step)
            m = (
                (lo[None, :] <= (y1[sl] + pady[sl])[:, None])
                & (hi[None, :] >= (y0[sl] - pady[sl])[:, None])
                & (east[None, :] >= (x0[sl] - padx[sl])[:, None])
            )
            for k, r in enumerate(rows[sl]):
                out[r] = e[m[k]].tolist()
    return out


def _cover_frame(spark, cover_pdf: pd.DataFrame) -> DataFrame:
    """The broadcast dimension (cell, block_id, interior, edges), built
    through Arrow with an explicit edge type (no inference, same frame
    under a vanilla session)."""
    if "interior" not in cover_pdf.columns:
        # unclassified cover: every cell is a boundary cell
        cover_pdf = cover_pdf.assign(interior=False)
    tbl = pa.Table.from_pandas(
        cover_pdf[["cell", "block_id", "interior"]], preserve_index=False
    ).append_column(
        "edges",
        pa.array(_cell_edges(cover_pdf), type=pa.list_(pa.list_(pa.float64()))),
    )
    return F.broadcast(spark.createDataFrame(tbl))


def _refine(cand: DataFrame) -> DataFrame:
    """The single exact filter over (point, cover row) candidates: an
    interior cell assigns outright, a boundary cell by the ray cast over
    its edge list."""
    inside = geomcols.ring_contains(F.col("edges"), F.col("lon"), F.col("lat"))
    return cand.filter(F.col("interior") | inside).drop("cell", "interior", "edges")


# ---------------------------------------------------------------------------
# the operator
# ---------------------------------------------------------------------------

def assign_points_to_blocks(
    points: DataFrame,
    cover,
    res: int,
    salt: int = 0,
) -> DataFrame:
    """Assign each point row its containing block_id: the points inside
    some block, each with its block_id (sjoin op='within').

    ``points``: any DataFrame with ``lon``/``lat`` columns. ``cover``: the
    exploded (cell, block_id, geometry[, interior]) dimension — a *pandas* DataFrame
    (block_cover_pdf) takes the small-dimension fast path (the broadcast
    carries per-cell edge lists, never whole rings), a Spark DataFrame
    takes the distributed path (no broadcast hint: a shuffle join, unless
    Spark's own size rules broadcast a small frame).

    salt > 0 (distributed path) replicates each cover row ``salt`` ways and
    routes each point deterministically to one replica — spreads a hot cell
    across `salt` tasks in the shuffle-join path.
    """
    if isinstance(cover, pd.DataFrame):
        return _assign_small_cover(points, cover, res)
    return _assign_dist_cover(points, cover, res, salt)


def _assign_small_cover(
    points: DataFrame, cover_pdf: pd.DataFrame, res: int
) -> DataFrame:
    """Small-dimension path: one broadcast equi-join on the point's cell,
    then one filter (_refine). Interior-cell candidates pass on the flag
    alone; boundary-cell ones by the JVM ray cast over the cell's edge
    list. The points are scanned once and no Python worker starts."""
    pt = points.withColumn("cell", cells.cell_id(F.col("lon"), F.col("lat"), res))
    cand = pt.join(_cover_frame(points.sparkSession, cover_pdf), on="cell", how="inner")
    return _refine(cand)


def compact_cover_pdf(
    cover_pdf: pd.DataFrame, res: int, res_min: int
) -> pd.DataFrame:
    """Compact a classified cover's INTERIOR cells per block through the
    quadtree (cells.compact_cells_np) — boundary cells stay at ``res``
    (they gate the exact-PIP refine and must not merge across the flag).
    Interior flags are area properties, so promoting a complete 4-sibling
    interior group preserves the assignment semantics cell-for-cell."""
    if "interior" not in cover_pdf.columns:
        # unclassified covers are legal for the classic path; here every
        # cell is boundary, so there is nothing to compact
        cover_pdf = cover_pdf.assign(interior=False)
    inner = cover_pdf[cover_pdf["interior"]]
    frames = [cover_pdf[~cover_pdf["interior"]]]
    for bid, g in inner.groupby("block_id", sort=False):
        ids = cells.compact_cells_np(g["cell"].to_numpy(), res, res_min)
        frames.append(
            pd.DataFrame(
                {
                    "cell": ids,
                    "block_id": bid,
                    "geometry": [g["geometry"].iloc[0]] * len(ids),
                    "interior": True,
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def assign_points_to_blocks_compact(
    points: DataFrame,
    cover_pdf: pd.DataFrame,
    res: int,
    res_min: int,
) -> DataFrame:
    """The H3 production shape of the two-stage PIP join: polyfill →
    compact → join the point's ANCESTOR-CELL ARRAY against the compacted
    cover. Row-identical to assign_points_to_blocks on the same cover
    (pinned in tests/test_cells_compact.py): compacted interior cells are
    pairwise disjoint and ⊆ their block, so a point still matches at most
    one interior row — just possibly at a coarser level — and boundary
    cells stay at ``res`` feeding the same exact ray-cast.

    Cost model: the fact side explodes K+1 = res - res_min + 1 ancestor
    ids per point (closed-form Column arithmetic — floor(u·2^r)//2 ==
    floor(u·2^(r-1)), so each level is an independent cell_id call that
    stays in codegen); the dimension side shrinks up to 4^K on large
    aligned interiors. Worth it only when the flat cover would blow the
    broadcast budget (continent-scale AOIs at fine res). Below that the
    flat single-cell join wins up to at least 30k cover rows: 600k
    points, warm local[4] on a 4-vCPU VM, median of 6 alternated runs,
    flat 0.84 s vs compacted 1.11 s on a 29,760-row cover (9,885 rows
    compacted to res_min 13) and 0.54 s vs 0.81 s on a 27,965-row one
    (3,110 rows)."""
    assert 0 <= res_min <= res, (res, res_min)
    comp = compact_cover_pdf(cover_pdf, res, res_min)
    ancestors = F.array(
        *[
            cells.cell_id(F.col("lon"), F.col("lat"), r)
            for r in range(res, res_min - 1, -1)
        ]
    )
    pt = points.withColumn("cell", F.explode(ancestors))
    cand = pt.join(_cover_frame(points.sparkSession, comp), on="cell", how="inner")
    return _refine(cand)


def _cover_edges(cover: DataFrame) -> DataFrame:
    """Spark-cover twin of _cell_edges, on the dimension side: ``geometry``
    becomes the row's cell-local ``edges`` (ring edges from
    geomcols.with_ring_edges, kept by the same padded band tests against
    the cell's bounds decoded from its id; null on interior rows). An
    unclassified cover gets ``interior`` = False."""
    if "interior" not in cover.columns:
        cover = cover.withColumn("interior", F.lit(False))
    cell = F.col("cell")  # res * 2^52 + cx * 2^26 + cy (cells.cell_id)
    r = F.shiftright(cell, 52)
    cx = F.shiftright(cell, 26).bitwiseAND(cells.XY_SHIFT - 1)
    cy = cell.bitwiseAND(cells.XY_SHIFT - 1)
    nx = F.pow(F.lit(2.0), r)
    w, h = F.lit(360.0) / nx, F.lit(180.0) / nx
    cov = (
        geomcols.with_ring_edges(cover, "geometry", "__ring_edges")
        .withColumn("__x0", F.lit(-180.0) + cx * w - w * EDGE_PAD)
        .withColumn("__y0", F.lit(-90.0) + cy * h - h * EDGE_PAD)
        .withColumn("__y1", F.lit(-90.0) + (cy + 1) * h + h * EDGE_PAD)
    )
    local = F.filter(
        F.col("__ring_edges"),
        lambda e: (F.least(e[1], e[3]) <= F.col("__y1"))
        & (F.greatest(e[1], e[3]) >= F.col("__y0"))
        & (F.greatest(e[0], e[2]) >= F.col("__x0")),
    )
    return cov.withColumn("edges", F.when(~F.col("interior"), local)).drop(
        "geometry", "__ring_edges", "__x0", "__y0", "__y1"
    )


def _assign_dist_cover(
    points: DataFrame,
    cover: DataFrame,
    res: int,
    salt: int,
) -> DataFrame:
    """Distributed-cover path (large polygon dimension): each cover row
    carries its cell-local edge list (_cover_edges) across the join in
    place of the geometry; optional salting spreads hot cells."""
    pt = points.withColumn("cell", cells.cell_id(F.col("lon"), F.col("lat"), res))
    cov = _cover_edges(cover)
    if salt > 0:
        cov = cov.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        pt = pt.withColumn("__salt", F.pmod(F.xxhash64(F.col("lon")), F.lit(salt)))
        join_keys = ["cell", "__salt"]
    else:
        join_keys = ["cell"]
    cand = pt.join(cov, on=join_keys, how="inner")
    return _refine(cand).drop("__salt")


def largest_overlap_assign(
    features: DataFrame,
    cover: DataFrame,
    res: int,
    feature_id: str = "osm_id",
    block_geoms: DataFrame | None = None,
) -> DataFrame:
    """J5 (midway_parcelization.R:116 `st_join(..., largest=TRUE)`): assign
    each polygonal feature to the block with which it overlaps most.
    Candidates by cell join on the feature centroid's kRing-1 cells, exact
    intersection-area kernel, argmax via window row_number — the Spark
    shape prescribed in SURVEY.md §2.3 J5.

    Pass ``block_geoms`` (block_id, geometry — one row per block) to keep
    the ``cover`` frame narrow (cell, block_id): replicating the ring
    geometry onto every covering cell row makes the dimension frame
    orders of magnitude heavier to ship/broadcast for zero information."""
    from pyspark.sql import Window

    # centroid is pure Column arithmetic (geomcols) — the former
    # mapInPandas stage paid ~9 s / 20k rows in nested-array Arrow
    # round-trips before any work happened
    feats = geomcols.with_ring_centroid(features.select(feature_id, "geometry"))
    # bound form: the centroid columns are big HOF trees the optimizer
    # inlines into every kring site — the plain form re-evaluates them
    # ~2*(2k+1)^2 times per row (measured 10 s/20k rows at sf0.1)
    feats_cells = feats.withColumn(
        "cell",
        F.explode(cells.kring_cells_bound(F.col("lon"), F.col("lat"), res, 1)),
    )
    # candidate (feature, block) pairs: dedupe on NARROW id columns only —
    # deduping rows that carry nested-array geometries forces a slow
    # object-based aggregate — then re-attach both geometries.
    cov_ids = F.broadcast(cover.select("cell", "block_id"))
    if block_geoms is not None:
        blocks_geo = block_geoms.select(
            "block_id", F.col("geometry").alias("block_geometry")
        )
    else:
        blocks_geo = cover.select(
            "block_id", F.col("geometry").alias("block_geometry")
        ).dropDuplicates(["block_id"])
    # explicit-count exchange on the dedupe keys: the pair frame is
    # byte-tiny (two ids), so AQE would coalesce its shuffle to a handful
    # of tasks. Fine for the rect fast path, but the non-convex fallback
    # downstream is a CPU-heavy Arrow kernel that inherits THIS
    # partitioning (the geometry joins are broadcasts) and must run wide —
    # the CLAUDE.md cogroup invariant. Same keys as the dedupe, so the
    # aggregate reuses the exchange: one shuffle total.
    n_part = features.sparkSession.sparkContext.defaultParallelism * 2
    pair_ids = (
        feats_cells.select(feature_id, "cell")
        .join(cov_ids, on="cell", how="inner")
        .select(feature_id, "block_id")
        .repartition(n_part, feature_id, "block_id")
        .dropDuplicates([feature_id, "block_id"])
    )
    # bbox + axis-rect flags, all Column arithmetic: rect×rect pairs (the
    # dominant case for footprint squares over grid blocks) score as a
    # clamped product in codegen. The nested ring columns still ride the
    # (JVM) joins, but are NULLED before the Arrow boundary for rect
    # pairs — nested-array Arrow serialization is ~350µs/row and must
    # never touch the bulk path, while a null ships for free. One linear
    # plan: branching into a rect/non-rect union would re-execute the
    # whole candidate subtree (scan→explode→join→dedupe) once per branch.
    feats_all = geomcols.with_ring_bounds_rect(feats, "geometry", "f_").select(
        feature_id, "geometry", "f_x0", "f_y0", "f_x1", "f_y1", "f_rect"
    )
    blocks_all = F.broadcast(
        geomcols.with_ring_bounds_rect(blocks_geo, "block_geometry", "b_")
    )
    cand = pair_ids.join(feats_all, on=feature_id).join(blocks_all, on="block_id")
    ow = F.least("f_x1", "b_x1") - F.greatest("f_x0", "b_x0")
    oh = F.least("f_y1", "b_y1") - F.greatest("f_y0", "b_y0")
    is_rect = F.col("f_rect") & F.col("b_rect")
    g_in = F.when(is_rect, F.lit(None).cast(RING_TYPE)).otherwise(F.col("geometry"))
    bg_in = F.when(is_rect, F.lit(None).cast(RING_TYPE)).otherwise(
        F.col("block_geometry")
    )

    @pandas_udf(T.DoubleType())
    def overlap_area(feat_geom: pd.Series, block_id: pd.Series, block_geom: pd.Series) -> pd.Series:
        """|feature ∩ block| per candidate pair, three tiers:

        1. axis-rect × axis-rect → closed-form clamped product, numpy-
           vectorized over the whole block group (the dominant case for
           footprint-style squares — no per-pair Python at all);
        2. convex block → one Sutherland–Hodgman clip per pair (area is
           exact for ANY simple feature when the CLIPPER is convex);
        3. non-convex block → signed-triangle-fan ``intersection_area``
           (exact for arbitrary simple polygons, disconnected overlaps
           included — shapely .intersection semantics,
           midway_parcelization.R:116)."""
        n = len(feat_geom)
        out = np.zeros(n)
        # rect×rect rows arrive with geometry nulled (scored JVM-side)
        valid = feat_geom.notna() & block_geom.notna()
        frings = {i: geom.ring_to_np(feat_geom.iloc[i]) for i in np.nonzero(valid.to_numpy())[0]}
        if not frings:
            return pd.Series(out)
        fb = np.zeros((n, 4))
        frect = np.zeros(n, bool)
        for i, r in frings.items():
            fb[i] = geom.ring_bounds(r)
            frect[i] = geom.is_axis_rect(r)
        codes, uniques = pd.factorize(block_id.where(valid))
        for k in range(len(uniques)):
            ii = np.nonzero(codes == k)[0]
            bring = geom.ring_to_np(block_geom.iloc[ii[0]])  # parse once/block
            bx0, by0, bx1, by1 = geom.ring_bounds(bring)
            # bbox reject for the whole group (overlap provably 0)
            w = np.minimum(fb[ii, 2], bx1) - np.maximum(fb[ii, 0], bx0)
            h = np.minimum(fb[ii, 3], by1) - np.maximum(fb[ii, 1], by0)
            live = ii[(w > 0) & (h > 0)]
            if geom.is_axis_rect(bring):
                rr = live[frect[live]]
                if len(rr):
                    out[rr] = (
                        np.minimum(fb[rr, 2], bx1) - np.maximum(fb[rr, 0], bx0)
                    ) * (np.minimum(fb[rr, 3], by1) - np.maximum(fb[rr, 1], by0))
                rest = live[~frect[live]]
            else:
                rest = live
            if len(rest) == 0:
                continue
            if geom.is_convex_ring(bring):
                for i in rest:
                    clipped = geom.clip_polygon_convex(frings[i], bring)
                    out[i] = geom.ring_area(clipped) if len(clipped) >= 3 else 0.0
            else:
                for i in rest:
                    out[i] = geom.intersection_area(frings[i], bring)
        return pd.Series(out)

    scored = cand.withColumn(
        "overlap",
        F.when(is_rect, F.greatest(ow, F.lit(0.0)) * F.greatest(oh, F.lit(0.0)))
        .otherwise(overlap_area(g_in, F.col("block_id"), bg_in)),
    ).select(feature_id, "block_id", "overlap")
    w = Window.partitionBy(feature_id).orderBy(F.desc("overlap"), F.asc("block_id"))
    # the >0 filter runs AFTER the argmax: filtering first would force the
    # UDF to evaluate twice (once in the Filter, once in the Project); a
    # zero-overlap winner means every candidate was zero — same rows out
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("overlap") > 0))
        .select(feature_id, "block_id", "overlap")
    )
