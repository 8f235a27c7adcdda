"""Distance joins point→segment: nearest-road distance and ε-threshold
classification.

Reference semantics: the dilated-line spatial join (buffer by ε then
intersects, /root/reference/data_processing/split_lines.py:23-38 — J4) and
the distance-threshold classify (nearest line-feature type with
``dist > THRESHOLD_METERS → 'gadm_boundary'``,
reblock/i_topology_utils.py:33, 309-329 — J13). Both reduce to "distance
from point to nearest segment" with a predicate on top; buffering is
replaced by the exact distance test (buffer(ε).intersects(x) ≡
dist(x) ≤ ε — SURVEY.md §2.7 F6).

Distributed shape: segments explode to covering cells (supercover
sampling, driver-side for dimension-sized road tables); points kRing-join
the cell index; the point-segment distance is *pure Column arithmetic*
(dot-product clamp — no Python anywhere). Every nearest-segment path runs
on :func:`knn.cascade`, the engine's one exact NN level loop; each path
supplies only its candidate join, its argmin (which drops candidates
beyond the residue's bound, :func:`knn.within_bound`) and its brute-force
pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells
from . import knn

__all__ = [
    "segments_from_lines", "segment_cover_pdf", "nearest_segment_join",
    "segments_from_lines_df", "segment_cover_df",
    "nearest_segment_join_distributed",
    "classify_by_distance", "boundary_types_for_blocks",
]


def segments_from_lines(lines_pdf: pd.DataFrame) -> pd.DataFrame:
    """OSM-style polylines (osm_id, highway, waterway, natural, geometry)
    → the flat segment dimension (seg_id, ax, ay, bx, by, feature_type)
    that ``segment_cover_pdf`` / ``boundary_types_for_blocks`` consume.

    feature_type replicates the reference's tag→type assignment order —
    waterway, then highway, then natural, each overriding the last
    (i_topology_utils.py:287-293) — so multi-tagged lines resolve
    identically; untagged lines default to 'highway' (weight 0)."""
    def present(v) -> bool:  # pandas IO turns missing cells into NaN
        return v is not None and not (isinstance(v, float) and np.isnan(v))

    rows = []
    for r in lines_pdf.itertuples(index=False):
        ft = "highway"
        for tag in ("waterway", "highway", "natural"):
            if present(getattr(r, tag, None)):
                ft = tag
        g = r.geometry
        if not present(g):  # same zero-segment skip as the distributed builder
            continue
        for i in range(len(g) - 1):
            rows.append(
                {"seg_id": f"{r.osm_id}_{i}",
                 "ax": float(g[i][0]), "ay": float(g[i][1]),
                 "bx": float(g[i + 1][0]), "by": float(g[i + 1][1]),
                 "feature_type": ft}
            )
    return pd.DataFrame(
        rows, columns=["seg_id", "ax", "ay", "bx", "by", "feature_type"]
    )


def segment_cover_pdf(segments_pdf: pd.DataFrame, res: int) -> pd.DataFrame:
    """(seg_id, ax, ay, bx, by) → one row per (cell, segment): supercover
    sampling at 1/4-cell steps with 1-cell dilation so every cell within
    one cell of the segment is present (the kRing(1) join then guarantees
    candidate completeness for any point within ~1 cell of a road)."""
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


def segments_from_lines_df(lines: DataFrame) -> DataFrame:
    """Distributed :func:`segments_from_lines`: same ids, schema, and
    tag→type resolution, built with one Generate over the vertex array —
    the fact-sized-roads path (a planetary ~10⁸-segment table neither
    fits in driver memory nor should round-trip through pandas; reference
    split_lines.py:23-38 operates per-GADM-file on the driver).

    ``lines``: (osm_id, highway, waterway, natural,
    geometry array<array<double>>). Untagged lines default to 'highway';
    the last non-null of (waterway, highway, natural) wins, replicating
    the reference's override order (i_topology_utils.py:287-293)."""
    ft = (
        F.when(F.col("natural").isNotNull(), F.lit("natural"))
        .when(F.col("highway").isNotNull(), F.lit("highway"))
        .when(F.col("waterway").isNotNull(), F.lit("waterway"))
        .otherwise(F.lit("highway"))
    )
    g = F.col("geometry")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(g) - 2),
        lambda i: F.struct(
            i.alias("i"),
            F.element_at(g, i + 1).alias("a"),
            F.element_at(g, i + 2).alias("b"),
        ),
    )
    # degenerate (<2-vertex) polylines: F.sequence(0, size-2) would emit a
    # DESCENDING [0, -1] and element_at(g, i+2) would index past the array
    # and kill the job — filter them out, matching the pandas twin's
    # silent zero-segment behavior for the same input
    return (
        lines.filter(F.col("geometry").isNotNull() & (F.size(g) >= 2))
        .select(
            "osm_id", ft.alias("feature_type"), F.explode(pairs).alias("p")
        )
        .select(
            F.concat_ws("_", F.col("osm_id"), F.col("p.i")).alias("seg_id"),
            F.col("p.a")[0].alias("ax"),
            F.col("p.a")[1].alias("ay"),
            F.col("p.b")[0].alias("bx"),
            F.col("p.b")[1].alias("by"),
            "feature_type",
        )
    )


def segment_cover_df(segments: DataFrame, res: int) -> DataFrame:
    """Distributed :func:`segment_cover_pdf`: the same supercover —
    samples every ≤1/4 cell along the segment, 3×3 dilation, distinct per
    (cell, segment) — as pure Column arithmetic (whole-stage codegen, one
    Generate for samples, one for the dilated cells, one Exchange for the
    distinct). The sample positions reproduce np.linspace bit-for-bit
    (t_i = i·(1/n), t_n = 1.0), so the emitted cell set is identical to
    the driver builder's and the two paths are interchangeable.

    Scale shape: per-row fan-out is 9·(len/0.25cell + 1) before the
    array_distinct — output-proportional, no driver collect, and the
    resulting cover is a first-class DataFrame that joins by cell key
    instead of broadcasting."""
    nx = 1 << res
    fx = F.lit(float(nx))
    seg = segments.select(
        "seg_id", "ax", "ay", "bx", "by",
        ((F.col("ax") + F.lit(180.0)) / F.lit(360.0) * fx).alias("__u0"),
        ((F.col("ay") + F.lit(90.0)) / F.lit(180.0) * fx).alias("__v0"),
        ((F.col("bx") + F.lit(180.0)) / F.lit(360.0) * fx).alias("__u1"),
        ((F.col("by") + F.lit(90.0)) / F.lit(180.0) * fx).alias("__v1"),
    ).withColumn(
        "__n",
        F.greatest(
            F.lit(1),
            F.ceil(
                F.greatest(
                    F.abs(F.col("__u1") - F.col("__u0")),
                    F.abs(F.col("__v1") - F.col("__v0")),
                )
                / F.lit(0.25)
            ),
        ).cast("int"),
    )
    samp = seg.select(
        "seg_id", "ax", "ay", "bx", "by",
        "__u0", "__v0", "__u1", "__v1", "__n",
        F.explode(F.sequence(F.lit(0), F.col("__n"))).alias("__i"),
    )
    # np.linspace(0, 1, n+1): t_i = i * (1/n) with the endpoint pinned
    t = F.when(F.col("__i") == F.col("__n"), F.lit(1.0)).otherwise(
        F.col("__i").cast("double") * (F.lit(1.0) / F.col("__n").cast("double"))
    )
    iu = F.floor(F.col("__u0") + t * (F.col("__u1") - F.col("__u0")))
    iv = F.floor(F.col("__v0") + t * (F.col("__v1") - F.col("__v0")))
    samp = samp.select(
        "seg_id", "ax", "ay", "bx", "by", iu.alias("__iu"), iv.alias("__iv")
    )
    dil = []
    for du in (-1, 0, 1):
        for dv in (-1, 0, 1):
            uu = F.greatest(
                F.lit(0), F.least(F.lit(nx - 1), F.col("__iu") + F.lit(du))
            )
            vv = F.greatest(
                F.lit(0), F.least(F.lit(nx - 1), F.col("__iv") + F.lit(dv))
            )
            dil.append(
                F.lit(res * cells.RES_BITS_SHIFT) + uu * F.lit(cells.XY_SHIFT) + vv
            )
    return (
        samp.select(
            "seg_id", "ax", "ay", "bx", "by",
            F.explode(F.array_distinct(F.array(*dil))).alias("cell"),
        )
        .select(F.col("cell").cast("long").alias("cell"),
                "seg_id", "ax", "ay", "bx", "by")
        .distinct()
    )


def nearest_segment_join_distributed(
    points: DataFrame,
    segments: DataFrame,
    res: int | list[int],
    point_id: str | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_segs_per_cell: int = 4096,
) -> DataFrame:
    """Exact nearest segment for FACT-SIZED road tables, run as an
    exhaustive :func:`knn.cascade` with ring 1. Each level's candidates
    come from the distributed cover (:func:`segment_cover_df`, joined by
    cell key, no broadcast requested): its 3×3 dilation puts every
    segment within one cell of the point's cell among the candidates.
    The terminal level is res 1, where any segment's dilated cover is the
    whole grid, so no cartesian is ever planned.

    ``max_segs_per_cell``: hot-cell guard (a star junction puts every
    road through one cell and its 8 neighbors — the per-cell join key
    goes quadratic exactly like the kNN hotspot). Each cell's segment
    rows split into ``nb = ceil(count/cap)`` hash chunks; points
    replicate to their cell's nb chunk keys; per-(cell, chunk) rows are
    ~cap (hash-balanced) so no straggler task, and the min-reduction
    over all chunks is the min over the cell — EXACT, a plan change only
    (the same decomposition as dedup's chunk-pair guard, one-sided
    because NN is a reduction, not a pair enumeration).

    Output: (point columns..., seg_id, road_dist) — identical rows to
    :func:`nearest_segment_join`."""
    pid = point_id or points.columns[0]
    levels = list(res) if isinstance(res, (list, tuple)) else [res]
    points = points.localCheckpoint(eager=False)
    segments = segments.localCheckpoint(eager=False)  # one consumer per level
    pts = points.select(
        pid, F.col(lon_col).alias("lon"), F.col(lat_col).alias("lat")
    )

    def make_candidates(remaining: DataFrame, r: int) -> DataFrame:
        # cov feeds the count agg AND the chunk join — truncate once
        cov = segment_cover_df(segments, r).localCheckpoint(eager=False)
        # pay-per-skew guard: only cells ABOVE the cap get chunked;
        # everything else passes through with nb=1 via a left join
        # against the hot-cell table — usually tiny or empty at a
        # density-matched working res, so the guard costs ~nothing
        # when there is no skew. The hot table is checkpointed: it
        # feeds BOTH join sides, and recomputing its full-cover agg
        # per consumer measured ~2x on the whole level (BENCH note).
        hot = (
            cov.groupBy("cell")
            .agg(F.count("*").alias("cn"))
            .filter(F.col("cn") > F.lit(max_segs_per_cell))
            .select(
                "cell",
                F.ceil(F.col("cn") / F.lit(max_segs_per_cell))
                .cast("int")
                .alias("nb"),
            )
            .localCheckpoint(eager=False)
        )
        nb1 = F.coalesce(F.col("nb"), F.lit(1))
        cov = (
            cov.join(hot, "cell", "left")
            .withColumn("chunk", F.pmod(F.xxhash64("seg_id"), nb1).cast("int"))
            .drop("nb")
        )
        pcell = (
            remaining.withColumn(
                "cell", cells.cell_id(F.col("lon"), F.col("lat"), r)
            )
            .join(hot, "cell", "left")
            .select(
                pid, "lon", "lat", "__ub", "cell",
                F.explode(F.sequence(F.lit(0), nb1 - 1)).alias("chunk"),
            )
        )
        return pcell.join(cov, ["cell", "chunk"])

    out = knn.cascade(
        pts, pid, levels, 1, make_candidates, _seg_argmin(pid), exhaustive=True
    )
    return points.join(out, on=pid).withColumnRenamed("nn_dist", "road_dist")


def _seg_argmin(pid: str):
    """Per-point nearest segment: (pid, seg_id, nn_dist), distance ties
    broken to the lowest seg_id so every plan variant agrees."""
    dist = _seg_dist_cols()

    def argmin(cand: DataFrame) -> DataFrame:
        # project the distance ONCE, then drop candidates beyond the
        # point's bound, then aggregate: inlined in both agg expressions
        # the distance is evaluated twice per candidate row (no CSE
        # across aggregates; ~20% on the level's agg at 194M rows). The
        # projection is a one-element explode because Catalyst pushes a
        # filter through a plain projection into the candidate join's
        # condition, inlining the distance there a second time
        d = cand.select(
            pid, "seg_id", "__ub", F.explode(F.array(dist)).alias("__d")
        )
        return d.filter(knn.within_bound(F.col("__d"))).groupBy(pid).agg(
            F.min_by(
                F.col("seg_id"),
                F.struct(F.col("__d").alias("d"), F.col("seg_id").alias("s")),
            ).alias("seg_id"),
            F.min("__d").alias("nn_dist"),
        )

    return argmin


def _seg_dist_cols():
    """Point-segment distance as Column arithmetic (F14 dot-product clamp,
    whole-stage codegen)."""
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    len2 = dx * dx + dy * dy
    t_raw = ((F.col("lon") - F.col("ax")) * dx + (F.col("lat") - F.col("ay")) * dy) / len2
    t = F.when(len2 > 0, F.greatest(F.lit(0.0), F.least(F.lit(1.0), t_raw))).otherwise(F.lit(0.0))
    cx = F.col("ax") + t * dx
    cy = F.col("ay") + t * dy
    return F.sqrt(
        (F.col("lon") - cx) * (F.col("lon") - cx)
        + (F.col("lat") - cy) * (F.col("lat") - cy)
    )


def nearest_segment_join(
    points: DataFrame,
    segment_cover: pd.DataFrame,
    res: int,
    point_id: str | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """(point columns..., seg_id, road_dist): exact nearest segment, as a
    one-level :func:`knn.cascade` at ``res`` with ring 1. Candidates come
    from the cell × dilated-cover equi-join; winners farther than the
    ring guarantee fall through to a brute-force pass against the
    broadcast segment table (few, by cover construction)."""
    spark = points.sparkSession
    pid = point_id or points.columns[0]
    cov = F.broadcast(spark.createDataFrame(segment_cover))
    segs = F.broadcast(
        spark.createDataFrame(
            segment_cover.drop_duplicates("seg_id")[["seg_id", "ax", "ay", "bx", "by"]]
        )
    )
    pts = points.select(
        pid, F.col(lon_col).alias("lon"), F.col(lat_col).alias("lat")
    )

    def make_candidates(remaining: DataFrame, r: int) -> DataFrame:
        return remaining.withColumn(
            "cell", cells.cell_id(F.col("lon"), F.col("lat"), r)
        ).join(cov, on="cell", how="inner")

    out = knn.cascade(
        pts, pid, [res], 1, make_candidates, _seg_argmin(pid),
        lambda remaining: remaining.crossJoin(segs),
    )
    return points.join(out, on=pid).withColumnRenamed("nn_dist", "road_dist")


def classify_by_distance(
    joined: DataFrame, threshold: float,
    near_label: str = "near_road", far_label: str = "off_road",
) -> DataFrame:
    """J13: label by the ε-threshold on the nearest distance (the exact
    form of the reference's buffered-intersects)."""
    return joined.withColumn(
        "road_class",
        F.when(F.col("road_dist") <= F.lit(threshold), F.lit(near_label)).otherwise(
            F.lit(far_label)
        ),
    )


def boundary_types_for_blocks(
    blocks: DataFrame,
    lines_pdf: pd.DataFrame,
    res: int,
    threshold: float = 1.0,
    geometry_col: str = "geometry",
) -> DataFrame:
    """Derive the per-boundary-segment feature types that
    ``operators.reblock`` consumes — the producer the reference builds
    from OSM lines (/root/reference/reblock/i_topology_utils.py:281-329):

    per block-boundary VERTEX, the feature type of the nearest line
    segment, falling back to ``'gadm_boundary'`` when that distance
    exceeds ``threshold`` (reference THRESHOLD_METERS=1 compared against
    a coordinate-space distance — replicated literally, the threshold is
    in the table's coordinate units); per boundary SEGMENT (vertex i →
    i+1), the endpoint types combine as: equal → that type; different →
    'highway' if either endpoint is highway else 'natural'
    (get_feature_type_from_lines, :310-329).

    ``lines_pdf``: dimension-sized pandas (seg_id, ax, ay, bx, by,
    feature_type). Returns ``blocks`` with a ``boundary_types``
    array<string> column, one entry per boundary segment of the OPEN
    ring, aligned with the ring's vertex order (what
    reblock._relabel_boundary_edges expects).

    Distributed shape: ring vertices explode JVM-side and run a one-level
    :func:`knn.cascade` keyed on (block_id, vi): candidates come from the
    dilated segment cover equi-join (broadcast dim), the residue from a
    broadcast cross-join; the nearest pick is ``min(struct(round(dist, 9), seg_id))`` so
    distance ties — every shared corner vertex lies ON two grid lines —
    break deterministically toward the lowest seg_id on both the engine
    and any SQL oracle. The distance is rounded to the geometry snap
    grid (geom.SNAP = 1e-9) first: a vertex coordinate reached through a
    different float path (y0 + step vs LAT0 + 2*step) sits ~1 ulp off
    the line and would otherwise lose a d=0 tie it geometrically owns."""
    spark = blocks.sparkSession
    g0 = F.col(geometry_col)
    if len(lines_pdf) == 0:
        # no line features at all: every vertex distance exceeds the
        # threshold, so every boundary segment types as 'gadm_boundary'
        # (the reference's fallback) — one per open-ring segment.
        first0, last0 = F.element_at(g0, 1), F.element_at(g0, -1)
        closed0 = (
            (F.size(g0) > 1)
            & (first0[0] == last0[0])
            & (first0[1] == last0[1])
        )
        n_seg = F.when(closed0, F.size(g0) - 1).otherwise(F.size(g0))
        return blocks.withColumn(
            "boundary_types",
            F.transform(
                F.sequence(F.lit(1), n_seg), lambda _: F.lit("gadm_boundary")
            ),
        )
    cover = segment_cover_pdf(lines_pdf, res)
    cov = F.broadcast(spark.createDataFrame(cover))
    segs = F.broadcast(
        spark.createDataFrame(
            cover.drop_duplicates("seg_id")[["seg_id", "ax", "ay", "bx", "by"]]
        )
    )
    types = F.broadcast(
        spark.createDataFrame(lines_pdf[["seg_id", "feature_type"]])
    )
    g = F.col(geometry_col)
    first, last = F.element_at(g, 1), F.element_at(g, -1)
    closed = (F.size(g) > 1) & (first[0] == last[0]) & (first[1] == last[1])
    ring = F.when(closed, F.slice(g, 1, F.size(g) - 1)).otherwise(g)
    verts = (
        blocks.select("block_id", ring.alias("__ring"))
        .select(
            "block_id",
            F.size("__ring").alias("n"),
            F.posexplode("__ring").alias("vi", "xy"),
        )
        .select(
            "block_id", "n", "vi",
            F.col("xy")[0].alias("lon"), F.col("xy")[1].alias("lat"),
        )
    )
    keys = ["block_id", "vi"]
    dist = F.round(_seg_dist_cols(), 9)

    def argmin(cand: DataFrame) -> DataFrame:
        return cand.filter(knn.within_bound(dist)).groupBy(*keys).agg(
            F.min(F.struct(dist.alias("d"), F.col("seg_id"))).alias("__b")
        ).select(
            *keys, F.col("__b.d").alias("nn_dist"), F.col("__b.seg_id").alias("seg_id")
        )

    def make_candidates(remaining: DataFrame, r: int) -> DataFrame:
        return remaining.withColumn(
            "cell", cells.cell_id(F.col("lon"), F.col("lat"), r)
        ).join(cov, on="cell", how="inner")

    nearest = knn.cascade(
        verts.select(*keys, "lon", "lat"), keys, [res], 1,
        make_candidates, argmin, lambda remaining: remaining.crossJoin(segs),
    )
    vt = (
        nearest.join(types, on="seg_id", how="left")
        .withColumn(
            "vtype",
            F.when(F.col("nn_dist") > F.lit(threshold), F.lit("gadm_boundary")).otherwise(
                F.col("feature_type")
            ),
        )
        .join(verts.select(*keys, "n"), on=keys)
        .select("block_id", "vi", "n", "vtype")
    )
    a, b = vt.alias("a"), vt.alias("b")
    seg_typed = a.join(
        b,
        (F.col("a.block_id") == F.col("b.block_id"))
        & (F.col("b.vi") == F.pmod(F.col("a.vi") + 1, F.col("a.n"))),
    ).select(
        F.col("a.block_id").alias("block_id"),
        F.col("a.vi").alias("vi"),
        F.when(F.col("a.vtype") == F.col("b.vtype"), F.col("a.vtype"))
        .when(
            (F.col("a.vtype") == "highway") | (F.col("b.vtype") == "highway"),
            F.lit("highway"),
        )
        .otherwise(F.lit("natural"))
        .alias("seg_type"),
    )
    btypes = seg_typed.groupBy("block_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("vi", "seg_type"))),
            lambda s: s["seg_type"],
        ).alias("boundary_types")
    )
    return blocks.join(btypes, on="block_id", how="left")
