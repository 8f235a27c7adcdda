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

Distributed shape: segments explode to covering cells as Column
arithmetic (:func:`segment_cover_df`, no pandas build, no broadcast);
points join the cover by cell key; the point-segment distance is *pure
Column arithmetic* (dot-product clamp — no Python anywhere). There is ONE
nearest-segment path, :func:`_nearest_segments`: an exhaustive
:func:`knn.cascade` (the engine's one exact NN level loop) whose coarser
levels drain the residue, so no cartesian brute pass is ever planned.
The road join and the boundary typing differ only in their point keys
and their distance expression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import cells, geomcols
from . import knn

__all__ = [
    "segments_from_lines", "segments_from_lines_df", "segment_cover_df",
    "nearest_segment_join_distributed",
    "classify_by_distance", "boundary_types_for_blocks",
]

# hot-cell guard of the candidate join: a cell's segment rows split into
# ceil(count / MAX_SEGS_PER_CELL) hash chunks (see _nearest_segments)
MAX_SEGS_PER_CELL = 4096


def segments_from_lines(lines_pdf: pd.DataFrame) -> pd.DataFrame:
    """OSM-style polylines (osm_id, highway, waterway, natural, geometry)
    → the flat segment dimension (seg_id, ax, ay, bx, by, feature_type)
    that :func:`nearest_segment_join_distributed` (via
    ``spark.createDataFrame``) and ``boundary_types_for_blocks`` consume.

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
    """(seg_id, ax, ay, bx, by) → one row per (cell, segment): the
    supercover — samples every ≤1/4 cell along the segment, 3×3
    dilation, distinct per (cell, segment) — as pure Column arithmetic
    (whole-stage codegen, one Generate for samples, one for the dilated
    cells, one Exchange for the distinct). The dilation puts every cell
    within one cell of the segment in the cover, so a point's own cell
    key finds every segment its ring-1 guarantee covers. The sample
    positions reproduce np.linspace bit-for-bit (t_i = i·(1/n),
    t_n = 1.0); tests/test_rangejoin.py pins the cell set against a
    numpy builder.

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
) -> DataFrame:
    """Exact nearest segment of every point (lon, lat): (point columns...,
    seg_id, road_dist), distance ties broken to the lowest seg_id. ``segments``
    is (seg_id, ax, ay, bx, by); it is never broadcast, so it may be
    fact-sized. ``res`` is the first cascade level or a fine -> coarse
    level list; see :func:`_nearest_segments`."""
    pid = point_id or points.columns[0]
    levels = list(res) if isinstance(res, (list, tuple)) else [res]
    # the caller's upstream plan feeds the first candidate join AND the
    # final re-attach — truncate once so it executes once
    points = points.localCheckpoint(eager=False)
    out = _nearest_segments(
        points.select(pid, "lon", "lat"), [pid], segments, levels, _seg_dist_cols()
    )
    return points.join(out, on=pid).withColumnRenamed("nn_dist", "road_dist")


def _nearest_segments(
    pts: DataFrame,
    keys: list[str],
    segments: DataFrame,
    levels: list[int],
    dist: Column,
) -> DataFrame:
    """The one point→segment NN path: ``pts`` (keys..., lon, lat) →
    (keys..., seg_id, nn_dist), where ``dist`` is the point-segment
    distance the argmin ranks by and emits. An exhaustive
    :func:`knn.cascade` with ring 1. Each level's candidates come from
    the distributed cover (:func:`segment_cover_df`, joined by cell key,
    no broadcast requested): its 3×3 dilation puts every segment within
    one cell of the point's cell among the candidates. Coarser levels
    are appended down to res 1, where any segment's dilated cover is the
    whole grid, so the residue drains by equi-joins and no cartesian is
    ever planned.

    Hot-cell guard (a star junction puts every road through one cell and
    its 8 neighbors — the per-cell join key goes quadratic exactly like
    the kNN hotspot): each cell holding more than ``MAX_SEGS_PER_CELL``
    segment rows splits into ``nb = ceil(count/cap)`` hash chunks; points
    replicate to their cell's nb chunk keys; per-(cell, chunk) rows are
    ~cap (hash-balanced) so no straggler task, and the min-reduction
    over all chunks is the min over the cell — EXACT, a plan change only
    (the same decomposition as dedup's chunk-pair guard, one-sided
    because NN is a reduction, not a pair enumeration)."""
    segments = segments.localCheckpoint(eager=False)  # one consumer per level

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
            .filter(F.col("cn") > F.lit(MAX_SEGS_PER_CELL))
            .select(
                "cell",
                F.ceil(F.col("cn") / F.lit(MAX_SEGS_PER_CELL))
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
                *keys, "lon", "lat", "__ub", "cell",
                F.explode(F.sequence(F.lit(0), nb1 - 1)).alias("chunk"),
            )
        )
        return pcell.join(cov, ["cell", "chunk"])

    return knn.cascade(
        pts, keys, levels, make_candidates, _seg_argmin(keys, dist),
        exhaustive=True,
    )


def _seg_argmin(keys: list[str], dist: Column):
    """Per-point nearest segment: (keys..., seg_id, nn_dist) with
    ``nn_dist`` = ``dist``, distance ties broken to the lowest seg_id so
    every plan variant agrees."""

    def argmin(cand: DataFrame) -> DataFrame:
        # project the distance ONCE, then drop candidates beyond the
        # point's bound, then aggregate: inlined in both agg expressions
        # the distance is evaluated twice per candidate row (no CSE
        # across aggregates; ~20% on the level's agg at 194M rows). The
        # projection is a one-element explode because Catalyst pushes a
        # filter through a plain projection into the candidate join's
        # condition, inlining the distance there a second time
        d = cand.select(
            *keys, "seg_id", "__ub", F.explode(F.array(dist)).alias("__d")
        )
        return d.filter(knn.within_bound(F.col("__d"))).groupBy(*keys).agg(
            F.min_by(
                F.col("seg_id"),
                F.struct(F.col("__d").alias("d"), F.col("seg_id").alias("s")),
            ).alias("seg_id"),
            F.min("__d").alias("nn_dist"),
        )

    return argmin


def _seg_dist_cols() -> Column:
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


def classify_by_distance(joined: DataFrame, threshold: float) -> DataFrame:
    """J13: label ``near_road`` / ``off_road`` by the ε-threshold on the
    nearest distance (the exact form of the reference's
    buffered-intersects)."""
    return joined.withColumn(
        "road_class",
        F.when(F.col("road_dist") <= F.lit(threshold), F.lit("near_road")).otherwise(
            F.lit("off_road")
        ),
    )


def boundary_types_for_blocks(
    blocks: DataFrame,
    lines_pdf: pd.DataFrame,
    res: int,
    threshold: float = 1.0,
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

    Distributed shape: ring vertices explode JVM-side and, keyed on
    (block_id, vi), run the one point→segment path
    (:func:`_nearest_segments`: distributed cover, cell-key joins,
    exhaustive cascade, no broadcast of the segments and no cartesian);
    only the small (seg_id, feature_type) table is broadcast, to type
    the winners. The nearest pick ranks ``round(dist, 9)`` then seg_id,
    so distance ties — every shared corner vertex lies ON two grid
    lines — break deterministically toward the lowest seg_id on both the
    engine and any SQL oracle. The distance is rounded to the geometry
    snap grid (geom.SNAP = 1e-9) first: a vertex coordinate reached
    through a different float path (y0 + step vs LAT0 + 2*step) sits
    ~1 ulp off the line and would otherwise lose a d=0 tie it
    geometrically owns."""
    spark = blocks.sparkSession
    ring = geomcols.open_ring(F.col("geometry"))
    if len(lines_pdf) == 0:
        # no line features at all: every vertex distance exceeds the
        # threshold, so every boundary segment types as 'gadm_boundary'
        # (the reference's fallback) — one per open-ring segment.
        return blocks.withColumn(
            "boundary_types",
            F.transform(
                F.sequence(F.lit(1), F.size(ring)), lambda _: F.lit("gadm_boundary")
            ),
        )
    segs = spark.createDataFrame(lines_pdf[["seg_id", "ax", "ay", "bx", "by"]])
    types = F.broadcast(
        spark.createDataFrame(lines_pdf[["seg_id", "feature_type"]])
    )
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
    nearest = _nearest_segments(
        verts.select(*keys, "lon", "lat"), keys, segs, [res],
        F.round(_seg_dist_cols(), 9),
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
