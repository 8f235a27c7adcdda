"""kNN join: nearest target for each point via expanding cell kRings.

The reference grows a buffer around each point until candidate edges fall
inside, then takes the argmin (add_node_to_closest_edge,
/root/reference/reblock/i_topology.py:377-434, BUF_EPS=1e-4, BUF_RATE=2).
The distributed analog (SURVEY.md §2.3 J10, north_star "H3-kNN for
nearest-parcel queries"):

1. targets are indexed by cell at ``res`` (cell, target_id, tx, ty);
2. each point explodes to its kRing-1 cells (the 3×3 block around its
   cell) and equi-joins the index;
3. per point, ``min_by(distance)`` picks the winner;
4. points whose winner is not provably exact within the kRing-1 block
   (the analog of the reference's x2 buffer growth) fall through to the
   next (coarser) resolution level, and the final residue to one
   brute-force pass;
5. a point that falls through carries its winner's distance as ``__ub``,
   and every later argmin drops candidates beyond it before grouping
   (:func:`within_bound`) — like the reference, a wider search only
   looks for targets closer than the best one already found.

Guarantee: a winner is only accepted when its distance <= one cell edge
(otherwise a nearer target could hide outside the 3×3 block) — this
makes the result exact, not approximate, at every cascade level. The
bound keeps it exact: ``__ub`` is a real target's distance, so the true
nearest target and every target tied with it pass ``d <= __ub``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import cells


def _dist2(px, py, tx, ty):
    return (px - tx) * (px - tx) + (py - ty) * (py - ty)


def within_bound(d: Column) -> Column:
    """Every argmin's candidate filter: drop a candidate whose distance
    ``d`` exceeds the point's best distance from an earlier level
    (``__ub``, null before the first). ``d`` must be the very expression
    the argmin emits as ``nn_dist`` (see :func:`cascade` for why this
    is exact)."""
    ub = F.col("__ub")
    return ub.isNull() | (d <= ub)


# Coarsest useful level: at res 1 the grid is 2×2, and the CLAMPED
# kRing-1 window [max(0, c-1), min(1, c+1)] spans all of it from EVERY
# cell, so the candidate join is COMPLETE (every target is a candidate for
# every point) and a level there may accept its argmin unconditionally.
# Res 2 would not do: an edge cell's window misses the far column of its
# 4×4 grid, so the level would accept a non-global argmin.
_TERMINAL_RES = 1


def _extend_levels(levels: list[int]) -> tuple[list[int], int]:
    """Append coarser levels (geometric, step 3 = 8x cell growth) down to
    the terminal resolution, so the cascade residue is empty BY
    CONSTRUCTION and no brute pass is needed. Returns (levels, terminal):
    every level above ``terminal`` accepts kRing-guaranteed winners only;
    the terminal level's candidate set is complete, so it accepts all."""
    term = _TERMINAL_RES
    if levels[-1] <= term:
        # the caller's coarsest level already spans the grid
        return levels, levels[-1]
    ext = []
    r = levels[-1] - 3
    while r > term:
        ext.append(r)
        r -= 3
    return levels + ext + [term], term


def cascade(
    points_narrow: DataFrame,
    keys: str | list[str],
    levels: list[int],
    make_candidates: Callable[[DataFrame, int], DataFrame],
    argmin: Callable[[DataFrame], DataFrame],
    make_brute: Callable[[DataFrame], DataFrame] | None = None,
    exhaustive: bool = False,
) -> DataFrame:
    """The EXACT multi-resolution NN cascade — the one level loop behind
    every nearest-neighbour operator (knn_join, parcel_assign and
    rangejoin's one point→segment path). It holds every
    correctness-bearing invariant once: accept threshold, residue chain
    and its distance bound, per-level checkpoint, union order.

    Callers supply only ``make_candidates(remaining, r)`` (the level-r
    candidate join), ``argmin(cand)`` (one row per ``keys`` with the
    winner and its ``nn_dist``) and, unless ``exhaustive``,
    ``make_brute(residue)`` (the candidate frame of the final pass).

    Fine -> coarse levels are the distributed analog of the reference's
    buffer doubling AND the skew defense: with one coarse level, a dense
    urban hotspot (30% of points and targets in 1.5% of area) explodes
    the candidate join quadratically (measured 45.6M candidate rows for
    100k points / 4k anchors at res 14; a [17, 14] cascade cuts that
    ~50x). A level ACCEPTS winners whose distance <= one cell height
    (any unseen target lies outside the kRing-1 block, hence farther), so
    every cascade is exact; survivors fall through, the residue goes brute.

    The residue carries ``__ub`` (null before the first level): after
    each non-terminal level it is rebuilt by a ``left`` join of the
    remaining points to that level's winners, keeping the points with no
    winner or a winner beyond the guarantee, and setting ``__ub`` to the
    winner's ``nn_dist`` (or keeping the old bound). Every ``argmin``
    must drop candidates with :func:`within_bound` before it groups,
    comparing the exact expression it emits as ``nn_dist``. That keeps
    every level exact:

    - ``__ub`` is the distance to a real target of the same point, in
      the argmin's own arithmetic, so the true nearest target and every
      target tied with it pass the filter; tie-breaks do not change. A
      filtered-out candidate is strictly farther than the level's winner.
    - A point with no candidate left at a level stays in the residue
      with its old bound.
    - The terminal level and the brute pass see complete candidate sets,
      so no point is lost. A NaN or null bound (a NaN or null
      coordinate) filters nothing: NaN compares above every double.

    Per-level winner frames are lazily localCheckpoint-ed: each feeds
    three consumers (accept filter, residue join, final union) and would
    otherwise re-execute the candidate join and the caller's upstream
    plan per consumer (measured 2.4x wall on the bench parcel-assign).

    ``exhaustive``: extend the cascade with auto-appended coarser levels
    down to the terminal resolution (where the kRing window spans the
    whole grid, making the candidate set complete), so the residue is
    empty BY CONSTRUCTION and no brute pass is planned. This is the
    fact-sized-target shape: a non-empty residue through ``make_brute``
    would otherwise be a true cartesian — the residue is instead drained
    by equi-joins whose per-point fan-out is output-sensitive (a point
    surviving to level r had no target within cell_h(r+3), so its
    r-window holds ~the targets within twice its true NN distance).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    # fine -> coarse is load-bearing for the skew defense: [14, 17] stays
    # EXACT (every level's accept is kRing-guaranteed) but runs the coarse
    # hotspot join first — silently reintroducing the quadratic candidate
    # explosion the cascade exists to kill. Fail loudly instead.
    assert all(0 <= r <= cells.MAX_RES for r in levels), levels
    assert list(levels) == sorted(levels, reverse=True) and len(
        set(levels)
    ) == len(levels), f"cascade levels must be strictly fine->coarse: {levels}"
    terminal = None
    if exhaustive:
        levels, terminal = _extend_levels(list(levels))
    remaining = points_narrow.withColumn("__ub", F.lit(None).cast("double"))
    resolved: list[DataFrame] = []
    for r in levels:
        # guarantee radius in degrees: a winner is exact when its
        # distance <= one lat cell height — the tightest escape distance
        # out of the 3×3 block (lon cells are 2x wider: conservative)
        cell_h = 180.0 / (1 << r)
        best = argmin(make_candidates(remaining, r)).localCheckpoint(eager=False)
        if r == terminal:
            # complete candidate set: the argmin is the global argmin
            resolved.append(best)
            remaining = None
            break
        bound = F.lit(cell_h)
        resolved.append(best.filter(F.col("nn_dist") <= bound))
        # the residue is every point NOT accepted: no winner at this level
        # (null __bd), or one beyond the kRing guarantee. It keeps the
        # tightest distance seen so far as its bound for the next level
        bd = F.col("__bd")
        remaining = (
            remaining.join(
                best.select(*keys, F.col("nn_dist").alias("__bd")),
                on=keys, how="left",
            )
            .filter(bd.isNull() | (bd > bound))
            .withColumn("__ub", F.coalesce(bd, F.col("__ub")))
            .drop("__bd")
            .localCheckpoint(eager=False)
        )
        # exhaustive-only early exit: once the residue is empty, skip the
        # auto-appended coarser levels (each is a full candidate-build
        # pass over the fact-sized target table). The count reads the
        # checkpoint the next level would have materialized anyway, so
        # it costs ~nothing; the default (broadcast) path stays fully
        # lazy — its brute tail over an empty residue is already free.
        if exhaustive and remaining.count() == 0:
            remaining = None
            break
    if remaining is None:  # exhaustive: residue empty by construction
        out = resolved[-1]
        resolved = resolved[:-1]
    else:
        out = argmin(make_brute(remaining))
    for s in resolved:
        out = s.unionByName(out)
    return out


def knn_join(
    points: DataFrame,
    targets: DataFrame,
    res: int | list[int],
    point_id: str | None = None,
    target_id: str = "target_id",
    broadcast_targets: bool = True,
) -> DataFrame:
    """Nearest ``targets`` row (tx, ty) for every ``points`` row (lon,
    lat).

    Output: (point columns..., target_id, nn_dist). Exact nearest
    neighbor via :func:`cascade`; ``res`` may be a fine -> coarse
    level list (see its skew note).

    ``point_id``: a unique key column in ``points`` (defaults to the
    first column); grouping happens on it alone and the remaining point
    columns are re-attached with one join at the end.

    ``broadcast_targets=False`` (fact-sized targets, the 10^12-anchor
    plan): candidate joins become cell-key shuffle joins AND the cascade
    runs exhaustively — coarser levels are auto-appended down to the
    terminal resolution so the residue is empty by construction and no
    cartesian brute pass is ever planned. Output is row-identical to the
    broadcast plan (both are exact NN under the same total order).
    """
    pid = point_id or points.columns[0]
    levels = list(res) if isinstance(res, (list, tuple)) else [res]
    # the caller's upstream plan feeds the level-1 candidate join AND the
    # final re-attach — truncate once so it executes once
    points = points.localCheckpoint(eager=False)

    d2 = _dist2(F.col("lon"), F.col("lat"), F.col("tx"), F.col("ty"))
    # tie-break: equidistant targets resolve to the LOWER target id (the
    # struct orders field-wise), matching SQL's `order by d2, target_id`
    order_key = F.struct(d2.alias("d"), F.col(target_id).alias("t"))

    def argmin(cand: DataFrame) -> DataFrame:
        return cand.filter(within_bound(F.sqrt(d2))).groupBy(pid).agg(
            F.min_by(F.col(target_id), order_key).alias(target_id),
            F.sqrt(F.min(d2)).alias("nn_dist"),
        )

    def make_candidates(remaining: DataFrame, r: int) -> DataFrame:
        tgt_r = targets.withColumn(
            "__tcell", cells.cell_id(F.col("tx"), F.col("ty"), r)
        )
        if broadcast_targets:
            tgt_r = F.broadcast(tgt_r)
        return remaining.withColumn(
            "__cell",
            F.explode(cells.kring_cells(F.col("lon"), F.col("lat"), r, 1)),
        ).join(tgt_r, F.col("__cell") == F.col("__tcell"), "inner")

    def make_brute(remaining: DataFrame) -> DataFrame:
        # only planned under broadcast_targets=True, where it is a bounded
        # BroadcastNestedLoopJoin over the (small) cascade residue; the
        # non-broadcast path runs the exhaustive cascade instead and never
        # plans this join (a non-empty residue against a fact-sized target
        # table would be a true cartesian)
        return remaining.crossJoin(F.broadcast(targets))

    out = cascade(
        points.select(pid, "lon", "lat"),
        pid, levels, make_candidates, argmin, make_brute,
        exhaustive=not broadcast_targets,
    )
    return points.join(out, on=pid)


def parcel_assign(
    points: DataFrame,
    anchors: DataFrame,
    res: int | list[int],
    point_id: str,
) -> DataFrame:
    """Voronoi-parcel membership for a second point set: each point's
    parcel is the Voronoi cell of the nearest anchor WITHIN the point's
    containing block (parcelize semantics; north_star 'H3-kNN for
    nearest-parcel queries').

    Inputs both carry ``block_id``: ``points`` (id, block_id, lon, lat),
    ``anchors`` (anchor_id, block_id, ax, ay). Output: (point columns...,
    anchor_id, nn_dist).

    Same :func:`cascade` as knn_join, but the candidate join is constrained to
    the block from the start — the escape-distance guarantee is
    unaffected by the block constraint (any unseen IN-BLOCK anchor lies
    outside the kRing, hence farther), and the residue joins only its
    own block's anchors (bounded per block) rather than the full table.
    All paths and the SQL oracle share one (dist², anchor_id) total
    order, so ties are engine-independent."""
    levels = list(res) if isinstance(res, (list, tuple)) else [res]
    # the caller's upstream plan (typically the two-stage PIP assign)
    # feeds both the level-1 candidate join and the final re-attach —
    # truncate once so it executes once
    points = points.localCheckpoint(eager=False)
    d2 = _dist2(F.col("lon"), F.col("lat"), F.col("ax"), F.col("ay"))
    order_key = F.struct(d2.alias("d"), F.col("__aid").alias("t"))
    a_base = anchors.select(
        F.col("anchor_id").alias("__aid"),
        F.col("block_id").alias("__ablock"),
        "ax",
        "ay",
    )

    def argmin(cand: DataFrame) -> DataFrame:
        return cand.filter(within_bound(F.sqrt(d2))).groupBy(point_id).agg(
            F.min_by(F.col("__aid"), order_key).alias("anchor_id"),
            F.sqrt(F.min(d2)).alias("nn_dist"),
        )

    def make_candidates(remaining: DataFrame, r: int) -> DataFrame:
        a_r = F.broadcast(a_base.withColumn(
            "__acell", cells.cell_id(F.col("ax"), F.col("ay"), r)
        ))
        return remaining.withColumn(
            "__cell",
            F.explode(cells.kring_cells(F.col("lon"), F.col("lat"), r, 1)),
        ).join(
            a_r,
            (F.col("__cell") == F.col("__acell"))
            & (F.col("block_id") == F.col("__ablock")),
            "inner",
        )

    def make_brute(remaining: DataFrame) -> DataFrame:
        return remaining.join(
            F.broadcast(a_base), F.col("block_id") == F.col("__ablock"), "inner"
        )

    out = cascade(
        points.select(point_id, "block_id", "lon", "lat"),
        point_id, levels, make_candidates, argmin, make_brute,
    )
    return points.join(out, point_id)
