"""Ring geometry as JVM Column expressions (higher-order functions).

The hot-path rule (CLAUDE.md): no per-row Python. A ``mapInPandas``
centroid stage on a 20k-feature frame costs ~9 s in Arrow nested-array
round-trips alone; the same shoelace as ``aggregate``/``zip_with`` Column
expressions is free inside whole-stage codegen. Semantics mirror
``geom.ring_centroid`` (prclz/topology.py:253-271) including the
|2A| < 0.02 degenerate fallback to the distinct-vertex mean — summation
order differs only in the fallback (first-occurrence vs sorted), which
feeds candidate-cell seeding, not results.

HOF-closure trap (CLAUDE.md): every lambda below references ONLY its own
arguments; array stages an outer lambda would otherwise close over are
materialized as real columns via ``with_ring_centroid``'s select chain.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def open_ring(g: Column) -> Column:
    """Drop the closing vertex when the ring repeats it. try_element_at:
    codegen may hoist the ends out of the size guard, and element_at raises
    on an empty ring under ANSI."""
    first, last = F.try_element_at(g, F.lit(1)), F.try_element_at(g, F.lit(-1))
    closed = (F.size(g) > 1) & (first[0] == last[0]) & (first[1] == last[1])
    return F.when(closed, F.slice(g, 1, F.size(g) - 1)).otherwise(g)


def with_ring_centroid(df: DataFrame) -> DataFrame:
    """Append shoelace-centroid ``lon``/``lat`` columns for the
    array<array<double>> ring column ``geometry`` — pure Column
    arithmetic."""
    df = df.withColumn("__ring", open_ring(F.col("geometry")))
    ring = F.col("__ring")
    # materialize the successor array so zip_with reads real columns
    df = df.withColumn(
        "__nxt",
        F.concat(F.slice(ring, 2, F.size(ring) - 1), F.array(F.element_at(ring, 1))),
    )
    cross = F.zip_with(
        F.col("__ring"), F.col("__nxt"), lambda a, b: a[0] * b[1] - a[1] * b[0]
    )
    sx_t = F.zip_with(
        F.col("__ring"), F.col("__nxt"),
        lambda a, b: (a[0] + b[0]) * (a[0] * b[1] - a[1] * b[0]),
    )
    sy_t = F.zip_with(
        F.col("__ring"), F.col("__nxt"),
        lambda a, b: (a[1] + b[1]) * (a[0] * b[1] - a[1] * b[0]),
    )
    df = (
        df.withColumn("__cross", cross)
        .withColumn("__sx_t", sx_t)
        .withColumn("__sy_t", sy_t)
        .withColumn("__uniq", F.array_distinct(F.col("__ring")))
    )

    def _sum(col: Column) -> Column:
        # left-to-right sequential fold, same order as the numpy kernel
        return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x)

    a2 = _sum(F.col("__cross"))
    sx = _sum(F.col("__sx_t"))
    sy = _sum(F.col("__sy_t"))
    nu = F.size(F.col("__uniq")).cast("double")
    mean_x = F.aggregate(F.col("__uniq"), F.lit(0.0), lambda acc, p: acc + p[0]) / nu
    mean_y = F.aggregate(F.col("__uniq"), F.lit(0.0), lambda acc, p: acc + p[1]) / nu
    df = (
        df.withColumn("__a2", a2)
        .withColumn(
            "lon",
            F.when(F.abs(F.col("__a2")) < 0.02, mean_x).otherwise(
                sx / (F.lit(3.0) * F.col("__a2"))
            ),
        )
        .withColumn(
            "lat",
            F.when(F.abs(F.col("__a2")) < 0.02, mean_y).otherwise(
                sy / (F.lit(3.0) * F.col("__a2"))
            ),
        )
    )
    return df.drop("__ring", "__nxt", "__cross", "__sx_t", "__sy_t", "__uniq", "__a2")


def with_ring_bounds_rect(
    df: DataFrame, geometry_col: str = "geometry", prefix: str = ""
) -> DataFrame:
    """Append bbox columns ``{prefix}x0/y0/x1/y1`` and ``{prefix}rect``
    (True iff the ring is a plain axis-aligned rectangle — the JVM twin of
    ``geom.is_axis_rect``). Lets rect×rect overlap resolve as a clamped
    product in whole-stage codegen, with no nested array ever crossing
    Arrow."""
    df = df.withColumn("__ring", open_ring(F.col(geometry_col)))
    ring = F.col("__ring")
    df = df.withColumn(
        "__nxt",
        F.concat(F.slice(ring, 2, F.size(ring) - 1), F.array(F.element_at(ring, 1))),
    )

    def _fold(fn, init):
        return F.aggregate(F.col("__ring"), F.lit(float(init)), fn)

    edges_ok = F.forall(
        F.zip_with(
            F.col("__ring"), F.col("__nxt"),
            lambda a, b: ((a[0] == b[0]) & (a[1] != b[1]))
            | ((a[0] != b[0]) & (a[1] == b[1])),
        ),
        lambda x: x,
    )
    df = (
        df.withColumn(prefix + "x0", _fold(lambda acc, p: F.least(acc, p[0]), np.inf))
        .withColumn(prefix + "y0", _fold(lambda acc, p: F.least(acc, p[1]), np.inf))
        .withColumn(prefix + "x1", _fold(lambda acc, p: F.greatest(acc, p[0]), -np.inf))
        .withColumn(prefix + "y1", _fold(lambda acc, p: F.greatest(acc, p[1]), -np.inf))
        .withColumn(prefix + "rect", (F.size(F.col("__ring")) == 4) & edges_ok)
    )
    return df.drop("__ring", "__nxt")


def with_ring_edges(
    df: DataFrame, geometry_col: str = "geometry", out_col: str = "edges"
) -> DataFrame:
    """Append ``out_col``: the ring's ``[x0, y0, x1, y1]`` edges as an
    array<array<double>> — the JVM twin of ``geom.ring_edges`` (same walk,
    horizontal and NaN edges dropped, empty for rings under 3 vertices)."""
    df = df.withColumn("__ring", open_ring(F.col(geometry_col)))
    ring = F.col("__ring")
    ok = F.size(ring) >= 3
    # guarded: slice raises on an empty ring under ANSI
    df = df.withColumn(
        "__nxt",
        F.when(
            ok,
            F.concat(F.slice(ring, 2, F.size(ring) - 1), F.array(F.try_element_at(ring, F.lit(1)))),
        ),
    )
    edges = F.filter(
        F.zip_with(
            F.col("__ring"), F.col("__nxt"), lambda a, b: F.array(a[0], a[1], b[0], b[1])
        ),
        lambda e: (e[1] != e[3])
        & ~(F.isnan(e[0]) | F.isnan(e[1]) | F.isnan(e[2]) | F.isnan(e[3])),
    )
    empty = F.array().cast("array<array<double>>")
    return df.withColumn(out_col, F.when(ok, edges).otherwise(empty)).drop(
        "__ring", "__nxt"
    )


def ring_contains(edges: Column, x: Column, y: Column) -> Column:
    """Even-odd ray cast of point (x, y) against an ``[x0, y0, x1, y1]``
    edge array: the Column twin of ``geom.points_in_polygon``, with its
    exact arithmetic (straddle test, then ``x < x0 + (y - y0) / (y1 - y0)
    * (x1 - x0)``), so answers are bit-identical for the same edges. Only
    parity matters, so any edge subset that keeps every edge the ray can
    cross gives the same answer. A null point gives null (no match).

    All three inputs enter as lambda ARGUMENTS (one single-element
    ``transform``), never as closures: each is evaluated once per row
    (the HOF-closure rule), and the predicate stays safe inside a join
    condition — canonicalization renumbers lambda variables into the
    same id space as attributes, so a closed-over column can vanish from
    the canonical ``references`` and InferFiltersFromConstraints then
    pushes the predicate to the side that lacks it (Spark 4.1)."""

    def cast(p):
        def flip(acc, e):
            y0, y1 = e[1], e[3]
            straddle = (y0 > p["y"]) != (y1 > p["y"])
            xint = e[0] + (p["y"] - y0) / (y1 - y0) * (e[2] - e[0])
            return acc != (straddle & (p["x"] < xint))

        return F.aggregate(p["e"], F.lit(False), flip)

    bound = F.array(F.struct(x.alias("x"), y.alias("y"), edges.alias("e")))
    return F.element_at(F.transform(bound, cast), 1)
