"""Hierarchical integer cell index (H3/S2-style, quadtree realization).

The reference prunes spatial candidates with an in-memory rtree
(/root/reference/prclz/topology.py:487-492 and geopandas.sjoin internals);
that does not distribute. Here every geometry gets a deterministic integer
*cell id* at resolution ``res`` and spatial joins become equi-joins on the
cell id — Catalyst shuffles/broadcasts them like any other join key, AQE
splits skewed cells, and cell-prefix range partitioning co-locates
neighborhoods (north_star: "batched H3 (res 7-11) and S2 cell encoding").

The encoding is a plain lat/lon quadtree (column-major grid at 2^res x
2^res), deliberately reproducible in ANSI SQL with floor arithmetic so the
DuckDB oracle can recompute it:

    nx  = 2^res
    cx  = clamp(floor((lon + 180) / 360 * nx), 0, nx-1)
    cy  = clamp(floor((lat +  90) / 180 * nx), 0, nx-1)
    id  = res * 4^26  +  cx * 2^26  +  cy          (res <= 15, grid <= 2^26)

Cell ids at different resolutions never collide (res is in the high bits).
``kring`` (H3's k-ring analog) is the (2k+1)^2 neighbor block, used by the
kNN join's expanding-ring candidate search — the distributed analog of the
reference's buffer-growing search (reblock/i_topology.py:377-394,
BUF_EPS=1e-4, BUF_RATE=2).

Everything here is either a JVM-side Column expression (whole-stage
codegen, no Python in the hot path) or a numpy helper for driver-side
dimension prep (polygon covers of the small blocks table).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

RES_BITS_SHIFT = 2 ** 52  # res * 4^26
XY_SHIFT = 2 ** 26
MAX_RES = 26  # grid up to 2^26 per axis; ids stay < 2^63

# AOI bbox used by the synthetic city (sources.synth); kept here because
# operators size resolutions off it.
LON_MIN, LON_MAX = -180.0, 180.0
LAT_MIN, LAT_MAX = -90.0, 90.0


def _nx(res: int) -> int:
    return 1 << res


# ---------------------------------------------------------------------------
# Column-expression forms (JVM-side, codegen; identical arithmetic in the
# DuckDB oracle SQL)
# ---------------------------------------------------------------------------

def cell_x(lon: Column, res: int) -> Column:
    nx = _nx(res)
    raw = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(nx)))
    return F.greatest(F.lit(0), F.least(F.lit(nx - 1), raw)).cast("long")


def cell_y(lat: Column, res: int) -> Column:
    nx = _nx(res)
    raw = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(nx)))
    return F.greatest(F.lit(0), F.least(F.lit(nx - 1), raw)).cast("long")


def cell_id(lon: Column, lat: Column, res: int) -> Column:
    """Cell id column for point (lon, lat) at ``res``. Pure arithmetic."""
    assert 0 <= res <= MAX_RES
    return (
        F.lit(res * RES_BITS_SHIFT)
        + cell_x(lon, res) * F.lit(XY_SHIFT)
        + cell_y(lat, res)
    ).cast("long")


def cell_id_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """The same cell id as ANSI SQL text (for DuckDB oracles)."""
    nx = _nx(res)
    cx = (
        f"greatest(0, least({nx - 1}, "
        f"cast(floor(({lon_expr} + 180.0) / 360.0 * {nx}.0) as bigint)))"
    )
    cy = (
        f"greatest(0, least({nx - 1}, "
        f"cast(floor(({lat_expr} + 90.0) / 180.0 * {nx}.0) as bigint)))"
    )
    return f"(cast({res * RES_BITS_SHIFT} as bigint) + {cx} * {XY_SHIFT} + {cy})"


def cell_prefix(cell: Column, res: int, prefix_res: int) -> Column:
    """Coarsen a cell id to ``prefix_res`` (for repartitionByRange on cell
    prefix, north_rule). Parent cell = floor-divide each axis."""
    assert prefix_res <= res
    shift = 1 << (res - prefix_res)
    cx = ((cell - F.lit(res * RES_BITS_SHIFT)) / F.lit(XY_SHIFT)).cast("long")
    cy = (cell - F.lit(res * RES_BITS_SHIFT)) % F.lit(XY_SHIFT)
    return (
        F.lit(prefix_res * RES_BITS_SHIFT)
        + (cx / F.lit(shift)).cast("long") * F.lit(XY_SHIFT)
        + (cy / F.lit(shift)).cast("long")
    ).cast("long")


def _kring_array(lon: Column, lat: Column, res: int, k: int) -> Column:
    nx = _nx(res)
    cx, cy = cell_x(lon, res), cell_y(lat, res)
    cells = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            ncx = F.greatest(F.lit(0), F.least(F.lit(nx - 1), cx + F.lit(dx)))
            ncy = F.greatest(F.lit(0), F.least(F.lit(nx - 1), cy + F.lit(dy)))
            cells.append(
                F.lit(res * RES_BITS_SHIFT) + ncx * F.lit(XY_SHIFT) + ncy
            )
    return F.array_distinct(F.array(*cells))


def kring_cells(lon: Column, lat: Column, res: int, k: int) -> Column:
    """Array column of the (2k+1)^2 cells within Chebyshev distance k of the
    point's cell (clamped at the grid edge, distinct). H3 kRing analog.

    ``lon``/``lat`` are embedded once per neighbor cell — fine for plain
    parquet columns (stays in whole-stage codegen), pathological for
    expensive computed expressions: use ``kring_cells_bound``."""
    return _kring_array(lon, lat, res, k)


def kring_cells_bound(lon: Column, lat: Column, res: int, k: int) -> Column:
    """``kring_cells`` with ``lon``/``lat`` evaluated exactly ONCE per row,
    for callers whose coordinates are expensive computed expressions (e.g.
    a shoelace-centroid HOF tree). The plain form embeds the coordinate
    expression (2k+1)^2 times and the optimizer may inline it at every
    site — a 9-point ring over a centroid re-evaluated ~18x per row turned
    a largest-overlap candidate stage from <1 s into ~10 s per pass. A
    single-element ``transform`` binds the coordinates as a lambda
    argument, which is an evaluated VALUE (the inverse of the
    closed-over-expression trap: lambda args are safe, closures are not)."""
    bound = F.transform(
        F.array(F.struct(lon.alias("x"), lat.alias("y"))),
        lambda p: _kring_array(p["x"], p["y"], res, k),
    )
    return F.element_at(bound, 1)


# ---------------------------------------------------------------------------
# numpy forms (dimension prep / kernels / oracles)
# ---------------------------------------------------------------------------

def cell_id_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    nx = _nx(res)
    cx = np.clip(np.floor((lon + 180.0) / 360.0 * nx), 0, nx - 1).astype(np.int64)
    cy = np.clip(np.floor((lat + 90.0) / 180.0 * nx), 0, nx - 1).astype(np.int64)
    return res * RES_BITS_SHIFT + cx * XY_SHIFT + cy


def cell_prefix_np(ids: np.ndarray, prefix_res: int) -> np.ndarray:
    """:func:`cell_prefix` on the driver: the ``prefix_res`` cell holding
    each cell's centre, which lies inside its parent."""
    x0, y0, x1, y1 = cell_bounds_np(ids)
    return cell_id_np((x0 + x1) / 2, (y0 + y1) / 2, prefix_res)


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of a cell."""
    return tuple(float(v[0]) for v in cell_bounds_np(np.array([cell])))


def cell_bounds_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized :func:`cell_bounds` over an int64 id array (mixed
    resolutions allowed)."""
    ids = np.asarray(ids, dtype=np.int64)
    res = ids // RES_BITS_SHIFT
    rem = ids - res * RES_BITS_SHIFT
    cx, cy = rem // XY_SHIFT, rem % XY_SHIFT
    nx = np.left_shift(1, res).astype(float)
    w, h = 360.0 / nx, 180.0 / nx
    return -180.0 + cx * w, -90.0 + cy * h, -180.0 + (cx + 1) * w, -90.0 + (cy + 1) * h


def cover_cells_classified(ring: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized polygon cover: returns (cells, interior) where ``cells``
    are the ids of every cell whose rectangle intersects the polygon and
    ``interior[i]`` is True when the cell lies entirely inside it.

    Method (all numpy, no per-cell Python):
    - mark *boundary* cells by conservative supercover sampling along each
      polygon edge (step = 1/4 cell; samples within 0.15 of a grid line
      also mark the adjacent cell, so corner-clipping chords are never
      missed — over-marking only widens the boundary band, never breaks
      cover ⊇ truth / interior ⊆ truth);
    - one vectorized ray-cast classifies every grid *node* in the bbox;
    - interior cell  = all 4 corner nodes inside ∧ not boundary;
      covered cell   = boundary ∨ any corner node inside
      (a cell with no boundary crossing and no corner inside cannot meet
      the polygon: it would have to be fully contained, making its corners
      inside — contradiction)."""
    from . import geom  # local import to avoid cycle

    if ring.shape[0] >= 2 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    nx = _nx(res)

    def to_u(lon):
        return (lon + 180.0) / 360.0 * nx

    def to_v(lat):
        return (lat + 90.0) / 180.0 * nx

    u = to_u(ring[:, 0])
    v = to_v(ring[:, 1])
    x0 = int(np.clip(np.floor(u.min()), 0, nx - 1))
    x1 = int(np.clip(np.floor(u.max()), 0, nx - 1))
    y0 = int(np.clip(np.floor(v.min()), 0, nx - 1))
    y1 = int(np.clip(np.floor(v.max()), 0, nx - 1))
    gw, gh = x1 - x0 + 1, y1 - y0 + 1

    # --- boundary cells via supercover sampling ---
    u2, v2 = np.roll(u, -1), np.roll(v, -1)
    seg_len = np.maximum(np.abs(u2 - u), np.abs(v2 - v))  # in cell units
    n_samp = np.maximum(1, np.ceil(seg_len / 0.25).astype(int))
    us_list, vs_list = [], []
    for i in range(len(u)):
        t = np.linspace(0.0, 1.0, n_samp[i] + 1)
        us_list.append(u[i] + t * (u2[i] - u[i]))
        vs_list.append(v[i] + t * (v2[i] - v[i]))
    us = np.concatenate(us_list)
    vs = np.concatenate(vs_list)
    iu = np.floor(us).astype(np.int64)
    iv = np.floor(vs).astype(np.int64)
    fu, fv = us - iu, vs - iv
    EPS = 0.15
    cand_u = [iu]
    cand_v = [iv]
    lo_u, hi_u = fu < EPS, fu > 1.0 - EPS
    lo_v, hi_v = fv < EPS, fv > 1.0 - EPS
    du = np.where(lo_u, -1, np.where(hi_u, 1, 0))
    dv = np.where(lo_v, -1, np.where(hi_v, 1, 0))
    cand_u += [iu + du, iu, iu + du]
    cand_v += [iv, iv + dv, iv + dv]
    bu = np.clip(np.concatenate(cand_u), x0, x1)
    bv = np.clip(np.concatenate(cand_v), y0, y1)
    boundary = np.zeros((gh, gw), dtype=bool)
    boundary[bv - y0, bu - x0] = True

    # --- grid-node containment (one vectorized PIP over all nodes) ---
    node_u = (np.arange(x0, x1 + 2)) * (360.0 / nx) - 180.0
    node_v = (np.arange(y0, y1 + 2)) * (180.0 / nx) - 90.0
    NU, NV = np.meshgrid(node_u, node_v)  # (gh+1, gw+1)
    inside = geom.points_in_polygon(NU.ravel(), NV.ravel(), ring).reshape(NU.shape)
    c00 = inside[:-1, :-1]
    c10 = inside[:-1, 1:]
    c01 = inside[1:, :-1]
    c11 = inside[1:, 1:]
    all_in = c00 & c10 & c01 & c11
    any_in = c00 | c10 | c01 | c11

    covered = boundary | any_in
    interior = all_in & ~boundary
    yy, xx = np.nonzero(covered)
    ids = res * RES_BITS_SHIFT + (xx + x0).astype(np.int64) * XY_SHIFT + (yy + y0)
    return ids, interior[yy, xx]


# ---------------------------------------------------------------------------
# Cover compaction (H3 compact_cells / uncompact_cells analog)
# ---------------------------------------------------------------------------

def compact_cells(cells_df, res: int, res_min: int):
    """H3 ``compact_cells`` analog over the quadtree index: replace every
    complete 4-sibling group by its parent, repeatedly, until ``res_min``.
    Input: a DataFrame whose ``cell`` column holds ids at uniform ``res``
    (duplicates tolerated — the set is distinct-ed first). Output: one
    ``cell`` column, mixed resolutions in [res_min, res], covering exactly
    the same area (disjoint by construction: a parent is emitted only when
    all 4 children were present, and the children are then dropped).

    Scale shape: one hash aggregation per level on the *parent* key —
    skew-free by construction (a parent key holds at most 4 rows), and the
    surviving set shrinks monotonically, so the K = res - res_min
    exchanges operate on strictly decreasing data. This is how a
    10^7-cell polyfill cover of a continent-sized AOI is shrunk before
    being broadcast to the two-stage PIP join (H3's documented use).
    Each level frame feeds two consumers (emit + promote), so each level
    is localCheckpoint(eager=False)-ed exactly ONCE per the
    multi-consumer invariant: the distinct-ed input before the loop, and
    ``promoted`` inside it (``cur`` on later iterations is a trivial
    alias projection over the already-checkpointed ``promoted``).
    """
    assert 0 <= res_min <= res <= MAX_RES
    # execution-time guard (uncompact_cells' twin): a cell at another
    # resolution would get a mis-scaled cx/cy in cell_prefix and could
    # silently collide with a legit parent key, wrongly completing a
    # 4-sibling promotion — raise instead.
    checked = F.when(
        F.expr(f"cell div {RES_BITS_SHIFT}") == F.lit(res),
        F.col("cell"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"compact_cells: input cell not at res={res}: "),
                F.col("cell").cast("string"),
            )
        )
    )
    cur = (
        cells_df.select(checked.alias("cell"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    parts = []
    for r in range(res, res_min, -1):
        tagged = cur.select(
            "cell", cell_prefix(F.col("cell"), r, r - 1).alias("parent")
        )
        promoted = (
            tagged.groupBy("parent")
            .agg(F.count("*").alias("nc"))
            .filter(F.col("nc") == 4)
            .select("parent")
            .localCheckpoint(eager=False)
        )
        parts.append(
            tagged.join(promoted, "parent", "left_anti").select("cell")
        )
        cur = promoted.select(F.col("parent").alias("cell"))
    parts.append(cur)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def uncompact_cells(cells_df, res: int):
    """Inverse of :func:`compact_cells`: expand every (possibly coarse)
    ``cell`` to all its descendant cells at ``res``. Fan-out per row is
    4^(res - r) (r = the row's own resolution, read from the id's high
    bits with exact integer division — the ids exceed 2^53 so float
    division would corrupt them); one Generate, all arithmetic in
    whole-stage codegen, and NO shuffle: compact_cells output is pairwise
    disjoint, so children are unique by construction (overlapping input
    cells give duplicate children). A row finer than ``res`` raises at
    execution (a negative shift would otherwise silently emit garbage —
    Java masks shift counts to the low 6 bits)."""
    assert 0 <= res <= MAX_RES
    r = F.expr(f"cell div {RES_BITS_SHIFT}")
    rem = F.col("cell") - r * F.lit(RES_BITS_SHIFT)
    cx = F.expr(f"(cell % {RES_BITS_SHIFT}) div {XY_SHIFT}")
    cy = rem % F.lit(XY_SHIFT)
    s = F.when(
        r <= F.lit(res),
        F.expr(
            f"shiftleft(1L, cast({res} - cell div {RES_BITS_SHIFT} as int))"
        ),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"uncompact_cells: input cell finer than res={res}: "),
                F.col("cell").cast("string"),
            )
        )
    )
    df = cells_df.select(
        (cx * s).alias("_bx"),
        (cy * s).alias("_by"),
        s.alias("_s"),
        F.explode(F.sequence(F.lit(0), s * s - 1)).alias("_i"),
    )
    child = (
        F.lit(res * RES_BITS_SHIFT)
        + (F.col("_bx") + F.expr("_i div _s")) * F.lit(XY_SHIFT)
        + (F.col("_by") + F.col("_i") % F.col("_s"))
    )
    return df.select(child.cast("long").alias("cell"))


def _parent_sql(cell_expr: str, r: int) -> str:
    """ANSI-SQL mirror of cell_prefix(cell, r, r-1) (DuckDB `//` = exact
    bigint floor division; same truncation the Column form applies)."""
    rem = f"({cell_expr} - {r * RES_BITS_SHIFT})"
    cx = f"({rem} // {XY_SHIFT})"
    cy = f"({rem} % {XY_SHIFT})"
    return (
        f"(cast({(r - 1) * RES_BITS_SHIFT} as bigint)"
        f" + ({cx} // 2) * {XY_SHIFT} + ({cy} // 2))"
    )


def compact_cells_sql(base_select: str, res: int, res_min: int) -> str:
    """The same compaction as a chain of K = res - res_min CTE levels
    (group by parent, HAVING count = 4 promotes) — DuckDB-runnable so the
    driver oracle recomputes compaction independently of Spark.
    ``base_select`` must yield a single ``cell`` column at ``res``."""
    assert 0 <= res_min <= res <= MAX_RES
    parts = [f"lvl{res} as (select distinct cell from ({base_select}))"]
    finals = []
    for r in range(res, res_min, -1):
        parts.append(
            f"tag{r} as (select cell, {_parent_sql('cell', r)} as parent"
            f" from lvl{r})"
        )
        parts.append(
            f"prom{r} as (select parent from tag{r}"
            f" group by parent having count(*) = 4)"
        )
        parts.append(
            f"keep{r} as (select cell from tag{r}"
            f" where parent not in (select parent from prom{r}))"
        )
        parts.append(f"lvl{r - 1} as (select parent as cell from prom{r})")
        finals.append(f"select cell from keep{r}")
    finals.append(f"select cell from lvl{res_min}")
    return "with " + ",\n".join(parts) + "\n" + " union all ".join(finals)


def compact_cells_np(ids: np.ndarray, res: int, res_min: int) -> np.ndarray:
    """Driver-side :func:`compact_cells` (same promotion rule, plain
    Python sets) for compacting the *small* dimension side — e.g. a
    polygon cover's interior cells before they are broadcast."""
    assert 0 <= res_min <= res <= MAX_RES
    cur = {(int((c % RES_BITS_SHIFT) // XY_SHIFT), int(c % XY_SHIFT)) for c in ids}
    out: list[int] = []
    for r in range(res, res_min, -1):
        groups: dict = {}
        for x, y in cur:
            groups.setdefault((x // 2, y // 2), []).append((x, y))
        nxt = set()
        for p, kids in groups.items():
            if len(kids) == 4:
                nxt.add(p)
            else:
                out.extend(r * RES_BITS_SHIFT + x * XY_SHIFT + y for x, y in kids)
        cur = nxt
    out.extend(res_min * RES_BITS_SHIFT + x * XY_SHIFT + y for x, y in cur)
    return np.asarray(sorted(out), dtype=np.int64)
