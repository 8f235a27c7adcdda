"""Steiner reblocking: per block, connect every point (building analog)
to the existing road network through the parcel mesh.

Reference entry point 3 (/root/reference/reblock/i_reblock.py:231-323):
per block, parcel MULTILINESTRING → igraph; buildings whose parcel touches
the block boundary are dropped from the terminal set — they already abut
an existing road (i_reblock.py:168-210); block-boundary edges are
relabeled per boundary segment via a shortest-path walk and weighted by
feature type — highway 0, waterway/natural 1e5
(i_topology_utils.py:33-35, 197-252); each surviving building centroid
snaps onto the nearest parcel edge as a terminal (J10 kNN insert,
i_topology.py:377-434); keep the largest connected component
(i_reblock.py:41-54); contract degree-2 chains (i_topology.py:506-556),
compute the 2-2/t Steiner approximation over the terminals
(steiner_tree.py:69-95), and re-expand contracted chains into the
original segments (i_topology.py:347-365); split the result into
existing (weight 0) vs new roads (i_topology.py:469-486); persist
per-block timing/size metrics (i_reblock.py:152-158).

Spark shape (SURVEY.md §3.3): one cogroup of points and blocks by block.
The pipeline's ``reblock_all`` runs stages 2-4 in it (``block_rows``:
cells once → complexity, parcels, then reblock on the in-memory parcels);
``reblock`` takes a parcels table instead. Every block is an independent
task and a kernel-level try/except emits a status row instead of failing
the stage (the reference enforces a per-block time budget).
"""

from __future__ import annotations

import contextlib
import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geom
from ..functions.graphops import PlanarGraph
from .complexity import COMPLEXITY_SCHEMA, s0_from_cells
from .parcel import (
    PARCELS_SCHEMA,
    _canonical_points,
    _cogroup_by_block,
    _parcel_row,
    block_cells,
    parcels_from_cells,
)

BOUNDARY_TOL = 1e-9
# reference feature-type weights (i_topology_utils.py:33-35)
WATERWAY_WEIGHT = 1e5
NATURAL_WEIGHT = 1e5
BARRIER_TYPES = ("waterway", "natural")

REBLOCK_EDGES_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.StringType()),
        T.StructField("edge_type", T.StringType()),  # 'existing' | 'new'
        T.StructField("ax", T.DoubleType()),
        T.StructField("ay", T.DoubleType()),
        T.StructField("bx", T.DoubleType()),
        T.StructField("by", T.DoubleType()),
        T.StructField("length", T.DoubleType()),
    ]
)

REBLOCK_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.StringType()),
        # 0 ok | 1 error | 2 skipped (fewer than 2 terminals survive)
        # | 3 skipped (MAX_NODES straggler budget hit)
        T.StructField("status", T.IntegerType()),
        T.StructField("n_terminals", T.IntegerType()),
        T.StructField("n_nodes_pre", T.IntegerType()),
        T.StructField("n_edges_pre", T.IntegerType()),
        T.StructField("n_new_edges", T.IntegerType()),
        T.StructField("new_len", T.DoubleType()),
        T.StructField("existing_len", T.DoubleType()),
        T.StructField("wall_ms", T.IntegerType()),
    ]
)


REBLOCK_TERMINALS_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.StringType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
    ]
)

# long format: ONE per-block pass (block_rows) feeds complexity, parcels
# and the three reference sinks (summary, steiner lines, terminal points —
# i_reblock.py:152-165), told apart by ``kind``
REBLOCK_ALL_SCHEMA = T.StructType(
    [T.StructField("kind", T.StringType())]
    + REBLOCK_EDGES_SCHEMA.fields[:]
    + REBLOCK_SUMMARY_SCHEMA.fields[1:]
    + REBLOCK_TERMINALS_SCHEMA.fields[1:]
    + COMPLEXITY_SCHEMA.fields[1:]
    + PARCELS_SCHEMA.fields[1:]
)

MAX_TERMINALS = 400  # straggler budget: the reference bounds per-block work
# with a time threshold + skip (i_reblock.py:259-273, W4); the metric
# closure is O(t² · Dijkstra) so a dense hotspot block (thousands of
# points) must be capped — terminals beyond the cap are subsampled
# deterministically (every k-th by insertion order).
MAX_NODES = 20_000  # a block whose parcel mesh has more nodes is skipped
# with status 3 (the reference's mins_threshold, i_reblock.py:268-273)


def _boundary_segments(block_ring: np.ndarray) -> np.ndarray:
    b = block_ring
    if len(b) >= 2 and np.array_equal(b[0], b[-1]):
        b = b[:-1]
    return np.stack([b, np.roll(b, -1, axis=0)], axis=1)


def _ring_touches_boundary(ring: np.ndarray, bsegs: np.ndarray,
                           tol: float = BOUNDARY_TOL) -> bool:
    """True when any vertex of ``ring`` lies on the block boundary — for
    parcels clipped to the block this is equivalent to a 1-D touch
    (a clipped cell that reaches the boundary has clip vertices on it)."""
    d, _, _ = geom.seg_point_distance(
        np.repeat(bsegs[:, 0, 0], len(ring)), np.repeat(bsegs[:, 0, 1], len(ring)),
        np.repeat(bsegs[:, 1, 0], len(ring)), np.repeat(bsegs[:, 1, 1], len(ring)),
        np.tile(ring[:, 0], len(bsegs)), np.tile(ring[:, 1], len(bsegs)),
    )
    return bool(d.min() <= tol)


def _relabel_boundary_edges(
    g: PlanarGraph,
    block_ring: np.ndarray,
    boundary_types: list[str] | None,
) -> None:
    """update_edge_types (i_topology_utils.py:197-252): for each block
    boundary segment (n0, n1), walk the parcel graph's shortest path
    between the two vertices and relabel those edges by the segment's
    feature type — 'highway' → weight 0 (existing road), waterway/natural
    → 1e5 (barrier), anything else (gadm_boundary) keeps its length
    weight. Missing vertices skip the segment, as in the reference.

    Two-phase like the reference: ALL walks run on the original length
    weights (the reference sets only edge_type in the loop and assigns
    weights after it) — mutating weights mid-loop would let later walks
    detour through already-zeroed sides and miss their own boundary."""
    b = block_ring
    if len(b) >= 2 and np.array_equal(b[0], b[-1]):
        b = b[:-1]
    n = len(b)
    assigned: dict[frozenset, tuple] = {}
    for i in range(n):
        t = boundary_types[i] if boundary_types is not None else "highway"
        n0 = (float(b[i][0]), float(b[i][1]))
        n1 = (float(b[(i + 1) % n][0]), float(b[(i + 1) % n][1]))
        if n0 not in g.adj or n1 not in g.adj:
            continue
        _, path = g.shortest_path(n0, n1)
        for u, v in zip(path, path[1:]):
            # keyed per undirected edge; a later segment's walk over the
            # same edge overwrites its type, like the reference's
            # es[path]['edge_type'] assignment
            assigned[frozenset((u, v))] = (u, v, t)
    for u, v, t in assigned.values():
        if t == "highway":
            g.adj[u][v] = 0.0
            g.adj[v][u] = 0.0
            g.mark_road(u, v)
        elif t in BARRIER_TYPES:
            w = WATERWAY_WEIGHT if t == "waterway" else NATURAL_WEIGHT
            g.adj[u][v] = w
            g.adj[v][u] = w
        # else: gadm_boundary — keep the length weight


def reblock_kernel(
    block_ring: np.ndarray,
    parcel_rings: list[np.ndarray],
    terminals_xy: np.ndarray,
    simplify: bool = True,
    outside_terminal: bool = True,
    terminal_cells: np.ndarray | None = None,
    drop_boundary_parcels: bool = True,
    boundary_types: list[str] | None = None,
) -> tuple[list[tuple[str, tuple, tuple, float]], dict]:
    """One block's Steiner reblocking. Returns (edges, summary): edges as
    (edge_type, a, b, length).

    ``terminal_cells`` pairs each terminal with its parcel (index into
    ``parcel_rings``, -1 = unknown) so the reference's
    drop_buildings_intersecting_block pre-step (i_reblock.py:168-210) can
    exclude points whose parcel touches the block boundary — they already
    abut an existing road. ``boundary_types`` carries one feature type per
    block-boundary segment ('highway' | 'waterway' | 'natural' |
    'gadm_boundary'); default all-highway matches the reference's
    lines_pgraph=None path."""
    t0 = time.time()
    block_ring = geom.snap_ring(block_ring)
    snapped = [geom.snap_ring(r) for r in parcel_rings]
    terminals_xy = np.asarray(terminals_xy, dtype=float).reshape(-1, 2)

    def _skip(n_term: int) -> tuple[list, dict]:
        return [], {
            "_terminals": [], "status": 2, "n_terminals": int(n_term),
            "n_nodes_pre": 0, "n_edges_pre": 0,
            "n_new_edges": 0, "new_len": 0.0, "existing_len": 0.0,
            "wall_ms": int((time.time() - t0) * 1000),
        }

    # guard 1 (i_reblock.py:280-281): a block with <=1 RAW buildings is
    # skipped before any filtering or the dummy terminal
    if len(terminals_xy) <= 1:
        return _skip(len(terminals_xy))

    if (
        drop_boundary_parcels
        and terminal_cells is not None
        and len(snapped) > 0
    ):
        bsegs = _boundary_segments(block_ring)
        touches = np.array(
            [_ring_touches_boundary(r, bsegs) for r in snapped], dtype=bool
        )
        cells = np.asarray(terminal_cells, dtype=int)
        keep = np.array(
            [c < 0 or not touches[c] for c in cells], dtype=bool
        )
        terminals_xy = terminals_xy[keep]

    # guard 2 (i_reblock.py:293-294): re-checked AFTER the boundary-parcel
    # filter WITH the dummy outside terminal already appended — one
    # surviving interior building plus the dummy (len 2) DOES reblock,
    # connecting that building to the outside road network; only a block
    # filtered to zero buildings skips here
    n_with_dummy = len(terminals_xy) + (1 if outside_terminal else 0)
    if n_with_dummy <= 1:
        return _skip(len(terminals_xy))
    if len(terminals_xy) > MAX_TERMINALS:
        step = len(terminals_xy) / MAX_TERMINALS
        idx = (np.arange(MAX_TERMINALS) * step).astype(int)
        terminals_xy = terminals_xy[idx]
    g = PlanarGraph.from_polygons(snapped)
    n_nodes_pre, n_edges_pre = g.number_of_nodes(), len(g.edges())
    if n_nodes_pre > MAX_NODES:
        # per-block work budget (reference mins_threshold, i_reblock.py:
        # 268-273): a pathological block is skipped with a status row, the
        # stage never stalls on one straggler
        return [], {
            "_terminals": [], "status": 3, "n_terminals": 0,
            "n_nodes_pre": n_nodes_pre, "n_edges_pre": n_edges_pre,
            "n_new_edges": 0, "new_len": 0.0, "existing_len": 0.0,
            "wall_ms": int((time.time() - t0) * 1000),
        }

    # edge-type weighting: per-boundary-segment shortest-path relabel
    # (i_topology_utils.py:197-252) with the reference feature weights
    _relabel_boundary_edges(g, block_ring, boundary_types)

    # terminal insertion (J10): snap every point onto its nearest edge in
    # one vectorized batch (the reference passes the dummy outside
    # terminal in the same building list, i_reblock.py:286-294)
    snap_pts = terminals_xy
    if outside_terminal:
        # synthetic 'outside' terminal (i_reblock.py:286-291): connect the
        # proposed roads to the world beyond the block — a point in the
        # min-rotated-rect of the block but outside its hull, snapped onto
        # the nearest mesh edge like any building
        op = geom.outside_point(np.asarray(block_ring, dtype=float))
        snap_pts = np.vstack([terminals_xy, [[float(op[0]), float(op[1])]]])
    g.add_nodes_to_closest_edges(snap_pts, terminal=True)
    g = g.largest_component_subgraph()
    work = g.simplify_degree2() if simplify else g
    n_terminals = sum(1 for t in work.terminal.values() if t)
    # snapped terminal points — the reference's third output file
    # (terminal_df, i_reblock.py:159-165): the post-snap positions on the
    # parcel mesh, canonically ordered
    term_pts = sorted((float(nd[0]), float(nd[1]))
                      for nd, is_t in work.terminal.items() if is_t)
    if n_terminals < 2:
        return [], {
            "_terminals": term_pts, "status": 2, "n_terminals": n_terminals,
            "n_nodes_pre": n_nodes_pre, "n_edges_pre": n_edges_pre,
            "n_new_edges": 0, "new_len": 0.0, "existing_len": 0.0,
            "wall_ms": int((time.time() - t0) * 1000),
        }

    steiner = work.steiner_tree_approx()
    # re-expand contracted chains into original segments with their own
    # weights, so the existing/new split happens per original edge
    segments = work.expand_edges(steiner)
    edges = []
    new_len = existing_len = 0.0
    for u, v, w in segments:
        L = float(np.hypot(u[0] - v[0], u[1] - v[1]))
        if w == 0.0:
            edges.append(("existing", u, v, L))
            existing_len += L
        else:
            edges.append(("new", u, v, L))
            new_len += L
    summary = {
        "_terminals": term_pts, "status": 0, "n_terminals": n_terminals,
        "n_nodes_pre": n_nodes_pre, "n_edges_pre": n_edges_pre,
        "n_new_edges": sum(1 for e in edges if e[0] == "new"),
        "new_len": new_len, "existing_len": existing_len,
        "wall_ms": int((time.time() - t0) * 1000),
    }
    return edges, summary


def _reblock_block(
    block_id: str, block_ring: np.ndarray, parcels: dict[str, np.ndarray],
    points: dict[str, np.ndarray], boundary_types: list[str] | None,
) -> dict[str, list[dict]]:
    """One block's reblock rows per sink kind from parcels and points keyed
    by point id, which pairs each terminal with its parcel; a kernel fault
    gives a status-1 summary. Both enter the kernel in pid string order
    (parcels arrive from a table in any order, "#k" ids included), so
    insertion order, subsampling and tie-breaks do not depend on it."""
    ring_ids = sorted(parcels)
    ring_idx = {pid: i for i, pid in enumerate(ring_ids)}
    pt_ids = sorted(points)
    xy = np.array([points[p] for p in pt_ids], dtype=float).reshape(-1, 2)
    cells = np.array([ring_idx.get(p, -1) for p in pt_ids], dtype=int)
    try:
        edges, summary = reblock_kernel(
            block_ring, [parcels[p] for p in ring_ids], xy, terminal_cells=cells,
            boundary_types=boundary_types,
        )
    except Exception:
        edges, summary = [], {
            "_terminals": [], "status": 1, "n_terminals": 0,
            "n_nodes_pre": 0, "n_edges_pre": 0, "n_new_edges": 0,
            "new_len": 0.0, "existing_len": 0.0, "wall_ms": 0,
        }
    term_pts = summary.pop("_terminals")
    return {
        "summary": [{"block_id": block_id, **summary}],
        "edge": [
            {"block_id": block_id, "edge_type": et, "ax": a[0], "ay": a[1],
             "bx": b_[0], "by": b_[1], "length": L}
            for et, a, b_, L in edges
        ],
        "terminal": [{"block_id": block_id, "x": x, "y": y} for x, y in term_pts],
    }


def reblock(
    parcels: DataFrame,
    assigned_points: DataFrame,
    blocks: DataFrame,
    emit: str = "edges",
) -> DataFrame:
    """Distributed reblocking. ``parcels``: operators.parcel.parcelize
    output; ``assigned_points``: (block_id, image_id, lon, lat);
    ``blocks``: (block_id, geometry[, boundary_types]). ``emit``: 'edges'
    (steiner edge rows), 'summary' (per-block metrics, the reference's
    timing/size columns) or 'terminals' (snapped terminal points — the
    reference's third output file, i_reblock.py:159-165).
    ``boundary_types``, when present on the blocks frame, carries one
    feature type per boundary ring segment and feeds the reference's
    typed edge weighting (produce it with
    rangejoin.boundary_types_for_blocks).

    Implementation: parcels already carry block_id AND the owning point id
    (parcel_point_id), so the kernel inputs co-group on block_id — the
    only shuffle — and terminals pair with their parcels by id inside the
    kernel (no geometric matching). The pipeline's ``reblock_all`` makes
    the same kernel call on the parcels it has just computed in memory."""
    kinds = {"edges": ("edge", REBLOCK_EDGES_SCHEMA),
             "summary": ("summary", REBLOCK_SUMMARY_SCHEMA),
             "terminals": ("terminal", REBLOCK_TERMINALS_SCHEMA)}
    if emit not in kinds:
        raise ValueError(emit)
    kind, schema = kinds[emit]
    # single co-grouped stream: parcel rows carry their flattened ring
    # (>= 3 vertices), point rows one vertex — disambiguated by length in
    # the kernel; both carry the point id so the kernel can pair them
    both = parcels.select(
        "block_id", F.col("parcel_point_id").alias("pid"),
        F.flatten("geometry").alias("geometry"),
    ).unionByName(
        assigned_points.select(
            "block_id",
            F.col("image_id").cast("string").alias("pid"),
            F.array(F.col("lon"), F.col("lat")).alias("geometry"),
        )
    )

    def kernel(rows_pdf, bid, ring, btypes) -> list[dict]:
        if len(rows_pdf) == 0:
            return []
        prings: dict[str, np.ndarray] = {}
        pts: dict[str, np.ndarray] = {}
        for pid, gvals in zip(rows_pdf["pid"], rows_pdf["geometry"]):
            arr = np.asarray(gvals, float).reshape(-1, 2)
            if len(arr) == 1:
                pts[str(pid)] = arr[0]
            else:
                prings[str(pid)] = arr
        return _reblock_block(bid, ring, prings, pts, btypes)[kind]

    # explicit hash partition count: the Steiner kernel is the most
    # CPU-expensive stage in the engine; never let byte-based AQE
    # coalescing underparallelize it (see parcel._cogroup_by_block)
    return _cogroup_by_block(
        both, ["block_id", "pid", "geometry"], blocks, kernel, schema
    )


def block_rows(
    block_id: str, block_ring: np.ndarray, point_ids: list, pts_xy: np.ndarray,
    boundary_types: list[str] | None = None,
) -> list[dict]:
    """One block's ``REBLOCK_ALL_SCHEMA`` rows, points taken in point-id
    order: its cells, computed once (``parcel.block_cells``), give the
    complexity row and the parcel rows, and the in-memory parcels feed the
    reblock kernel as ``reblock`` feeds it from a parcels table. A fault
    costs only its own product (k = -1, no parcel rows, or status 1); a
    block without points gives one complexity row (k = 0) and nothing
    else."""
    ids, xy = _canonical_points(point_ids, pts_xy)
    k, parcels = -1, []  # a fault in the shared cells faults both products
    with contextlib.suppress(Exception):
        pts, pieces = block_cells(block_ring, xy)
        with contextlib.suppress(Exception):
            k = s0_from_cells(block_ring, xy, pieces).weak_dual_sequence_length()
        parcels = parcels_from_cells(ids, pts, pieces)
    out = {
        "complexity": [
            {"block_id": block_id, "complexity": k, "centroid_count": len(ids)}
        ],
        "parcel": [_parcel_row(block_id, pid, ring) for pid, ring in parcels],
    }
    if ids:
        out.update(
            _reblock_block(
                block_id, block_ring, dict(parcels), dict(zip(ids, xy)),
                boundary_types,
            )
        )
    # every key present, so no column of another kind comes out NaN: a
    # NaN in the array-typed geometry column fails the Arrow conversion
    blank = dict.fromkeys(f.name for f in REBLOCK_ALL_SCHEMA.fields)
    return [
        {**blank, **row, "kind": kind} for kind, rows in out.items() for row in rows
    ]


def reblock_all(assigned_points: DataFrame, blocks: DataFrame) -> DataFrame:
    """Complexity, parcels and reblock of every block in ONE cogroup pass
    (``block_rows``): ``REBLOCK_ALL_SCHEMA`` rows whose ``kind`` —
    complexity, parcel, summary, edge or terminal — filtered to its own
    schema's columns equals k_complexity, parcelize and reblock(emit=...)
    on the same (block_id, image_id, lon, lat) points and (block_id,
    geometry[, boundary_types]) blocks."""

    def kernel(pts_pdf, bid, ring, btypes) -> list[dict]:
        xy = pts_pdf[["lon", "lat"]].to_numpy(float)
        return block_rows(bid, ring, pts_pdf["image_id"].tolist(), xy, btypes)

    return _cogroup_by_block(
        assigned_points, ["block_id", "image_id", "lon", "lat"], blocks, kernel,
        REBLOCK_ALL_SCHEMA,
    )
