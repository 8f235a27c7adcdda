"""k-complexity: Voronoi S0 approximation → weak-dual sequence, distributed
per block.

Reference lifecycle (SURVEY.md §3.2, midway/midway_complexity.py +
prclz/complexity.py): spatial-join buildings→blocks, collect centroids per
block, then per block in a joblib process: Voronoi-decompose the block on
the centroids, clip cells to the block, build the planar graph S0, and
iterate weak duals until empty; k = sequence length - 1.

S0 is built from ``parcel.block_cells``, the cells the parcels are made
of. In the pipeline the complexity table is a filter sink of
``reblock_all``, whose per-block pass computes each block's cells once;
``k_complexity`` is the standalone cogroup-by-block operator.

Fidelity pins (SURVEY.md §7.3 step 5): boundary-anchor filter
(complexity.py:25 — anchor not in block exterior coords, len(vs) > 2),
centroid near-zero-area fallback (topology.py:261-265), and the
production sequence-termination variant ``get_weak_dual_sequence``
(complexity.py:52-60, loop while nodes > 0).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import geom
from ..functions.graphops import PlanarGraph
from .parcel import _cogroup_by_block, block_cells


def s0_from_cells(
    block_ring: np.ndarray,
    centroids: list[tuple[float, float]],
    pieces: list[list[np.ndarray]],
) -> PlanarGraph:
    """get_s0_approximation (prclz/complexity.py:11-40) from the
    centroids' clipped cells (``parcel.block_cells``): boundary anchors
    dropped (complexity.py:25), pieces snapped so adjacent cells'
    independently-computed shared vertices coincide and the mesh
    connects."""
    boundary_set = {(float(x), float(y)) for x, y in np.asarray(block_ring, float)}
    return PlanarGraph.from_polygons(
        [
            geom.snap_ring(p)
            for c, ps in zip(centroids, pieces)
            if (float(c[0]), float(c[1])) not in boundary_set
            for p in ps
        ]
    )


def s0_from_block(block_ring: np.ndarray, centroids: list[tuple[float, float]]) -> PlanarGraph:
    """S0: the centroids' Voronoi cells clipped to the block → planar
    graph of cell boundaries."""
    return s0_from_cells(block_ring, centroids, block_cells(block_ring, centroids)[1])


def block_complexity(block_ring: np.ndarray, centroids: list[tuple[float, float]]) -> int:
    """calculate_complexity (midway/midway_complexity.py:32-37):
    k = len(weak-dual sequence) - 1 (0 without centroids)."""
    return s0_from_block(block_ring, centroids).weak_dual_sequence_length()


COMPLEXITY_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.StringType()),
        T.StructField("complexity", T.IntegerType()),
        T.StructField("centroid_count", T.IntegerType()),
    ]
)


def k_complexity(assigned_points: DataFrame, blocks: DataFrame) -> DataFrame:
    """Distributed k-complexity.

    ``assigned_points``: (block_id, lon, lat) — output of
    operators.assign. ``blocks``: (block_id, geometry ring).
    Output: (block_id, complexity, centroid_count) —
    FIXTURES.md §6 contract (geometry/centroids re-joinable from inputs);
    a block without points gets k = 0, a kernel fault k = -1.

    Uses cogrouped applyInPandas so block geometry rides next to its points
    without replicating the ring onto every point row, hash-partitioned
    2x default parallelism ways (see parcel._cogroup_by_block)."""

    def kernel(pts_pdf, bid, ring, _types) -> list[dict]:
        cent = list(zip(pts_pdf["lon"].to_numpy(), pts_pdf["lat"].to_numpy()))
        try:
            k = block_complexity(ring, cent)
        except Exception:
            # kernel-level fault isolation: never fail the stage
            # (midway_blocks.py:45-48 error-file analog, SURVEY.md §4)
            k = -1
        return [{"block_id": bid, "complexity": k, "centroid_count": len(cent)}]

    return _cogroup_by_block(
        assigned_points, ["block_id", "lon", "lat"], blocks, kernel,
        COMPLEXITY_SCHEMA,
    )
