"""boundary_types producer: blocks + typed lines → per-boundary-segment
feature types → reblock stage 4 (the wiring VERDICT r2 flagged missing).
Reference semantics: nearest-line classification with THRESHOLD=1 →
'gadm_boundary' fallback and the mixed-endpoint combine rule
(/root/reference/reblock/i_topology_utils.py:33-35, 281-329)."""

import numpy as np
import pandas as pd
import pytest

from prclz_spark.operators.rangejoin import boundary_types_for_blocks

BLOCK = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]
FAR_BLOCK = [[5.0, 0.0], [6.0, 0.0], [6.0, 1.0], [5.0, 1.0]]
LINES = pd.DataFrame(
    [
        {"seg_id": 0, "ax": 0.0, "ay": 0.0, "bx": 1.0, "by": 0.0,
         "feature_type": "highway"},    # bottom
        {"seg_id": 1, "ax": 1.0, "ay": 1.0, "bx": 0.0, "by": 1.0,
         "feature_type": "waterway"},   # top
        {"seg_id": 2, "ax": 0.0, "ay": 0.0, "bx": 0.0, "by": 1.0,
         "feature_type": "waterway"},   # left
    ]
)


def _blocks(spark, rings):
    return spark.createDataFrame(
        pd.DataFrame(
            {"block_id": [f"b{i}" for i in range(len(rings))], "geometry": rings}
        )
    )


def test_boundary_types_producer(spark):
    out = boundary_types_for_blocks(
        _blocks(spark, [BLOCK, FAR_BLOCK]), LINES, res=8, threshold=0.1
    ).toPandas().set_index("block_id")
    # v0 ties s0/s2 at d=0 -> lowest seg_id wins -> highway;
    # combine: equal -> type, mixed-with-highway -> highway
    assert list(out.loc["b0", "boundary_types"]) == [
        "highway", "highway", "waterway", "highway",
    ]
    # every vertex of the far block is >0.1 from any line -> gadm fallback
    assert list(out.loc["b1", "boundary_types"]) == ["gadm_boundary"] * 4


def test_boundary_types_closed_ring_alignment(spark):
    closed = BLOCK + [BLOCK[0]]  # closing vertex must be dropped, not typed
    out = boundary_types_for_blocks(
        _blocks(spark, [closed]), LINES, res=8, threshold=0.1
    ).toPandas()
    assert list(out["boundary_types"].iloc[0]) == [
        "highway", "highway", "waterway", "highway",
    ]


def test_boundary_types_feed_reblock(spark):
    """End-to-end stage-4 wiring: producer output on the blocks frame makes
    the Steiner tree route around the derived waterway (top) boundary.
    The points are a 4×4 grid whose inner rows sit near the top, so the
    central parcels (the terminals left after reblock drops the boundary
    parcels' points) are cheapest to reach through the top boundary: the
    all-highway control runs its tree along it, the typed run does not."""
    from prclz_spark.operators import parcel, reblock

    xs = [0.125, 0.375, 0.625, 0.875]
    ys = [0.1, 0.75, 0.85, 0.95]
    pts_pdf = pd.DataFrame(
        {
            "block_id": ["b0"] * 16,
            "image_id": [f"t{i:02d}" for i in range(16)],
            "lon": [x for _ in ys for x in xs],
            "lat": [y for y in ys for _ in xs],
        }
    )
    assigned = spark.createDataFrame(pts_pdf)

    def steiner_edges(lines):
        blocks = boundary_types_for_blocks(
            _blocks(spark, [BLOCK]), lines, res=8, threshold=0.1
        )
        parcels = parcel.parcelize(assigned, blocks.select("block_id", "geometry"))
        edges = reblock.reblock(parcels, assigned, blocks, emit="edges").toPandas()
        on_top = (np.abs(edges.ay - 1.0) < 1e-9) & (np.abs(edges.by - 1.0) < 1e-9)
        rows = edges[["ax", "ay", "bx", "by", "edge_type"]].round(9)
        return set(map(tuple, rows.values.tolist())), edges[on_top].edge_type

    typed, typed_top = steiner_edges(LINES)
    ctl, ctl_top = steiner_edges(LINES.assign(feature_type="highway"))
    assert typed and ctl
    # waterway top edge (y=1) carries weight 1e5: never existing
    assert not (typed_top == "existing").any()
    # control: all-highway lines make the top boundary the cheap route
    assert (ctl_top == "existing").any()
    assert typed != ctl


def test_boundary_types_empty_lines(spark):
    """No line features at all: every segment types as the reference's
    gadm_boundary fallback instead of crashing on a column-less cover."""
    out = boundary_types_for_blocks(
        _blocks(spark, [BLOCK, BLOCK + [BLOCK[0]]]),
        LINES.iloc[0:0],
        res=8,
        threshold=0.1,
    ).toPandas()
    for bt in out["boundary_types"]:
        assert list(bt) == ["gadm_boundary"] * 4
