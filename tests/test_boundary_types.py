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
    The points are a 4×4 grid, so the central 2×2 parcels do not touch
    the block boundary and stay terminals after reblock drops the
    boundary parcels' points."""
    from prclz_spark.operators import parcel, reblock

    ticks = [0.125, 0.375, 0.625, 0.875]
    pts_pdf = pd.DataFrame(
        {
            "block_id": ["b0"] * 16,
            "image_id": [f"t{i:02d}" for i in range(16)],
            "lon": [x for _ in ticks for x in ticks],
            "lat": [y for y in ticks for _ in ticks],
        }
    )
    assigned = spark.createDataFrame(pts_pdf)
    typed_blocks = boundary_types_for_blocks(
        _blocks(spark, [BLOCK]), LINES, res=8, threshold=0.1
    )
    parcels = parcel.parcelize(assigned, typed_blocks.select("block_id", "geometry"))
    edges = reblock.reblock(parcels, assigned, typed_blocks, emit="edges").toPandas()
    assert len(edges) > 0
    existing = edges[edges.edge_type == "existing"]
    # waterway top edge (y=1) carries weight 1e5: never free/existing
    on_top = (np.abs(existing.ay - 1.0) < 1e-9) & (np.abs(existing.by - 1.0) < 1e-9)
    assert not on_top.any()
    # control: all-highway lines make the top boundary existing again
    hw = LINES.assign(feature_type="highway")
    ctl_blocks = boundary_types_for_blocks(
        _blocks(spark, [BLOCK]), hw, res=8, threshold=0.1
    )
    ctl = reblock.reblock(parcels, assigned, ctl_blocks, emit="edges").toPandas()
    ctl_exist = ctl[ctl.edge_type == "existing"]
    assert len(ctl_exist) > 0


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
