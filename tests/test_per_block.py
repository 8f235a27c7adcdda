"""The per-block pass of pipeline stages 2-4 (reblock.reblock_all /
reblock.block_rows): each of its five row kinds equals the standalone
operator (k_complexity, parcelize, reblock) on the same inputs, every
product keeps its own fault isolation, and the output does not depend on
the order points arrive in."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from prclz_spark import contract
from prclz_spark.operators import complexity, parcel, reblock
from prclz_spark.sources import synth
from conftest import SF_DIR
from test_nonconvex import SEED_A, SEED_B, U_BLOCK

SQUARE = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])


def _canon(sdf):
    """Sorted pandas frame of string-cast columns, minus wall_ms (the
    kernel's own timing, the one nondeterministic column)."""
    cols = sorted(c for c in sdf.columns if c != "wall_ms")
    pdf = sdf.select(*[F.col(c).cast("string").alias(c) for c in cols]).toPandas()
    return pdf.sort_values(cols).reset_index(drop=True)


def _assert_kinds_match_operators(assigned, blocks):
    fused = reblock.reblock_all(assigned, blocks).cache()
    parcels = parcel.parcelize(assigned, blocks)
    want = {
        "complexity": complexity.k_complexity(assigned, blocks),
        "parcel": parcels,
    }
    for emit, kind in (("summary", "summary"), ("edges", "edge"), ("terminals", "terminal")):
        want[kind] = reblock.reblock(parcels, assigned, blocks, emit=emit)
    got_kinds = {r["kind"] for r in fused.select("kind").distinct().collect()}
    assert got_kinds <= set(want)
    for kind, op in want.items():
        got = fused.filter(F.col("kind") == kind).select(*op.columns)
        pd.testing.assert_frame_equal(_canon(got), _canon(op), obj=kind)
    fused.unpersist()
    return want


def _shapes_fixture(spark):
    """Four blocks, one edge case each: the non-convex U block (a cell
    split into a '#k' piece), a square with a point ON a ring vertex (the
    boundary-anchor filter), one with two points at identical coordinates
    (the duplicate perturbation) and one with no points."""
    def sq(dx):
        return (SQUARE + [dx, 0.0]).tolist()

    blocks = spark.createDataFrame(
        [("u", U_BLOCK.tolist()), ("v", sq(4.0)), ("d", sq(6.0)), ("e", sq(8.0))],
        synth.BLOCKS_DDL,
    )
    rows = [
        ("u", "A", *SEED_A), ("u", "B", *SEED_B),
        ("v", "v0", 4.0, 0.0), ("v", "v1", 4.3, 0.4), ("v", "v2", 4.7, 0.6),
        ("v", "v3", 4.5, 0.2), ("v", "v4", 4.2, 0.8),
        ("d", "d0", 6.5, 0.5), ("d", "d1", 6.5, 0.5), ("d", "d2", 6.2, 0.3),
        ("d", "d3", 6.8, 0.7), ("d", "d4", 6.3, 0.8),
    ]
    pts = spark.createDataFrame(rows, "block_id string, image_id string, lon double, lat double")
    return pts, blocks


@pytest.mark.slow
def test_fused_kinds_match_operators_contract_images(spark):
    """The contract's sf0.001 images assigned to the GRID_G grid."""
    assigned = contract._assigned_img_cached(spark, SF_DIR)
    blocks = spark.createDataFrame(synth.grid_blocks(contract.GRID_G), synth.BLOCKS_DDL)
    want = _assert_kinds_match_operators(assigned, blocks)
    assert want["edge"].count() > 0 and want["terminal"].count() > 0


def test_fused_kinds_match_operators_edge_cases(spark):
    pts, blocks = _shapes_fixture(spark)
    want = _assert_kinds_match_operators(pts, blocks)
    pids = {r["parcel_point_id"] for r in want["parcel"].collect()}
    assert pids >= {"A", "B", "v0", "d0", "d1"}
    assert any("#" in p for p in pids)  # the U block's detached piece
    k = {r["block_id"]: (r["complexity"], r["centroid_count"])
         for r in want["complexity"].collect()}
    assert k["e"] == (0, 0)
    assert min(c for c, _ in k.values()) >= 0


def test_fused_output_independent_of_arrival_order(spark):
    """The same points in ascending and descending id order, through one
    partition, give the same rows: the duplicate pair's perturbation
    depends on point order, so this pins the kernel's own sort."""
    rng = np.random.default_rng(5)
    xy = rng.uniform(0.05, 0.95, (12, 2))
    xy[7] = xy[3]  # p03 and p07 share coordinates
    pdf = pd.DataFrame({
        "block_id": "b", "image_id": [f"p{i:02d}" for i in range(12)],
        "lon": xy[:, 0], "lat": xy[:, 1],
    })
    blocks = spark.createDataFrame([("b", SQUARE.tolist())], synth.BLOCKS_DDL)
    outs = [
        _canon(reblock.reblock_all(
            spark.createDataFrame(pdf.sort_values("image_id", ascending=asc)).coalesce(1),
            blocks,
        ))
        for asc in (True, False)
    ]
    pd.testing.assert_frame_equal(outs[0], outs[1])
    assert (outs[0]["kind"] == "parcel").sum() == 12
    # without the sort the order would show: the perturbed twin's parcel
    # changes hands when the pair's arrival order flips
    fwd = dict(parcel.block_parcels(SQUARE, list(pdf.image_id), xy))
    rev = dict(parcel.block_parcels(SQUARE, list(pdf.image_id[::-1]), xy[::-1]))
    assert not np.array_equal(fwd["p03"], rev["p03"])


def _block_rows_by_kind(ids, xy, ring=SQUARE):
    out = {}
    for r in reblock.block_rows("b", ring, ids, xy):
        out.setdefault(r["kind"], []).append(r)
    return out


def test_block_rows_reblock_fault_keeps_other_products(monkeypatch):
    rng = np.random.default_rng(3)
    xy = rng.uniform(0.05, 0.95, (15, 2))
    ids = [f"p{i}" for i in range(15)]
    clean = _block_rows_by_kind(ids, xy)
    assert clean["summary"][0]["status"] == 0

    def boom(*a, **k):
        raise RuntimeError("kernel fault")

    monkeypatch.setattr(reblock, "reblock_kernel", boom)
    got = _block_rows_by_kind(ids, xy)
    assert got["complexity"] == clean["complexity"]
    assert got["parcel"] == clean["parcel"] and len(got["parcel"]) == 15
    assert [r["status"] for r in got["summary"]] == [1]
    assert "edge" not in got and "terminal" not in got
    # non-parcel rows carry nulls, never NaN, in the array-typed geometry
    assert all(r["geometry"] is None for r in got["summary"] + got["complexity"])


def test_block_rows_cell_product_faults_are_isolated(monkeypatch):
    rng = np.random.default_rng(4)
    xy = rng.uniform(0.05, 0.95, (10, 2))
    ids = [f"p{i}" for i in range(10)]
    clean = _block_rows_by_kind(ids, xy)

    def boom(*a, **k):
        raise RuntimeError("fault")

    with monkeypatch.context() as m:
        m.setattr(reblock, "s0_from_cells", boom)
        got = _block_rows_by_kind(ids, xy)
    assert [r["complexity"] for r in got["complexity"]] == [-1]
    assert got["parcel"] == clean["parcel"]
    assert got["summary"][0]["status"] == clean["summary"][0]["status"]

    with monkeypatch.context() as m:
        m.setattr(reblock, "parcels_from_cells", boom)
        got = _block_rows_by_kind(ids, xy)
    assert got["complexity"] == clean["complexity"]
    assert "parcel" not in got
    assert len(got["summary"]) == 1  # reblock still runs on the bare points

    empty = _block_rows_by_kind([], np.zeros((0, 2)))
    assert list(empty) == ["complexity"]
    assert (empty["complexity"][0]["complexity"], empty["complexity"][0]["centroid_count"]) == (0, 0)
