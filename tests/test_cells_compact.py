"""Cover compaction (H3 compact_cells/uncompact_cells analog).

Three independent pins: an aligned 2^k-square closed form (compacts to
exactly one parent cell), an exact round-trip (uncompact(compact(S)) == S
for arbitrary sets), and a brute-force pure-Python compaction oracle on a
mixed aligned/ragged fixture (the same shape the SQL oracle mirrors for
the driver's spatial_cell_compact row).
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prclz_spark.functions import cells  # noqa: E402

RBS = cells.RES_BITS_SHIFT
XY = cells.XY_SHIFT


def _mk(spark, ids):
    return spark.createDataFrame([(int(c),) for c in ids], "cell long")


def _ids(res, xy_pairs):
    return [res * RBS + x * XY + y for x, y in xy_pairs]


def _compact_py(ids, res, res_min):
    """Brute-force reference: dict-of-sets per level."""
    cur = set((((c % RBS) // XY), c % XY) for c in ids)
    out = []
    for r in range(res, res_min, -1):
        groups = {}
        for x, y in cur:
            groups.setdefault((x // 2, y // 2), set()).add((x, y))
        nxt = set()
        for p, kids in groups.items():
            if len(kids) == 4:
                nxt.add(p)
            else:
                out.extend(r * RBS + x * XY + y for x, y in kids)
        cur = nxt
    out.extend(res_min * RBS + x * XY + y for x, y in cur)
    return sorted(out)


def test_aligned_square_compacts_to_one_cell(spark):
    # a 4x4 block at res 10 whose corner is 4-aligned == one res-8 cell
    res, k = 10, 2
    x0, y0 = 8, 12  # multiples of 4
    pairs = [(x0 + i, y0 + j) for i in range(4) for j in range(4)]
    out = sorted(
        r.cell
        for r in cells.compact_cells(_mk(spark, _ids(res, pairs)), res, res - k)
        .collect()
    )
    assert out == [(res - k) * RBS + (x0 // 2 // 2) * XY + (y0 // 2 // 2)]


def test_unaligned_square_does_not_fully_promote(spark):
    # same 4x4 block shifted off alignment: its sibling groups straddle
    # parent boundaries, so compaction must NOT collapse it to one cell
    res, k = 10, 2
    pairs = [(9 + i, 13 + j) for i in range(4) for j in range(4)]
    ids = _ids(res, pairs)
    out = sorted(
        r.cell
        for r in cells.compact_cells(_mk(spark, ids), res, res - k).collect()
    )
    assert out == _compact_py(ids, res, res - k)
    assert len(out) > 1


def test_round_trip_exact(spark):
    # arbitrary ragged set: uncompact(compact(S)) == S exactly
    res, res_min = 12, 9
    rng = np.random.default_rng(7)
    xs = rng.integers(64, 64 + 24, size=400)
    ys = rng.integers(128, 128 + 24, size=400)
    ids = sorted(set(_ids(res, zip(xs.tolist(), ys.tolist()))))
    compacted = cells.compact_cells(_mk(spark, ids), res, res_min)
    back = sorted(
        r.cell for r in cells.uncompact_cells(compacted, res).collect()
    )
    assert back == ids


def test_mixed_fixture_matches_python_oracle(spark):
    # aligned 8x8 block + ragged spray, multiple promotion depths
    res, res_min = 11, 7
    pairs = set((16 + i, 32 + j) for i in range(8) for j in range(8))
    rng = np.random.default_rng(3)
    pairs |= set(
        zip(
            rng.integers(0, 40, size=200).tolist(),
            rng.integers(0, 40, size=200).tolist(),
        )
    )
    ids = sorted(set(_ids(res, pairs)))
    out = sorted(
        r.cell
        for r in cells.compact_cells(_mk(spark, ids), res, res_min).collect()
    )
    assert out == _compact_py(ids, res, res_min)
    # disjointness: no output cell is an ancestor of another output cell
    outset = set(out)
    for c in out:
        r = c // RBS
        x, y = (c % RBS) // XY, c % XY
        for rr in range(int(r) - 1, res_min - 1, -1):
            x, y = x // 2, y // 2
            assert rr * RBS + x * XY + y not in outset


def test_compact_sql_mirror_matches_engine(spark):
    import duckdb

    res, res_min = 11, 8
    rng = np.random.default_rng(11)
    pairs = set(
        zip(
            rng.integers(0, 32, size=300).tolist(),
            rng.integers(0, 32, size=300).tolist(),
        )
    )
    pairs |= set((8 + i, 8 + j) for i in range(4) for j in range(4))
    ids = sorted(set(_ids(res, pairs)))
    eng = sorted(
        r.cell
        for r in cells.compact_cells(_mk(spark, ids), res, res_min).collect()
    )
    con = duckdb.connect()
    con.execute("create table base (cell bigint)")
    con.executemany("insert into base values (?)", [(int(c),) for c in ids])
    sql = cells.compact_cells_sql("select cell from base", res, res_min)
    ora = sorted(v[0] for v in con.execute(sql).fetchall())
    assert eng == ora


def test_compact_assign_matches_classic(spark):
    """assign_points_to_blocks_compact is row-identical to the classic
    single-cell join on the same cover, and the compacted cover is
    materially smaller (the broadcast-budget motivation)."""
    from pyspark.sql import functions as F

    from prclz_spark.operators import assign
    from prclz_spark.sources import synth

    res, res_min = 17, 13
    cover = assign.block_cover_pdf(synth.grid_blocks(8), res)
    comp = assign.compact_cover_pdf(cover, res, res_min)
    # measured: 30,125 -> 10,868 rows (interiors 23,532 -> 4,275; the
    # residual is the boundary sliver, which must stay at fine res)
    assert len(comp) < 0.4 * len(cover)
    assert comp.interior.sum() < 0.25 * cover.interior.sum()
    # boundary rows pass through untouched
    assert (comp[~comp.interior].cell.sort_values().to_numpy()
            == cover[~cover.interior].cell.sort_values().to_numpy()).all()

    base = spark.range(0, 20_000, numPartitions=8)
    lon, lat = synth.lonlat_cols(F.col("id"))
    pts = base.select(F.col("id").alias("image_id"), lon.alias("lon"), lat.alias("lat"))
    classic = assign.assign_points_to_blocks(pts, cover, res)
    compact = assign.assign_points_to_blocks_compact(pts, cover, res, res_min)
    a = sorted((r.image_id, r.block_id) for r in classic.select("image_id", "block_id").collect())
    b = sorted((r.image_id, r.block_id) for r in compact.select("image_id", "block_id").collect())
    assert a == b and len(a) == 20_000


def test_compact_assign_plan_shape(spark):
    """One Generate (the ancestor explode), the cover join stays
    broadcast, no Python eval (the boundary ray cast is a JVM filter), no
    cell Exchange — the compact path must not smuggle in a shuffle."""
    from pyspark.sql import functions as F

    from prclz_spark.operators import assign
    from prclz_spark.sources import synth

    cover = assign.block_cover_pdf(synth.grid_blocks(8), 15)
    base = spark.range(0, 1000, numPartitions=4)
    lon, lat = synth.lonlat_cols(F.col("id"))
    pts = base.select(F.col("id").alias("image_id"), lon.alias("lon"), lat.alias("lat"))
    out = assign.assign_points_to_blocks_compact(pts, cover, 15, 11)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert p.count("Generate") == 1  # one scan of the points, no union
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning(cell" not in p


def test_uncompact_rejects_finer_input(spark):
    # a res-13 cell uncompacted "to" res 12 must raise, not emit garbage
    ids = _ids(13, [(5, 5)])
    with pytest.raises(Exception, match="finer than res"):
        cells.uncompact_cells(_mk(spark, ids), 12).collect()


def test_compact_cover_tolerates_unclassified(spark):
    from prclz_spark.operators import assign
    from prclz_spark.sources import synth

    cover = assign.block_cover_pdf(synth.grid_blocks(4), 14).drop(
        columns=["interior"]
    )
    comp = assign.compact_cover_pdf(cover, 14, 11)
    # nothing is interior, so nothing compacts — pass-through
    assert len(comp) == len(cover)
    assert not comp.interior.any()


def test_cell_prefix_np_matches_column(spark):
    """The driver-side prefix (the prefix cell of each cell's centre)
    equals the cell_prefix Column on random cells at several (res,
    prefix_res) pairs, the grid's corner cells included."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    pairs = [(17, 6), (15, 15), (26, 0), (26, 20), (12, 3), (1, 0)]
    rows = []
    for i, (res, _) in enumerate(pairs):
        n = 1 << res
        xy = np.vstack([rng.integers(0, n, (300, 2)), [[0, 0], [n - 1, n - 1]]])
        rows += [(i, int(c)) for c in _ids(res, xy.tolist())]
    got = (
        spark.createDataFrame(rows, "pair int, cell long")
        .select("pair", "cell", F.coalesce(*[
            F.when(F.col("pair") == i, cells.cell_prefix(F.col("cell"), r, p))
            for i, (r, p) in enumerate(pairs)
        ]).alias("prefix"))
        .toPandas()
    )
    assert len(got) == len(rows)
    for i, (_, p) in enumerate(pairs):
        sub = got[got.pair == i]
        want = cells.cell_prefix_np(sub.cell.to_numpy(), p)
        assert (want == sub.prefix.to_numpy()).all(), (i, p)
