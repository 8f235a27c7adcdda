"""Checkpoint/lineage/resume tests (north_rule: "resumable from checkpoint
with per-partition lineage + metrics").

Reference analog: CheckPointer.completed anti-join
(/root/reference/reblock/i_reblock.py:103-165, 254-255) and
skip-if-output-exists (midway/midway_blocks.py:31).
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from prclz_spark import pipeline
from prclz_spark.sources.tablestore import TableStore
from spark_jobs import jobs_in_group


def test_tablestore_commit_read_lineage(spark, tmp_path):
    store = TableStore(str(tmp_path))
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).alias("bucket")
    )
    sid = store.commit(df, "t", "bucket", stage="s1")
    assert sid == 1
    back = store.read(spark, "t")
    assert back.count() == 100
    # partition column is restored from the directory layout
    assert set(back.columns) == {"id", "bucket"}
    lin = store.read_lineage("t")
    assert len(lin) == 4
    assert {r["partition_id"] for r in lin} == {"0", "1", "2", "3"}
    assert all(r["rows_out"] == 25 for r in lin)
    assert all(r["wall_ms"] >= 0 for r in lin)


def test_tablestore_append_snapshot_and_time_travel(spark, tmp_path):
    store = TableStore(str(tmp_path))
    d1 = spark.range(0, 10).select(F.col("id"), F.lit("a").alias("p"))
    d2 = spark.range(10, 30).select(F.col("id"), F.lit("b").alias("p"))
    s1 = store.commit(d1, "t", "p")
    s2 = store.commit(d2, "t", "p")
    assert (s1, s2) == (1, 2)
    assert store.read(spark, "t", snapshot_id=1).count() == 10  # time travel
    assert store.read(spark, "t").count() == 30
    assert store.completed_partitions("t") == {"a", "b"}


def test_tablestore_uncommitted_invisible(spark, tmp_path):
    """A killed job's data files (no manifest) must stay invisible."""
    store = TableStore(str(tmp_path))
    d1 = spark.range(0, 10).select(F.col("id"), F.lit("a").alias("p"))
    store.commit(d1, "t", "p")
    # simulate a crash: orphan data file, no manifest update
    datadir = os.path.join(str(tmp_path), "t", "data")
    orphan = os.path.join(datadir, "orphan.parquet")
    d1.limit(5).write.mode("overwrite").parquet(orphan + ".dir")
    assert store.read(spark, "t").count() == 10


@pytest.mark.slow
def test_pipeline_kill_and_resume(spark, tmp_path):
    """Full run commits both stages; a re-run computes nothing; a partial
    (simulated-kill) store recomputes exactly the missing partitions."""
    root = str(tmp_path / "wh")
    out1 = pipeline.run_pipeline(spark, root, n_images=5_000, grid_g=4)
    assert out1["assign"] == 5_000
    assert out1["complexity"] == 16
    assert out1["parcels"] == 16
    assert out1["reblock_all"] == 16
    assert out1["reblock_summary"] == 16  # summary rows derived, 1/block
    assert out1["manifest"] == 5_000

    # resume on a complete store: nothing recomputed in ANY stage
    out2 = pipeline.run_pipeline(spark, root, n_images=5_000, grid_g=4)
    assert out2 == {
        "assign": 0, "complexity": 0, "parcels": 0, "reblock_all": 0,
        "reblock_summary": 0, "reblock_edges": 0, "reblock_terminals": 0,
        "manifest": 0,
    }

    store = TableStore(root)
    total_assigned = store.read(spark, "assign").count()
    assert total_assigned == 5_000  # every point assigned exactly once

    # stage-1 metrics: the lineage records the g=4/res=17 cover's size
    asg_lin = store.read_lineage("assign")
    assert asg_lin and all(r["cover_rows"] == 28_677 for r in asg_lin)
    k_pdf = store.read(spark, "complexity").toPandas()
    assert len(k_pdf) == 16

    # downstream tables materialized with sane shapes
    parcels_pdf = store.read(spark, "parcels").toPandas()
    assert parcels_pdf.block_id.nunique() == 16
    reblock_pdf = store.read(spark, "reblock_summary").toPandas()
    assert len(reblock_pdf) == 16
    assert set(reblock_pdf.status) <= {0, 1, 2, 3}
    # all three reference sinks exist (summary / steiner lines / terminal
    # points — i_reblock.py:159-165) and cohere with the summary counts
    edges_pdf = store.read(spark, "reblock_edges").toPandas()
    term_pdf = store.read(spark, "reblock_terminals").toPandas()
    ok_blocks = set(reblock_pdf[reblock_pdf.status == 0].block_id)
    assert set(edges_pdf.block_id) <= set(reblock_pdf.block_id)
    n_term_by_block = term_pdf.groupby("block_id").size()
    for bid in ok_blocks:
        want = int(reblock_pdf.set_index("block_id").loc[bid, "n_terminals"])
        assert n_term_by_block.get(bid, 0) == want

    # simulated kill: drop the complexity table's snapshots entirely and
    # re-run — assign resumes (0 recomputed), complexity re-runs all 16,
    # the untouched downstream tables resume from their own lineage
    import shutil

    shutil.rmtree(os.path.join(root, "complexity"))
    out3 = pipeline.run_pipeline(spark, root, n_images=5_000, grid_g=4)
    assert out3 == {
        "assign": 0, "complexity": 16, "parcels": 0, "reblock_all": 0,
        "reblock_summary": 0, "reblock_edges": 0, "reblock_terminals": 0,
        "manifest": 0,
    }

    # kill the TERMINALS sink only: it re-derives from the committed
    # reblock_all table — the Steiner kernel does NOT re-run
    n_terms = len(term_pdf)
    shutil.rmtree(os.path.join(root, "reblock_terminals"))
    out4 = pipeline.run_pipeline(spark, root, n_images=5_000, grid_g=4)
    assert out4["reblock_all"] == 0  # no kernel recompute
    assert out4["reblock_terminals"] == n_terms
    assert store.read(spark, "reblock_terminals").count() == n_terms
    # identical results after resume (determinism across re-runs)
    k2 = store.read(spark, "complexity").toPandas()
    m1 = k_pdf.sort_values("block_id")[["block_id", "complexity"]].reset_index(drop=True)
    m2 = k2.sort_values("block_id")[["block_id", "complexity"]].reset_index(drop=True)
    assert m1.equals(m2)

    # stage 5: curated manifest — one row per image, all-or-nothing
    mf = store.read(spark, "manifest").toPandas()
    assert len(mf) == 5_000
    assert mf.image_id.is_unique
    assert set(mf.split.unique()) <= {"train", "val", "test"}
    assert (mf.groupby("cluster_root")["is_keep"].sum() == 1).all()
    # kill the manifest table: exactly stage 5 re-runs, nothing upstream
    shutil.rmtree(os.path.join(root, "manifest"))
    out5 = pipeline.run_pipeline(spark, root, n_images=5_000, grid_g=4)
    assert out5["manifest"] == 5_000
    assert out5["assign"] == 0 and out5["reblock_all"] == 0
    mf2 = store.read(spark, "manifest").toPandas()
    a = mf.sort_values("image_id").reset_index(drop=True)
    b = mf2.sort_values("image_id").reset_index(drop=True)
    assert a[["image_id", "split", "is_keep"]].equals(b[["image_id", "split", "is_keep"]])


@pytest.mark.slow
def test_pipeline_assign_resumes_missing_prefixes(spark, tmp_path):
    """Stage 1 assigns exactly the cell prefixes its lineage lacks: with
    every other prefix of a fresh run's assign table committed, the re-run
    assigns the rest (against the cover cut to them) and the table equals
    the fresh run's."""
    def assign_pdf(store):
        pdf = store.read(spark, "assign").toPandas()
        return pdf.sort_values("image_id").reset_index(drop=True)

    full = TableStore(str(tmp_path / "full"))
    pipeline.run_pipeline(spark, full.root, n_images=400, grid_g=2, prefix_res=10)
    want = assign_pdf(full)
    done = sorted(full.completed_partitions("assign"))[::2]
    assert 0 < len(done) < len(full.completed_partitions("assign"))
    part = TableStore(str(tmp_path / "part"))
    sid = part.commit(
        full.read(spark, "assign").filter(F.col("cell_prefix").cast("string").isin(done)),
        "assign", "cell_prefix", stage="assign",
    )
    out = pipeline.run_pipeline(spark, part.root, n_images=400, grid_g=2, prefix_res=10)
    assert out["assign"] == 400 - part.committed_rows("assign", sid)
    pd.testing.assert_frame_equal(assign_pdf(part), want)
    assert part.completed_partitions("assign") == full.completed_partitions("assign")


def test_tablestore_metrics_df(spark, tmp_path):
    """north_rule 'per-partition lineage and metrics tables': the lineage
    must be queryable as a real DataFrame, aggregating across stages."""
    store = TableStore(str(tmp_path))
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 4).alias("bucket"))
    store.commit(df, "t", "bucket", stage="s1")
    store.commit(
        df.filter("id < 50"), "t", "bucket", stage="s2",
        extra={"cover_rows": 123, "cover_compacted": True},
    )
    # stage-level extras ride every lineage row of their commit...
    s2 = [r for r in store.read_lineage("t") if r["stage"] == "s2"]
    assert all(r["cover_rows"] == 123 for r in s2)
    # ...and metrics_df keeps its fixed schema regardless
    m = store.metrics_df(spark, "t")
    assert m.count() == 8  # 4 partitions x 2 stages
    agg = {
        r["stage"]: r["rows"]
        for r in m.groupBy("stage").agg(F.sum("rows_out").alias("rows")).collect()
    }
    assert agg == {"s1": 100, "s2": 50}
    assert store.metrics_df(spark, "missing") is None


def test_tablestore_job_counts_flat(spark, tmp_path):
    """A commit runs only its write's jobs — none per partition — and a
    read of a committed table runs none at all (schema from the manifest,
    driver-side file listing up to 32 files), while lineage rows_out stay
    the true per-partition counts."""
    store = TableStore(str(tmp_path))
    jobs = {}
    for p in (4, 64):
        df = spark.range(0, 1000).select(
            F.col("id"), (F.col("id") % p).alias("bucket")
        )
        sid, jobs[p] = jobs_in_group(
            spark, f"commit-{p}-{tmp_path.name}",
            lambda: store.commit(df, f"t{p}", "bucket", stage="s"),
        )
        want = {
            str(r["bucket"]): r["count"]
            for r in df.groupBy("bucket").count().collect()
        }
        got = {r["partition_id"]: r["rows_out"] for r in store.read_lineage(f"t{p}")}
        assert got == want
        assert store.committed_rows(f"t{p}", sid) == 1000
    assert jobs[4] == jobs[64], jobs

    back, n_read = jobs_in_group(
        spark, f"read-{tmp_path.name}", lambda: store.read(spark, "t4")
    )
    assert n_read == 0
    assert back.columns == ["id", "bucket"]
    assert back.count() == 1000


def test_tablestore_commit_keys_mark_empty_partitions(spark, tmp_path):
    """A key the commit covers but that wrote no rows still lands in
    lineage (rows_out 0), so resume does not recompute it forever."""
    store = TableStore(str(tmp_path))
    df = spark.range(0, 10).select(F.col("id"), F.lit("a").alias("p"))
    sid = store.commit(df, "t", "p", keys=["a", "b"])
    lin = {r["partition_id"]: r["rows_out"] for r in store.read_lineage("t")}
    assert lin == {"a": 10, "b": 0}
    assert all(r["snapshot_id"] == sid for r in store.read_lineage("t"))
    assert store.completed_partitions("t") == {"a", "b"}
    assert store.read(spark, "t").count() == 10


def _store_leftovers(root):
    """Files a killed commit may leave: staging directories, data files no
    latest manifest lists, and manifests past LATEST."""
    store = TableStore(root)
    out = []
    for table in os.listdir(root):
        tdir = os.path.join(root, table)
        out += [e for e in os.listdir(tdir) if e.startswith("_staging_")]
        m = store.manifest(table)
        keep = {f for e in m["files"] for f in e["files"]} if m else set()
        datadir = os.path.join(tdir, "data")
        for pdir in os.listdir(datadir):
            out += [
                f"{pdir}/{f}" for f in os.listdir(os.path.join(datadir, pdir))
                if f"{pdir}/{f}" not in keep
            ]
        sid = m["snapshot_id"] if m else 0
        for f in os.listdir(os.path.join(tdir, "snapshots")):
            stem, ext = os.path.splitext(f)
            if f != "LATEST" and (ext != ".json" or int(stem) > sid):
                out.append(f)
    return out


class _Killed(Exception):
    pass


def _kill_at(monkeypatch, table, phase):
    """Make the first commit to ``table`` that reaches ``phase`` raise, as
    if the process died there ('moved' fires after the first partition's
    files moved, so the kill lands mid-move)."""

    def on_phase(self, t, p):
        if (t, p) == (table, phase):
            raise _Killed(f"{table}:{phase}")

    monkeypatch.setattr(TableStore, "_on_phase", on_phase)


PHASES = ["staged", "moved", "manifest"]


@pytest.mark.parametrize("phase", PHASES)
def test_tablestore_killed_commit_resumes_clean(spark, tmp_path, monkeypatch, phase):
    """A commit killed after the staging write, mid-move, or between the
    manifest and LATEST stays invisible; re-running it gives the same table
    as an uninterrupted commit and leaves no orphaned files."""
    root = str(tmp_path)
    store = TableStore(root)
    df = spark.range(0, 40).select(F.col("id"), (F.col("id") % 4).alias("b"))
    store.commit(df.filter("b < 2"), "t", "b", stage="first")
    rest = df.filter("b >= 2")

    _kill_at(monkeypatch, "t", phase)
    with pytest.raises(_Killed):
        store.commit(rest, "t", "b", stage="second")
    monkeypatch.undo()
    assert store.latest_snapshot_id("t") == 1
    assert store.read(spark, "t").count() == 20

    store.commit(rest, "t", "b", stage="second")
    assert sorted(r["id"] for r in store.read(spark, "t").collect()) == list(range(40))
    assert sorted(r["partition_id"] for r in store.read_lineage("t")) == ["0", "1", "2", "3"]
    assert _store_leftovers(root) == []


def _split_frame(spark):
    """40 rows over split values 'a' (even ids) and 'c' (odd ids), each
    in partitions b = 0..3, with one column per target table."""
    return spark.range(0, 40).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("c").alias("k"),
        (F.col("id") % 4).cast("string").alias("b"),
        F.col("id").alias("x"), (-F.col("id")).alias("y"),
    )


@pytest.mark.parametrize("phase", [None] + PHASES)
def test_tablestore_commit_split(spark, tmp_path, monkeypatch, phase):
    """One write commits each split value to its own table with its own
    columns, keeps only the table's keys, and publishes the tables in
    order: a kill in the second table leaves the first committed, and
    re-running the split for the rest gives the same tables as separate
    commits, with no orphaned files."""
    root = str(tmp_path / "split")
    store = TableStore(root)
    df = _split_frame(spark)
    tables = {"a": ("ta", ["b", "x"]), "c": ("tc", ["b", "y"])}
    keys = {"ta": ["0", "2", "9"], "tc": ["1"]}
    if phase is not None:
        _kill_at(monkeypatch, "tc", phase)
        with pytest.raises(_Killed):
            store.commit_split(df, "k", tables, "b", keys)
        monkeypatch.undo()
        assert store.latest_snapshot_id("ta") == 1
        assert store.latest_snapshot_id("tc") is None
        tables = {"c": tables["c"]}
    sids = store.commit_split(df, "k", tables, "b", keys)
    assert sids == {t: 1 for t, _ in tables.values()}

    want = TableStore(str(tmp_path / "separate"))
    for value, (t, cols) in {"a": ("ta", ["b", "x"]), "c": ("tc", ["b", "y"])}.items():
        sub = df.filter((F.col("k") == value) & F.col("b").isin(keys[t]))
        want.commit(sub.select(*cols), t, "b", keys=keys[t])
        got = store.read(spark, t)
        assert got.columns == want.read(spark, t).columns == [cols[1], "b"]
        assert sorted(got.collect()) == sorted(want.read(spark, t).collect())
        assert {
            r["partition_id"]: (r["stage"], r["rows_out"]) for r in store.read_lineage(t)
        } == {r["partition_id"]: (t, r["rows_out"]) for r in want.read_lineage(t)}
    assert store.completed_partitions("ta") == {"0", "2", "9"}
    assert _store_leftovers(root) == []


_RESUME_TABLES = (
    "assign", "complexity", "parcels", "reblock_all", "reblock_summary",
    "reblock_edges", "reblock_terminals", "manifest",
)


def _pipeline_tables(spark, root):
    """Every pipeline table as a sorted, string-valued frame; drops the
    kernels' own wall_ms timings, the one nondeterministic column."""
    store = TableStore(root)
    out = {}
    for t in _RESUME_TABLES:
        pdf = store.read(spark, t).toPandas()
        pdf = pdf.drop(columns=[c for c in pdf.columns if c == "wall_ms"])
        pdf = pdf[sorted(pdf.columns)].astype(str)
        out[t] = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return out


@pytest.fixture(scope="module")
def clean_pipeline(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("clean") / "wh")
    pipeline.run_pipeline(spark, root, n_images=400, grid_g=2)
    return _pipeline_tables(spark, root)


# the per-block pass's commit, its first sink and a mid-loop sink; the
# complexity cases keep their bare phase ids
_KILLED_COMMITS = [
    pytest.param(t, p, id=p if t == "complexity" else f"{t}-{p}")
    for t in ("complexity", "reblock_all", "parcels") for p in PHASES
]


@pytest.mark.slow
@pytest.mark.parametrize("table, phase", _KILLED_COMMITS)
def test_pipeline_killed_commit_resumes_identical(
    spark, tmp_path, monkeypatch, clean_pipeline, table, phase
):
    """Kill a per-block commit at each of its phases: the re-run gives
    tables identical to an uninterrupted run and no orphaned files. A
    killed reblock_all re-runs the kernel for all 4 blocks and feeds all
    five sinks; a killed sink re-derives from reblock_all, and the sinks
    committed before it resume from their own lineage."""
    root = str(tmp_path / "wh")
    _kill_at(monkeypatch, table, phase)
    with pytest.raises(_Killed):
        pipeline.run_pipeline(spark, root, n_images=400, grid_g=2)
    monkeypatch.undo()
    out = pipeline.run_pipeline(spark, root, n_images=400, grid_g=2)
    assert out["assign"] == 0 and out[table] == 4
    assert out["reblock_all"] == (4 if table == "reblock_all" else 0)
    assert out["complexity"] == (0 if table == "parcels" else 4)
    assert out["manifest"] == 400
    got = _pipeline_tables(spark, root)
    for t in _RESUME_TABLES:
        pd.testing.assert_frame_equal(got[t], clean_pipeline[t], obj=t)
    assert _store_leftovers(root) == []


@pytest.mark.slow
def test_pipeline_fresh_run_jobs_flat_in_blocks(spark, tmp_path):
    """A fresh run costs the same Spark jobs on 9 blocks as on 16: stages
    2-4 are one per-block commit plus one split write of its five filter
    sinks, none of them per block. A re-run on the complete store picks
    every stage's todo on the driver, so it runs no Spark job."""
    jobs, rerun = {}, {}
    for g in (3, 4):
        _, jobs[g] = jobs_in_group(
            spark, f"fresh-{g}-{tmp_path.name}",
            lambda: pipeline.run_pipeline(
                spark, str(tmp_path / f"wh{g}"), n_images=400 * g, grid_g=g
            ),
        )
        rerun[g] = jobs_in_group(
            spark, f"rerun-{g}-{tmp_path.name}",
            lambda: pipeline.run_pipeline(
                spark, str(tmp_path / f"wh{g}"), n_images=400 * g, grid_g=g
            ),
        )
    assert jobs == {3: 20, 4: 20}, jobs
    zero = dict.fromkeys(pipeline.STAGE_TABLES, 0)
    assert rerun == {3: (zero, 0), 4: (zero, 0)}, rerun
    # no images: no stage has input, and every stage still reports a count
    empty = pipeline.run_pipeline(spark, str(tmp_path / "wh0"), n_images=0, grid_g=2)
    assert empty == zero, empty
