"""Stage orchestration with checkpoint/resume — the spark-submit entry.

The reference chains five CLI jobs through a shared directory tree and
resumes via output-file-exists checks and CheckPointer CSVs (SURVEY.md
§3, §2.1 S9). Here each stage is a DataFrame program whose output commits
atomically to the TableStore with per-partition lineage; re-running the
pipeline recomputes only partitions absent from lineage (kill-and-resume:
a killed commit leaves no manifest, so its partitions re-run). Every
stage decides what to re-run on the driver, from lineage: its todo keys
are the keys it can produce minus those its table's lineage holds (the
all-or-nothing manifest checks one stage marker), so a resume check runs
no Spark job. Stages 2-4 (k-complexity, parcels, reblock) are ONE
per-block pass committed as ``reblock_all``; their five tables are
filter sinks of it, committed together from one write
(``TableStore.commit_split``). Stage 5's keep-list depends on the image
table alone, so a second driver thread builds it beside stages 1-4.

Partitioning: the assign table is partitioned by the points' cell
*prefix* (coarse cell id), the unit stage 1 resumes by; every later
table (the per-block products and the manifest) is partitioned by
``block_id``, the unit stages 2-4 resume by.

Cluster deploy (north_rule 'ships as spark-submit --py-files modules'):

    python -m zipfile -c prclz_spark.zip prclz_spark
    spark-submit --master <cluster> --py-files prclz_spark.zip \\
        run_pipeline.py --store <warehouse-uri> --n <rows>

(local dev: ``python -m prclz_spark.pipeline``) — args in main(). The
package is pure Python + numpy/pandas/pyarrow (standard executor images),
so the zip plus the thin ``run_pipeline.py`` launcher is the entire
deployment artifact.
"""

from __future__ import annotations

import numpy as np
from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import cells
from .operators import assign as assign_op
from .operators import complexity as complexity_op
from .operators import curation as curation_op
from .operators import dedup as dedup_op
from .operators import parcel as parcel_op
from .operators import reblock as reblock_op
from .sources import synth
from .sources.tablestore import TableStore

ASSIGN_TABLE = "assign"
MANIFEST_TABLE = "manifest"
COMPLEXITY_TABLE = "complexity"
PARCELS_TABLE = "parcels"
REBLOCK_ALL_TABLE = "reblock_all"
REBLOCK_TABLE = "reblock_summary"
REBLOCK_EDGES_TABLE = "reblock_edges"
REBLOCK_TERMINALS_TABLE = "reblock_terminals"
# run_pipeline's tables, in stage order: the keys of the counts it returns
STAGE_TABLES = (
    ASSIGN_TABLE, COMPLEXITY_TABLE, PARCELS_TABLE, REBLOCK_ALL_TABLE,
    REBLOCK_TABLE, REBLOCK_EDGES_TABLE, REBLOCK_TERMINALS_TABLE, MANIFEST_TABLE,
)
EVENTS_FACT_TABLE = "events_fact"
EVENTS_ASSIGN_TABLE = "events_assign"
EVENTS_BUCKETS = 32
COVER_RES = 17  # cell resolution of run_pipeline's block cover


def image_points(spark: SparkSession, n: int) -> DataFrame:
    """(image_id, lon, lat) for ids 0..n-1, JVM-synthesized, in Spark's
    defaultParallelism partitions (one task per core)."""
    base = spark.range(0, n)
    lon, lat = synth.lonlat_cols(F.col("id"))
    return base.select(
        F.col("id").alias("image_id"), lon.alias("lon"), lat.alias("lat")
    )


def _caption_phash_cols(df: DataFrame) -> DataFrame:
    """JVM-synthesized caption and phash columns from image_id (the
    input_hint row shape, minus the binary payload): captions vary over
    two coprime cycles so text features are non-constant; every 8
    consecutive ids share a phash, giving the manifest's keep-list real
    exact-dup groups to collapse. Pure Column arithmetic, so it applies
    identically to fresh points and to the committed assign table."""
    return df.withColumn(
        "caption",
        F.format_string(
            "a photo of landmark %d near gate %d",
            F.col("image_id") % 997,
            F.col("image_id") % 53,
        ),
    ).withColumn(
        "phash", F.xxhash64(F.floor(F.col("image_id") / 8).cast("string"))
    )


def image_rows(spark: SparkSession, n: int) -> DataFrame:
    """image_points plus the synthesized caption/phash columns."""
    return _caption_phash_cols(image_points(spark, n))


class _KeepList(InheritableThread):
    """Stage 5's keep-list, ``dedup.phash_clusters`` over the FULL image
    set (a cluster whose min-id keeper fell outside every block must still
    elect it), built beside stages 1-4. As an InheritableThread its jobs
    run in the caller's job group. It commits nothing and calls nothing
    the benchmark's tracer wraps: every write stays on the main thread."""

    def __init__(self, spark: SparkSession, n_images: int):
        super().__init__(target=self._build, args=(spark, n_images))
        self._keep = self._err = None
        self.start()

    def _build(self, spark: SparkSession, n_images: int) -> None:
        try:
            self._keep = dedup_op.phash_clusters(image_rows(spark, n_images))
        except BaseException as e:  # raised again on the main thread
            self._err = e

    def result(self) -> DataFrame:
        self.join()
        if self._err is not None:
            raise self._err
        return self._keep


def run_pipeline(
    spark: SparkSession,
    store_root: str,
    n_images: int = 100_000,
    grid_g: int = 8,
    prefix_res: int = 6,
) -> dict:
    """The reference's full stage chain — assign → k-complexity →
    parcelization → reblocking (SURVEY.md §3), the last three as one
    per-block pass — and the manifest, each table committed atomically
    with per-partition lineage and resumable independently.

    Stage 1 is the flat single-cell broadcast join
    (assign_points_to_blocks) over the cover cut to the cell prefixes
    not yet in the assign table's lineage; the full cover's row count
    lands in its lineage metrics. The manifest's keep-list is built on a
    second driver thread, joined on every exit path. On a complete store
    no stage runs a Spark job and no thread starts.

    Returns the count each stage computed this run, keyed by every table
    of ``STAGE_TABLES`` (0 for a fully resumed stage or one not run):
    rows for assign, the reblock sinks and the manifest, blocks for
    reblock_all, complexity and parcels."""
    store = TableStore(store_root)
    computed = dict.fromkeys(STAGE_TABLES, 0)
    # The keep-list (phash connected components) is a GLOBAL property of
    # the corpus, so stage 5 commits atomically as one unit — a per-block
    # resume would cluster within subsets and change results. The lineage
    # stage marker makes the commit idempotent: a re-run after a crash
    # either sees no manifest (recompute) or the marker (skip) — same
    # guard as the streaming foreachBatch sink.
    marked = any(l.get("stage") == MANIFEST_TABLE for l in store.read_lineage(MANIFEST_TABLE))
    keep = None if marked else _KeepList(spark, n_images)
    try:
        assigned = _stages_1_to_4(spark, store, computed, n_images, grid_g, prefix_res)
        if keep is not None and assigned is not None:
            # -- stage 5: curated training manifest -------------------------
            # The manifest ROWS reuse stage 1's committed assign output —
            # caption is pure Column arithmetic of image_id, so the PIP
            # join (the pipeline's most expensive stage) never runs twice.
            mf = curation_op.training_manifest(
                keep.result(), _caption_phash_cols(assigned), idnum=F.col("image_id")
            )
            # partition by block_id like every other stage: high-cardinality
            # parallel writes that co-locate with the spatial tables (a
            # 'split' partitioning would funnel the write through 3 tasks)
            sid = store.commit(mf, MANIFEST_TABLE, "block_id", stage=MANIFEST_TABLE)
            computed[MANIFEST_TABLE] = store.committed_rows(MANIFEST_TABLE, sid)
    finally:
        if keep is not None:
            keep.join()
    return computed


def _stages_1_to_4(spark: SparkSession, store: TableStore, computed: dict,
                   n_images: int, grid_g: int, prefix_res: int) -> DataFrame | None:
    """Stages 1-4, each resumed from its own lineage: fills ``computed``
    and returns the committed assign table (None when no point was ever
    assigned — n_images == 0, or all fell outside every block)."""
    blocks_pdf = synth.grid_blocks(grid_g)
    cover = assign_op.block_cover_pdf(blocks_pdf, COVER_RES)

    # -- stage 1: spatial assign, partitioned by cell prefix ---------------
    # Every assigned point joins through a cover cell, so the todo prefixes
    # are the cover's minus the lineage's, picked on the driver (no Spark
    # job), and the points are assigned against the cover cut to them.
    prefix = cells.cell_prefix_np(cover["cell"].to_numpy(), prefix_res).astype(str)
    todo = sorted(set(prefix.tolist()) - store.completed_partitions(ASSIGN_TABLE))
    if todo:
        pts = image_points(spark, n_images).withColumn(
            "cell_prefix",
            cells.cell_prefix(
                cells.cell_id(F.col("lon"), F.col("lat"), COVER_RES),
                COVER_RES,
                prefix_res,
            ),
        )
        sid = store.commit(
            assign_op.assign_points_to_blocks(
                pts, cover[np.isin(prefix, todo)], COVER_RES
            ),
            ASSIGN_TABLE, "cell_prefix", stage=ASSIGN_TABLE,
            extra={"cover_rows": len(cover)}, keys=todo,
        )
        computed[ASSIGN_TABLE] = store.committed_rows(ASSIGN_TABLE, sid)
    assigned = store.read(spark, ASSIGN_TABLE)
    if assigned is None:
        return None  # no later stage has input

    # -- stages 2-4: k-complexity, parcels, Steiner reblocking -------------
    # ONE per-block pass commits every per-block product to reblock_all.
    # Resume (CheckPointer anti-join analog, i_reblock.py:254-255): blocks
    # in its lineage are skipped, picked on the driver — no Spark job.
    done = store.completed_partitions(REBLOCK_ALL_TABLE)
    todo_pdf = blocks_pdf[~blocks_pdf.block_id.isin(done)]
    computed[REBLOCK_ALL_TABLE] = len(todo_pdf)
    if len(todo_pdf):
        todo_blocks = spark.createDataFrame(todo_pdf, synth.BLOCKS_DDL)
        todo_assigned = assigned.join(
            F.broadcast(todo_blocks.select("block_id")), "block_id", "left_semi"
        )
        store.commit(
            reblock_op.reblock_all(todo_assigned, todo_blocks),
            REBLOCK_ALL_TABLE, "block_id", stage=REBLOCK_ALL_TABLE,
            keys=list(todo_pdf.block_id),
        )
    # complexity, parcels and the three reference reblock sinks (summary,
    # steiner lines, terminal points — i_reblock.py:159-165) are filters of
    # it, each with its own lineage: todo = reblock_all's lineage minus the
    # sink's. ONE write of reblock_all split by kind commits them all.
    # Complexity and parcels count blocks, the reblock sinks rows.
    reblocked = store.completed_partitions(REBLOCK_ALL_TABLE)
    sinks, keys = {}, {}
    for tname, kind, schema in (
        (COMPLEXITY_TABLE, "complexity", complexity_op.COMPLEXITY_SCHEMA),
        (PARCELS_TABLE, "parcel", parcel_op.PARCELS_SCHEMA),
        (REBLOCK_TABLE, "summary", reblock_op.REBLOCK_SUMMARY_SCHEMA),
        (REBLOCK_EDGES_TABLE, "edge", reblock_op.REBLOCK_EDGES_SCHEMA),
        (REBLOCK_TERMINALS_TABLE, "terminal", reblock_op.REBLOCK_TERMINALS_SCHEMA),
    ):
        keys[tname] = sorted(reblocked - store.completed_partitions(tname))
        if keys[tname]:
            sinks[kind] = (tname, [f.name for f in schema.fields])
    if sinks:
        allf = store.read(spark, REBLOCK_ALL_TABLE).filter(F.col("kind").isin(list(sinks)))
        for tname, sid in store.commit_split(allf, "kind", sinks, "block_id", keys).items():
            computed[tname] = (
                len(keys[tname]) if tname in (COMPLEXITY_TABLE, PARCELS_TABLE)
                else store.committed_rows(tname, sid)
            )
    return assigned


def block_hourly_rollup(events: DataFrame, assigned: DataFrame) -> DataFrame:
    """Spatio-temporal rollup: events x their PIP-assigned block_id,
    aggregated into (block_id, 1-hour event-time bucket) cells — the
    hotspot-monitoring composition of J1 with the hourly window agg
    (contract evt_block_hourly; reference analog: the per-block summary
    rollups of midway/single_file_complexity.py keyed on time instead).
    Contract row evt_block_hourly runs it against its DuckDB oracle, so
    the bucketed production path below is oracle-checked by proxy."""
    return (
        events.select("event_id", "ts", "value")
        .join(assigned.select("event_id", "block_id"), "event_id")
        .groupBy(
            "block_id",
            F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def run_events_rollup(
    spark: SparkSession,
    store_root: str,
    events: DataFrame | None = None,
    assigned: DataFrame | None = None,
    n_buckets: int = EVENTS_BUCKETS,
) -> DataFrame:
    """The rollup's PRODUCTION shape: the events fact AND its block
    assignment live in the TableStore as CO-BUCKETED snapshots on
    event_id, so the fact-sized equi-join is EXCHANGE-FREE (zero-shuffle
    SortMergeJoin over co-located buckets) and the only shuffle in the whole job is the final
    (block_id, hour) aggregation — whose key count is bounded by
    blocks x hours, not by the fact row count. Pinned in
    tests/test_bucketed.py::test_evt_block_hourly_bucketed_single_exchange.

    Resume semantics: a bucketed snapshot is a full rewrite, so the stage
    is committed at most once — when a snapshot already exists it is
    REUSED and the ``events``/``assigned`` frames may be omitted (the
    kill-and-resume analog of the per-partition anti-join for stages whose
    layout is a whole-fileset property)."""
    store = TableStore(store_root)
    ev = store.read_bucketed(spark, EVENTS_FACT_TABLE)
    if ev is None:
        if events is None:
            raise ValueError(
                f"no committed '{EVENTS_FACT_TABLE}' snapshot and no events frame"
            )
        store.commit_bucketed(
            events, EVENTS_FACT_TABLE, ["event_id"], n_buckets,
            sort_cols=["event_id"], stage=EVENTS_FACT_TABLE,
        )
        ev = store.read_bucketed(spark, EVENTS_FACT_TABLE)
    asg = store.read_bucketed(spark, EVENTS_ASSIGN_TABLE)
    if asg is None:
        if assigned is None:
            raise ValueError(
                f"no committed '{EVENTS_ASSIGN_TABLE}' snapshot and no assign frame"
            )
        store.commit_bucketed(
            assigned, EVENTS_ASSIGN_TABLE, ["event_id"], n_buckets,
            sort_cols=["event_id"], stage=EVENTS_ASSIGN_TABLE,
        )
        asg = store.read_bucketed(spark, EVENTS_ASSIGN_TABLE)
    return block_hourly_rollup(ev, asg)


def main() -> None:
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--store", default="/tmp/prclz_warehouse")
    ap.add_argument("--n", type=int, default=100_000)
    ap.add_argument("--grid", type=int, default=8)
    args = ap.parse_args()
    spark = get_spark("prclz_pipeline")
    out = run_pipeline(spark, args.store, n_images=args.n, grid_g=args.grid)
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
