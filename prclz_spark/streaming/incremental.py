"""Structured Streaming ingest dedup: the daily-ingest loop that maps
newly-landed image files against the committed keeper corpus.

The reference is purely batch with file-level incrementality (SURVEY.md
§2.8); the Spark-native expression of "process whatever arrived since the
last run" is a ``readStream`` over the landing directory with an
``availableNow`` trigger, which drains every file on disk and stops.
``stream_phash_dedup_ingest`` runs each micro-batch through
``commit_phash_dedup_batch``, which dedups the batch against the corpus
with ``operators.dedup.incremental_phash_dedup`` and commits it as one
TableStore snapshot. The streaming checkpoint records which files are
done; the table's lineage records which batch ids are committed, so a
replayed batch is a no-op.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources import synth


def stream_phash_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    store,
    table: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> int:
    """Production daily-ingest dedup loop: drain newly-landed image files
    (exactly-once via the streaming checkpoint), map each micro-batch
    against the CURRENT committed keeper corpus with
    operators.dedup.incremental_phash_dedup, and commit the batch's
    (image_id, phash, cluster_root, is_keep) rows as one atomic
    TableStore snapshot. The next batch's corpus is the table's committed
    is_keep=1 rows, so the keeper set grows monotonically and the
    10^12-row cost property holds per batch: the corpus never self-joins
    and never shuffles (batch bands broadcast), a day's ingest costs
    O(corpus scan + batch-bounded join).

    foreachBatch is idempotent per batch_id via a lineage stage marker —
    Spark replays a batch whose sink commit succeeded but whose
    checkpoint write didn't (the CLAUDE.md invariant), and the marker
    detects the replay and skips the duplicate append. Crash BEFORE the
    manifest write leaves orphaned staging files no manifest references.

    Returns rows committed this invocation (0 when nothing new landed).
    ``max_files_per_trigger`` splits a drain into several micro-batches
    (tests use it to pin batch-vs-batch corpus growth)."""
    reader = spark.readStream.schema(synth.IMAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir).select("image_id", "phash")
    committed = {"rows": 0}

    def _commit(batch_df, batch_id: int) -> None:
        committed["rows"] += commit_phash_dedup_batch(
            spark, store, table, batch_df, batch_id
        )

    q = (
        stream.writeStream.foreachBatch(_commit)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return committed["rows"]


def commit_phash_dedup_batch(
    spark: SparkSession, store, table: str, batch_df, batch_id: int
) -> int:
    """One micro-batch of the ingest-dedup loop, as an idempotent atomic
    commit (module-level so tests can replay a batch_id directly and pin
    the no-op). Returns rows committed (0 on empty batch or replay)."""
    from ..operators import dedup as dedup_op

    if batch_df.isEmpty():
        return 0
    stage = f"stream_phash_dedup_batch_{batch_id}"
    man = store.manifest(table)
    if man and any(l.get("stage") == stage for l in man.get("lineage", [])):
        return 0  # checkpoint-replay of an already-committed batch
    prev = store.read(spark, table)
    corpus = (
        prev.where(F.col("is_keep") == 1).select("image_id", "phash")
        if prev is not None
        else spark.createDataFrame([], "image_id string, phash long")
    )
    batch = batch_df.select("image_id", "phash")
    res = dedup_op.incremental_phash_dedup(batch, corpus)
    out = res.join(batch, "image_id").select(
        "image_id",
        "phash",
        "cluster_root",
        "is_keep",
        # 8 stable hash buckets: the TableStore wants a bounded partition
        # key, and batch ids would give unbounded directories
        F.pmod(F.xxhash64("image_id"), F.lit(8)).cast("int").alias("bucket"),
    )
    sid = store.commit(out, table, partition_col="bucket", stage=stage)
    # rows-out from the new snapshot's lineage: the commit already counted
    # per-partition rows, re-counting the frame would re-run the dedup join
    return store.committed_rows(table, sid)
