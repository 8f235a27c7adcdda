"""Structured Streaming tests: watermarked dedup state eviction and the
ingest-dedup loop's exactly-once commits across availableNow drains."""

import os

from prclz_spark.sources import synth


def test_stream_dedup_watermark_evicts_state(spark, tmp_path):
    """streaming/dedup.py semantics, both sides:

    1. horizon covers the stream → every key exactly once (== batch
       DISTINCT), regardless of how many micro-batches the drain splits
       into;
    2. tight horizon → a key recurring AFTER the watermark passed its
       state is re-admitted (its state was EVICTED — the property that
       bounds state at unbounded stream length; plain dropDuplicates
       would hold it forever and emit once)."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from prclz_spark.streaming.dedup import stream_dedup_keys

    landing = tmp_path / "dedup_landing"
    landing.mkdir()

    def _write(name, rows, mtime):
        pdf = pd.DataFrame(rows)
        path = str(landing / name)
        pq.write_table(
            pa.Table.from_pandas(
                pdf.assign(ts=pdf.ts.astype("datetime64[us]")),
                preserve_index=False,
            ),
            path,
        )
        os.utime(path, (mtime, mtime))  # file source orders by mtime

    K = {"user_id": 1, "event_type": "view"}
    _write("b1.parquet", [dict(K, ts=pd.Timestamp(2026, 1, 1))], 1_000)
    _write(
        "b2.parquet",
        [{"user_id": 2, "event_type": "view", "ts": pd.Timestamp(2026, 1, 5)}],
        2_000,
    )
    _write(
        "b3.parquet",
        [{"user_id": 4, "event_type": "view", "ts": pd.Timestamp(2026, 1, 7)}],
        3_000,
    )
    _write(
        "b4.parquet",
        [
            dict(K, ts=pd.Timestamp(2026, 1, 10)),
            {"user_id": 3, "event_type": "view", "ts": pd.Timestamp(2026, 1, 10)},
        ],
        4_000,
    )

    wide = stream_dedup_keys(
        spark, str(landing), keys=("user_id", "event_type"),
        watermark="45 days", max_files_per_trigger=1,
    ).toPandas()
    assert len(wide) == 4  # K, u2, u4, u3 — exactly the batch DISTINCT

    tight = stream_dedup_keys(
        spark, str(landing), keys=("user_id", "event_type"),
        watermark="1 hour", max_files_per_trigger=1,
    ).toPandas()
    # state removal runs at each batch END with that batch's advanced
    # watermark: b2 (Jan 5) advances it past Jan 1 + 1h, so K's state is
    # evicted at b2's end, and its Jan 10 recurrence (two batches later)
    # re-emits: 5 rows, K exactly twice
    assert len(tight) == 5
    assert (tight.user_id == 1).sum() == 2


def test_stream_phash_dedup_ingest_corpus_growth_and_resume(spark, tmp_path):
    """The daily-ingest dedup loop: three files drained as three
    micro-batches — day-2/3 items duplicating committed keepers map to
    CORPUS roots with is_keep=0; a re-drain on the same checkpoint is
    exactly-once (commits nothing); a new landing file is picked up
    incrementally."""
    import pyspark.sql.functions as F

    from prclz_spark.sources.tablestore import TableStore
    from prclz_spark.streaming.incremental import stream_phash_dedup_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    store = TableStore(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, rows):
        spark.createDataFrame(
            [(i, None, 16, 16, "raw16", c, p) for i, c, p in rows],
            synth.IMAGES_SCHEMA,
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        # move the single part file into the landing dir under a stable name
        src = next(
            p for p in (tmp_path / name).iterdir() if p.suffix == ".parquet"
        )
        os.replace(src, landing / f"{name}.parquet")

    # day 1: two distinct clusters (a1 exact-dup a2; b solo)
    write_file("day1", [("a1", "cap", 0x0F0F), ("a2", "cap", 0x0F0F),
                        ("b1", "cap", 0x7700)])
    # day 2: near-dup of cluster a (hamming 1) + brand-new c
    write_file("day2", [("a3", "cap", 0x0F0E), ("c1", "cap", 0x1234_5678)])
    # day 3: exact dup of day-2's new keeper c1
    write_file("day3", [("c2", "cap", 0x1234_5678)])

    n = stream_phash_dedup_ingest(
        spark, str(landing), store, "dedup", ckpt, max_files_per_trigger=1
    )
    assert n == 6
    out = {
        r.image_id: (r.cluster_root, r.is_keep)
        for r in store.read(spark, "dedup").collect()
    }
    assert out["a1"] == ("a1", 1) and out["a2"] == ("a1", 0)
    assert out["b1"] == ("b1", 1)
    assert out["a3"] == ("a1", 0)  # duplicate of a committed corpus keeper
    assert out["c1"] == ("c1", 1)
    assert out["c2"] == ("c1", 0)  # exact dup of a later-day keeper

    # exactly-once resume: nothing new → no commit, table unchanged
    sid_before = store.latest_snapshot_id("dedup")
    assert stream_phash_dedup_ingest(
        spark, str(landing), store, "dedup", ckpt
    ) == 0
    assert store.latest_snapshot_id("dedup") == sid_before

    # incremental pickup: one new file → only its rows commit
    write_file("day4", [("d1", "cap", 0x0F0F)])  # exact dup of cluster a
    assert stream_phash_dedup_ingest(
        spark, str(landing), store, "dedup", ckpt
    ) == 1
    out2 = {
        r.image_id: (r.cluster_root, r.is_keep)
        for r in store.read(spark, "dedup").collect()
    }
    assert out2["d1"] == ("a1", 0)
    assert len(out2) == 7


def test_stream_phash_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """The CLAUDE.md foreachBatch invariant, pinned at the commit level:
    replaying a batch_id whose commit succeeded (crash between sink
    commit and checkpoint write) must be a no-op — same snapshot id, no
    duplicate rows."""
    from prclz_spark.sources.tablestore import TableStore
    from prclz_spark.streaming.incremental import commit_phash_dedup_batch

    store = TableStore(str(tmp_path / "wh"))
    batch = spark.createDataFrame(
        [("x1", 0x11), ("x2", 0x11)], "image_id string, phash long"
    )
    n1 = commit_phash_dedup_batch(spark, store, "dedup", batch, 0)
    assert n1 == 2
    sid = store.latest_snapshot_id("dedup")
    # replay of the SAME batch_id: detected via the lineage stage marker
    assert commit_phash_dedup_batch(spark, store, "dedup", batch, 0) == 0
    assert store.latest_snapshot_id("dedup") == sid
    assert store.read(spark, "dedup").count() == 2
    # the NEXT batch_id still commits (marker is per-batch, not global)
    b2 = spark.createDataFrame([("y1", 0x22)], "image_id string, phash long")
    assert commit_phash_dedup_batch(spark, store, "dedup", b2, 1) == 1
    assert store.read(spark, "dedup").count() == 3
