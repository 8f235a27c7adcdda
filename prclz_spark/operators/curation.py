"""Training-data curation: deterministic corpus splits and the manifest
composition that turns the raw image+caption table into the curated
training set a 10^12-image pipeline feeds to a trainer.

This is the capstone of the graft's training-data extensions (SURVEY.md
§8 "Training-data extensions"): one call joins the spatial surface (the
committed J1 PIP assign table), the text surface (quality / lang-ID /
BPE piece counts), the dedup surface (the F29 keep-list: phash → banded
Hamming pairs → connected components, built by dedup.phash_clusters and
passed in) and a deterministic train/val/test split into a single
manifest row per image.

Scale design:
- Every per-row feature (quality, lang, token counts, split) is inlined
  as Column arithmetic into ONE wide projection over the assign output —
  features add ZERO shuffles and stay in whole-stage codegen. The
  keep-list is an input, not a step: the caller builds it once per
  corpus snapshot (run_pipeline on a second driver thread beside stages
  1-4), so the manifest's only exchange is the equi-join of that
  keep-list onto the manifest rows.
- The split hash is pure bigint arithmetic — a Knuth multiplicative
  hash mod a prime — NOT xxhash64, so the DuckDB oracle replicates it
  bit-for-bit ((id % P) * M + O all stay < 2^63). Stable across Spark
  versions, parallelism, and row order by construction; re-running the
  split on a grown corpus never reassigns an existing id (the property
  that keeps eval sets frozen while the corpus ingests daily batches).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import text

SPLIT_P = 1_000_000_007      # prime modulus
SPLIT_MULT = 2_654_435_761   # Knuth multiplicative constant (2^32 * phi)
SPLIT_OFF = 40_503
# train / val / test = 90 / 5 / 5 % of SPLIT_BUCKETS buckets (frozen too)
SPLIT_BUCKETS = 10_000
_TRAIN_HI, _VAL_HI = 9_000, 9_500


def portable_hash(idnum: Column) -> Column:
    """Deterministic hash in [0, SPLIT_P) from a nonnegative bigint id:
    ((id % P) * M + O) % P — every intermediate < 2^63, so the SQL
    mirror is exact (no float, no overflow, no engine hash)."""
    return F.pmod(
        F.pmod(idnum.cast("long"), F.lit(SPLIT_P)) * F.lit(SPLIT_MULT)
        + F.lit(SPLIT_OFF),
        F.lit(SPLIT_P),
    )


def portable_hash_sql(idnum_expr: str) -> str:
    return (
        f"((({idnum_expr}) % {SPLIT_P}) * {SPLIT_MULT} + {SPLIT_OFF})"
        f" % {SPLIT_P}"
    )


def split_bucket(idnum: Column) -> Column:
    """Deterministic bucket in [0, SPLIT_BUCKETS) from a nonnegative
    bigint id (portable_hash % SPLIT_BUCKETS)."""
    return F.pmod(portable_hash(idnum), F.lit(SPLIT_BUCKETS))


def split_bucket_sql(idnum_expr: str) -> str:
    return f"{portable_hash_sql(idnum_expr)} % {SPLIT_BUCKETS}"


def split_label(bucket: Column) -> Column:
    return (
        F.when(bucket < _TRAIN_HI, F.lit("train"))
        .when(bucket < _VAL_HI, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def split_label_sql(bucket_expr: str) -> str:
    return (
        f"(case when ({bucket_expr}) < {_TRAIN_HI} then 'train' "
        f"when ({bucket_expr}) < {_VAL_HI} then 'val' else 'test' end)"
    )


def split_assign(df: DataFrame, idnum: Column | None = None,
                 id_col: str = "image_id") -> DataFrame:
    """Add (split_bucket, split) columns. ``idnum``: a nonnegative bigint
    Column for the portable (oracle-checkable) hash; default derives one
    from ``id_col`` via xxhash64 — fine in production, not SQL-mirrored."""
    if idnum is None:
        idnum = F.pmod(F.xxhash64(F.col(id_col)), F.lit(SPLIT_P))
    b = split_bucket(idnum)
    return df.withColumn("split_bucket", b).withColumn(
        "split", split_label(F.col("split_bucket"))
    )


def training_manifest(
    keep: DataFrame,
    assigned: DataFrame,
    *,
    idnum: Column,
    min_quality: float = 0.5,
) -> DataFrame:
    """One manifest row per image: containing block, dedup cluster root +
    keep flag, caption quality / language / BPE piece count, split, and
    the final ``selected`` bit (keeper AND quality >= min_quality) — the
    row set a trainer's datamodule filters on.

    ``keep`` is the corpus keep-list, (image_id, cluster_root, is_keep)
    from dedup.phash_clusters: the iterative CC loop runs once per corpus
    snapshot, by the caller, before or beside the manifest. ``assigned``
    is the committed assign table's rows (image_id, caption, block_id —
    assign.assign_points_to_blocks output plus the caption), so the PIP
    join, the pipeline's most expensive stage, never runs twice.
    ``idnum`` is the nonnegative bigint id the portable split hashes.
    """
    q = text.quality_cols("caption")
    lg = text.lang_cols("caption")
    bp = text.bpe_cols("caption")
    bucket = split_bucket(idnum)
    wide = assigned.select(
        "image_id",
        "block_id",
        q["quality_r6"].alias("quality_r6"),
        lg["pred_lang"].alias("pred_lang"),
        bp["n_pieces_bpe"].alias("n_pieces_bpe"),
        bucket.alias("split_bucket"),
        split_label(bucket).alias("split"),
    )
    return wide.join(keep, "image_id").select(
        "image_id",
        "block_id",
        "cluster_root",
        "is_keep",
        "quality_r6",
        "pred_lang",
        "n_pieces_bpe",
        "split_bucket",
        "split",
        (
            (F.col("is_keep") == 1) & (F.col("quality_r6") >= F.lit(min_quality))
        ).cast("int").alias("selected"),
    )


def cap_per_key(
    df: DataFrame,
    key_cols: list[str],
    n: int,
    idnum: Column,
    id_col: str = "image_id",
    margin: float = 4.0,
) -> DataFrame:
    """Anti-skew downsampling: keep at most ``n`` rows per key, chosen
    deterministically as the top-n by (portable_hash(id), id) within the
    key — a web-scale pipeline's per-domain / per-block cap.

    Semantics are exactly ``row_number() over (partition by key order by
    h, id) <= n`` — what the SQL oracle states. The implementation
    refuses to pay that window's skew cost directly: with a hot key
    holding 30% of 10^12 rows, a single sort task would own 30% of the
    corpus. Instead:

    1. per-key counts (map-side-combinable agg, one row per key);
    2. hash-threshold PREFILTER: keep rows with h/P * cnt < n*margin —
       ~margin*n survivors per key regardless of key size, so the exact
       window that follows sorts O(margin*n) rows per key, never O(cnt);
    3. exactness guard: any key whose prefilter admitted fewer than
       min(n, cnt) rows (order-statistic tail, probability ~e^-n at
       margin 4) falls back to the full window for that key alone.

    The guard makes the two-phase plan EXACT, not approximate — the
    prefilter only ever changes the plan, never the result.
    """
    from pyspark.sql import Window

    h = portable_hash(idnum)
    with_h = df.withColumn("__h", h)
    counts = with_h.groupBy(*key_cols).agg(F.count("*").alias("__cnt"))
    joined = with_h.join(counts, key_cols)
    pass_pre = (
        F.col("__h").cast("double") / F.lit(float(SPLIT_P)) * F.col("__cnt")
        < F.lit(float(n) * margin)
    )
    survivors = joined.filter(pass_pre)
    # exactness guard: under-admitted keys re-run on their full rows
    surv_counts = survivors.groupBy(*key_cols).agg(
        F.count("*").alias("__scnt")
    )
    under = (
        counts.join(surv_counts, key_cols, "left")
        .filter(
            F.coalesce(F.col("__scnt"), F.lit(0))
            < F.least(F.lit(n), F.col("__cnt"))
        )
        .select(*key_cols)
    )
    ok_rows = survivors.join(F.broadcast(under), key_cols, "left_anti")
    bad_rows = joined.join(F.broadcast(under), key_cols, "left_semi")
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return (
        ok_rows.unionByName(bad_rows)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n)
        .drop("__h", "__cnt", "__rk")
    )


def pack_shards(
    df: DataFrame,
    tokens_col: str,
    budget: int,
    idnum: Column,
    range_width: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget shard packing: documents concatenated in canonical
    id order, a shard boundary every ``budget`` tokens; each document's
    shard is floor(exclusive-prefix-sum / budget) — the deterministic
    sequence-packing layout trainers stream.

    Semantics = one global window cumsum, which executed literally is a
    single-task total sort — the classic scale trap. Implementation is a
    two-level prefix sum: rows bucket into contiguous id ranges
    (floor(id / range_width)); per-range token totals (one tiny row per
    range) turn into exclusive range offsets via a range-keyed window
    over the TOTALS frame only; rows then window-cumsum WITHIN their
    range (independent parallel sorts of range-sized slices) and add the
    broadcast offset. ROW-level data never globally sorts; the result is
    bit-identical to the naive global window (the SQL oracle states the
    naive form).

    Choosing ``range_width``: the offsets stage is still a single-task
    window + driver broadcast over n_ranges = max_id/range_width rows —
    deliberately, because those rows are 16 bytes each. Size range_width
    so n_ranges lands in [4×cores, ~10^6] (10^6 offsets ≈ 16 MB: trivial
    to sort and broadcast, and ample parallelism for the row stage). At
    10^12 docs that means range_width ≈ 10^6, NOT the fixture's 64; a
    range_width that puts n_ranges near the row count silently recreates
    the global sort this function exists to avoid.
    """
    from pyspark.sql import Window

    rng = F.floor(idnum / F.lit(range_width)).alias("__rng")
    rows = df.withColumn("__rng", rng).withColumn("__id", idnum)
    totals = rows.groupBy("__rng").agg(
        F.sum(F.col(tokens_col).cast("long")).alias("__tot")
    )
    w_off = Window.orderBy("__rng").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__tot").over(w_off), F.lit(0))
    ).select("__rng", "__off")
    w_in = Window.partitionBy("__rng").orderBy(F.col("__id").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        rows.join(F.broadcast(offsets), "__rng")
        .withColumn(
            "token_start",
            F.col("__off")
            + F.coalesce(F.sum(F.col(tokens_col).cast("long")).over(w_in), F.lit(0)),
        )
        .withColumn("shard_id", F.floor(F.col("token_start") / F.lit(budget)))
        .drop("__rng", "__id", "__off")
    )
