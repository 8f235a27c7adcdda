"""Similarity search over embedding columns: brute-force cosine top-k,
all-pairs near-dup, and an LSH-bucketed scale path.

The reference has no embedding operators; these are the training-data
pipeline extensions the graft mandates (ANN over ``array<float>``). The
design splits by role:

- *exact baselines* (``cosine_topk``, ``near_dup_pairs``): blocked GEMM —
  the query/right side rides an executor broadcast as one contiguous
  float64 matrix; each Arrow batch of the streaming side does a single
  ``numpy`` matrix multiply (BLAS) instead of per-row interpreted
  ``aggregate``/``zip_with`` chains, then emits only local top-k /
  over-threshold rows so the shuffle carries candidates, not scores.
- *scale path* (``lsh_bucket``): deterministic sign-random-projection
  (SimHash-style) bucketing — candidates meet only inside a bucket, the
  equi-join Catalyst already knows how to shuffle/broadcast. Hyperplanes
  come from a seeded integer LCG so an ANSI-SQL oracle can replay them.

At 10^12 rows the broadcast side must be dimension-sized (queries,
centroids); near-dup at full scale composes ``lsh_bucket`` → in-bucket
GEMM instead of the all-pairs form.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "cosine_topk",
    "near_dup_pairs",
    "near_dup_pairs_lsh",
    "lsh_bucket",
    "lsh_bucket_multi",
    "lsh_plane_sql",
    "ivf_centroid_sql",
    "ivf_topk",
    "ivfpq_topk",
    "pq_train",
    "pq_train_np",
    "pq_encode",
    "pq_encode_sql",
    "pq_topk",
]


def _round_half_up(x: np.ndarray, digits: int) -> np.ndarray:
    """Round half AWAY FROM ZERO at ``digits`` decimals — the rounding
    Spark's F.round and DuckDB's round() apply. np.round is half-to-even
    and at an exact half-ulp-of-1e-6 tie would order two candidates
    differently than the oracle's global window, so a batch-LOCAL top-k
    prune keyed by np.round could drop a candidate the global order keeps
    (output would then depend on Arrow batch boundaries).

    Residual: this computes HALF_UP on the double product abs(x)*10^d,
    while F.round/DuckDB round the exact binary value via BigDecimal — a
    product landing within 1 ulp of a .5 boundary can still disagree.
    The local prunes therefore keep ``k + PRUNE_MARGIN`` rows: a wrong
    k-th row now requires PRUNE_MARGIN+1 simultaneous 1-ulp boundary
    disagreements between a batch's keys and the global keys, not one."""
    p = 10.0 ** digits
    return np.sign(x) * np.floor(np.abs(x) * p + 0.5) / p


# extra rows each batch-local top-k keeps beyond k before the exact global
# window ranks them (see _round_half_up's residual note)
PRUNE_MARGIN = 8


def _seq_dot(q_mat: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """``q_mat @ mat.T`` accumulated SEQUENTIALLY over the dim index —
    the same IEEE summation order as the SQL oracle's left-associated
    ``+`` chain (and as ``_adc_tables``). BLAS matmul reorders the sum;
    with trained float codebooks a last-ulp difference near a
    centroid-score tie could flip the probe set vs the oracle."""
    acc = np.zeros((len(q_mat), len(mat)))
    for i in range(q_mat.shape[1]):
        acc = acc + q_mat[:, i : i + 1] * mat[None, :, i]
    return acc


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    return ids, mat


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    exclude_self: bool = True,
    round_digits: int | None = 6,
) -> DataFrame:
    """Top-k cosine neighbors among ``embeddings`` for every row of the
    (dimension-sized) ``queries`` frame.

    Output: (q_id, rank, neighbor_id). Each Arrow batch computes
    ``batch @ Q.T`` with one BLAS call and emits only its local top-k per
    query; the global window then ranks ``num_partitions * k`` candidates
    per query instead of N. Ties broken by ascending neighbor id (matches
    the SQL oracle's ``order by sim desc, vec_id asc``).
    """
    spark = embeddings.sparkSession
    q_ids, q_mat = _collect_matrix(queries, query_id_col, vec_col)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, q_norm))

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def score(batches):
        ids_q, qn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_e = pdf[id_col].to_numpy()
            e = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            e = e / np.linalg.norm(e, axis=1, keepdims=True)
            sims = e @ qn.T  # (batch, n_queries)
            # local selection must use the SAME total order as the global
            # window (round(sim, d) desc, neighbor_id asc) — selecting by
            # raw float could drop a candidate that rounds equal to the
            # k-th but carries a lower id, making output depend on Arrow
            # batch boundaries; HALF_UP to match F.round/DuckDB exactly
            sims_key = (
                _round_half_up(sims, round_digits)
                if round_digits is not None
                else sims
            )
            out_q, out_n, out_s = [], [], []
            for j in range(len(ids_q)):
                col = sims[:, j]
                mask = np.ones(len(col), dtype=bool)
                if exclude_self:
                    mask &= ids_e != ids_q[j]
                idx = np.nonzero(mask)[0]
                if len(idx) == 0:
                    continue
                take = min(k + PRUNE_MARGIN, len(idx))
                order = np.lexsort((ids_e[idx], -sims_key[idx, j]))
                top = idx[order[:take]]
                out_q.extend([ids_q[j]] * len(top))
                out_n.extend(ids_e[top].tolist())
                out_s.extend(col[top].tolist())
            yield pd.DataFrame({"q_id": out_q, "neighbor_id": out_n, "sim": out_s})

    local = embeddings.select(id_col, vec_col).mapInPandas(score, schema)
    sim_col = (
        F.round(F.col("sim"), round_digits) if round_digits is not None else F.col("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc(sim_col), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "neighbor_id")
    )


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("v1", T.LongType()),
        T.StructField("v2", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ]
)


def near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    n_chunks: int = 8,
) -> DataFrame:
    """EXACT all pairs (v1 < v2) with cosine >= threshold, fully
    distributed: rows are hashed into ``n_chunks`` chunks, every row is
    replicated to the ``n_chunks`` unordered chunk-pair keys it belongs
    to, and each (c1, c2) task runs ONE GEMM between the two sub-matrices
    (upper triangle when c1 == c2). Nothing is collected to the driver;
    per-task memory is ~2·N/n_chunks vectors, so size n_chunks ≈
    N·dim·8B / (task budget). The O(N²) FLOPs are inherent to exactness —
    at 10^12 rows use ``near_dup_pairs_lsh`` (bounded-recall candidates)
    instead."""
    thr = float(threshold)
    rd = round_digits
    B = int(n_chunks)

    e = embeddings.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(B)).alias("ch"),
    )
    # each unordered pair {x, y} lives in exactly one chunk-pair key
    # (min(ch_x, ch_y), max(ch_x, ch_y)); replicating each row to the B
    # keys (min(ch,p), max(ch,p)) for p=0..B-1 covers them all, and the B
    # keys are pairwise distinct (each p yields a different unordered
    # pair), so no dedup stage is needed — the plan is explode → ONE
    # shuffle on (k1,k2) → grouped GEMM
    p = F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("p")
    keyed = e.select("vid", "v", "ch", p).select(
        "vid", "v", "ch",
        F.least(F.col("ch"), F.col("p")).alias("k1"),
        F.greatest(F.col("ch"), F.col("p")).alias("k2"),
    )

    def pair_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"v1": [], "v2": [], "sim": []})
        k1, k2 = int(pdf["k1"].iloc[0]), int(pdf["k2"].iloc[0])
        ids = pdf["vid"].to_numpy()
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        ch = pdf["ch"].to_numpy()
        if k1 == k2:
            sims = mat @ mat.T
            if rd is not None:
                sims = np.round(sims, rd)
            li, rj = np.nonzero(np.triu(sims >= thr, 1) & (ids[:, None] != ids[None, :]))
            a, b = ids[li], ids[rj]
        else:
            la, lb = ch == k1, ch == k2
            sims = mat[la] @ mat[lb].T
            if rd is not None:
                sims = np.round(sims, rd)
            li, rj = np.nonzero(sims >= thr)
            a, b = ids[la][li], ids[lb][rj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"v1": lo, "v2": hi, "sim": sims[li, rj]})

    return keyed.groupBy("k1", "k2").applyInPandas(pair_block, _PAIR_SCHEMA)


def near_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    n_tables: int = 4,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    dim: int | None = None,
) -> DataFrame:
    """Approximate near-dup for tables where O(N²) is impossible: the
    10^12-row composition promised by this module — candidates are pairs
    sharing an ``lsh_bucket`` signature in ANY of ``n_tables`` independent
    tables (table t uses planes [t·n_planes, (t+1)·n_planes)); exact
    cosine verifies each candidate. Recall is bounded by the
    sign-random-projection collision probability (1 - θ/π)^n_planes per
    table — a deliberate, documented trade (the SQL oracle mirrors the
    same candidate semantics, so verification is exact)."""
    sigs = lsh_bucket_multi(
        embeddings, n_tables, n_planes, id_col, vec_col, dim=dim
    )
    cand = (
        sigs.alias("x")
        .join(sigs.alias("y"), on=["tbl", "bucket"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("v1"), F.col(f"y.{id_col}").alias("v2")
        )
        .distinct()
    )
    e1 = embeddings.select(F.col(id_col).alias("v1"), F.col(vec_col).alias("__e1"))
    e2 = embeddings.select(F.col(id_col).alias("v2"), F.col(vec_col).alias("__e2"))
    withv = cand.join(e1, "v1").join(e2, "v2")

    rd = round_digits

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        av = np.stack([np.asarray(x, dtype=np.float64) for x in a])
        bv = np.stack([np.asarray(x, dtype=np.float64) for x in b])
        num = (av * bv).sum(1)
        den = np.sqrt((av * av).sum(1) * (bv * bv).sum(1))
        out = num / den
        return pd.Series(np.round(out, rd) if rd is not None else out)

    return (
        withv.withColumn("sim", cos(F.col("__e1"), F.col("__e2")))
        .filter(F.col("sim") >= float(threshold))
        .select("v1", "v2", "sim")
    )


# ---------------------------------------------------------------------------
# LSH bucketing (sign random projection) — the 10^12-scale candidate filter
# ---------------------------------------------------------------------------

_LCG_A, _LCG_B, _LCG_M = 1103515245, 12345, 2**31


def _plane_coef(p: int, d: int) -> int:
    """Deterministic pseudo-random in [-4, 4]: integer LCG on (plane, dim),
    replayable as ANSI SQL (see lsh_plane_sql)."""
    return ((p * 7919 + d) * _LCG_A + _LCG_B) % _LCG_M % 9 - 4


def _plane_matrix(n_planes: int, plane_offset: int, d: int) -> np.ndarray:
    return np.array(
        [[_plane_coef(plane_offset + p, i) for i in range(d)]
         for p in range(n_planes)],
        dtype=np.float64,
    )


def lsh_bucket(
    embeddings: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_offset: int = 0,
    dim: int | None = None,
    method: str = "gemm",
) -> DataFrame:
    """(id, bucket): SimHash-style signature — bit p of ``bucket`` is the
    sign of <v, h_{plane_offset+p}> for deterministic hyperplane h.
    ``plane_offset`` selects an independent table from the same plane
    stream (multi-table LSH). Pass ``dim`` to avoid the ``.first()``
    driver action used as fallback.

    ``method='gemm'`` (default): one Arrow-batched BLAS multiply against
    the broadcast (n_planes × dim) integer plane matrix. The integer
    coefficients keep every product exact in float64, so signs — and
    therefore buckets — are bit-identical to the SQL oracle's
    left-to-right sums away from an exact-zero dot (asserted safe on the
    fixtures, margin ~1e-5 vs ~1e-12 rounding).
    ``method='column'``: the same signature as pure JVM Column arithmetic
    (no Python anywhere in the plan) — the 100-TB-job mode, where the
    once-per-plan Catalyst analysis of the ~n_planes·dim-term tree is
    amortized over the whole input instead of a small fixture."""
    d = dim if dim is not None else len(embeddings.select(vec_col).first()[0])
    if method == "column":
        bucket = _bucket_expr(vec_col, n_planes, plane_offset, d)
        return embeddings.select(F.col(id_col), bucket.alias("bucket"))
    P = _plane_matrix(n_planes, plane_offset, d)
    bc = embeddings.sparkSession.sparkContext.broadcast(P)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("long")
    def bucket_udf(v: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        bits = (mat @ bc.value.T) > 0
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return embeddings.select(
        F.col(id_col), bucket_udf(F.col(vec_col)).alias("bucket")
    )


def _bucket_expr(vec_col: str, n_planes: int, plane_offset: int, d: int):
    bucket = F.lit(0).cast("long")
    v = F.col(vec_col)
    for p in range(n_planes):
        dot = None
        for i in range(d):
            c = _plane_coef(plane_offset + p, i)
            if c == 0:
                continue
            term = F.element_at(v, i + 1).cast("double") * F.lit(float(c))
            dot = term if dot is None else dot + term
        bit = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def lsh_bucket_multi(
    embeddings: DataFrame,
    n_tables: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(id, tbl, bucket): multi-table LSH signatures in ONE pass — table
    t's bucket uses planes [t·n_planes, (t+1)·n_planes). A single GEMM
    against the stacked (n_tables·n_planes × dim) plane matrix produces
    every table's sign bits per Arrow batch; posexplode unpivots to rows.
    n_tables separate lsh_bucket calls would scan the input n_tables
    times for the same information."""
    d = dim if dim is not None else len(embeddings.select(vec_col).first()[0])
    P = _plane_matrix(n_tables * n_planes, 0, d)
    bc = embeddings.sparkSession.sparkContext.broadcast(P)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    nt, npl = n_tables, n_planes

    @F.pandas_udf("array<long>")
    def buckets_udf(v: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        bits = (mat @ bc.value.T) > 0  # (batch, nt*npl)
        vals = (
            bits.reshape(len(mat), nt, npl) * weights
        ).sum(axis=2).astype(np.int64)
        return pd.Series(list(vals))

    return embeddings.select(
        F.col(id_col), buckets_udf(F.col(vec_col)).alias("__bs")
    ).select(
        id_col, F.posexplode(F.col("__bs")).alias("tbl", "bucket")
    )


def _ivf_centroid_coef(c: int, d: int) -> int:
    """Deterministic centroid component in [-4, 4] (same LCG family as the
    LSH planes but a different stream) — a fixed coarse codebook the SQL
    oracle replays. A production deployment would train these with k-means
    and broadcast them; the operator shape is identical."""
    return ((c * 104729 + d * 31 + 17) * _LCG_A + _LCG_B) % _LCG_M % 9 - 4


def _codebook(n_centroids: int, d: int) -> np.ndarray:
    return np.array(
        [[_ivf_centroid_coef(c, i) for i in range(d)] for c in range(n_centroids)],
        dtype=np.float64,
    )


def ivf_train(
    embeddings: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 65_536,
    n_iter: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Data-dependent IVF codebook: spherical k-means (Lloyd's) fit on a
    deterministic driver-side sample, returned as a numpy matrix to
    broadcast into ``ivf_topk``. The 10^12-row shape:
    the sample is ``orderBy(id).limit(sample_size)`` — a TakeOrdered
    (per-partition top-k + driver merge, no global sort shuffle) that is
    deterministic across parallelism; training itself is
    O(sample · k · d · iters) on the driver, then the codebook rides a
    task broadcast exactly like the fixed one.

    Spherical variant (unit-normalized centroids, argmax-dot assignment)
    because the operator's coarse quantizer assigns by inner product.
    Empty clusters reseed deterministically to the worst-served sample
    point. The fixed LCG codebook (``codebook=None`` everywhere) remains
    the SQL-oracle mode."""
    pdf = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_size)
        .toPandas()
    )
    x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = xn[rng.choice(len(xn), size=min(n_centroids, len(xn)), replace=False)]
    if len(cent) < n_centroids:  # degenerate tiny input: pad by repetition
        cent = np.vstack([cent] * (n_centroids // len(cent) + 1))[:n_centroids]
    for _ in range(n_iter):
        assign_ = np.argmax(xn @ cent.T, axis=1)
        sims = (xn * cent[assign_]).sum(axis=1)
        # DISTINCT worst-served points for this iteration's empty
        # clusters: reseeding them all to the same argmin would collapse
        # the codebook to a few duplicate centroids
        reseed = iter(np.argsort(sims))
        for c in range(n_centroids):
            members = xn[assign_ == c]
            if len(members) == 0:
                cent[c] = xn[next(reseed, 0)]
                continue
            m = members.sum(axis=0)
            n = np.linalg.norm(m)
            if n > 1e-12:
                cent[c] = m / n
    return cent


def _centroid_udf(spark, codebook: np.ndarray):
    """Task-broadcast argmax-dot quantizer, one Arrow batch at a time
    (a 1000+-term Column expression would cost more in Catalyst analysis
    than the whole job); np.argmax breaks ties to the lower centroid id,
    matching the SQL oracle's first-equality scan. Scores accumulate via
    _seq_dot — the oracle's left-associated '+' chain order — not BLAS
    matmul, so a last-ulp difference near a score tie cannot assign a
    corpus vector to a different list than the oracle (the corpus-side
    twin of the probe-selection fix in ivf_topk/ivfpq_topk)."""
    bc = spark.sparkContext.broadcast(np.asarray(codebook, float))

    @F.pandas_udf("int")
    def cent(v: pd.Series) -> pd.Series:
        cb = bc.value
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        return pd.Series(np.argmax(_seq_dot(mat, cb), axis=1).astype(np.int32))

    # the value is fully deterministic; the mark only stops Catalyst from
    # DUPLICATING the GEMM when it splits out the join-key IsNotNull filter
    # (observed: two ArrowEvalPython stages over the same scan).
    return cent.asNondeterministic()


def ivf_centroid_sql(table: str, n_centroids: int, d: int,
                     vec_col: str = "embedding", extra_cols: str = "vec_id") -> str:
    """Subquery computing the same centroid assignment: per-centroid dot
    columns in one layer, greatest in the next, first-equality argmax on
    top (named columns keep the SQL linear in n_centroids * d)."""
    def dot_with(c: int) -> str:
        terms = []
        for i in range(d):
            coef = _ivf_centroid_coef(c, i)
            if coef == 0:
                continue
            terms.append(f"cast({vec_col}[{i + 1}] as double) * {float(coef)}")
        return "(" + (" + ".join(terms) if terms else "0.0") + ")"

    dots = ", ".join(f"{dot_with(c)} as s{c}" for c in range(n_centroids))
    allc = ", ".join(f"s{c}" for c in range(n_centroids))
    cases = " ".join(
        f"when s{c} = g then {c}" for c in range(n_centroids - 1)
    )
    return f"""(
        select {extra_cols}, {vec_col},
               (case {cases} else {n_centroids - 1} end) as centroid
        from (select {extra_cols}, {vec_col}, greatest({allc}) as g, {allc}
              from (select {extra_cols}, {vec_col}, {dots} from {table}))
    )"""


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    dim: int | None = None,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """IVF-approximate top-k: search only vectors whose centroid is among
    the query's ``n_probe`` nearest centroids, then exact GEMM within the
    probed cells. The 10^12-row shape: the centroid equi-join prunes the
    scan to n_probe/n_centroids of the table before any distance math.
    Pass ``dim`` to avoid the ``.first()`` driver action fallback.
    ``codebook``: trained centroids from ``ivf_train`` (default: the
    fixed LCG codebook, the SQL-oracle mode)."""
    spark = embeddings.sparkSession
    d = dim if dim is not None else len(embeddings.select(vec_col).first()[0])
    codebook = (
        _codebook(n_centroids, d) if codebook is None
        else np.asarray(codebook, float)
    )
    q_pdf = queries.select(query_id_col, vec_col).toPandas()
    q_mat = np.stack([np.asarray(v, dtype=np.float64) for v in q_pdf[vec_col]])
    scores = _seq_dot(q_mat, codebook)  # oracle's exact IEEE sum order
    probes = np.argsort(-scores, axis=1, kind="stable")[:, :n_probe]
    probe_rows = [
        {"q_id": int(q_pdf[query_id_col].iloc[i]), "centroid": int(c)}
        for i in range(len(q_pdf))
        for c in probes[i]
    ]
    probe_df = F.broadcast(spark.createDataFrame(pd.DataFrame(probe_rows)))

    # centroid computed INLINE (withColumn), never via a self-join with a
    # separate (id, centroid) frame: that plan re-scans the table and broadcasts an O(N)
    # (id, centroid) map — fatal at 10^12 rows. Inline, the quantizer is
    # a map-side Arrow stage and only the tiny probe table broadcasts.
    cent = _centroid_udf(spark, codebook)
    tagged = embeddings.withColumn("centroid", cent(F.col(vec_col)))
    cand = tagged.join(probe_df, on="centroid")
    q_for_join = queries.select(
        F.col(query_id_col).alias("q_id"), F.col(vec_col).alias("__qv")
    )
    cand = cand.join(F.broadcast(q_for_join), on="q_id").filter(
        F.col(id_col) != F.col("q_id")
    )

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        av = np.stack([np.asarray(x, dtype=np.float64) for x in a])
        bv = np.stack([np.asarray(x, dtype=np.float64) for x in b])
        num = (av * bv).sum(1)
        den = np.sqrt((av * av).sum(1) * (bv * bv).sum(1))
        return pd.Series(np.round(num / den, 6))

    scored = cand.withColumn("sim", cos(F.col("__qv"), F.col(vec_col)))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", F.col(id_col).alias("neighbor_id"))
    )


def lsh_plane_sql(vec_expr: str, n_planes: int, d: int, plane_offset: int = 0) -> str:
    """The same bucket as ANSI SQL (DuckDB: 1-based list indexing)."""
    parts = []
    for p in range(n_planes):
        terms = []
        for i in range(d):
            c = _plane_coef(plane_offset + p, i)
            if c == 0:
                continue
            terms.append(f"cast({vec_expr}[{i + 1}] as double) * {float(c)}")
        dot = " + ".join(terms) if terms else "0.0"
        parts.append(f"(case when ({dot}) > 0 then {1 << p} else 0 end)")
    return "(" + " + ".join(parts) + ")"


# ---------------------------------------------------------------------------
# product quantization — compressed codes + ADC top-k (the 10^12-row ANN
# memory path: 64 float32 dims -> m uint4/uint8 codes per vector)
# ---------------------------------------------------------------------------

def _pq_code_coef(sub: int, code: int, i: int) -> int:
    """Deterministic sub-codebook component in [-4, 4] — a third LCG
    stream (distinct from LSH planes and IVF centroids) so the SQL
    oracle replays the exact codebooks."""
    return (
        (sub * 15485863 + code * 104729 + i * 31 + 7) * _LCG_A + _LCG_B
    ) % _LCG_M % 9 - 4


def _pq_codebooks(m: int, n_codes: int, sub_d: int) -> np.ndarray:
    """(m, n_codes, sub_d) fixed codebooks."""
    return np.array(
        [
            [[_pq_code_coef(j, c, i) for i in range(sub_d)] for c in range(n_codes)]
            for j in range(m)
        ],
        dtype=np.float64,
    )


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    dim: int | None = None,
    sample_size: int = 65_536,
    n_iter: int = 12,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Data-dependent PQ codebooks: per-subvector Lloyd's k-means (plain
    L2 — ADC approximates inner products of the RECONSTRUCTIONS, so the
    codebooks must sit where the data is; the fixed LCG books are random
    integer points and quantize real data to noise — recall ~0). Same
    10^12-row shape as ivf_train: deterministic orderBy(id).limit sample
    (TakeOrdered, no global sort), O(sample * k * d * iters) on the
    driver, codebooks broadcast. Returns (m, n_codes, d/m); pass to
    pq_encode/pq_topk via ``codebooks=``. The fixed-LCG mode
    (codebooks=None) remains the SQL-oracle mode."""
    pdf = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_size)
        .toPandas()
    )
    x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    return pq_train_np(x, m=m, n_codes=n_codes, dim=dim, n_iter=n_iter, seed=seed)


def pq_train_np(
    x: np.ndarray,
    m: int = 8,
    n_codes: int = 16,
    dim: int | None = None,
    n_iter: int = 12,
    seed: int = 13,
) -> np.ndarray:
    """The numpy k-means body of ``pq_train``, factored out so an oracle
    generator can reproduce the exact codebooks from the same sample rows
    WITHOUT a SparkSession (load the parquet, order by id, call this) —
    the training procedure is deterministic, so trained-codebook queries
    stay DuckDB-oracleable by injecting the books as SQL literals."""
    d = dim if dim is not None else x.shape[1]
    assert d % m == 0, (d, m)
    sd = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, sd))
    for j in range(m):
        xs = x[:, j * sd:(j + 1) * sd]
        k = min(n_codes, len(xs))
        cent = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        if k < n_codes:
            cent = np.vstack([cent] * (n_codes // k + 1))[:n_codes]
        xs_sq = (xs * xs).sum(axis=1)
        for _ in range(n_iter):
            # GEMM form (|x|^2 - 2 x.c + |c|^2), like ivf_train — the
            # broadcast-subtract temporary is sample*n_codes*sub_d floats
            d2 = (
                xs_sq[:, None]
                - 2.0 * (xs @ cent.T)
                + (cent * cent).sum(axis=1)[None, :]
            )
            a = np.argmin(d2, axis=1)
            worst = iter(np.argsort(-d2[np.arange(len(xs)), a]))
            for c in range(n_codes):
                mem = xs[a == c]
                cent[c] = mem.mean(axis=0) if len(mem) else xs[next(worst, 0)]
        books[j] = cent
    return books


def pq_encode(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """(id, codes): per-subvector nearest-codebook-entry assignment —
    argmin L2, computed as argmax of (x_sub . c - |c|^2/2). Compression:
    d float32 -> m small ints; at 10^12 rows that is the difference
    between an in-memory ANN index and none.

    IEEE determinism contract with the SQL oracle: every float reduction
    is accumulated SEQUENTIALLY in the same order as the SQL's
    left-associated `+` chain (numpy pairwise summation could differ in
    the last ulp and flip an argmax near a tie); ties break to the lower
    code on both sides."""
    spark = embeddings.sparkSession
    d = dim if dim is not None else len(embeddings.select(vec_col).first()[0])
    assert d % m == 0, (d, m)
    sub_d = d // m
    books = _pq_codebooks(m, n_codes, sub_d) if codebooks is None else np.asarray(codebooks, float)
    enc_nd = _pq_encode_udf(spark, books)
    return embeddings.select(
        F.col(id_col), enc_nd(F.col(vec_col)).alias("codes")
    )


def _pq_encode_udf(spark, books: np.ndarray):
    """Arrow-batched PQ encoder against task-broadcast codebooks —
    factored out so composed operators (ivfpq_topk) can tag codes inline
    next to the coarse centroid in ONE corpus pass. See pq_encode for
    the IEEE determinism contract with the SQL oracle."""
    books = np.asarray(books, float)
    half_norms = 0.5 * (books * books).sum(axis=2)  # matches the SQL literal
    bc = spark.sparkContext.broadcast((books, half_norms))

    @F.pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        books_, hn = bc.value
        m_, n_codes_, sd = books_.shape
        x = np.stack([np.asarray(e, dtype=np.float64) for e in v])
        out = np.empty((len(x), m_), dtype=np.int32)
        for j in range(m_):
            xs = x[:, j * sd:(j + 1) * sd]
            s = np.zeros((len(x), n_codes_))
            for i in range(sd):  # sequential adds == SQL's `+` chain
                s = s + xs[:, i:i + 1] * books_[j, :, i][None, :]
            s = s - hn[j][None, :]
            out[:, j] = np.argmax(s, axis=1)  # first max == lower code
        return pd.Series([row.tolist() for row in out])

    # deterministic value; the mark only stops Catalyst duplicating the UDF
    return enc.asNondeterministic()


def _pq_sub_score_sql(j: int, c: int, sub_d: int, vec_expr: str,
                      with_half_norm: bool,
                      books: np.ndarray | None = None) -> str:
    """Dot of subvector j of ``vec_expr`` with codebook entry (j, c),
    optionally minus |c|^2/2 — zero coefficients skipped (adding an
    exact 0.0 product never changes an IEEE sum). ``books``: trained
    codebooks injected as double literals (repr round-trips exactly);
    the half-norm literal is then computed with the SAME numpy pairwise
    sum the engine broadcasts, so a last-ulp difference cannot flip an
    argmax near a tie."""
    terms = []
    for i in range(sub_d):
        coef = (
            float(books[j, c, i]) if books is not None
            else float(_pq_code_coef(j, c, i))
        )
        if coef == 0.0:
            continue
        terms.append(
            f"cast({vec_expr}[{j * sub_d + i + 1}] as double) * {coef!r}"
        )
    dot = "(" + (" + ".join(terms) if terms else "0.0") + ")"
    if with_half_norm:
        if books is not None:
            hn = float(0.5 * (books[j, c] * books[j, c]).sum())
        else:
            hn = float(
                0.5 * sum(_pq_code_coef(j, c, i) ** 2 for i in range(sub_d))
            )
        return f"({dot} - {hn!r})"
    return dot


def pq_encode_sql(table: str, m: int, n_codes: int, d: int,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  books: np.ndarray | None = None) -> str:
    """Subquery emitting (id, c0..c{m-1}) with the identical assignment:
    named score columns, greatest, first-equality argmax — the
    ivf_centroid_sql pattern per subvector. ``books``: trained codebooks
    as literals (default: the fixed LCG books)."""
    sub_d = d // m
    scores = ", ".join(
        f"{_pq_sub_score_sql(j, c, sub_d, vec_col, True, books)} as s{j}_{c}"
        for j in range(m) for c in range(n_codes)
    )
    gs = ", ".join(
        f"greatest({', '.join(f's{j}_{c}' for c in range(n_codes))}) as g{j}"
        for j in range(m)
    )
    allcols = ", ".join(
        f"s{j}_{c}" for j in range(m) for c in range(n_codes)
    )
    cases = ", ".join(
        "(case "
        + " ".join(f"when s{j}_{c} = g{j} then {c}" for c in range(n_codes - 1))
        + f" else {n_codes - 1} end) as c{j}"
        for j in range(m)
    )
    return f"""(
        select {id_col}, {cases}
        from (select {id_col}, {allcols}, {gs}
              from (select {id_col}, {scores} from {table}))
    )"""


def normalize_unit(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "nemb",
) -> DataFrame:
    """Append ``out_col`` = unit-normalized ``vec_col`` (array<double>).
    Cosine-metric PQ encodes NORMALIZED vectors (ADC then approximates
    |q|·cosine, whose per-query constant scale never changes a ranking);
    encoding raw vectors makes ADC approximate raw inner product and
    costs recall against a cosine ground truth.

    Oracle bit-exactness: the squared norm is a SEQUENTIAL left fold
    (F.aggregate) — identical IEEE value to an ANSI-SQL left-associated
    `+` chain (the 0.0 seed is exact: 0.0 + x² == x² for every x² ≥ 0) —
    and sqrt/divide are single IEEE ops, so the normalized doubles match
    DuckDB's to the last bit and the downstream encode argmax cannot
    diverge. The norm materializes as a real column between the two HOF
    stages (the lambda re-evaluation trap)."""
    n2 = F.aggregate(
        vec_col,
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    # 1e-12 floor: a zero vector would otherwise yield NaN components and
    # the engine/oracle encode argmax diverges on NaN (np.argmax returns
    # 0; SQL's `case when s = g` is never true for NaN). greatest() is a
    # single IEEE-exact op mirrored verbatim in the SQL.
    with_n = df.select(
        "*", F.greatest(F.sqrt(n2), F.lit(1e-12)).alias("__nrm")
    )
    return with_n.select(
        *df.columns,
        F.transform(
            vec_col, lambda x: x.cast("double") / F.col("__nrm")
        ).alias(out_col),
    )


def normalize_unit_sql(
    table: str,
    d: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "nemb",
) -> str:
    """DuckDB mirror of normalize_unit (same `+` chain, same single-op
    sqrt/divide)."""
    chain = " + ".join(
        f"cast({vec_col}[{i + 1}] as double) * cast({vec_col}[{i + 1}] as double)"
        for i in range(d)
    )
    return (
        f"(select {id_col}, list_transform({vec_col},"
        f" x -> cast(x as double) / greatest(sqrt({chain}), 1e-12))"
        f" as {out_col} from {table})"
    )


def _adc_tables(q_mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n_queries, m, n_codes) ADC lookup tables: sub-dot-products of
    each query with every codebook entry, accumulated SEQUENTIALLY over
    the subvector index to match the SQL oracle's `+` chain."""
    m, n_codes, sub_d = books.shape
    tabs = np.zeros((len(q_mat), m, n_codes))
    for j in range(m):
        for i in range(sub_d):  # sequential == the SQL dot chain
            tabs[:, j, :] = tabs[:, j, :] + (
                q_mat[:, j * sub_d + i:j * sub_d + i + 1] * books[j, :, i][None, :]
            )
    return tabs


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = 8,
    n_codes: int = 16,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    exclude_self: bool = True,
    round_digits: int = 6,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k: corpus vectors exist
    only as PQ codes; each query precomputes an (m, n_codes) table of
    sub-dot-products and a candidate's score is m table LOOKUPS — no
    float vector is ever read per corpus row. Output (q_id, rank,
    neighbor_id), ranked by approximate inner product (round(.,6) desc,
    id asc), local top-k under the same order as the global window
    (cosine_topk's batch-boundary rule)."""
    spark = embeddings.sparkSession
    d = dim if dim is not None else len(embeddings.select(vec_col).first()[0])
    sub_d = d // m
    books = _pq_codebooks(m, n_codes, sub_d) if codebooks is None else np.asarray(codebooks, float)
    enc = pq_encode(embeddings, m, n_codes, dim=d, id_col=id_col,
                    vec_col=vec_col, codebooks=books)
    q_ids, q_mat = _collect_matrix(queries, query_id_col, vec_col)
    tabs = _adc_tables(q_mat, books)
    bc = spark.sparkContext.broadcast((q_ids, tabs))

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def adc(batches):
        ids_q, tabs_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_e = pdf[id_col].to_numpy()
            codes = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            out_q, out_n, out_s = [], [], []
            for qi in range(len(ids_q)):
                acc = np.zeros(len(codes))
                for j in range(tabs_.shape[1]):  # sequential == SQL `+` chain
                    acc = acc + tabs_[qi, j, codes[:, j]]
                key = _round_half_up(acc, round_digits)
                mask = np.ones(len(acc), dtype=bool)
                if exclude_self:
                    mask &= ids_e != ids_q[qi]
                idx = np.nonzero(mask)[0]
                if len(idx) == 0:
                    continue
                order = np.lexsort((ids_e[idx], -key[idx]))
                top = idx[order[: min(k + PRUNE_MARGIN, len(idx))]]
                out_q.extend([ids_q[qi]] * len(top))
                out_n.extend(ids_e[top].tolist())
                # emit the RAW score; the global window re-rounds with
                # F.round (HALF_UP, = DuckDB round) — np.round is
                # half-to-even and at an exact half-integer*1e-6 would
                # rank differently than the oracle (cosine_topk's rule)
                out_s.extend(acc[top].tolist())
            yield pd.DataFrame({"q_id": out_q, "neighbor_id": out_n, "score": out_s})

    from pyspark.sql import Window

    local = enc.mapInPandas(adc, schema)
    w = Window.partitionBy("q_id").orderBy(
        F.round(F.col("score"), round_digits).desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "neighbor_id")
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    exclude_self: bool = True,
    round_digits: int = 6,
    codebook: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    encode_col: str | None = None,
) -> DataFrame:
    """IVF-PQ composition — the standard full-ANN shape for 10^12-row
    retrieval: the coarse IVF probe prune (ivf_topk's centroid equi-join,
    cutting the scan to ~n_probe/n_centroids of the corpus) feeds ADC
    scoring (pq_topk's m-table-lookups-per-candidate, no float vector
    ever read per corpus row) WITHIN the probed lists only.

    Plan shape: one corpus pass tags each row with (centroid, codes) in
    a single Arrow stage; the tiny (q_id, centroid) probe table
    broadcasts; surviving candidates carry only id + m small ints into
    the batch-local ADC top-k; the global window ranks
    num_partitions * k rows per query. Output (q_id, rank, neighbor_id)
    under the identical total order as pq_topk (round(score, d) desc,
    id asc; batch-local prune keyed HALF_UP to match).

    ``codebook``/``codebooks``: trained coarse/PQ books (defaults: the
    fixed LCG books — the SQL-oracle mode)."""
    spark = embeddings.sparkSession
    d = dim if dim is not None else len(embeddings.select(vec_col).first()[0])
    assert d % m == 0, (d, m)
    coarse = (
        _codebook(n_centroids, d) if codebook is None
        else np.asarray(codebook, float)
    )
    books = (
        _pq_codebooks(m, n_codes, d // m) if codebooks is None
        else np.asarray(codebooks, float)
    )
    q_ids, q_mat = _collect_matrix(queries, query_id_col, vec_col)
    probes = np.argsort(
        -_seq_dot(q_mat, coarse), axis=1, kind="stable"  # oracle's sum order
    )[:, :n_probe]
    probe_rows = [
        {"q_id": int(q_ids[i]), "centroid": int(c)}
        for i in range(len(q_ids))
        for c in probes[i]
    ]
    probe_df = F.broadcast(spark.createDataFrame(pd.DataFrame(probe_rows)))

    # centroid AND codes tagged inline in one corpus pass (ivf_topk's
    # never-self-join rule); only the probe table broadcasts
    cent = _centroid_udf(spark, coarse)
    enc = _pq_encode_udf(spark, books)
    tagged = embeddings.select(
        F.col(id_col),
        cent(F.col(vec_col)).alias("centroid"),
        # codes may encode a different column than the coarse quantizer
        # reads (cosine-metric PQ: centroid on raw, codes on normalized —
        # positive per-row scaling never changes the centroid argmax, so
        # the candidate set stays identical to IVF-alone's)
        enc(F.col(encode_col if encode_col is not None else vec_col)).alias("codes"),
    )
    cand = tagged.join(probe_df, on="centroid")
    if exclude_self:
        cand = cand.filter(F.col(id_col) != F.col("q_id"))
    cand = cand.select("q_id", id_col, "codes")

    tabs = _adc_tables(q_mat, books)
    qpos = {int(q): i for i, q in enumerate(q_ids)}
    bc = spark.sparkContext.broadcast((qpos, tabs))

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def adc(batches):
        qpos_, tabs_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            frames = []
            for qid, grp in pdf.groupby("q_id"):
                qi = qpos_[int(qid)]
                ids_e = grp[id_col].to_numpy()
                codes = np.stack(
                    [np.asarray(c, dtype=np.int64) for c in grp["codes"]]
                )
                acc = np.zeros(len(codes))
                for j in range(tabs_.shape[1]):  # sequential == SQL `+` chain
                    acc = acc + tabs_[qi, j, codes[:, j]]
                key = _round_half_up(acc, round_digits)
                order = np.lexsort((ids_e, -key))
                top = order[: min(k + PRUNE_MARGIN, len(order))]
                frames.append(
                    pd.DataFrame(
                        {
                            "q_id": int(qid),
                            "neighbor_id": ids_e[top],
                            # raw score; the global window re-rounds HALF_UP
                            "score": acc[top],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    local = cand.mapInPandas(adc, schema)
    w = Window.partitionBy("q_id").orderBy(
        F.round(F.col("score"), round_digits).desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "neighbor_id")
    )
