"""Corpus-level dedup: near-dup pair graphs → connected components →
keep-one-per-cluster.

The reference dedups only by exact id (skip-if-done sets,
/root/reference/reblock/i_reblock.py:103-165); a training-data pipeline
needs the full chain: candidate pairs (MinHash/Jaccard/phash), a
component grouping over the pair graph, and a canonical keeper per
component.

Every phash path is one chain of private steps: ``_groups`` collapses
identical hashes to (ph, rep = min id, n), ``_banded`` splits each hash
into 16-bit bands with one ``stack``, ``_self_pairs`` runs the guarded
banded self-join and ``_verified`` checks its candidates by
``bit_count``, and ``_roots`` maps each item through the pair graph's
``connected_components`` to its component root. The public functions
compose them:

- ``phash_near_dup``: the verified pairs between exact-duplicate groups.
  Banding is provably exact here: splitting the 64-bit phash into
  ``PHASH_BANDS`` equal bands finds EVERY pair within Hamming distance
  ``PHASH_BANDS - 1`` (pigeonhole: k differing bits touch at most k
  bands, so at least one band matches exactly). With
  ``PHASH_MAX_HAMMING = 2 < 4`` the candidate join is exact, not
  approximate, so the DuckDB oracle mirrors full semantics.
- ``phash_clusters``: every image mapped to its cluster root, one
  ``_groups`` feeding both the pairs and the expansion.
- ``incremental_phash_dedup``: a batch mapped against a keeper corpus;
  corpus × batch pairs come from a broadcast join (the corpus is
  shuffled once, by its exact-dup ``_groups``, and never self-joins),
  batch × batch pairs from the same guarded ``_self_pairs``.
- ``connected_components``: the alternating large-star / small-star
  algorithm (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC 2014) in pure DataFrame ops — O(log n) rounds even on
  path graphs, each round two shuffles (a groupBy-min and an equi-join),
  no collect_list (per-node state is a single min, so hub nodes cannot
  blow task memory) and no driver-side graph. Each round is ONE Spark
  materialization: its convergence signature is observed by the round's
  own checkpoint job, never by a separate probe action, and an empty
  edge set returns after that first checkpoint with no star rounds.
- ``cluster_assign``: items ∪ pairs → (id, cluster_root, is_keep) with
  exactly one keeper (the component-minimum id) per cluster.

100-TB design notes: exact-duplicate payloads are the dominant skew at
web scale (a boilerplate page can repeat 10^8 times); ``_groups``
collapses identical hashes to one representative FIRST (a single hash
aggregation), so band buckets hold distinct hashes only and the
self-join fan-out is bounded by distinct-hash collisions, not corpus
multiplicity. Group sizes ride along as ``n_a``/``n_b`` so multiplicity
is never lost. Band buckets holding a single representative are dropped
before the self-join (they cannot pair), so a corpus with no near-dup
candidates plans no join work at all, and buckets above
``PHASH_BUCKET_CAP`` reps are chunked (``_self_pairs``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

PHASH_BANDS = 4
PHASH_MAX_HAMMING = 2  # < PHASH_BANDS ⇒ banding is exact (pigeonhole)
PHASH_BUCKET_CAP = 4096  # chunk hot band-buckets above this many reps
_WIDTH = 64 // PHASH_BANDS  # 16-bit band values
_MAX_ROUNDS = 25  # star rounds; O(log n) suffice


def _groups(df: DataFrame, id_col: str, phash_col: str) -> DataFrame:
    """(ph, rep, n): one row per distinct phash, ``rep`` its min id and
    ``n`` the exact-duplicate group's size (one hash aggregation)."""
    return df.groupBy(F.col(phash_col).alias("ph")).agg(
        F.min(id_col).alias("rep"), F.count("*").alias("n")
    )


def _banded(g: DataFrame) -> DataFrame:
    """``_groups`` rows, each emitted ``PHASH_BANDS`` times as (band, bv =
    the band's 16-bit value) via one ``stack`` Generate (no array
    explode)."""
    mask = (1 << _WIDTH) - 1
    args = ", ".join(
        f"{b}, shiftright(ph, {b * _WIDTH}) & {mask}" for b in range(PHASH_BANDS)
    )
    return g.select(
        "rep", "n", "ph", F.expr(f"stack({PHASH_BANDS}, {args}) as (band, bv)")
    )


def _verified(cand: DataFrame, max_hamming: int) -> DataFrame:
    """(id_a, id_b, hamming, n_a, n_b) from a band join of two
    ``_banded`` frames aliased ``a`` and ``b``: one row per pair however
    many bands it collides in, kept when ``bit_count(xor)`` is within
    ``max_hamming``."""
    return (
        cand.select(
            F.col("a.rep").alias("id_a"),
            F.col("b.rep").alias("id_b"),
            F.col("a.ph").alias("pa"),
            F.col("b.ph").alias("pb"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .distinct()  # a pair can collide in several bands
        .withColumn(
            "hamming",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming", "n_a", "n_b")
    )


def _self_pairs(g: DataFrame, max_hamming: int, max_bucket_reps: int) -> DataFrame:
    """Verified pairs (id_a < id_b) among the ``_groups`` rows ``g``: the
    banded self-join behind the hot-bucket guard.

    With 4 bands there are only 65,536 distinct 16-bit band values, so
    at 10⁹+ distinct phashes an average bucket holds ~15k reps and a
    bare self-join materializes ~10⁸ candidate rows in ONE shuffle key
    per hot bucket. The guard is EXACT, never approximate — it changes
    only the plan shape: every bucket is split into ``B = ceil(bucket_n
    / max_bucket_reps)`` hash chunks and each rep is replicated to its B
    unordered chunk-pair keys (the same cogroup decomposition as
    similarity.near_dup_pairs), so a pair (a, b) meets under exactly one
    (band, bv, ci, cj) key and every within-bucket pair is still
    examined. Per-key rows are ≤ 2·max_bucket_reps and per-key join
    output ≤ max_bucket_reps² — hub buckets cost fan-out spread over
    B(B+1)/2 keys, never a straggler task. Cold buckets get B = 1 and
    degenerate to the plain equi-join. The bucket-count side table is ≤
    PHASH_BANDS·2^16 rows by construction, so it is broadcast (no extra
    Exchange of the banded frame). Singleton buckets (``bn = 1``) are
    filtered out of the count table before the join — exact, since a
    pair needs two reps in one bucket — so when no bucket holds two reps
    the count table is empty and AQE propagates the empty relation
    through the join and distinct."""
    # three consumers (cnt + both self-join sides) would each re-run the
    # distinct-phash aggregation and the scan beneath it — truncate once
    # (the multi-consumer checkpoint rule)
    banded = _banded(g).localCheckpoint(eager=False)
    cnt = F.broadcast(
        banded.groupBy("band", "bv")
        .agg(F.count("*").alias("bn"))
        .where(F.col("bn") > 1)
    )
    keyed = (
        banded.join(cnt, ["band", "bv"])
        .withColumn(
            "nb", F.ceil(F.col("bn") / F.lit(max_bucket_reps)).cast("int")
        )
        .withColumn("c", F.pmod(F.xxhash64("rep"), F.col("nb")).cast("int"))
        .select(
            "band",
            "bv",
            "rep",
            "n",
            "ph",
            "c",
            F.explode(
                F.expr(
                    "transform(sequence(0, nb - 1), k ->"
                    " named_struct('ci', least(c, cast(k as int)),"
                    " 'cj', greatest(c, cast(k as int))))"
                )
            ).alias("ck"),
        )
        .select(
            "band", "bv", "rep", "n", "ph", "c",
            F.col("ck.ci").alias("ci"), F.col("ck.cj").alias("cj"),
        )
    )
    # a pair with chunks (ca, cb) meets under exactly the key
    # (min(ca,cb), max(ca,cb)); the chunk-role filter drops the
    # replicated co-occurrences under every other shared key
    cand = (
        keyed.alias("a")
        .join(keyed.alias("b"), ["band", "bv", "ci", "cj"])
        .where(
            (F.col("a.rep") < F.col("b.rep"))
            & (
                ((F.col("a.c") == F.col("ci")) & (F.col("b.c") == F.col("cj")))
                | ((F.col("a.c") == F.col("cj")) & (F.col("b.c") == F.col("ci")))
            )
        )
    )
    return _verified(cand, max_hamming)


def _roots(
    items: DataFrame, pairs: DataFrame, id_col: str,
    src: str = "id_a", dst: str = "id_b",
) -> DataFrame:
    """(id_col, cluster_root, is_keep) for ``items`` (id_col, rep): the
    root of ``rep``'s component in the ``pairs`` graph, ``rep`` itself
    when unpaired; is_keep marks the item whose id is its root."""
    cc = connected_components(pairs, src, dst).withColumnRenamed("node", "rep")
    return (
        items.join(cc, "rep", "left")
        .select(id_col, F.coalesce("root", F.col("rep")).alias("cluster_root"))
        .withColumn(
            "is_keep", (F.col(id_col) == F.col("cluster_root")).cast("int")
        )
    )


def phash_near_dup(
    img: DataFrame,
    max_hamming: int = PHASH_MAX_HAMMING,
    max_bucket_reps: int = PHASH_BUCKET_CAP,
) -> DataFrame:
    """(id_a, id_b, hamming, n_a, n_b): near-duplicate pairs of ``img``
    (image_id, phash) by phash Hamming distance, between exact-duplicate
    GROUPS (id_a/id_b are each group's min image_id, n_a/n_b the group
    sizes; id_a < id_b).

    Plan: one hash aggregation collapses identical phashes (``_groups``),
    and ``_self_pairs`` bands them, self-joins on (band, value) behind
    the hot-bucket guard (``max_bucket_reps``) and verifies by
    ``bit_count(xor)`` — all JVM-side codegen."""
    return _self_pairs(_groups(img, "image_id", "phash"), max_hamming, max_bucket_reps)


def phash_near_dup_sql(parquet_path: str) -> str:
    """DuckDB mirror of phash_near_dup (same banding, same verify)."""
    mask = (1 << _WIDTH) - 1
    return f"""
        with g as (
          select phash, min(image_id) as rep, count(*) as n
          from read_parquet('{parquet_path}') group by 1
        ),
        bands as (
          select rep, n, phash, b, (phash >> (b * {_WIDTH})) & {mask} as bv
          from g, (select unnest(range(0, {PHASH_BANDS})) as b)
        ),
        cand as (
          select distinct a.rep as id_a, b.rep as id_b,
                 a.phash as pa, b.phash as pb, a.n as n_a, b.n as n_b
          from bands a join bands b on a.b = b.b and a.bv = b.bv
                                   and a.rep < b.rep
        )
        select id_a, id_b, cast(bit_count(xor(pa, pb)) as int) as hamming,
               n_a, n_b
        from cand
        where bit_count(xor(pa, pb)) <= {PHASH_MAX_HAMMING}
    """


def phash_clusters_sql(parquet_path: str) -> str:
    """DuckDB mirror of phash_clusters: recursive closure over the
    near-dup pair graph, expanded back through exact-dup groups.
    Self-contained (own WITH RECURSIVE) so it composes as a subquery."""
    pairs = phash_near_dup_sql(parquet_path)
    return f"""
        with recursive {cc_closure_sql(pairs)},
        reps as (
          select phash, min(image_id) as rep
          from read_parquet('{parquet_path}') group by 1
        )
        select i.image_id,
               coalesce(r.root, reps.rep) as cluster_root,
               cast(case when i.image_id = coalesce(r.root, reps.rep)
                    then 1 else 0 end as int) as is_keep
        from read_parquet('{parquet_path}') i
        join reps using (phash)
        left join roots r on r.u = reps.rep
    """


def incremental_phash_dedup(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Daily-ingest dedup: map each BATCH item against an already-deduped
    keeper ``corpus`` without ever re-clustering the corpus. Both frames
    carry (image_id, phash). Returns (image_id, cluster_root, is_keep)
    for batch items only: cluster_root is a corpus id when the item's
    near-dup component touches the corpus (the item is a duplicate of
    existing data → is_keep 0), else the component-minimum batch id
    (kept once per new component).

    The incremental cost property, which is the whole point at 10^12
    corpus rows: the corpus NEVER self-joins — it is scanned once,
    shuffled once by the exact-dup groupBy (``_groups``, one hash
    aggregation on ph), and its band rows are map-side-joined against
    the BROADCAST batch bands, so a day's ingest costs O(|corpus| scan +
    one aggregation + |batch|-bounded join), not O(|corpus|^2).
    Corpus-corpus candidate pairs are excluded by construction (the
    corpus is assumed already deduped at this threshold); a batch item
    bridging two corpus keepers maps to the smaller corpus id. Batch-
    batch pairs run through the guarded ``_self_pairs``, so a hot band
    bucket inside one batch is chunked like any other.

    Priority encoding: ids ride as '0|id' (corpus) / '1|id' (batch), so
    every min/root computation in the star algorithm prefers corpus
    nodes lexicographically — no special-casing inside the CC kernel."""
    b = batch.select(
        F.concat(F.lit("1|"), F.col("image_id")).alias("pid"),
        F.col("phash").alias("ph"),
    )
    c = corpus.select(
        F.concat(F.lit("0|"), F.col("image_id")).alias("pid"),
        F.col("phash").alias("ph"),
    )
    gb = _groups(b, "pid", "ph")
    cross = _banded(_groups(c, "pid", "ph")).alias("a").join(
        F.broadcast(_banded(gb)).alias("b"), ["band", "bv"]
    )
    pairs = _verified(cross, PHASH_MAX_HAMMING).unionByName(
        _self_pairs(gb, PHASH_MAX_HAMMING, PHASH_BUCKET_CAP)
    )
    out = _roots(b.join(gb.select("ph", "rep"), "ph"), pairs, "pid")
    root = F.col("cluster_root")
    return out.select(
        F.expr("substring(pid, 3)").alias("image_id"),
        # unbounded strip of the 2-char priority prefix — a fixed
        # length cap would truncate (and could collide) long ids
        root.substr(F.lit(3), F.length(root)).alias("cluster_root"),
        "is_keep",
    )


def cc_closure_sql(pairs_sql: str, a: str = "id_a", b: str = "id_b") -> str:
    """DuckDB oracle for connected components over a pair query: a
    recursive transitive closure (fine at oracle scale; the engine side
    is the O(log n)-round star algorithm, NOT this quadratic walk).
    Returns (u, root) for every node that appears in a pair."""
    return f"""
        sym as (
          select {a} as u, {b} as v from ({pairs_sql})
          union
          select {b} as u, {a} as v from ({pairs_sql})
        ),
        walk(u, v) as (
          select u, v from sym
          union
          select w.u, s.v from walk w join sym s on w.v = s.u
        ),
        roots as (
          select u, least(u, min(v)) as root from walk group by u
        )
    """


def connected_components(
    edges: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """(node, root) for every non-root node of the pair graph; roots are
    each component's minimum node id (total order = the column's own
    ordering, identical in Spark and DuckDB for the fixed-width ids used
    here).

    Alternating large-star / small-star (Kiveris et al. 2014): both
    steps are a groupBy-min plus an equi-join — per-node state is ONE
    value, so a 10^8-degree hub costs a wide join fan-out but never an
    executor OOM. Edges are localCheckpoint-ed per round to truncate the
    iterative lineage, and each checkpoint job also computes the round's
    signature (count + order-independent hash sum) through
    ``DataFrame.observe`` — one materialization per round, no probe job.
    Stops at the first round whose signature equals the previous one's
    (a fixed point: the edge set IS the star mapping). An input whose
    normalized edge set is empty returns right after its one checkpoint,
    with no star rounds, as a plan the optimizer knows is empty."""
    e, sig = _checkpoint_with_signature(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    if sig[0] == 0:
        # limit(0) plans as an empty LocalRelation, so a caller's join
        # against the result folds away at plan time instead of
        # broadcasting an empty checkpoint (one job per consumer)
        return e.limit(0).select(F.col("u").alias("node"), F.col("v").alias("root"))
    for _ in range(_MAX_ROUNDS):
        # large-star: every neighbor v > u links to min(N(u) ∪ {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: every smaller neighbor (and u itself) links to the min
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        out1 = (
            ls.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        out2 = mins2.select("u", F.col("m").alias("v"))
        # checkpoint EVERY round (letting two rounds ride one lineage was
        # measured 35% SLOWER at sf0.1 — the next round re-executes the
        # prior round's two shuffles)
        e, new_sig = _checkpoint_with_signature(out1.union(out2).distinct())
        if new_sig == sig:
            break
        sig = new_sig
    return e.select(F.col("u").alias("node"), F.col("v").alias("root"))


def _checkpoint_with_signature(e: DataFrame) -> tuple[DataFrame, tuple]:
    """Eagerly localCheckpoint ``e`` and return it with its (count,
    order-independent hash sum) signature, observed by the checkpoint's
    own job — no separate probe action."""
    obs = Observation()
    e = e.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        # decimal sum: ANSI mode would raise on long overflow
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).localCheckpoint(eager=True)
    sig = obs.get
    return e, (sig["n"], sig["h"])


def phash_clusters(img: DataFrame) -> DataFrame:
    """(image_id, cluster_root, is_keep) for the whole image corpus
    ``img`` (image_id, phash): exact-dup groups collapse to a per-phash
    representative first (the skew guard — a billion byte-identical
    thumbnails cost one groupBy, never a pair explosion), banded-Hamming
    near-dup pairs connect the representatives, and the component root
    expands back through the exact-dup groups. is_keep marks the one
    canonical copy per cluster."""
    g = _groups(img, "image_id", "phash")
    pairs = _self_pairs(g, PHASH_MAX_HAMMING, PHASH_BUCKET_CAP)
    items = img.select("image_id", F.col("phash").alias("ph")).join(
        g.select("ph", "rep"), "ph"
    )
    return _roots(items, pairs, "image_id")


def cluster_assign(
    items: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(id, cluster_root, is_keep): every item mapped to its near-dup
    component root (itself if unpaired); is_keep = 1 for exactly the
    component-minimum item — the dedup 'keep one canonical copy' step."""
    return _roots(
        items.select(id_col, F.col(id_col).alias("rep")), pairs, id_col, src, dst
    )
