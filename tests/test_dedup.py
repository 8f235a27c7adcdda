"""dedup module tests: alternating-star connected components vs a
union-find oracle, and phash band-join exactness vs brute force."""

import random
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from prclz_spark import pipeline
from prclz_spark.operators import dedup
from spark_jobs import jobs_in_group


def _uf(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _cc(e):
    return dedup.connected_components(e, "u", "v")


def _check_cc(spark, edges, schema, frame=None, run=_cc):
    """``run(frame)`` (default: the edges as a literal frame) against the
    union-find oracle; the output's node/root type must be the input's."""
    nodes = sorted({x for e in edges for x in e})
    want = _uf(edges, nodes)
    e = spark.createDataFrame(edges, schema) if frame is None else frame
    out = run(e)
    assert [f.dataType for f in out.schema.fields] == [e.schema["u"].dataType] * 2
    got = {r.node: r.root for r in out.collect()}
    for n in nodes:
        got.setdefault(n, n)
    assert got == want


def _long_edges():
    """Path (worst case for naive label prop — forces the O(log n)
    rounds), random blobs, a star, self-loops, and duplicate edges."""
    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(40)]
    edges += [(rng.randrange(100, 150), rng.randrange(100, 150)) for _ in range(60)]
    edges += [(200 + i, 200) for i in range(1, 6)]
    edges += [(300, 300), (0, 1), (1, 0)]  # self-loop + duplicates
    return edges


def _string_edges():
    rng = random.Random(11)
    raw = [(rng.randrange(0, 80), rng.randrange(0, 80)) for _ in range(90)]
    return [(f"doc_{a:05d}", f"doc_{b:05d}") for a, b in raw]


def test_cc_matches_union_find_long_ids(spark):
    _check_cc(spark, _long_edges(), "u long, v long")


def test_cc_matches_union_find_string_ids(spark):
    _check_cc(spark, _string_edges(), "u string, v string")


def test_cc_runs_no_probe_action(spark, monkeypatch):
    """Convergence is read from each round's checkpoint job: building the
    components calls no driver-side action (first/collect/count/isEmpty)
    on any DataFrame — the result is collected only after the patch."""

    def run(e):
        def refuse(self, *a, **k):
            raise AssertionError("connected_components ran a probe action")

        with monkeypatch.context() as m:
            for name in ("first", "collect", "count", "isEmpty"):
                m.setattr(type(e), name, refuse)
            return _cc(e)

    _check_cc(spark, _long_edges(), "u long, v long", run=run)
    _check_cc(spark, _string_edges(), "u string, v string", run=run)


def test_cc_empty_graph_returns_after_one_checkpoint(spark, monkeypatch):
    """An edge set that is empty — literally, or only at run time (a join
    with no shared key) — returns zero (node, root) rows of the input's
    id type after exactly one localCheckpoint: no star rounds, no wait on
    an observation that never fills, and an empty LocalRelation plan."""
    calls = []
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    real = cls.localCheckpoint

    def counting(self, *a, **k):
        calls.append(1)
        return real(self, *a, **k)

    monkeypatch.setattr(cls, "localCheckpoint", counting)

    def run(e):
        calls.clear()
        box = []
        t = threading.Thread(target=lambda: box.append(_cc(e)), daemon=True)
        t.start()
        t.join(timeout=120)
        assert box, "connected_components did not return on an empty graph"
        assert len(calls) == 1
        # known empty at plan time, so a consumer's join folds away
        plan = box[0]._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation <empty>"), plan
        return box[0]

    _check_cc(spark, [], "u long, v long", run=run)
    a = spark.range(3).select(F.col("id").alias("k"), F.format_string("a%d", "id").alias("u"))
    b = spark.range(10, 13).select(F.col("id").alias("k"), F.format_string("b%d", "id").alias("v"))
    _check_cc(spark, [], None, frame=a.join(b, "k").select("u", "v"), run=run)


def _hamming(x, y):
    return bin((x ^ y) & ((1 << 64) - 1)).count("1")


def _brute_pairs(rows, max_hamming):
    """All (id_a, id_b, hamming, n_a, n_b) within ``max_hamming`` between
    the exact-duplicate groups of (id, phash) rows, by brute force: rep =
    the min id per hash, n = the group size."""
    groups = {}
    for i, h in rows:
        groups.setdefault(int(h), []).append(i)
    uh = sorted(groups)
    want = set()
    for x in range(len(uh)):
        for y in range(x + 1, len(uh)):
            d = _hamming(uh[x], uh[y])
            if d <= max_hamming:
                (a, na), (b, nb) = sorted(
                    (min(groups[h]), len(groups[h])) for h in (uh[x], uh[y])
                )
                want.add((a, b, d, na, nb))
    return want


def test_phash_band_join_is_exact_for_small_hamming(spark):
    """Pigeonhole guarantee: with 4 bands, every pair within Hamming 3
    shares at least one untouched band — the banded join must equal the
    brute-force all-pairs result exactly (no approximate recall). The
    second corpus has only singleton band buckets (exact duplicates
    included, which collapse to one rep): both sides are empty."""
    rng = np.random.default_rng(3)
    base = rng.integers(0, 2**63, size=40, dtype=np.int64)
    planted = list(base)
    # plant near-dups at hamming 1..3 of existing hashes
    for i in range(20):
        h = int(base[i % len(base)])
        for _ in range(1 + i % 3):
            h ^= 1 << int(rng.integers(0, 64))
        planted.append(np.int64(h))
    # every band value distinct across hashes: i repeated in all 4 bands
    # (pairwise Hamming = 4 * popcount(i ^ j) >= 4)
    singletons = [i * 0x0001_0001_0001_0001 for i in range(1, 41)]
    singletons += singletons[:5]

    for hashes, min_pairs in ((planted, 15), (singletons, 0)):
        rows = [(f"img_{i:04d}", int(h)) for i, h in enumerate(hashes)]
        df = spark.createDataFrame(rows, "image_id string, phash long")

        got = {
            (r.id_a, r.id_b, r.hamming, r.n_a, r.n_b)
            for r in dedup.phash_near_dup(df, max_hamming=3).collect()
        }
        want = _brute_pairs(rows, 3)
        if min_pairs:
            assert len(want) >= min_pairs  # planted near-dups actually present
        else:
            assert want == set()
        assert got == want


def test_phash_clusters_without_pairs_job_count(spark):
    """The pipeline's corpus has exact-duplicate groups only, so no band
    bucket holds two reps: building the keep-list runs only the banded
    checkpoint, the bucket count and the empty CC edge checkpoint — no
    join, no distinct and no star round."""
    img = pipeline.image_rows(spark, 604)
    assert dedup.phash_near_dup(img).count() == 0
    _, n_jobs = jobs_in_group(
        spark, "phash-clusters-604", lambda: dedup.phash_clusters(img)
    )
    assert n_jobs == 3


def test_phash_hot_bucket_cap_is_exact(spark):
    """The chunk-pair hot-bucket guard changes only the plan, never the
    result: a randomized corpus with a deliberately HOT band bucket
    (hundreds of hashes sharing band 0's 16-bit value) must produce the
    brute-force pair set at every cap, including cap=1 (every multi-rep
    bucket chunked, per-bucket B = bucket_n) and the default (no bucket
    chunked)."""
    rng = np.random.default_rng(7)
    hashes = list(rng.integers(0, 2**63, size=60, dtype=np.int64))
    # hot bucket: 200 hashes identical in band 0 (low 16 bits), random above
    hot_low = 0x1234
    for _ in range(200):
        hashes.append(
            np.int64((int(rng.integers(0, 2**47)) << 16) | hot_low)
        )
    # planted near-dups inside the hot bucket (hamming 1-2 in high bits)
    for i in range(10):
        h = int(hashes[60 + i])
        h ^= 1 << int(rng.integers(17, 64))
        hashes.append(np.int64(h))
    rows = [(f"img_{i:04d}", int(h)) for i, h in enumerate(hashes)]
    df = spark.createDataFrame(rows, "image_id string, phash long")

    def pairs(cap):
        return {
            (r.id_a, r.id_b, r.hamming, r.n_a, r.n_b)
            for r in dedup.phash_near_dup(df, max_bucket_reps=cap).collect()
        }

    want = _brute_pairs(rows, dedup.PHASH_MAX_HAMMING)
    assert len(want) >= 10  # planted hot-bucket near-dups found
    for cap in (1, 3, 50, dedup.PHASH_BUCKET_CAP):
        assert pairs(cap) == want, f"cap={cap} diverged from brute force"


def test_cluster_assign_keeps_one_per_cluster(spark):
    items = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    out = dedup.cluster_assign(items, pairs, "doc_id").collect()
    root = {r.doc_id: r.cluster_root for r in out}
    keep = {r.doc_id: r.is_keep for r in out}
    assert root == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7, 8: 8, 9: 9}
    assert keep == {0: 1, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1, 6: 0, 7: 1, 8: 1, 9: 1}


def test_incremental_phash_dedup_semantics(spark):
    """Hand-built ingest: corpus hit (exact + near), batch-internal
    cluster, exact-dup batch group, bridge across two corpus keepers,
    and a clean singleton."""
    corpus = spark.createDataFrame(
        [("c1", 0x0F0F), ("c2", 0xF0F0_0000_0000_0000 - 2**63)],
        "image_id string, phash long",
    )
    batch = spark.createDataFrame(
        [
            ("b1", 0x0F0F),        # exact dup of corpus c1 -> drop
            ("b2", 0x0F0E),        # hamming 1 from c1 -> drop
            ("b3", 0x1111_0000),   # near-dups with b4 -> keep (min)
            ("b4", 0x1111_0001),   # -> drop, root b3
            ("b5", 0x1111_0000),   # exact dup of b3 -> drop, root b3
            ("b6", 0x7777_7777),   # singleton -> keep
        ],
        "image_id string, phash long",
    )
    out = {
        r.image_id: (r.cluster_root, r.is_keep)
        for r in dedup.incremental_phash_dedup(batch, corpus).collect()
    }
    assert out == {
        "b1": ("c1", 0),
        "b2": ("c1", 0),
        "b3": ("b3", 1),
        "b4": ("b3", 0),
        "b5": ("b3", 0),
        "b6": ("b6", 1),
    }


def test_incremental_phash_dedup_corpus_never_shuffles(spark):
    """The 10^12-corpus property: the corpus side of the candidate join
    must be map-side (batch bands broadcast) — no Exchange repartitions
    the corpus band stream, and the corpus never self-joins."""
    corpus = spark.range(0, 5000).selectExpr(
        "concat('c', id) as image_id", "id * 37 as phash"
    )
    batch = spark.range(0, 50).selectExpr(
        "concat('b', id) as image_id", "id * 37 as phash"
    )
    pairs_plan = (
        dedup.incremental_phash_dedup(batch, corpus)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in pairs_plan
    # bridge across two corpus keepers resolves to the smaller corpus id
    c2 = spark.createDataFrame(
        [("ca", 0x00FF), ("cb", 0x03FF)], "image_id string, phash long"
    )
    b2 = spark.createDataFrame(
        [("bx", 0x01FF)],  # 1 bit from ca AND 1 bit from cb: a true bridge
        "image_id string, phash long",
    )
    out = {
        r.image_id: (r.cluster_root, r.is_keep)
        for r in dedup.incremental_phash_dedup(b2, c2).collect()
    }
    assert out == {"bx": ("ca", 0)}


def test_incremental_phash_dedup_hot_batch_bucket_is_guarded(spark, monkeypatch):
    """Ingest runs its batch self-join through the same hot-bucket guard
    as phash_near_dup: with the cap lowered to 3, a batch whose band-0
    bucket holds 40 distinct hashes joins on chunk-pair keys (ci, cj in
    the pair graph's plan), and the mapping still equals brute force —
    corpus hits, batch clusters inside the hot bucket and exact-dup
    batch groups included."""
    rng = np.random.default_rng(19)
    corpus_h = [int(h) for h in rng.integers(0, 2**63, size=10, dtype=np.int64)]
    hot = [(int(rng.integers(0, 2**47)) << 16) | 0x0ABC for _ in range(40)]
    batch_h = hot + [h ^ (1 << int(rng.integers(17, 63))) for h in hot[:8]]
    batch_h += [corpus_h[i] ^ (1 << int(rng.integers(0, 63))) for i in range(4)]
    batch_h += [corpus_h[5], hot[3], hot[9]]  # exact dups: corpus, batch, batch
    corpus_rows = [(f"c{i:03d}", h) for i, h in enumerate(corpus_h)]
    batch_rows = [(f"b{i:03d}", h) for i, h in enumerate(batch_h)]
    schema = "image_id string, phash long"

    edges = []
    real_cc = dedup.connected_components

    def recording(e, *a, **k):
        edges.append(e)
        return real_cc(e, *a, **k)

    monkeypatch.setattr(dedup, "PHASH_BUCKET_CAP", 3)
    monkeypatch.setattr(dedup, "connected_components", recording)
    out = dedup.incremental_phash_dedup(
        spark.createDataFrame(batch_rows, schema),
        spark.createDataFrame(corpus_rows, schema),
    )
    got = {r.image_id: (r.cluster_root, r.is_keep) for r in out.collect()}
    plan = edges[0]._jdf.queryExecution().optimizedPlan().toString()
    assert "ci#" in plan and "cj#" in plan, plan

    # brute force: exact-dup groups per side ('0|' corpus, '1|' batch
    # priority ids, rep = min id), corpus×batch and batch×batch edges
    def reps(rows, tag):
        g = {}
        for i, h in rows:
            g.setdefault(h, []).append(f"{tag}|{i}")
        return {h: min(ids) for h, ids in g.items()}

    cr, br = reps(corpus_rows, 0), reps(batch_rows, 1)
    pairs = [
        (br[x], other[y])
        for x in br
        for other in (cr, br)
        for y in other
        if br[x] != other[y] and _hamming(x, y) <= dedup.PHASH_MAX_HAMMING
    ]
    assert sum(p[1].startswith("0|") for p in pairs) >= 5  # corpus hits
    assert sum(p[1].startswith("1|") for p in pairs) >= 16  # batch pairs
    root = _uf(pairs, sorted(set(cr.values()) | set(br.values())))
    want = {
        i: (root[br[h]][2:], int(root[br[h]] == f"1|{i}")) for i, h in batch_rows
    }
    assert got == want


def test_incremental_phash_dedup_long_ids(spark):
    """cluster_root must carry the FULL id — a fixed-width substring would
    truncate (and could collide) URL/path-derived ids longer than 64."""
    long_a = "img://bucket/" + "a" * 80
    long_b = "img://bucket/" + "b" * 80
    corpus = spark.createDataFrame(
        [(long_a, 0x0F0F)], "image_id string, phash long"
    )
    batch = spark.createDataFrame(
        [(long_b, 0x0F0E)], "image_id string, phash long"
    )
    rows = dedup.incremental_phash_dedup(batch, corpus).collect()
    assert rows[0].image_id == long_b
    assert rows[0].cluster_root == long_a  # full 93-char id, no truncation
    assert rows[0].is_keep == 0
