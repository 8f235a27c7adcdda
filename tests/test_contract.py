"""Driver-contract harness: run every queries() entry through Spark AND its
oracle_sql() through DuckDB on the same parquet, compare row count, column
names, and order-insensitive values — a local replica of the driver's
CORRECTNESS gate (stricter: exact value compare, not a hash)."""

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("PRCLZ_CONTRACT_SF", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con.sql(sql).df()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            # unify Decimal / str / datetime reprs
            df[c] = df[c].map(lambda v: str(v))
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif str(df[c].dtype) in ("int32", "int8", "int16", "uint32"):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


QUERY_NAMES = sorted(entrymod.queries().keys())
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR).toPandas()
    if name not in ORACLES:
        assert len(sdf) >= 0  # rows-only check (non-SQL-expressible op)
        return
    odf = _duck(ORACLES[name])
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} != {len(odf)}"
    s, o = _canon(sdf), _canon(odf)
    assert list(s.columns) == list(o.columns), f"{name}: columns {list(s.columns)} != {list(o.columns)}"
    pd.testing.assert_frame_equal(s, o, check_dtype=False, rtol=0, atol=1e-9)


# contract queries that build Spark frames from driver-side pandas tables
# (the inputs whose schema a session could otherwise have to infer)
VANILLA_SAMPLE = [
    "spatial_block_extract", "spatial_boundary_types", "spatial_k_complexity_grid",
    "spatial_knn", "spatial_largest_overlap", "spatial_parcel_assign",
    "spatial_parcels", "spatial_parcels_footprint", "spatial_pip_assign",
    "spatial_pip_assign_compact", "spatial_reblock_status", "spatial_reblock_steiner",
    "spatial_road_dist", "spatial_road_dist_dist", "spatial_road_dist_metrics",
    "spatial_tiles",
    "dedup_clusters", "img_incremental_dedup", "img_phash_clusters",
    "img_phash_dedup", "img_phash_dedup_capped", "img_training_manifest",
]


@pytest.fixture(scope="module")
def vanilla(spark):
    """A session on the same context with Spark's stock SQL settings: no
    Arrow conversion, default shuffle partitions and broadcast threshold."""
    s = spark.newSession()
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "200")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    return s


@pytest.mark.parametrize("name", VANILLA_SAMPLE)
def test_query_matches_oracle_vanilla_session(vanilla, name):
    test_query_matches_oracle(vanilla, name)


def test_contract_caches_are_per_session(spark, vanilla):
    """newSession() shares the applicationId but not the SQL conf: the
    stage-commit caches must build a separate frame per session."""
    from prclz_spark import contract

    a = contract._phash_clusters_cached(spark, SF_DIR)
    assert contract._phash_clusters_cached(spark, SF_DIR) is a
    b = contract._phash_clusters_cached(vanilla, SF_DIR)
    assert b is not a
    assert b.sparkSession is vanilla


def test_stream_state_root_per_data_dir(tmp_path):
    """img_stream_dedup's state root moves with the data dir: the stream
    checkpoint stores absolute landing paths, so a copied checkout (same
    fixture, other data dir) must not reuse the original's state."""
    from prclz_spark import contract

    images = tmp_path / "images.parquet"
    images.write_bytes(b"x")
    a, b = tmp_path / "repo_a" / "data", tmp_path / "repo_b" / "data"
    ra = contract._stream_state_root(str(a), "/fixtures/sf0.01", str(images))
    rb = contract._stream_state_root(str(b), "/fixtures/sf0.01", str(images))
    assert ra != rb
    assert os.path.dirname(ra) == str(a) and os.path.dirname(rb) == str(b)
    assert ra == contract._stream_state_root(str(a), "/fixtures/sf0.01/", str(images))
    images.write_bytes(b"xy")  # a regenerated fixture gets fresh state too
    assert contract._stream_state_root(str(a), "/fixtures/sf0.01", str(images)) != ra


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    n = df.count()
    assert n > 0
    assert df.columns == ["block_id", "n_images"]


def test_minhash_bucket_cap(spark):
    """Residual-skew guard: a cluster of exact duplicates collides in
    every band; with max_bucket_docs the degenerate bucket is excluded
    from the pair join while normal candidates survive."""
    import pandas as pd

    from prclz_spark.operators import text as text_op

    docs = [{"doc_id": i, "text": "alpha beta gamma delta epsilon zeta"} for i in range(30)]
    docs += [
        {"doc_id": 100, "text": "one two three four five six seven"},
        {"doc_id": 101, "text": "one two three four five six eight"},
    ]
    d = spark.createDataFrame(pd.DataFrame(docs))
    uncapped = text_op.minhash_candidates(d).toPandas()
    capped = text_op.minhash_candidates(d, max_bucket_docs=10).toPandas()
    # the 30-dup cluster dominates uncapped output (30*29/2 pairs)
    assert len(uncapped) >= 435
    # capped drops the cluster but keeps the genuine near-dup pair
    assert len(capped) < 435
    assert ((capped.d1 == 100) & (capped.d2 == 101)).any()


def test_jaccard_df_cap_exactness(spark):
    """The df-cap plan must stay EXACT for every pair sharing at least one
    rare shingle: on a random corpus with deliberate hot shingles and a
    tiny cap, jaccard_pairs must equal a brute-force pandas oracle
    restricted to rare-shingle-sharing candidate pairs."""
    import numpy as np
    import pandas as pd

    from prclz_spark.operators import text as text_op

    rng = np.random.default_rng(42)
    vocab = [f"w{i}" for i in range(40)]
    hot_phrase = "the of and"  # every doc gets it -> df = n_docs (hot)
    docs = []
    for i in range(60):
        words = list(rng.choice(vocab, size=12))
        base = " ".join(words) + " " + hot_phrase
        docs.append({"doc_id": i, "text": base})
        if i % 7 == 0:  # near-duplicate with one word changed
            mutated = words.copy()
            mutated[0] = "zz"
            docs.append({"doc_id": 1000 + i, "text": " ".join(mutated) + " " + hot_phrase})
    pdf = pd.DataFrame(docs)
    cap = 5

    # brute-force oracle in pandas
    def shingle_set(t, w=3):
        toks = t.split(" ")
        return {" ".join(toks[i:i + w]) for i in range(len(toks) - w + 1)}

    sets = {r.doc_id: shingle_set(r.text) for r in pdf.itertuples(index=False)}
    dfc = {}
    for s in sets.values():
        for sh in s:
            dfc[sh] = dfc.get(sh, 0) + 1
    rare_sets = {d: {sh for sh in s if dfc[sh] <= cap} for d, s in sets.items()}
    want = []
    ids = sorted(sets)
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1:]:
            if not (rare_sets[d1] & rare_sets[d2]):
                continue  # candidate rule: share >= 1 rare shingle
            inter = len(sets[d1] & sets[d2])
            jac = round(inter / (len(sets[d1]) + len(sets[d2]) - inter), 6)
            if jac >= 0.5:
                want.append((d1, d2, jac))
    got = (
        text_op.jaccard_pairs(spark.createDataFrame(pdf), threshold=0.5, max_df=cap)
        .toPandas().sort_values(["d1", "d2"]).reset_index(drop=True)
    )
    assert len(want) > 0  # fixture produces real near-dups
    assert [tuple(r) for r in got[["d1", "d2", "jaccard_r6"]].to_numpy()] == sorted(want)


def test_lang_id_ties_null_and_empty(spark):
    """lang_id's argmax on the cases the fixture corpus never hits: the
    highest marker count wins, a tie goes to the earlier LANG_MARKERS
    language, and empty or null text scores no hits (null text: 'en' with
    null hits) — equal to the DuckDB mirror and pinned."""
    from prclz_spark.operators import text as text_op

    cases = {
        "d0": None,
        "d1": "",
        "d2": "la la",  # es = fr = 2
        "d3": "de",  # es = zh = 1
        "d4": "der die le les",  # de = fr = 2 > zh = 1
        "d5": "le la et est the",  # fr = 4
        "d6": "shi le bu",  # zh = 3 > fr = 1
    }
    pdf = pd.DataFrame({"doc_id": list(cases), "text": list(cases.values())})
    got = (
        text_op.lang_id(spark.createDataFrame(pdf, "doc_id string, text string"))
        .toPandas().set_index("doc_id").sort_index()
    )
    con = duckdb.connect()
    con.register("docs", pdf)
    want = con.sql(text_op.lang_id_sql("docs")).df().set_index("doc_id").sort_index()
    assert list(got.pred_lang) == list(want.pred_lang) == [
        "en", "en", "es", "es", "de", "fr", "zh",
    ]
    hits = [None if pd.isna(h) else int(h) for h in got.marker_hits]
    assert hits == [None if pd.isna(h) else int(h) for h in want.marker_hits]
    assert hits == [None, 0, 2, 1, 2, 4, 3]


def test_text_ops_ansi_off_matches_ansi_on(spark):
    """The text operators' sizes are ``array_size``, which is null on a
    null array in both ANSI modes (``size`` reads -1 with ANSI off), and
    an empty text's ratios are null, not a divide-by-zero error: on null,
    empty and normal text, lang_id, quality_score, bpe_token_stats and
    winnow_fingerprints give the same rows with ANSI off as with ANSI on,
    and as their DuckDB mirrors."""
    from prclz_spark.operators import text as text_op

    pdf = pd.DataFrame({
        "doc_id": ["d0", "d1", "d2"],
        "text": [None, "", "the cat sat on a mat, and ran."],
    })
    ops = [
        (text_op.lang_id, text_op.lang_id_sql),
        (text_op.quality_score, text_op.quality_score_sql),
        (text_op.bpe_token_stats, text_op.bpe_token_stats_sql),
        (text_op.winnow_fingerprints, text_op.winnow_fingerprints_sql),
    ]

    def rows(ansi: str) -> list:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        docs = spark.createDataFrame(pdf, "doc_id string, text string")
        return [sorted(map(tuple, op(docs).collect())) for op, _ in ops]

    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        on, off = rows("true"), rows("false")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    con = duckdb.connect()
    con.register("docs", pdf)
    want = [sorted(con.sql(sql("docs")).fetchall()) for _, sql in ops]
    assert off == on == want


def test_bpe_pattern_tricky_strings(spark):
    """The BPE-ish pattern must tokenize identically in Java regex (Spark)
    and RE2 (DuckDB) on the branches the plain fixture corpus never hits:
    contractions, digit runs, punctuation runs, leading/multiple spaces."""
    import duckdb

    from prclz_spark.operators import text as text_op

    cases = {
        "d0": "it's the cat's 2nd run",
        "d1": "img_000000123 and img_000000124!",
        "d2": "  leading and  double  spaces ",
        "d3": "we'll i'm they've you're he'd don't",
        "d4": "a1b2c3 ... ?! 42",
        "d5": "",
        # \x0B: Java \s includes it, RE2 \s does not — the explicit
        # [\t-\r ] class in BPE_PATTERN must make both engines agree
        "d6": "!\x0b! tab\there",
    }
    pdf = pd.DataFrame({"doc_id": list(cases), "text": list(cases.values())})
    got = (
        text_op.bpe_token_stats(spark.createDataFrame(pdf))
        .toPandas().set_index("doc_id").sort_index()
    )
    con = duckdb.connect()
    con.register("docs", pdf)
    want = (
        con.sql(text_op.bpe_token_stats_sql("docs"))
        .df().set_index("doc_id").sort_index()
    )
    for c in ("n_tokens_ws", "n_pieces_bpe", "n_chars"):
        assert list(got[c]) == list(want[c]), c
    # spot-check hand counts: "it's the cat's 2nd run" ->
    # it|'s| the| cat|'s| 2|nd| run = 8 pieces
    assert got.loc["d0", "n_pieces_bpe"] == 8
    # img|_|000000123| and| img|_|000000124|! = 8
    assert got.loc["d1", "n_pieces_bpe"] == 8
