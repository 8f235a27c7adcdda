"""Text-analysis operators over the documents table: quality scoring,
language-ID heuristic, SimHash fingerprinting.

These are the training-data pipeline extensions the graft mandates (the
reference has no text surface). Design rule: everything is JVM-side
Column arithmetic (whole-stage codegen, zero Python) and every formula is
restatable in ANSI SQL so the DuckDB oracle can verify it exactly —
``*_sql`` helpers emit the mirrored expression.

At 10^12 rows each operator is a single narrow projection (quality,
lang-id) or one explode + aggregate (simhash) — no joins, no skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to")

# marker words per language for the n-gram-style scoring heuristic; ties
# resolve by tuple order (deterministic in both engines)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("de", "shi", "le", "bu", "zai"),
}


# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------

# Lookahead-free core of the GPT-2 pre-tokenizer split regex: contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs, then
# residual whitespace. Valid with identical leftmost-first semantics in
# BOTH Java regex (Spark codegen) and RE2 (DuckDB), so the SQL oracle can
# carry the pattern verbatim. Whitespace is the EXPLICIT class [\t-\r ]
# (tab..CR plus space), because the engines' \s disagree on exactly
# \x0B: Java includes it, RE2 does not — with \s a vertical tab would
# silently split punctuation runs differently per engine. (The real
# GPT-2 pattern's only extra is a `\s+(?!\S)` lookahead RE2 lacks; it
# only affects runs of 2+ spaces.)
BPE_PATTERN = (
    r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\t-\r \p{L}\p{N}]+|[\t-\r ]+"
)


def bpe_cols(text_col: str = "text") -> dict[str, Column]:
    """Token-count feature columns (name -> unaliased Column) so wide
    curation selects can inline them without a join per feature frame."""
    toks = F.split(F.col(text_col), " ")
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), 0)
    return {
        "n_tokens_ws": F.size(toks),
        "n_pieces_bpe": F.size(pieces),
        "n_chars": F.length(F.col(text_col)),
    }


def bpe_token_stats(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-row token counts two ways (SURVEY training-data extension
    'token counting: whitespace + a BPE-ish regex'): whitespace split and
    GPT-2-style pre-tokenizer pieces. ``regexp_extract_all`` keeps the
    regex in whole-stage codegen — no Python on the hot path; the piece
    count is the standard proxy for LLM token budget at corpus scale."""
    cols = bpe_cols(text_col)
    return df.select(id_col, *[c.alias(n) for n, c in cols.items()])


def bpe_token_stats_sql(table: str = "documents", text_col: str = "text",
                        id_col: str = "doc_id") -> str:
    pat = BPE_PATTERN.replace("'", "''")
    return f"""
        select {id_col},
               len(string_split({text_col}, ' ')) as n_tokens_ws,
               len(regexp_extract_all({text_col}, '{pat}')) as n_pieces_bpe,
               length({text_col}) as n_chars
        from {table}
    """


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

def quality_cols(text_col: str = "text") -> dict[str, Column]:
    """Quality feature columns (name -> unaliased Column); see
    quality_score for semantics."""
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    stop_ratio = n_stop.cast("double") / n_tokens.cast("double")
    punct_ratio = (
        n_chars - F.length(F.regexp_replace(F.col(text_col), r"[.,;:!?]", ""))
    ).cast("double") / n_chars.cast("double")
    digit_ratio = (
        n_chars - F.length(F.regexp_replace(F.col(text_col), r"[0-9]", ""))
    ).cast("double") / n_chars.cast("double")
    mean_tok_len = (
        (n_chars - (n_tokens - F.lit(1))).cast("double") / n_tokens.cast("double")
    )
    score = (
        F.least(n_tokens.cast("double") / F.lit(64.0), F.lit(1.0)) * F.lit(0.4)
        + F.least(stop_ratio * F.lit(4.0), F.lit(1.0)) * F.lit(0.3)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * F.lit(0.2)
        + (F.lit(1.0) - F.least(digit_ratio * F.lit(10.0), F.lit(1.0))) * F.lit(0.1)
    )
    return {
        "n_tokens": n_tokens,
        "mean_tok_len_r6": F.round(mean_tok_len, 6),
        "stop_ratio_r6": F.round(stop_ratio, 6),
        "punct_ratio_r6": F.round(punct_ratio, 6),
        "quality_r6": F.round(score, 6),
    }


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
                  ) -> DataFrame:
    """Length / punctuation / stopword / digit heuristics + a combined
    score in [0, 1]. The score formula is deliberately simple arithmetic
    over the ratios so both engines produce identical IEEE doubles."""
    cols = quality_cols(text_col)
    return df.select(id_col, *[c.alias(n) for n, c in cols.items()])


def quality_score_sql(table: str = "documents", text_col: str = "text",
                      id_col: str = "doc_id") -> str:
    sw = ", ".join(f"'{s}'" for s in STOPWORDS)
    t = text_col
    n_tokens = f"len(string_split({t}, ' '))"
    n_chars = f"length({t})"
    n_stop = f"len(list_filter(string_split({t}, ' '), x -> x in ({sw})))"
    stop = f"(cast({n_stop} as double) / cast({n_tokens} as double))"
    punct = (
        f"(cast({n_chars} - length(regexp_replace({t}, '[.,;:!?]', '', 'g')) as double)"
        f" / cast({n_chars} as double))"
    )
    digit = (
        f"(cast({n_chars} - length(regexp_replace({t}, '[0-9]', '', 'g')) as double)"
        f" / cast({n_chars} as double))"
    )
    mean_tok = f"(cast({n_chars} - ({n_tokens} - 1) as double) / cast({n_tokens} as double))"
    score = (
        f"least(cast({n_tokens} as double) / 64.0, 1.0) * 0.4"
        f" + least({stop} * 4.0, 1.0) * 0.3"
        f" + (1.0 - least({punct} * 10.0, 1.0)) * 0.2"
        f" + (1.0 - least({digit} * 10.0, 1.0)) * 0.1"
    )
    return f"""
        select {id_col},
               {n_tokens} as n_tokens,
               round({mean_tok}, 6) as mean_tok_len_r6,
               round({stop}, 6) as stop_ratio_r6,
               round({punct}, 6) as punct_ratio_r6,
               round({score}, 6) as quality_r6
        from {table}
    """


# ---------------------------------------------------------------------------
# language-ID heuristic
# ---------------------------------------------------------------------------

def lang_cols(text_col: str = "text") -> dict[str, Column]:
    """Language-ID feature columns (name -> unaliased Column); see
    lang_id for semantics. Each language's count is built once; the argmax
    is one ``greatest`` over (hits, -order, lang) structs."""
    toks = F.split(F.col(text_col), " ")

    def marker_count(markers: tuple[str, ...]) -> Column:
        # bind via helper: a 2-arg lambda would be treated as (elem, index)
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    best = F.greatest(*(
        F.struct(marker_count(m).alias("s"), F.lit(-i).alias("o"), F.lit(lang).alias("lang"))
        for i, (lang, m) in enumerate(LANG_MARKERS.items())
    ))
    return {"pred_lang": best["lang"], "marker_hits": best["s"]}


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
            ) -> DataFrame:
    """Marker-word scoring: count per-language marker hits among the
    tokens; argmax with ties resolved by LANG_MARKERS order (an n-gram
    language profile reduced to its most discriminative unigrams)."""
    cols = lang_cols(text_col)
    return df.select(id_col, *[c.alias(n) for n, c in cols.items()])


def lang_id_sql(table: str = "documents", text_col: str = "text",
                id_col: str = "doc_id") -> str:
    def score(markers):
        m = ", ".join(f"'{w}'" for w in markers)
        return f"len(list_filter(string_split({text_col}, ' '), x -> x in ({m})))"

    langs = list(LANG_MARKERS)
    sels = ", ".join(
        f"{score(LANG_MARKERS[lang])} as s_{lang}" for lang in langs
    )
    # replicate the left-to-right strictly-greater argmax
    best_lang = f"'{langs[0]}'"
    best_score = f"s_{langs[0]}"
    for lang in langs[1:]:
        best_lang = f"(case when s_{lang} > {best_score} then '{lang}' else {best_lang} end)"
        best_score = f"(case when s_{lang} > {best_score} then s_{lang} else {best_score} end)"
    return f"""
        with scored as (select {id_col}, {sels} from {table})
        select {id_col}, {best_lang} as pred_lang, {best_score} as marker_hits
        from scored
    """


# ---------------------------------------------------------------------------
# shingling + MinHash-LSH + Jaccard dedup
# ---------------------------------------------------------------------------

def shingles(df: DataFrame, w: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sh): the distinct word ``w``-grams of each document —
    the shared candidate-generation substrate for Jaccard and MinHash
    dedup. One projection + explode, no shuffle."""
    toks = F.split(F.col(text_col), " ")
    sh = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (w - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, w)),
        ),
    ).otherwise(F.array())
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array_distinct(sh)).alias("sh")
    )


def shingles_sql(table: str = "documents", w: int = 3, text_col: str = "text",
                 id_col: str = "doc_id") -> str:
    return f"""(
        select distinct {id_col} as doc_id, unnest(list_transform(
                 range(1, greatest(len(string_split({text_col},' ')) - {w - 1}, 0) + 1),
                 i -> array_to_string((string_split({text_col},' '))[i:i+{w - 1}], ' '))) as sh
        from {table}
    )"""


def minhash_signatures(df: DataFrame, n_bands: int = 8, shingle_w: int = 3,
                       text_col: str = "text", id_col: str = "doc_id"
                       ) -> DataFrame:
    """(doc_id, band, sig): per band b, sig = lexicographic min of
    md5('b|' || shingle) over the document's shingles.

    Scale shape: the ``n_bands`` minima are computed as ``n_bands``
    aggregate columns in ONE groupBy(doc_id) over the shingle rows, then
    unpivoted with ``stack`` — the shuffle carries each shingle row once
    (not ``n_bands`` times, the band-explode anti-pattern) and the stack
    runs on n_docs rows, not n_shingles."""
    sh_df = shingles(df, shingle_w, text_col, id_col)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{b}|"), F.col("sh")))).alias(f"sig{b}")
        for b in range(n_bands)
    ]
    per_doc = sh_df.groupBy("doc_id").agg(*aggs)
    stack_args = ", ".join(f"{b}, sig{b}" for b in range(n_bands))
    return per_doc.selectExpr(
        "doc_id", f"stack({n_bands}, {stack_args}) as (band, sig)"
    )


def minhash_candidates(df: DataFrame, n_bands: int = 8, shingle_w: int = 3,
                       text_col: str = "text", id_col: str = "doc_id",
                       max_bucket_docs: int | None = None) -> DataFrame:
    """MinHash-LSH candidate pairs (d1 < d2, n_bands_shared): docs sharing
    any band signature. The join key (band, sig) is a minhash bucket —
    only near-identical docs collide, so the self-join fan-out is bounded
    by duplicate-cluster size, not by corpus-wide shingle frequency.

    ``max_bucket_docs`` is the residual-skew guard for 10^12-row corpora:
    a cluster of c near-exact duplicates still produces c² join rows per
    band. Buckets above the cap are dropped from the pair join (such
    clusters are exact-dup territory — run the md5 exact dedup first and
    feed canonical docs here); None (default) disables the cap."""
    sigs = minhash_signatures(df, n_bands, shingle_w, text_col, id_col)
    if max_bucket_docs is not None:
        from pyspark.sql import Window

        sigs = sigs.withColumn(
            "__bn", F.count("*").over(Window.partitionBy("band", "sig"))
        ).filter(F.col("__bn") <= max_bucket_docs).drop("__bn")
    return (
        sigs.alias("x")
        .join(sigs.alias("y"), on=["band", "sig"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .agg(F.count("*").alias("n_bands_shared"))
    )


JACCARD_MAX_DF = 20  # shingle document-frequency cap for candidate
# generation: a shingle shared by f docs contributes f² join rows, so one
# corpus-hot shingle ("of the and") would blow the self-join up
# quadratically at scale. Shingles with df > cap are treated as
# stop-shingles for CANDIDATE generation only — the exact intersection
# still counts them (see jaccard_pairs) — so results are exact for every
# pair that shares at least one sub-cap shingle.


def jaccard_pairs(df: DataFrame, threshold: float = 0.5, shingle_w: int = 3,
                  max_df: int = JACCARD_MAX_DF, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(d1, d2, jaccard_r6): exact shingle-Jaccard over candidate pairs.

    Scale-safe plan: candidates come from a self-join on *rare* shingles
    only (document frequency <= max_df, bounding per-key fan-out); the
    intersection count is then made exact by adding back the overlap of
    the two docs' *hot*-shingle sets (globally few, carried as small
    per-doc arrays). A pair whose every shared shingle is hot is not a
    candidate — the documented stop-shingle semantics, mirrored by the
    SQL oracle."""
    from pyspark.sql import Window

    sh_df = shingles(df, shingle_w, text_col, id_col)
    # one shuffle on sh serves both the df computation (window count) and
    # the rare self-join (exchange reuse); one groupBy(doc_id) carries
    # BOTH the shingle-set size and the (globally few) hot shingles
    flagged = sh_df.withColumn(
        "dfc", F.count("*").over(Window.partitionBy("sh"))
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").alias("sz"),
        F.sort_array(
            F.collect_list(F.when(F.col("dfc") > max_df, F.col("sh")))
        ).alias("hot"),
    )
    rare = flagged.filter(F.col("dfc") <= max_df).select("doc_id", "sh")
    inter_rare = (
        rare.alias("x")
        .join(rare.alias("y"), on="sh")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .agg(F.count("*").alias("inter_rare"))
    )
    p1 = per_doc.select(
        F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"), F.col("hot").alias("hot1")
    )
    p2 = per_doc.select(
        F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"), F.col("hot").alias("hot2")
    )
    inter = F.col("inter_rare") + F.size(
        F.array_intersect(F.col("hot1"), F.col("hot2"))
    )
    return (
        inter_rare.join(p1, "d1")
        .join(p2, "d2")
        .withColumn(
            "jaccard_r6",
            F.round(
                inter.cast("double")
                / (F.col("sz1") + F.col("sz2") - inter).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard_r6") >= threshold)
        .select("d1", "d2", "jaccard_r6")
    )


def jaccard_pairs_sql(table: str = "documents", threshold: float = 0.5,
                      shingle_w: int = 3, max_df: int = JACCARD_MAX_DF,
                      text_col: str = "text", id_col: str = "doc_id") -> str:
    """SQL mirror of jaccard_pairs: candidates from rare shingles, exact
    intersection over ALL shingles of each candidate pair."""
    sh = shingles_sql(table, shingle_w, text_col, id_col)
    return f"""
        with sh as (select * from {sh}),
        dfc as (select sh, count(*) as dfc from sh group by 1),
        rare as (select s.doc_id, s.sh from sh s join dfc using (sh)
                 where dfc <= {max_df}),
        cand as (
          select x.doc_id as d1, y.doc_id as d2
          from rare x join rare y using (sh)
          where x.doc_id < y.doc_id
          group by 1, 2
        ),
        inter as (
          select c.d1, c.d2, count(*) as inter
          from cand c
          join sh a on a.doc_id = c.d1
          join sh b on b.doc_id = c.d2 and b.sh = a.sh
          group by 1, 2
        ),
        sizes as (select doc_id, count(*) as sz from sh group by 1)
        select d1, d2,
               round(cast(inter as double) / cast(s1.sz + s2.sz - inter as double), 6) as jaccard_r6
        from inter
        join sizes s1 on s1.doc_id = d1
        join sizes s2 on s2.doc_id = d2
        where round(cast(inter as double) / cast(s1.sz + s2.sz - inter as double), 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# rolling-hash document fingerprinting (winnowing)
# ---------------------------------------------------------------------------

WINNOW_K = 8  # character k-grams
WINNOW_W = 4  # winnowing window (grams per window)
_RH_BASE = 257
_RH_MOD = 2147483647  # 2^31 - 1
# per-position multipliers B^(k-1-j) mod M, folded to literals so both
# engines evaluate the identical integer expression
_RH_POW = [pow(_RH_BASE, WINNOW_K - 1 - j, _RH_MOD) for j in range(WINNOW_K)]


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowed rolling-hash fingerprints (the standard document
    fingerprinting scheme: polynomial hash of each character k-gram, keep
    the minimum hash of every w-gram window, dedupe). Entirely JVM-side
    higher-order functions — per doc: one array of gram hashes, one
    window-min pass, one distinct — no shuffle, no UDF."""
    t = F.col(text_col)
    L = F.length(t)
    # each stage materializes as a real column: a lambda that closes over
    # an outer EXPRESSION would re-evaluate it per array element (O(n²)
    # per row); closing over a materialized column is O(1). Char codes
    # are extracted once (substr on UTF8 strings seeks from the start, so
    # hashing straight off the string would be O(len) per access).
    codes = F.transform(
        F.sequence(F.lit(1), F.greatest(L, F.lit(1))),
        lambda i: F.ascii(t.substr(i, F.lit(1))).cast("long"),
    )
    staged = df.select(F.col(id_col), L.alias("L"), codes.alias("codes"))
    cc = F.col("codes")
    gram_hash = lambda p: (  # noqa: E731
        sum(
            F.element_at(cc, (p + F.lit(j)).cast("int")) * F.lit(_RH_POW[j])
            for j in range(WINNOW_K)
        ) % F.lit(_RH_MOD)
    )
    n_grams = F.greatest(F.col("L") - (WINNOW_K - 1), F.lit(0))
    gh = F.when(
        n_grams > 0,
        F.transform(F.sequence(F.lit(1), n_grams), gram_hash),
    ).otherwise(F.array().cast("array<bigint>"))
    staged = staged.select(F.col(id_col), gh.alias("gh"))
    ghc = F.col("gh")
    n_wins = F.greatest(F.size(ghc) - (WINNOW_W - 1), F.lit(0))
    wins = F.when(
        n_wins > 0,
        F.transform(
            F.sequence(F.lit(1), n_wins),
            lambda q: F.array_min(F.slice(ghc, q, WINNOW_W)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    staged = staged.select(
        F.col(id_col), F.size(ghc).alias("n_grams"),
        F.array_distinct(wins).alias("fps"),
    )
    return staged.select(
        F.col(id_col),
        "n_grams",
        F.size(F.col("fps")).alias("n_fingerprints"),
        F.array_min(F.col("fps")).alias("min_fp"),
        F.array_max(F.col("fps")).alias("max_fp"),
    )


def winnow_fingerprints_sql(table: str = "documents", text_col: str = "text",
                            id_col: str = "doc_id") -> str:
    t = text_col
    terms = " + ".join(
        f"cast(ascii(substring({t}, p + {j}, 1)) as bigint) * {_RH_POW[j]}"
        for j in range(WINNOW_K)
    )
    return f"""
        with grams as (
          select {id_col},
                 list_transform(range(1, greatest(length({t}) - {WINNOW_K - 1}, 0) + 1),
                                p -> ({terms}) % {_RH_MOD}) as gh
          from {table}
        ),
        winnowed as (
          select {id_col}, gh,
                 list_distinct(list_transform(
                   range(1, greatest(len(gh) - {WINNOW_W - 1}, 0) + 1),
                   q -> list_min(gh[q:q+{WINNOW_W - 1}]))) as fps
          from grams
        )
        select {id_col}, len(gh) as n_grams, len(fps) as n_fingerprints,
               list_min(fps) as min_fp, list_max(fps) as max_fp
        from winnowed
    """


# ---------------------------------------------------------------------------
# SimHash fingerprint
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16  # one bit per md5 hex nibble — SQL-replayable exactly

_HI_NIBBLES = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
            ) -> DataFrame:
    """16-bit SimHash over distinct tokens: bit i is set when the count of
    tokens whose md5 nibble i has its high bit set exceeds half the token
    count (the +1/-1 majority in counting form). One explode + one
    aggregation, all JVM-side."""
    toks = F.explode(
        F.array_distinct(F.split(F.col(text_col), " "))
    ).alias("tok")
    base = df.select(F.col(id_col), toks)
    h = F.md5(F.col("tok"))
    aggs = [F.count("*").alias("n")]
    for i in range(SIMHASH_BITS):
        aggs.append(
            F.sum(
                F.when(F.substring(h, i + 1, 1).isin(*_HI_NIBBLES), 1).otherwise(0)
            ).alias(f"c{i}")
        )
    counts = base.groupBy(id_col).agg(*aggs)
    sig: Column = F.lit(0)
    for i in range(SIMHASH_BITS):
        sig = sig + F.when(
            F.col(f"c{i}") * 2 > F.col("n"), F.lit(1 << i)
        ).otherwise(F.lit(0))
    return counts.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_sql(table: str = "documents", text_col: str = "text",
                id_col: str = "doc_id") -> str:
    hi = ", ".join(f"'{n}'" for n in _HI_NIBBLES)
    cs = ", ".join(
        f"sum(case when substr(md5(tok), {i + 1}, 1) in ({hi}) then 1 else 0 end) as c{i}"
        for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(case when c{i} * 2 > n then {1 << i} else 0 end)" for i in range(SIMHASH_BITS)
    )
    return f"""
        with toks as (
          select {id_col}, unnest(list_distinct(string_split({text_col}, ' '))) as tok
          from {table}
        ),
        counts as (select {id_col}, count(*) as n, {cs} from toks group by {id_col})
        select {id_col}, cast({sig} as bigint) as simhash from counts
    """
