"""Text-analysis expression library (all JVM-side built-ins).

Training-data-pipeline functions over document text: tokenization,
language-ID heuristic, quality scoring, token counting, shingling,
fingerprinting.  Everything is a Catalyst Column expression — no
Python UDFs — and everything that exposes a hash uses the portable
md5-based hash so DuckDB oracles reproduce it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.functions.hashing import (
    portable_hash64,
    portable_hash64_seeded,
)

#: tiny English function-word list for the n-gram/stopword language
#: heuristic (public knowledge; order matters for SQL-parity tests)
EN_STOPWORDS = [
    "the", "a", "an", "of", "to", "and", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "from", "this", "be", "are",
]

#: BPE-ish lexer: words | numbers | single punctuation
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization (empty string → empty array)."""
    return F.filter(F.split(text, "\\s+"), lambda t: t != "")


def regex_tokens(text: Column) -> Column:
    """BPE-ish regex tokenization."""
    return F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)


def token_counts(text: Column) -> tuple[Column, Column]:
    """(n_ws_tokens, n_regex_tokens)."""
    return F.size(ws_tokens(text)), F.size(regex_tokens(text))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    toks = ws_tokens(F.lower(text))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def lang_id(text: Column, threshold: float = 0.05) -> Column:
    """Stopword-density language heuristic: 'en' vs 'unknown'."""
    return F.when(stopword_ratio(text) >= threshold, F.lit("en")).otherwise(
        F.lit("unknown")
    )


#: Marker-word profiles (top function words) for the multi-language
#: n-gram (word-unigram) language-ID heuristic. Overlapping markers
#: ("de" fr∩es, "in" en∩de, ...) are fine: each (lang, word) pair
#: scores independently and the argmax decides. Order = tie-break
#: priority (earlier wins at equal hit counts).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "mit", "ein", "auf", "sich"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "los", "las", "de", "que", "es", "una", "por", "con", "para"],
}


def lang_marker_scores(df, id_col: str, text_col: str):
    """→ (doc_id, lang, n_hits): marker-word hit counts per doc per
    language, zero-hit languages absent.

    Explode-first formulation (the shingle_rows discipline): lowercased
    whitespace tokens as flat rows, equi-joined against the broadcast
    (lang, word) marker table, counted in one partial-aggregated
    groupBy — whole-stage codegen end to end, no per-row Python and no
    interpreted array lambdas in the hot path. At corpus scale the
    marker table is O(langs × markers) → always a broadcast."""
    spark = df.sparkSession
    markers = spark.createDataFrame(
        [(lang, w) for lang, words in LANG_MARKERS.items() for w in words],
        "lang string, _tok string",
    )
    toks = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("_tok"),
    )
    return (
        toks.join(F.broadcast(markers), "_tok")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def lang_id_profile(df, id_col: str, text_col: str, min_hits: int = 2):
    """→ (doc_id, lang, n_hits): the argmax language per doc (ties →
    LANG_MARKERS order), 'unknown' (n_hits 0) when the best language
    has fewer than ``min_hits`` marker hits."""
    from pyspark.sql.window import Window

    rank = {lang: i for i, lang in enumerate(LANG_MARKERS)}
    rank_col = F.coalesce(
        *[F.when(F.col("lang") == lang, F.lit(i)) for lang, i in rank.items()]
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), rank_col.asc()
    )
    best = (
        lang_marker_scores(df, id_col, text_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("n_hits") >= min_hits))
        .drop("_rn")
    )
    all_docs = df.select(F.col(id_col).cast("string").alias("doc_id"))
    return all_docs.join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("lang", F.lit("unknown")).alias("lang"),
        F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
    )


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, "[A-Za-z0-9\\s]", ""))
    return F.when(n > 0, punct.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    toks = ws_tokens(text)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + word-length
    band + low punctuation. Deterministic arithmetic only (SQL-parity)."""
    n_tok = F.size(ws_tokens(text)).cast("double")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    mwl = mean_word_length(text)
    wl_score = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    p_score = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    return F.round((len_score + wl_score + p_score) / 3, 6)


def normalized_text(text: Column) -> Column:
    """lowercase + collapse whitespace + trim — the dedup canonical form."""
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 hex of the normalized text."""
    return F.md5(normalized_text(text))


def word_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-word shingles of an ALREADY tokenized column.

    ``toks`` must be a materialized attribute (a column produced by a
    previous select), NOT an inline expression: Spark evaluates
    higher-order-function lambdas interpreted, with no common-
    subexpression elimination, so an inline ``toks`` expression would
    be re-evaluated for EVERY shingle element — measured 17 s vs <1 s
    for 5k short docs. The same discipline applies to every array this
    module's lambdas reference (see shingle_pipeline)."""
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles of the normalized text (empty if < k words).

    NOTE: inlines the tokenization into the shingle lambda — fine for
    one-off expressions, quadratic in the hot path (see
    word_shingles_from_tokens). Operators should use shingle_pipeline.
    """
    return word_shingles_from_tokens(ws_tokens(normalized_text(text)), k)


def shingle_pipeline(
    df, id_col: str, text_col: str, k: int = 3, distinct: bool = True
):
    """(id, text) frame → (doc_id, sh) with ``sh`` the shingle-hash
    array, built as SEPARATE projection steps (tokens → shingles →
    hashes) so every higher-order lambda reads a materialized attribute
    — Catalyst's CollapseProject keeps the boundaries because each
    alias is referenced more than once downstream."""
    from opengauss_tools_datachecker_performance_spark.functions.hashing import (
        portable_hash64,
    )

    toks = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        ws_tokens(normalized_text(F.col(text_col))).alias("_toks"),
    )
    shingles = toks.select(
        "doc_id", word_shingles_from_tokens(F.col("_toks"), k).alias("_shingles")
    )
    h = F.transform(F.col("_shingles"), lambda s: portable_hash64(s))
    return shingles.select(
        "doc_id", (F.array_distinct(h) if distinct else h).alias("sh")
    )


def shingle_rows(
    df,
    id_col: str,
    text_col: str,
    k: int = 3,
    distinct: bool = True,
    keep_pos: bool = False,
):
    """(id, text) frame → flat ``(doc_id, sh)`` shingle-hash ROWS
    (``(doc_id, pos, sh)`` with ``keep_pos=True``).

    Explode-first formulation: posexplode the token array, build each
    k-shingle with window ``lead()`` over (doc_id, position), hash with
    a codegen'd md5 — no higher-order-function lambdas anywhere, so the
    whole build runs inside whole-stage codegen (measured ~4× faster
    than the array-transform form, whose interpreted per-element eval
    dominated). Docs with fewer than k tokens contribute one whole-doc
    shingle (same fallback as word_shingles). The window partitions by
    doc_id — no global sort, and the shuffle it needs is the same
    (doc_id-keyed) one the downstream groupBy/joins want anyway.

    ``keep_pos=True`` (the substring-dedup path) keeps the 0-based
    starting token position of each shingle and SKIPS both the
    small-doc fallback (a sub-k doc has no positional span to remove)
    and the distinct dedup (positions make rows unique; ``distinct``
    is ignored).
    """
    from pyspark.sql.window import Window

    from opengauss_tools_datachecker_performance_spark.functions.hashing import (
        portable_hash64,
    )

    toks = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        # NULL text behaves like empty text: without the coalesce a
        # NULL token array (size NULL under ANSI) falls out of BOTH
        # branches below and the doc silently vanishes from the index
        F.coalesce(
            ws_tokens(normalized_text(F.col(text_col))),
            F.array().cast("array<string>"),
        ).alias("_toks"),
    )
    rows = toks.select(
        "doc_id",
        F.size("_toks").alias("_n"),
        F.posexplode("_toks").alias("_i", "_tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("_i")
    parts = [F.col("_tok")] + [F.lead("_tok", j).over(w) for j in range(1, k)]
    big = (
        rows.filter(F.col("_n") >= k)
        .select(
            "doc_id",
            F.col("_i").alias("pos"),
            F.concat_ws(" ", *parts).alias("_shingle"),
            (parts[-1].isNotNull() if k > 1 else F.lit(True)).alias("_full"),
        )
        .filter(F.col("_full"))
    )
    if keep_pos:
        return big.select(
            "doc_id", "pos", portable_hash64(F.col("_shingle")).alias("sh")
        )
    small = toks.filter(F.size("_toks") < k).select(
        "doc_id", F.array_join("_toks", " ").alias("_shingle")
    )
    out = big.select(
        "doc_id", portable_hash64(F.col("_shingle")).alias("sh")
    ).unionByName(
        small.select("doc_id", portable_hash64(F.col("_shingle")).alias("sh"))
    )
    return out.dropDuplicates(["doc_id", "sh"]) if distinct else out


#: affine MinHash parameters: h_i = (a_i * (h mod 2^31) + b_i) mod P.
#: Universal-hash family over ONE base hash per shingle instead of one
#: seeded md5 per (shingle, seed) — the classic MinHash optimization
#: (Broder '97 uses exactly this a*x+b form). Constants are arbitrary
#: fixed odd values < 2^31; P = 2^61-1 (Mersenne prime). a*h31+b < 2^62
#: so the arithmetic never overflows int64, and every operand is
#: non-negative so Spark's % and DuckDB's % agree (oracle parity).
MINHASH_PRIME = (1 << 61) - 1
MINHASH_AB = [
    (1000000007, 998244353),
    (1999999973, 1717986917),
    (1297337473, 1073741827),
    (1632141991, 563167303),
    (1804289383, 846930886),
    (1681692777, 1714636915),
    (1957747793, 424238335),
    (1189641421, 719885386),
]


def minhash_affine(h: Column, a: int, b: int) -> Column:
    """One member of the affine family, as a plain codegen-able
    expression (usable per array element or per exploded row)."""
    return (F.lit(a) * (h % F.lit(2_147_483_648)) + F.lit(b)) % F.lit(MINHASH_PRIME)


def minhash_signature_from_hashes(sh: Column, num_hashes: int = 8) -> Column:
    """MinHash signature off a MATERIALIZED shingle-hash array
    (shingle_pipeline): array<bigint> of length num_hashes; empty
    shingle sets yield nulls (callers treat whole-doc fallback shingles
    upstream so sh is never empty in practice). The hot path computes
    the same signature as 8 MIN aggregates over shingle_rows instead
    (operators/dedup.minhash_band_buckets) — all codegen, no lambdas."""
    def one(a: int, b: int):
        # single-arg lambda factory: pyspark binds lambda arity, so
        # defaulted extra args would be mis-bound as the array index
        return lambda h: minhash_affine(h, a, b)

    return F.array(
        *[
            F.array_min(F.transform(sh, one(a, b)))
            for a, b in MINHASH_AB[:num_hashes]
        ]
    )


def minhash_signature(text: Column, k: int = 3, num_hashes: int = 8) -> Column:
    """MinHash signature straight off a text column. One-off/test use —
    the hot path materializes shingle hashes first (shingle_pipeline +
    minhash_signature_from_hashes) to avoid per-element re-evaluation
    of the tokenization inside interpreted lambdas."""
    return minhash_signature_from_hashes(
        F.transform(word_shingles(text, k), lambda s: portable_hash64(s)),
        num_hashes,
    )


# SimHash moved to operators/dedup.py (simhash_bands /
# simhash_signature / simhash_near_duplicates): 60-bit over the
# portable hash, explode-first codegen build, Hamming-band probing.


# ---------------------------------------------------------------------------
# Repetition / boilerplate statistics (Gopher-style quality rules)
# ---------------------------------------------------------------------------


def repetition_stats(df, id_col: str = "doc_id", text_col: str = "text"):
    """→ ``(doc_id, n_tokens, n_distinct_tokens, dup_token_frac,
    top_bigram, top_bigram_frac)`` per doc — the Gopher repetition
    signals (Rae et al. 2021 §A1.1): what fraction of the doc is
    repeated tokens, and what fraction is covered by its single most
    frequent word 2-gram (boilerplate/spam detector; thresholding is
    the caller's policy, this exposes the measurements).

    Plan shape (checked with .explain): the token counts are MAP-ONLY
    — ``size`` / ``size(array_distinct)`` on the per-doc token array,
    codegen'd collection expressions, no explode, no countDistinct
    double-exchange. Only the bigram mode needs distribution: explode
    tokens, window ``lead()`` over (doc_id, position) for the pairs,
    one partial-aggregated groupBy whose (doc_id, bigram) clustering
    is already satisfied by the window's doc_id exchange, and Spark's
    WindowGroupLimit caps the top-1 pick. Net: ONE corpus exchange
    (plus the final doc_id join, which reuses that partitioning).
    Ties on the top bigram resolve lexicographically (smallest wins)
    so the result is deterministic and oracle-reproducible.
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        ws_tokens(normalized_text(F.col(text_col))).alias("_toks"),
    )
    tok_agg = base.select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).cast("long").alias("n_distinct_tokens"),
    )
    toks = base.select(
        "doc_id", F.posexplode("_toks").alias("_i", "_tok")
    )
    w = Window.partitionBy("doc_id").orderBy("_i")
    big_counts = (
        toks.withColumn("_next", F.lead("_tok").over(w))
        .filter(F.col("_next").isNotNull())
        .select(
            "doc_id", F.concat_ws(" ", "_tok", "_next").alias("bigram")
        )
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wb = Window.partitionBy("doc_id").orderBy(
        F.col("n").desc(), F.col("bigram").asc()
    )
    top = (
        big_counts.withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("bigram").alias("top_bigram"), F.col("n").alias("_top_n"))
    )
    # empty/whitespace-only docs have n_tokens = 0: guard the divides
    # (ANSI mode — Spark 4's default — makes x/0 a JOB-KILLING error,
    # and a dirty corpus is exactly this operator's input)
    has_toks = F.col("n_tokens") > 0
    dup_frac = F.when(
        has_toks,
        F.lit(1.0)
        - F.col("n_distinct_tokens").cast("double")
        / F.col("n_tokens").cast("double"),
    ).otherwise(F.lit(0.0))
    # top-bigram coverage: tokens covered by the winning 2-gram
    # (2 tokens per occurrence) over all tokens — 0.0 for 0/1-token docs
    top_frac = F.coalesce(
        F.when(
            has_toks,
            F.lit(2.0) * F.col("_top_n").cast("double")
            / F.col("n_tokens").cast("double"),
        ),
        F.lit(0.0),
    )
    return tok_agg.join(top, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        dup_frac.alias("dup_token_frac"),
        "top_bigram",
        top_frac.alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# PII pattern scan
# ---------------------------------------------------------------------------

#: RE2-safe patterns (no backrefs/lookaround) so a DuckDB oracle
#: reproduces the counts exactly; Java regex reads them identically.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,3}-\d{3}-\d{3,}",
}


def pii_scan(df, id_col: str = "doc_id", text_col: str = "text"):
    """→ ``(doc_id, n_email, n_ipv4, n_phone, has_pii)`` — per-doc
    counts of PII-shaped substrings (a redaction/filter pre-screen, not
    a guarantee). Pure ``regexp_count`` projections: narrow, no
    shuffle, whole-stage codegen; at 100 TB this is a map-only scan
    whose cost is the text decode it shares with every other text op."""
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(p)).alias(f"n_{name}")
        for name, p in PII_PATTERNS.items()
    ]
    out = df.select(F.col(id_col).cast("string").alias("doc_id"), *counts)
    any_hit = None
    for name in PII_PATTERNS:
        c = F.col(f"n_{name}") > 0
        any_hit = c if any_hit is None else (any_hit | c)
    return out.withColumn("has_pii", any_hit)
