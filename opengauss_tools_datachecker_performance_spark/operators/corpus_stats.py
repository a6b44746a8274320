"""Corpus-level statistics + self-trained LM quality scoring.

Training-data-pipeline operators over the whole corpus (beyond the
reference's per-table checks, per the build brief):

* :func:`vocab_stats` — top-K vocabulary by total term frequency with
  document frequency (the data-audit staple: inspect what the corpus
  is actually made of; the df column feeds stopword/boilerplate
  policies).
* :func:`bigram_surprisal_scores` — per-doc quality score from a
  bigram language model trained on the corpus itself — the CCNet
  KenLM-perplexity filter (Wenzek et al. 2020) re-expressed for
  cross-engine determinism. Surprisal is measured in WHOLE BITS via
  integer bit-length: ``bitlen(C(w1)+V) - bitlen(C(w1,w2)+1)`` per
  bigram, which brackets the add-one-smoothed ``-log2 P(w2|w1)``
  within 1 bit. ``ln``/``log`` are libm-dependent (JVM vs DuckDB
  disagree in final ulps), so a float formulation could not be
  oracle-checked bit-for-bit; bit-length of an exact integer is
  deterministic everywhere (Spark ``length(bin(x))`` == DuckDB
  ``length(bin(x))``), and the ranking semantics — rare-sequence docs
  score high — survive. A production run can swap the bits expression
  for true ``log2`` with the identical plan shape.

Scale shape (the 100 TB reading):

* Every count is a partial-aggregated ``groupBy`` (map-side combine;
  a hot token arrives at its reducer pre-combined per map task).
* The model joins are 1:N — the count side carries ONE row per
  bigram / history token, so hot keys ("the …") fan out but never
  blow up; AQE picks broadcast vs sort-merge from the model's
  measured size.
* The vocabulary-size scalar rides a ``crossJoin(broadcast(1 row))``
  — no driver round-trip in the plan.
* The top-K selection is a two-phase window (64-way salt pre-cap,
  then a ≤ 64·K-row final rank) — never a single task sorting the
  whole vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from opengauss_tools_datachecker_performance_spark.functions.text import (
    normalized_text,
    ws_tokens,
)
from opengauss_tools_datachecker_performance_spark.session import cached


def _doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, _toks): normalized whitespace tokens per doc."""
    return df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        ws_tokens(normalized_text(F.col(text_col))).alias("_toks"),
    )


def with_span_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Interleaved-doc adapter: derive a ``text_col`` by concatenating
    the doc's span texts in offset order (media/NULL-text spans
    contribute nothing). Same span ordering as the digest layer
    (digest._sorted_spans: offset-first struct sort, codegen'd — no
    lambda comparator); map-only, no shuffle. Lets every (doc_id,
    text) corpus operator run directly on the engine's native
    ``spans`` tables."""
    ordered = F.sort_array(
        F.transform(
            "spans",
            lambda s: F.struct(
                s["offset"].alias("offset"), s["text"].alias("text")
            ),
        )
    )
    texts = F.filter(
        F.transform(ordered, lambda s: s["text"]), lambda t: t.isNotNull()
    )
    return df.withColumn(text_col, F.concat_ws(" ", texts))


def vocab_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 100,
) -> DataFrame:
    """→ (token, tf, df, rank): the corpus's ``top_k`` terms by total
    frequency (ties → token ascending), with document frequency.

    Plan: explode tokens → groupBy(doc, token) partial agg (also the
    df building block) → groupBy(token) for (tf, df) → two-phase
    top-K (salted pre-cap bounds every window group)."""
    base = _doc_tokens(df, id_col, text_col)
    dt = (
        base.select("doc_id", F.explode("_toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    v = dt.groupBy("token").agg(
        F.sum("_n").cast("long").alias("tf"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )
    order = [F.col("tf").desc(), F.col("token").asc()]
    w_salt = Window.partitionBy("_salt").orderBy(*order)
    w = Window.partitionBy().orderBy(*order)
    return (
        v.withColumn("_salt", F.pmod(F.xxhash64("token"), F.lit(64)))
        .withColumn("_rn", F.row_number().over(w_salt))
        .filter(F.col("_rn") <= top_k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("token", "tf", "df", "rank")
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 3,
) -> DataFrame:
    """→ (doc_id, token, tf, idf_bits, rank): each doc's ``top_n``
    most characteristic terms by tf·idf, with idf in exact integer
    bits — ``idf_bits = bitlen(N_docs) − bitlen(df_token)`` (brackets
    ``log2(N/df)`` within 1 bit; same cross-engine-determinism
    rationale as the surprisal operator). Ranking ties break on token
    ascending, so results are deterministic and oracle-reproducible.

    Plan: the (doc, token, tf) partial agg feeds both the per-token
    document frequency (second partial agg) and the scoring join
    (1:N — one df row per token, hot tokens fan out but never blow
    up); the corpus-size scalar rides a broadcast cross join; the
    per-doc top-n window groups are bounded by a doc's distinct
    tokens."""
    base = _doc_tokens(df, id_col, text_col)
    dt = (
        base.select("doc_id", F.explode("_toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = dt.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("_df"))
    n_docs = base.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    idf_bits = _bitlen(F.col("_n")) - _bitlen(F.col("_df"))
    scored = (
        dt.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            idf_bits.cast("long").alias("idf_bits"),
            (F.col("tf") * idf_bits).alias("_score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_n)
        .select("doc_id", "token", "tf", "idf_bits", "rank")
    )


def bigram_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, bigram): one row per adjacent token pair, rendered as
    ``"w1 w2"`` (tokens are whitespace-split, so the space delimiter
    is unambiguous). Per-doc window — groups bounded by doc length."""
    toks = _doc_tokens(df, id_col, text_col).select(
        "doc_id", F.posexplode("_toks").alias("_i", "_tok")
    )
    w = Window.partitionBy("doc_id").orderBy("_i")
    return (
        toks.withColumn("_next", F.lead("_tok").over(w))
        .filter(F.col("_next").isNotNull())
        .select("doc_id", F.concat_ws(" ", "_tok", "_next").alias("bigram"))
    )


def _bitlen(x: F.Column) -> F.Column:
    """floor(log2(x)) + 1 for positive integers — exact, via the
    binary string rendering both engines share."""
    return F.length(F.bin(x))


def bigram_surprisal_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (doc_id, n_bigrams, surprisal_bits, avg_bits): per-doc
    integer surprisal under the corpus's own add-one-smoothed bigram
    model (see the module docstring for why whole bits, not ln).

    * ``C(w1,w2)`` = corpus bigram counts; ``C(w1)`` = Σ_w2 C(w1,w2)
      (history mass — so smoothed probabilities sum below 1);
      ``V`` = distinct-token vocabulary size.
    * per-bigram bits = bitlen(C(w1)+V) − bitlen(C(w1,w2)+1) ≥ 0
      (C(w1,w2) ≤ C(w1), 1 ≤ V — monotone bitlen).
    * ``avg_bits`` = round(surprisal_bits / n_bigrams, 6) as
      DECIMAL(10,6) — a division of two exact integers is one
      correctly-rounded IEEE op, deterministic cross-engine.

    Docs with < 2 tokens have no bigrams and are absent (the filter
    consumer treats missing as unscorable, not as quality 0).

    The per-(doc, bigram) count frame ``m`` both trains the model
    (bgc/hist derive from it) and is the scoring join's left side —
    two consumers of one tokenize+window subtree, so it is cached in
    the caller's cache scope (outside one the subtree recomputes)."""
    m = cached(
        bigram_rows(df, id_col, text_col)
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("_m"))
    )
    bgc = m.groupBy("bigram").agg(F.sum("_m").alias("_c2"))
    hist = bgc.groupBy(
        F.substring_index("bigram", " ", 1).alias("_w1")
    ).agg(F.sum("_c2").alias("_c1"))
    vocab = (
        _doc_tokens(df, id_col, text_col)
        .select(F.explode("_toks").alias("token"))
        .agg(F.countDistinct("token").cast("long").alias("_v"))
    )
    bits = _bitlen(F.col("_c1") + F.col("_v")) - _bitlen(F.col("_c2") + 1)
    scored = (
        m.join(bgc, "bigram")
        .withColumn("_w1", F.substring_index("bigram", " ", 1))
        .join(hist, "_w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.col("_m").alias("_n"),
            (F.col("_m") * bits.cast("long")).alias("_bits"),
        )
    )
    n = F.sum("_n")
    total = F.sum("_bits")
    return scored.groupBy("doc_id").agg(
        n.cast("long").alias("n_bigrams"),
        total.cast("long").alias("surprisal_bits"),
        F.round(total.cast("double") / n, 6)
        .cast("decimal(10,6)")
        .alias("avg_bits"),
    )


def doc_length_histogram(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source log2-bucketed document-length histogram →
    (source, bucket, lo_tokens, hi_tokens, n_docs): the corpus-shape
    profile curation reads before setting length filters (and the
    reference's per-column stats idea applied to the doc grain).

    The bucket is the exact integer bit length of the token count
    (``length(bin(n)) - 1`` == floor(log2 n) for n ≥ 1) — the same
    libm-free determinism trick as the LM surprisal bits, so DuckDB
    replays it bit-for-bit.  Map + one partial-aggregated groupBy of
    (source, bucket) — output rows = #sources × #buckets."""
    base = docs.select(
        F.col(group_col).alias("source"),
        F.size(ws_tokens(normalized_text(F.col(text_col)))).alias("n"),
    )
    bucket = (F.length(F.bin(F.col("n"))) - 1).cast("int")
    return (
        base.filter(F.col("n") >= 1)
        .select("source", bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            "source",
            "bucket",
            # pyspark's shiftleft wrapper wants a literal bit count;
            # the SQL form takes the bucket column
            F.expr("shiftleft(cast(1 as bigint), bucket)").alias("lo_tokens"),
            F.expr("shiftleft(cast(1 as bigint), bucket + 1) - 1").alias(
                "hi_tokens"
            ),
            "n_docs",
        )
    )
