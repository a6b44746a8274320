"""Substring-level (passage) deduplication: find maximal token spans
that are duplicated ACROSS documents.

Doc-level dedup (MinHash / SimHash / exact fingerprints) misses the
boilerplate case: two long, otherwise-distinct documents sharing a
repeated passage (license headers, navigation chrome, quoted chain
mail). The published discipline (Lee et al. 2021, "Deduplicating
Training Data Makes Language Models Better") removes exact duplicate
substrings corpus-wide via suffix arrays; a suffix array is a global,
sequential structure, so the Spark-native equivalent here works on
k-token shingles: a shingle occurring in ≥ ``min_docs`` distinct docs
is "duplicated", and maximal RUNS of consecutive duplicated shingle
positions within a doc are the removal spans (a run of R consecutive
k-shingles == an exact duplicated substring of R+k-1 tokens).

Scale shape (10^12 docs): the positional shingle stream is
corpus-token-sized, same as every shingle pipeline here; the
frequency count is one hash-partitioned groupBy(sh); the hit join is
co-partitioned on the same key (no broadcast assumption — the
duplicate-shingle set is corpus-scale in the worst case); the
island-merge window shuffles ONLY the duplicate positions (usually a
small fraction) keyed by doc_id. No global ordering anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.functions.hashing import (
    portable_hash64,
)
from opengauss_tools_datachecker_performance_spark.functions.text import (
    normalized_text,
    shingle_rows,
    ws_tokens,
)
from opengauss_tools_datachecker_performance_spark.session import cached


def positional_shingle_rows(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """→ flat ``(doc_id, pos, sh)`` rows: the k-shingle starting at
    0-based token position ``pos``. Delegates to
    functions.text.shingle_rows(keep_pos=True) — the same
    explode-first codegen build every shingle pipeline here uses —
    which keeps positions and drops docs shorter than k (a sub-k doc
    has no positional span to remove)."""
    return shingle_rows(df, id_col, text_col, k=k, keep_pos=True)


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """→ ``(doc_id, start_pos, end_pos, span_tokens, passage_key)``:
    maximal token spans (0-based, inclusive) duplicated across ≥
    ``min_docs`` distinct docs. ``span_tokens`` = end_pos - start_pos
    + 1; a span is always ≥ k tokens (one duplicated shingle);
    ``passage_key`` hashes the span's ordered shingle run, so verbatim-
    identical passages share a key across docs. Downstream removal is
    the caller's policy (cut, keep-first-occurrence, or flag) — this
    emits the evidence, like the reference's diff emits keys rather
    than repairing in place.

    Cross-doc semantics deliberately: ``min_docs`` counts DISTINCT
    docs, so within-doc repetition (repetition_stats' domain) does not
    flag, and every co-occurrence of a flagged passage flags in every
    doc carrying it (keep-one is a survivor policy, not detection).

    Known conservatism: islands are maximal RUNS, so a passage P
    adjacent to other duplicated text Q merges into one P+Q span whose
    key differs from bare-P spans elsewhere — a keep-one policy then
    keeps one copy per CONTEXT (one bare P, one P+Q), never fewer.
    Resolving sub-island matches is the global suffix-array problem
    this shingle formulation deliberately approximates from the safe
    side: it may keep extra copies, it cannot lose content.

    Islands via gaps-and-islands: pos - row_number() is constant on a
    consecutive run; one window + one groupBy over the (small)
    duplicate-position stream. The corpus-token-sized shingle stream
    feeds BOTH the frequency count and the hit join, so it is cached in
    the caller's cache scope (one tokenize/hash pass, not two)."""
    rows = cached(positional_shingle_rows(df, id_col, text_col, k))
    dup_sh = (
        rows.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("sh")
    )
    hits = rows.join(dup_sh, "sh").select("doc_id", "pos", "sh")
    w = Window.partitionBy("doc_id").orderBy("pos")
    grp = F.col("pos") - F.row_number().over(w)
    # passage_key: hash of the island's ordered shingle-hash run —
    # identical passages get identical keys across docs, which is what
    # a keep-one-copy policy (removal_plan) groups on. collect_list is
    # order-nondeterministic; array_sort on (pos, sh) structs pins it.
    key = portable_hash64(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sh"))),
                lambda x: x["sh"].cast("string"),
            ),
            ",",
        )
    )
    return (
        hits.withColumn("_g", grp)
        .groupBy("doc_id", "_g")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") + F.lit(k - 1)).alias("end_pos"),
            key.alias("passage_key"),
        )
        .select(
            "doc_id",
            "start_pos",
            "end_pos",
            (F.col("end_pos") - F.col("start_pos") + 1).alias("span_tokens"),
            "passage_key",
        )
    )


def removal_plan(spans: DataFrame) -> DataFrame:
    """Keep-one-copy policy over :func:`duplicate_spans` output: per
    ``passage_key``, the first carrier (smallest doc_id, then
    start_pos) gets ``action='keep'``; every other span gets
    ``action='remove'``. EVERY input span comes back tagged — the kept
    spans are load-bearing, not informational: :func:`remove_spans`
    protects their token ranges, so when a doc carries both a kept
    passage and an overlapping removable one (adjacent duplicated
    passages merge-overlap by up to k-2 tokens), the kept copy still
    survives verbatim. Without the protection, overlapping removals
    could cut into the one copy the policy promised to preserve —
    destroying the passage corpus-wide.

    Deliberately NOT a row_number window: a boilerplate passage can be
    carried by millions of docs, and a window must SORT that one key's
    entire group in one task. min(struct(doc_id, start_pos)) is the
    same lexicographic first-carrier choice as a partial-aggregated
    (map-side combining, skew-tolerant) groupBy, and the join back is
    keyed on the same column the aggregate just produced."""
    keep = spans.groupBy("passage_key").agg(
        F.min(F.struct("doc_id", "start_pos")).alias("_first")
    )
    return (
        spans.join(keep, "passage_key")
        .withColumn(
            "action",
            F.when(
                (F.col("doc_id") == F.col("_first.doc_id"))
                & (F.col("start_pos") == F.col("_first.start_pos")),
                F.lit("keep"),
            ).otherwise(F.lit("remove")),
        )
        .drop("_first")
    )


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply token-span removal → ``(doc_id, n_tokens,
    n_removed_tokens, clean_text)`` over the NORMALIZED tokenization
    (the coordinate system duplicate_spans emits). Docs with no spans
    (including null-text docs) pass through with n_removed_tokens = 0.

    When ``spans`` carries :func:`removal_plan`'s ``action`` column,
    only ``action='remove'`` ranges cut, and tokens inside an
    ``action='keep'`` range are PROTECTED even where a remove range
    overlaps them — the keep-one guarantee (each passage survives
    verbatim in its first carrier) depends on this, because adjacent
    duplicated passages produce overlapping spans with different keys.
    Without an ``action`` column every span is treated as a removal
    with no protection (caller-supplied cut lists).

    Shape: spans collapse to two small arrays per doc (spans are
    violation-sized), join back on doc_id, and the cut is a per-row
    array filter — map-side after the join, no explode/re-sort of the
    corpus token stream. The HOF lambda is interpreted, but it runs
    once per REMOVAL doc over its own token array, not in the corpus
    scan path."""
    rng = F.struct(
        F.col("start_pos").cast("long").alias("s"),
        F.col("end_pos").cast("long").alias("e"),
    )
    has_action = "action" in spans.columns
    rm = F.when(F.col("action") == "remove", rng) if has_action else rng
    kp = (
        F.when(F.col("action") == "keep", rng)
        if has_action
        else F.when(F.lit(False), rng)
    )
    # collect_list drops the when()'s nulls → per-doc remove/keep arrays
    sp = spans.groupBy(F.col("doc_id")).agg(
        F.collect_list(rm).alias("_rm"), F.collect_list(kp).alias("_kp")
    )
    base = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.coalesce(
            ws_tokens(normalized_text(F.col(text_col))),
            F.array().cast("array<string>"),
        ).alias("_toks"),
    )
    j = base.join(sp, "doc_id", "left")
    covered = lambda arr, i: F.exists(  # noqa: E731
        arr, lambda s: (i >= s["s"]) & (i <= s["e"])
    )
    clean = F.when(F.col("_rm").isNull(), F.col("_toks")).otherwise(
        F.filter(
            "_toks",
            lambda t, i: ~covered(F.col("_rm"), i) | covered(F.col("_kp"), i),
        )
    )
    return j.select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(clean)).cast("long").alias("n_removed_tokens"),
        F.array_join(clean, " ").alias("clean_text"),
    )
