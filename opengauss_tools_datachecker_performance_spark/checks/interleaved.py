"""Interleaved-payload structural checks — constraints that only make
sense for the (doc_id, spans[]) document shape:

* :func:`media_context_audit` — every media span audited for textual
  context: the spans immediately before and after it (in sorted span
  order) must be text spans carrying at least ``min_words`` tokens
  ("alt-text-worthy" context).  Captioning / OCR-alignment pipelines
  use exactly this rule to drop images that arrive with no usable
  surrounding text.
* :func:`offset_integrity` — per-doc offset invariants: offsets must
  be unique and non-negative.  A doc that violates them has an
  ambiguous span order, which breaks the digest canonicalization
  contract (digest.py sorts by offset), so this is the precondition
  check for every digest-based comparison.
* :func:`interleaved_profile` — per-partition composition rollup
  (docs, media docs, span counts, text-token volume, media fraction):
  the corpus-shape summary a mixing/curation pass reads before
  deciding per-source budgets.

Scale notes: all three are single-pass. The two audits are map-only
(pure per-row array expressions — no explode of non-media spans, no
shuffle at all until the caller aggregates); the profile shuffles only
the per-partition partial aggregates (rows = #partitions).  Nothing
here reads a span's media payload — only kinds/offsets/token counts.
Reference parity: extends the span-level rule family of
checks/span_rules.py (reference check semantics:
datachecker-check/src/main/java/org/opengauss/datachecker/check/modules/check/DataCheckService.java
drives per-table rule checks; these are the interleaved-native
additions the north rule asks for).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.digest import _sorted_spans


def _text_words(span: Column) -> Column:
    """Token count of a span's text IF it is a text span, else NULL
    (media spans and missing neighbors both count as "no textual
    context").  Whitespace tokens, empties dropped — matches the
    list_filter(string_split(...)) rendering DuckDB oracles use."""
    wc = F.size(F.filter(F.split(span["text"], " "), lambda x: x != ""))
    return F.when(
        span.isNotNull() & (span["kind"] == "text") & span["text"].isNotNull(), wc
    ).cast("int")


def media_context_audit(docs: DataFrame, min_words: int = 8) -> DataFrame:
    """→ (doc_id, span_idx, media_ref, prev_words, next_words, ok):
    one row per media span, in sorted span order.  ``prev_words`` /
    ``next_words`` are the token counts of the neighboring TEXT spans
    (NULL when the neighbor is missing or itself a media span);
    ``ok`` ⇔ both neighbors provide ≥ ``min_words`` tokens.

    Map-only: the per-doc audit array is built with transform/filter
    over the sorted spans and only MEDIA spans are exploded — a
    text-only doc contributes zero rows and zero explode work.  The
    sort materializes ONCE into a projected column before the lambdas
    reference it (Catalyst does no CSE inside higher-order-function
    lambdas — the neighbor lookups would otherwise re-sort the array
    per element; same discipline as digest._enriched_digests)."""
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _sorted_spans(F.col("spans")).alias("_s"),
    )
    s = F.col("_s")
    audits = F.filter(
        F.transform(
            s,
            lambda sp, i: F.struct(
                i.cast("int").alias("span_idx"),
                sp["kind"].alias("kind"),
                sp["media_ref"].alias("media_ref"),
                # F.get is 0-based and NULL-safe on both ends — i-1 at
                # the first span and i+1 past the last both yield NULL
                _text_words(F.get(s, i - 1)).alias("prev_words"),
                _text_words(F.get(s, i + 1)).alias("next_words"),
            ),
        ),
        lambda a: a["kind"] == "media",
    )
    mw = F.lit(int(min_words))
    return (
        base.select("doc_id", audits.alias("_a"))
        .select("doc_id", F.explode("_a").alias("a"))
        .select(
            "doc_id",
            F.col("a.span_idx").alias("span_idx"),
            F.col("a.media_ref").alias("media_ref"),
            F.col("a.prev_words").alias("prev_words"),
            F.col("a.next_words").alias("next_words"),
            (
                F.coalesce(F.col("a.prev_words") >= mw, F.lit(False))
                & F.coalesce(F.col("a.next_words") >= mw, F.lit(False))
            ).alias("ok"),
        )
    )


def offset_integrity(docs: DataFrame) -> DataFrame:
    """→ (doc_id, n_spans, n_distinct_offsets, n_dup_offsets,
    n_neg_offsets, n_null_offsets) for every doc whose span offsets
    are NOT unique, non-negative and non-NULL — the precondition for
    an unambiguous sorted span order (digest.py canonicalization; a
    NULL offset's sort placement is engine-dependent, so it is exactly
    the ambiguity this check exists to catch).  Map-only filter; the
    healthy corpus emits nothing."""
    offs = F.transform(F.col("spans"), lambda sp: sp["offset"])
    n = F.size(offs)
    nd = F.size(F.array_distinct(offs))
    neg = F.size(F.filter(offs, lambda o: o < 0))
    nulls = F.size(F.filter(offs, lambda o: o.isNull()))
    return (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            n.cast("int").alias("n_spans"),
            nd.cast("int").alias("n_distinct_offsets"),
            (n - nd).cast("int").alias("n_dup_offsets"),
            neg.cast("int").alias("n_neg_offsets"),
            nulls.cast("int").alias("n_null_offsets"),
        )
        .filter(
            (F.col("n_dup_offsets") > 0)
            | (F.col("n_neg_offsets") > 0)
            | (F.col("n_null_offsets") > 0)
        )
    )


def interleaved_profile(docs: DataFrame, partition_col: str = "part") -> DataFrame:
    """→ (part, n_docs, n_media_docs, n_spans, n_media_spans,
    text_tokens, media_span_fraction): per-partition composition of an
    interleaved corpus.  One narrow scan computing per-doc counts with
    array expressions, then a partial-aggregated groupBy whose shuffle
    carries #partitions rows."""
    spans = F.col("spans")
    n_media = F.size(F.filter(spans, lambda sp: sp["kind"] == "media"))
    toks = F.aggregate(
        F.transform(spans, lambda sp: F.coalesce(_text_words(sp), F.lit(0))),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    per_doc = docs.select(
        F.col(partition_col).cast("int").alias("part"),
        F.size(spans).alias("_n_spans"),
        n_media.alias("_n_media"),
        toks.alias("_toks"),
    )
    return per_doc.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("_n_media") > 0).cast("long")).cast("long").alias("n_media_docs"),
        F.sum("_n_spans").cast("long").alias("n_spans"),
        F.sum("_n_media").cast("long").alias("n_media_spans"),
        F.sum("_toks").cast("long").alias("text_tokens"),
        # try_divide: a partition of empty-span docs has 0 spans —
        # NULL fraction, not an ANSI DIVIDE_BY_ZERO abort
        F.round(F.try_divide(F.sum("_n_media"), F.sum("_n_spans")), 6)
        .cast("decimal(10,6)")
        .alias("media_span_fraction"),
    )


def span_transition_profile(
    docs: DataFrame, spans_col: str = "spans"
) -> DataFrame:
    """Kind-bigram profile of the corpus → (from_kind, to_kind,
    n_transitions): how spans interleave in sorted (offset) order,
    with ``'^'`` marking document start.  The text↔media transition
    mix is the structural fingerprint of an interleaved corpus — a
    captioning-style corpus is dominated by text→media→text, a
    scraped-gallery corpus by media→media runs — and a refresh that
    shifts it signals an extraction-pipeline change even when counts
    and token volumes stay flat.

    Map-only per doc (sorted kinds → shifted zip), then one partial
    aggregate over ≤ (#kinds+1)² keys — nothing corpus-sized shuffles.
    """
    s = _sorted_spans(F.col(spans_col))
    kinds = F.transform(s, lambda sp: sp["kind"])
    prev = F.concat(
        F.array(F.lit("^")),
        F.slice(kinds, 1, F.greatest(F.size(kinds) - 1, F.lit(0))),
    )
    trans = F.zip_with(
        prev,
        kinds,
        lambda a, b: F.struct(a.alias("from_kind"), b.alias("to_kind")),
    )
    return (
        docs.select(F.explode(trans).alias("t"))
        # zip_with pads the shorter side with NULL: an empty span array
        # yields ('^', NULL) — not a transition
        .filter(F.col("t.to_kind").isNotNull())
        .groupBy(
            F.col("t.from_kind").alias("from_kind"),
            F.col("t.to_kind").alias("to_kind"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
