"""Digest tree: row digests → bucket signatures → partition digests.

Replaces the reference's extract→Kafka→bucket→Merkle pipeline
(datachecker-check/.../modules/bucket/BuilderBucketHandler.java,
.../merkle/MerkleTree.java) with a partition-parallel digest tree:

1. **row digests** — ``(key, k_hash, v_hash, bucket)`` per row; the
   reference's RowDataHash (datachecker-common/.../entry/extract/RowDataHash.java:34-65).
2. **signature fold** — :func:`signature_fold`, the one XOR fold of
   key-bound row hashes (Bucket.java:84-87: ``sig ^= vHash`` —
   commutative, so a plain shuffle agg with map-side partial
   aggregation; no sort needed). Bucket signatures, the two-phase
   diff's prune (operators.diff.mismatched_buckets) and the
   per-partition lineage digest (plans.lineage.partition_stats) all
   fold through it. The reference only uses its Merkle tree to
   *prune equal subtrees* before row compare; the pruning join does
   the same with O(#buckets) signature rows, so no internal level is
   built.

Bucket routing mirrors BuilderBucketHandler.java:116-131
(``bucket = |kHash| & (2^n - 1)``): ``pmod(xxhash64(key), n_buckets)``.

For the interleaved-doc table the row digest is the **span-sequence
digest**: spans sorted by ``offset``, each canonicalized to
(kind, text, media_ref), the ordered sequence hashed once — equality
of digests ⇔ span-sequence equality (kind, text, media_ref, order),
the per-row invariant from BASELINE.json. Within-doc order matters
(array_sort by offset); across docs the XOR bucket fold is
order-insensitive, so no global sort ever happens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opengauss_tools_datachecker_performance_spark.checks.schema_check import (
    DOCS_SCHEMA,
)
from opengauss_tools_datachecker_performance_spark.functions.hashing import (
    k_hash,
    pk_key,
    v_hash,
)

#: default bucket count — the reference caps Merkle trees at 2^15
#: leaves PER SLICE (BuilderBucketHandler.java:37-41, expect-capacity 1
#: row/bucket); our tree is table-global, so the default is sized so
#: that at ~1% violation density most buckets stay clean and the
#: digest-level pruning actually prunes. Only affects pruning
#: granularity, never correctness.
DEFAULT_NUM_BUCKETS = 1 << 16

#: record/unit separators for span-sequence canonical strings. Fields
#: are additionally LENGTH-PREFIXED (octet_length ':' bytes) so the
#: render is injective for ANY byte content - a text/media_ref that
#: itself contains these control bytes cannot forge a field or record
#: boundary (the prefix pins where each field ends). Length framing is
#: O(1) per field (byte length, no extra string scan), unlike escaping.
_UNIT_SEP = ""
_REC_SEP = ""


def _framed(c: Column) -> Column:
    """``<byte-len>:<bytes>`` framing of one canonical field; null →
    '' first (HashHandler.java:58 null=='' digest quirk preserved)."""
    s = F.coalesce(c, F.lit(""))
    return F.concat(F.octet_length(s).cast("string"), F.lit(":"), s)


def bucket_of(key_hash: Column, num_buckets: int = DEFAULT_NUM_BUCKETS) -> Column:
    """Hash-route a key to a bucket (BuilderBucketHandler.java:116-131)."""
    return F.pmod(key_hash, F.lit(num_buckets)).cast("int")


def row_digests(
    df: DataFrame,
    key_cols: list[str],
    value_cols: list[str] | None = None,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
) -> DataFrame:
    """Flat-table row digests: ``(key, k_hash, v_hash, bucket)``.

    ``value_cols`` default to all columns in schema order (the
    reference hashes every column in metadata order,
    HashHandler.java:53-63).
    """
    vals = value_cols or [f.name for f in df.schema.fields]
    key = pk_key(*key_cols)
    kh = k_hash(key)
    return df.select(
        key.alias("key"),
        kh.alias("k_hash"),
        v_hash(*[F.col(c) for c in vals]).alias("v_hash"),
        bucket_of(kh, num_buckets).alias("bucket"),
    )


def _sorted_spans(spans_col: Column) -> Column:
    # sort_array on structs compares lexicographically by field order →
    # putting offset first sorts by span position, i.e. span order.
    # sort_array (not array_sort): same ordering for the non-null span
    # structs we have, but measurably faster (codegen'd comparator, no
    # lambda machinery) — ~4× in the 3M-doc digest micro-bench.
    return F.sort_array(
        F.transform(
            spans_col,
            lambda s: F.struct(
                s["offset"].alias("offset"),
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
            ),
        )
    )


def render_sorted_spans(sorted_spans_col: Column) -> Column:
    """Canonical render of an ALREADY offset-sorted span array — split
    out so a caller that materializes the sorted array once can feed
    digest + rule extraction off the same sort."""
    rendered = F.transform(
        sorted_spans_col,
        lambda s: F.concat_ws(
            _UNIT_SEP,
            _framed(s["kind"]),
            _framed(s["text"]),
            _framed(s["media_ref"]),
        ),
    )
    return F.array_join(rendered, _REC_SEP)


def span_sequence_canonical_col(spans_col: Column) -> Column:
    return render_sorted_spans(_sorted_spans(spans_col))


def media_spans_col(sorted_spans_col: Column) -> Column:
    """``array<struct<span_idx:int, media_ref:string>>`` of the media
    spans (sorted-order indexes) — small enough to ride on the cached
    digest frame so the referential check never re-reads doc bodies."""
    indexed = F.transform(
        sorted_spans_col,
        lambda s, i: F.struct(
            i.cast("int").alias("span_idx"),
            s["kind"].alias("kind"),
            s["media_ref"].alias("media_ref"),
        ),
    )
    return F.transform(
        F.filter(indexed, lambda x: x["kind"] == "media"),
        lambda x: F.struct(
            x["span_idx"].alias("span_idx"), x["media_ref"].alias("media_ref")
        ),
    )


def null_text_idxs_col(sorted_spans_col: Column) -> Column:
    """Sorted-order indexes of text spans with NULL text (almost always
    empty — violations only)."""
    flagged = F.transform(
        sorted_spans_col,
        lambda s, i: F.when(
            (s["kind"] == "text") & s["text"].isNull(), i.cast("int")
        ),
    )
    return F.filter(flagged, lambda x: x.isNotNull())


def span_hashes_from_sorted(sorted_spans_col: Column) -> Column:
    """Per-span 64-bit digest array over an ALREADY sorted span array:
    multi-arg xxhash64 over (kind, text, media_ref). Spark's multi-arg
    hash feeds each field through the hasher separately (internally
    length-framed), so field content can never forge a field boundary
    — the same guarantee as the length-prefixed canonical render,
    without building the big concat string.

    Null quirk preserved (HashHandler.java:58): null fields COALESCE
    to '' first, so null and empty string collide *inside the digest*
    exactly like the reference."""
    return F.transform(
        sorted_spans_col,
        lambda s: F.xxhash64(
            F.coalesce(s["kind"], F.lit("")),
            F.coalesce(s["text"], F.lit("")),
            F.coalesce(s["media_ref"], F.lit("")),
        ),
    )


#: arbitrary odd seed for the span-sequence fold (golden-ratio prime)
_SPAN_FOLD_SEED = -7046029254386353131

#: distinct digest for a NULL spans column, so NULL vs [] between
#: source and sink is still detected as an update (arbitrary odd
#: constant != seed; colliding with a real fold output needs a 64-bit
#: collision — the same accepted class as any digest equality)
_NULL_SPANS_DIGEST = -5659871106399925013


def span_sequence_hash_from_hashes(span_hashes_col: Column) -> Column:
    """Order-sensitive fold of the per-span hash array into the doc
    digest: h ← xxhash64(h, span_hash) left-to-right. Equality of
    digests ⇔ span-sequence equality (modulo 64-bit collisions — the
    same class the reference's per-row xxHash already accepts).

    Measured at 3M heavy docs (interleaved min-of-3): this per-span-
    hash fold runs at the bare separator-render speed (2.41 s vs
    2.40 s for render+hash+length) while the boundary-safe
    length-prefixed render costs 3.13 s — the int fold avoids building
    the big concat string entirely. Empty span arrays digest to the
    seed; a NULL spans column digests to a DISTINCT sentinel so a
    NULL-vs-[] discrepancy between source and sink still surfaces as
    an update instead of silently comparing equal."""
    return F.coalesce(
        F.aggregate(
            span_hashes_col,
            F.lit(_SPAN_FOLD_SEED),
            lambda acc, h: F.xxhash64(acc, h),
        ),
        F.lit(_NULL_SPANS_DIGEST),
    )


def span_text_volume_from_sorted(sorted_spans_col: Column) -> Column:
    """Byte volume of a doc's spans (text + media_ref + kind) — the
    drift metric (monotone in text volume), computed as an int
    aggregate so no rendered string is ever materialized."""
    return F.coalesce(
        F.aggregate(
            sorted_spans_col,
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.coalesce(F.octet_length(s["text"]), F.lit(0))
            + F.coalesce(F.octet_length(s["media_ref"]), F.lit(0))
            + F.coalesce(F.octet_length(s["kind"]), F.lit(0)),
        ),
        F.lit(0).cast("long"),
    )


def doc_digests(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    spans_col: str = "spans",
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Interleaved-doc digests: ``(key, k_hash, v_hash, bucket)`` where
    ``v_hash`` is the span-sequence digest.  ``carry_cols`` (e.g. the
    physical partition column) ride along so downstream verdicts don't
    need a key→partition join."""
    key = F.col(doc_id_col).cast("string")
    kh = k_hash(key)
    return docs.select(
        key.alias("key"),
        kh.alias("k_hash"),
        span_sequence_hash_from_hashes(
            span_hashes_from_sorted(_sorted_spans(F.col(spans_col)))
        ).alias("v_hash"),
        bucket_of(kh, num_buckets).alias("bucket"),
        *[F.col(c) for c in (carry_cols or [])],
    )


#: version of :func:`signature_fold`'s value. A fold stored under
#: another version (the lineage ledger's ``digest``) is not comparable
#: with a fresh one. Unversioned (NULL) = the fold of ``v_hash`` alone.
FOLD_VERSION = 1


def signature_fold(where: Column | None = None) -> Column:
    """The one XOR fold of a digest frame's rows (``k_hash``,
    ``v_hash``): ``bit_xor(xxhash64(k_hash, v_hash))``, over the rows
    matching ``where`` if given.

    The folded value is bound to the key, like the reference's
    ``vHash``, which hashes key columns too (RowDataHash.java:34-65;
    Bucket.java:84-87 folds it). A fold of ``v_hash`` alone reads two
    docs that swap contents as equal. The stored per-row ``v_hash``
    stays key-free, so the diff join and written companions keep their
    meaning. ``bit_xor`` is commutative: map-side partial aggregation,
    no sort."""
    h = F.xxhash64(F.col("k_hash"), F.col("v_hash"))
    return F.bit_xor(h if where is None else F.when(where, h))


def bucket_signatures(row_digest_df: DataFrame) -> DataFrame:
    """Leaf level of the digest tree: :func:`signature_fold` per bucket,
    one narrow shuffle of #buckets rows."""
    return row_digest_df.groupBy("bucket").agg(
        signature_fold().alias("sig"),
        F.count(F.lit(1)).alias("n_rows"),
    )


#: the digest-companion contract: a table carrying exactly what the
#: checks consume lets validation skip the doc-body scan entirely —
#: ~8 B/span of hashes instead of the text bytes (the measured
#: memory-bandwidth ceiling of the digest stage). Produced at ingest
#: by sources.prehashed.write_digest_companion.
ENRICHED_COLS = [
    "key",
    "k_hash",
    "span_hashes",
    "bucket",
    "part",
    "text_len",
    "media_spans",
    "null_text_idxs",
    "v_hash",
]


def is_enriched(df: DataFrame) -> bool:
    """True if ``df`` already carries the full digest-companion
    contract (ENRICHED_COLS) — validation then runs every check off it
    without ever reading doc bodies."""
    return set(ENRICHED_COLS) <= set(df.columns)


def enriched_schema(spark: SparkSession, part_type: T.DataType) -> T.StructType:
    """The companion contract's exact types, derived from the docs
    schema through the real projection (never hand-maintained); ``part``
    keeps the partition column's own type."""
    empty = spark.createDataFrame([], DOCS_SCHEMA).withColumn("part", F.lit(None).cast(part_type))
    return _enriched_digests(empty).schema


def _enriched_digests(docs: DataFrame) -> DataFrame:
    """A doc's digest, the one projection of a ``(doc_id, spans, part)``
    scan that carries everything the cheap checks need: span-sequence
    digest + k_hash (diff, uniqueness, the signature folds), partition,
    and the drift metric — so diff, uniqueness, drift, the partition
    universe and lineage all run off this one frame without re-reading
    doc bodies.

    The spans sort ONCE into a materialized attribute; the digest is
    the per-span multi-arg xxhash64 fold (boundary-safe without
    building a rendered string — span_sequence_hash_from_hashes has
    the measured numbers) and the drift metric is the byte volume of
    the same sorted spans (monotone in text volume, which is exactly
    what the distribution-drift check needs).

    Digest-companion fast path: input that already carries the full
    ENRICHED_COLS contract (written at ingest by
    sources.prehashed.write_digest_companion) passes through with a
    column-pruning projection — no body scan, no hashing."""
    if is_enriched(docs):
        return docs.select(*ENRICHED_COLS)
    key = F.col("doc_id").cast("string")
    kh = k_hash(key)
    s = F.col("_s")
    return (
        docs.select(
            key.alias("key"),
            kh.alias("k_hash"),
            _sorted_spans(F.col("spans")).alias("_s"),
            bucket_of(kh).alias("bucket"),
            F.col("part"),
        )
        .select(
            "key",
            "k_hash",
            # per-span hash array materializes as its own attribute so
            # the v_hash fold below reads it instead of re-hashing
            # (Spark does NO cross-expression CSE) — and so the diff
            # join can locate the first divergent span from the cache
            # (classify_diff(locate_spans=True)) without ever
            # re-reading doc bodies. ~8 B × spans/doc of extra cache —
            # still an order of magnitude under the bodies.
            span_hashes_from_sorted(s).alias("span_hashes"),
            "bucket",
            "part",
            span_text_volume_from_sorted(s).cast("double").alias("text_len"),
            # span-rule inputs ride the same scan (sorted-order indexes):
            # a handful of (idx, ref) pairs + an almost-always-empty int
            # array per doc — the cached frame stays body-free
            media_spans_col(s).alias("media_spans"),
            null_text_idxs_col(s).alias("null_text_idxs"),
        )
        .withColumn(
            "v_hash", span_sequence_hash_from_hashes(F.col("span_hashes"))
        )
    )
