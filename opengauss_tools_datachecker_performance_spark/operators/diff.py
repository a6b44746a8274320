"""The diff core: classify source-vs-sink rows into insert/update/delete.

Reference: Maps.difference over two in-heap bucket maps
(datachecker-check/.../modules/check/DataCheckRunnable.java:332-344;
slice variant .../slice/SliceCheckWorker.java:263-289):
  - entriesOnlyOnLeft  (source only)        → **insert** set
  - entriesOnlyOnRight (sink only)          → **delete** set
  - entriesDiffering   (vHash mismatch)     → **update** set

Here it is one full-outer hash join on ``key`` with a CASE
classification — Catalyst picks broadcast/shuffled-hash/sort-merge,
AQE splits skewed keys.

**Two-phase pruning (X2)** re-creates the reference's Merkle descent
(SliceCheckWorker.java:291-307): compare O(#buckets) XOR signatures
first, then run the row-level join only over rows whose bucket
signature mismatched.  At 100 TB with sparse diffs this is the
difference between shuffling every row and shuffling ~(diff rate ×
rows): the bucket-signature agg is map-side-combined (bit_xor is
commutative), the signature join is tiny (≤ 2^n buckets), and the
semi-join pushes the surviving bucket set back into both scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.digest import (
    DEFAULT_NUM_BUCKETS,
    doc_digests,
    row_digests,
    signature_fold,
)

#: classification labels — the reference's CheckDiffResult key sets
#: (keyInsertSet / keyUpdateSet / keyDeleteSet, CheckDiffResult.java:55-130)
INSERT, UPDATE, DELETE = "insert", "update", "delete"


def classify_diff(
    src_digest: DataFrame,
    sink_digest: DataFrame,
    carry_cols: list[str] | None = None,
    locate_spans: bool = False,
) -> DataFrame:
    """Full-outer join of two ``(key, v_hash, ...)`` digest frames →
    ``(key, diff_type)`` rows, one per differing key (J1).
    ``carry_cols`` present on both inputs are carried through with
    COALESCE(src, sink) — e.g. the partition column.

    ``locate_spans=True`` (requires ``span_hashes`` on both inputs)
    additionally emits ``span_idx`` for update rows: the first index
    where the two per-span hash arrays diverge, or the shorter length
    when one sequence is a prefix — the reference's Difference.idx row
    locator at span granularity, computed INSIDE the diff join. The
    alternative (re-scanning both doc tables behind a key IN-list to
    compare span bodies) was measured at 14-20 s per 3M-doc run and
    nearly flat from local[2] to local[8]: parquet can't push a
    multi-thousand-literal IN (pushdown threshold ~10), row-group
    stats don't prune uniformly-spread keys, and the literal list
    bloats every downstream plan re-analysis. Here the hashes ride the
    rows the join already exchanges — zero extra scans or joins.

    Hash-vs-body semantics: per-span hashes coalesce null fields to ''
    (the reference's HashHandler.java:58 quirk), so a span differing
    ONLY by null-vs-'' hashes equal — but such docs also fold to equal
    ``v_hash`` and never enter the update set, so the body and hash
    formulations agree on every row that reaches this locator
    (cross-checked against tests/oracle.first_divergence)."""
    carry = carry_cols or []
    if locate_spans and not (
        "span_hashes" in src_digest.columns and "span_hashes" in sink_digest.columns
    ):
        raise ValueError(
            "locate_spans=True needs a span_hashes array on both digest "
            "frames (digest._enriched_digests builds it); plain "
            "row digests diff with locate_spans=False"
        )
    extra = ["span_hashes"] if locate_spans else []
    s = src_digest.select(
        "key",
        F.col("v_hash").alias("src_v"),
        *[F.col(c).alias(f"src_{c}") for c in carry],
        *[F.col(c).alias("src_h") for c in extra],
    )
    t = sink_digest.select(
        "key",
        F.col("v_hash").alias("sink_v"),
        *[F.col(c).alias(f"sink_{c}") for c in carry],
        *[F.col(c).alias("sink_h") for c in extra],
    )
    joined = s.join(t, "key", "full_outer")
    diff_type = (
        F.when(F.col("sink_v").isNull(), F.lit(INSERT))
        .when(F.col("src_v").isNull(), F.lit(DELETE))
        .when(F.col("src_v") != F.col("sink_v"), F.lit(UPDATE))
    )
    cols = [
        "key",
        diff_type.alias("diff_type"),
        *[
            F.coalesce(F.col(f"src_{c}"), F.col(f"sink_{c}")).alias(c)
            for c in carry
        ],
    ]
    if locate_spans:
        eq = F.zip_with(
            F.col("src_h"), F.col("sink_h"), lambda a, b: a.eqNullSafe(b).cast("int")
        )
        first_bad = F.array_position(eq, F.lit(0)).cast("int")
        # NULL span_hashes (NULL spans column) locates like an empty
        # array. Under ANSI (Spark 4 default) size(NULL) is NULL →
        # coalesce(...) gives 0; under ansi=false (every 3.x default,
        # common migration override) size(NULL) is -1 — the greatest()
        # clamp keeps the 0-length view on BOTH configurations instead
        # of leaking span_idx=-1
        common_len = F.least(
            F.greatest(F.coalesce(F.size("src_h"), F.lit(0)), F.lit(0)),
            F.greatest(F.coalesce(F.size("sink_h"), F.lit(0)), F.lit(0)),
        )
        cols.append(
            F.when(
                diff_type == UPDATE,
                F.coalesce(
                    F.when(first_bad > 0, first_bad - 1), common_len
                ),
            )
            .cast("int")
            .alias("span_idx")
        )
    return joined.select(*cols).filter(F.col("diff_type").isNotNull())


def mismatched_buckets(src_digest: DataFrame, sink_digest: DataFrame) -> DataFrame:
    """Digest-level pruning (J3): bucket ids whose signature
    (digest.signature_fold) or row count differs between sides.

    Single-exchange formulation: instead of aggregating each side and
    full-outer-joining the signature frames (3 sequential exchanges),
    union the digest frames with a side tag and aggregate once —
    side-splitting XOR/count via conditional aggregates.  Buckets
    missing on one side fall out naturally (count 0 ≠ count n), which
    subsumes the reference's empty-bucket alignment
    (DataCheckRunnable.java:221-233)."""
    cols = ["bucket", "k_hash", "v_hash"]
    tagged = src_digest.select(*cols, F.lit(0).alias("side")).unionAll(
        sink_digest.select(*cols, F.lit(1).alias("side"))
    )
    src, sink = F.col("side") == 0, F.col("side") == 1
    per_bucket = tagged.groupBy("bucket").agg(
        signature_fold(src).alias("src_sig"),
        signature_fold(sink).alias("sink_sig"),
        F.sum(F.when(src, 1).otherwise(0)).alias("src_n"),
        F.sum(F.when(sink, 1).otherwise(0)).alias("sink_n"),
    )
    return per_bucket.filter(
        F.col("src_sig").isNull()
        | F.col("sink_sig").isNull()
        | (F.col("src_sig") != F.col("sink_sig"))
        | (F.col("src_n") != F.col("sink_n"))
    ).select("bucket")


def diff_digests(
    src_digest: DataFrame,
    sink_digest: DataFrame,
    two_phase: bool = True,
    carry_cols: list[str] | None = None,
    locate_spans: bool = False,
) -> DataFrame:
    """Diff two digest frames → ``(key, diff_type)``.

    ``two_phase=True`` (default, the scale path) prunes equal-signature
    buckets before the row-level join; ``False`` is the direct join
    (used by tests to cross-check the pruning is lossless).
    ``locate_spans`` → see :func:`classify_diff`.
    """
    if two_phase:
        bad = mismatched_buckets(src_digest, sink_digest)
        # bucket set is small (≤ #buckets) → broadcast the semi-join
        src_digest = src_digest.join(F.broadcast(bad), "bucket", "left_semi")
        sink_digest = sink_digest.join(F.broadcast(bad), "bucket", "left_semi")
    return classify_diff(
        src_digest, sink_digest, carry_cols=carry_cols, locate_spans=locate_spans
    )


def diff_tables(
    src: DataFrame,
    sink: DataFrame,
    key_cols: list[str],
    value_cols: list[str] | None = None,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    two_phase: bool = True,
) -> DataFrame:
    """End-to-end flat-table diff: digest both sides, prune, classify."""
    return diff_digests(
        row_digests(src, key_cols, value_cols, num_buckets),
        row_digests(sink, key_cols, value_cols, num_buckets),
        two_phase=two_phase,
    )


def diff_docs(
    src_docs: DataFrame,
    sink_docs: DataFrame,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    two_phase: bool = True,
) -> DataFrame:
    """Interleaved-doc diff on span-sequence digests → (key, diff_type)."""
    return diff_digests(
        doc_digests(src_docs, num_buckets=num_buckets),
        doc_digests(sink_docs, num_buckets=num_buckets),
        two_phase=two_phase,
    )

