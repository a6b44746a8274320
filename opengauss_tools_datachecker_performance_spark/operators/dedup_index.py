"""Incremental near-dup detection via a persisted MinHash index —
the digest-companion idea (sources/prehashed.py) applied to dedup.

A training-data pipeline does not re-dedup 10^12 documents per batch;
it dedups each INCOMING batch against the corpus. Re-shingling and
re-hashing the corpus per batch is the dominant cost (same
memory-bandwidth argument as the digest companion: KBs of text decoded
per doc to recompute a few longs). So the corpus's LSH state is
persisted ONCE at ingest:

* ``buckets.parquet``  — (doc_id, band, band_key): ~bands rows/doc of
  three longs; the LSH join side.
* ``shingles.parquet`` — (doc_id, sh): the DISTINCT shingle-hash rows
  exact verification needs; longs only, ~100× smaller than the text.

Both tables are partitioned by a deterministic ``batch`` key (an
order-insensitive fold of the batch's doc ids), and every update
OVERWRITES its own batch= subdirs. The two writes are not atomic, but
a crash between them is self-healing: the replay recomputes the same
key from the same batch and rewrites both subdirs — the same
per-partition overwrite discipline as update_digest_companion.

Incremental detection then computes signatures for the new batch only,
joins its band keys against the stored buckets (plus a new-vs-new
self-join), and verifies candidates with exact Jaccard over stored +
new shingle rows. The math is EXACTLY minhash_near_duplicates over
(corpus ∪ batch) restricted to pairs touching the batch — asserted in
tests/test_dedup_index.py — so the oracle is the same SQL with a
batch-involvement predicate.

Scale notes (10^12 docs):
* the per-batch cost is O(|batch| text) + joins against thin long-only
  tables; corpus text is never re-read.
* lay the index out bucketed by (band, band_key) (Iceberg
  ``bucket(N, band_key)``) and the candidate join is
  storage-partitioned: the index never shuffles. Shingles bucketed by
  doc_id co-locate the verification semi-join the same way.
* the mega-bucket cap is evaluated over the UNION's occupancy
  (corpus + batch) through the same lsh_candidate_pairs code path as
  the full-corpus run — so incremental and full runs drop identical
  degenerate buckets (no coverage drift between the two paths).
* ``update_minhash_index`` skips docs already indexed in OTHER
  batches (anti-join on the thin bucket table) and overwrites its own
  batch= subdirs, so replaying a failed batch is idempotent.

Caching: ``update_minhash_index`` writes before it returns and
releases its cached shingle pass itself; :func:`ingest_batch` and
:func:`incremental_near_duplicates` return lazy pairs over cached
frames, which live in the caller's cache scope (session.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.functions.text import shingle_rows
from opengauss_tools_datachecker_performance_spark.operators.dedup import (
    jaccard_for_pairs,
    lsh_candidate_pairs,
    minhash_buckets_from_shingle_rows,
)
from opengauss_tools_datachecker_performance_spark.session import cache_scope, cached


def minhash_index_frames(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """→ (buckets, shingles): the two persistable index frames for
    ``docs`` — exactly what minhash_near_duplicates computes
    internally, as writable projections.

    Both frames derive from ONE non-distinct ``(doc_id, sh)``
    shingle-rows lineage; pass a CACHED ``rows`` (built with
    ``shingle_rows(docs, ..., distinct=False)``) to make that one text
    scan literal — the writers below do, so indexing a batch
    tokenizes/shingles its text exactly once."""
    if rows is None:
        rows = shingle_rows(docs, id_col, text_col, shingle_k, distinct=False)
    buckets = minhash_buckets_from_shingle_rows(rows, num_hashes, bands)
    shingles = rows.dropDuplicates(["doc_id", "sh"])
    return buckets, shingles


def _batch_key(docs: DataFrame, id_col: str) -> str:
    """Deterministic, order-insensitive identity of a batch: XOR fold
    of the distinct doc-id hashes. Replaying the same batch yields the
    same key, so its batch= subdirs are overwritten, not duplicated."""
    row = (
        docs.select(F.col(id_col).cast("string").alias("_id"))
        .distinct()
        .agg(F.bit_xor(F.xxhash64("_id")).alias("x"), F.count(F.lit(1)).alias("n"))
        .first()
    )
    return f"{(row['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}_{row['n']}"


def _overwrite_batch(frame: DataFrame, path: str, batch: str) -> None:
    # the batch key lives in the directory name only (partition
    # discovery restores it on read); writing it into the files too
    # would be flagged as a duplicate column
    frame.write.mode("overwrite").parquet(os.path.join(path, f"batch={batch}"))


def _drop_batch_subdirs(spark: SparkSession, path: str, key: str) -> None:
    """Remove a batch's (possibly partial, e.g. from a replayed crash)
    subdirs from both index tables — through the Hadoop FileSystem API
    so hdfs:///s3a:// index paths work (a local-only rmtree would
    silently leave the partial buckets-only subdir behind, and its
    docs' candidate pairs would then drop at the shingle-size join
    with no coverage accounting)."""
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        hadoop_rmtree,
    )

    for t in ("buckets.parquet", "shingles.parquet"):
        hadoop_rmtree(spark, os.path.join(path, t, f"batch={key}"))


def _read_others(
    spark: SparkSession, path: str, key: str
) -> tuple[DataFrame, DataFrame]:
    """The index's (buckets, shingles) EXCLUDING batch ``key`` — the
    partition filter prunes the batch= subdir at scan time, so a
    replayed batch never reads its own possibly-partial prior write."""
    return tuple(
        spark.read.parquet(os.path.join(path, t))
        .filter(F.col("batch") != key)
        .drop("batch")
        for t in ("buckets.parquet", "shingles.parquet")
    )


def write_minhash_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> str:
    """Create the index with the corpus as its first batch; returns the
    batch key."""
    key = _batch_key(docs, id_col)
    buckets, shingles = minhash_index_frames(
        docs, id_col, text_col, shingle_k, num_hashes, bands
    )
    _overwrite_batch(buckets, os.path.join(path, "buckets.parquet"), key)
    _overwrite_batch(shingles, os.path.join(path, "shingles.parquet"), key)
    return key


def read_minhash_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    return (
        spark.read.parquet(os.path.join(path, "buckets.parquet")).drop("batch"),
        spark.read.parquet(os.path.join(path, "shingles.parquet")).drop("batch"),
    )


def _without_indexed(
    new_docs: DataFrame, index_buckets: DataFrame, id_col: str
) -> DataFrame:
    """Drop batch docs whose ids are already indexed — the probe is a
    broadcast semi-join against the thin bucket table, never a corpus
    scan."""
    batch_ids = new_docs.select(
        F.col(id_col).cast("string").alias("doc_id")
    ).distinct()
    indexed = index_buckets.join(
        F.broadcast(batch_ids), "doc_id", "left_semi"
    ).select("doc_id").distinct()
    return new_docs.join(
        indexed,
        new_docs[id_col].cast("string") == indexed["doc_id"],
        "left_anti",
    )


@cache_scope()
def update_minhash_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> int:
    """Index the batch into its own batch= subdirs, skipping docs
    already indexed by OTHER batches. Returns the number of DISTINCT
    doc ids written (the same count :func:`ingest_batch` reports, so
    the two advertised-equivalent paths agree on batches that carry
    duplicate id rows). Idempotent: a replay (including one that
    crashed between the buckets and shingles writes) recomputes the
    same batch key — excluding its own possibly-partial subdir from
    the probe — and overwrites both subdirs."""
    key = _batch_key(new_docs, id_col)
    others_b, _ = _read_others(spark, path, key)
    fresh = _without_indexed(new_docs, others_b, id_col)
    # one cached shingle pass feeds both index frames (and the count:
    # every doc emits >=1 shingle row, empty text included)
    rows = cached(shingle_rows(fresh, id_col, text_col, shingle_k, distinct=False))
    n = rows.select("doc_id").distinct().count()
    if n == 0:
        # nothing new: remove a possibly-partial replayed subdir
        _drop_batch_subdirs(rows.sparkSession, path, key)
        return 0
    b, s = minhash_index_frames(
        fresh, id_col, text_col, shingle_k, num_hashes, bands, rows=rows
    )
    _overwrite_batch(b, os.path.join(path, "buckets.parquet"), key)
    _overwrite_batch(s, os.path.join(path, "shingles.parquet"), key)
    return n


def ingest_batch(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int = 50,
    coverage_out: dict | None = None,
) -> tuple[DataFrame, int]:
    """Detect-and-index in ONE shingle/minhash pass over the batch
    text → (verified batch-involving pairs, n docs indexed).

    Running detection and :func:`update_minhash_index` back-to-back
    shingles/minhashes the batch twice — the dominant per-batch cost
    the index exists to eliminate. Here the batch's (buckets,
    shingles) frames are computed once, cached, written into the
    index's ``batch=`` subdirs, and the SAME cached frames feed
    detection against the other batches' stored state.

    Detection compares against the OTHER batches only, with this
    batch's frames recomputed from text — so a replay of a
    crashed/partial ingest both repairs the index subdirs and
    re-emits the batch's pairs (idempotent output, unlike the
    detect-then-update composition which emits nothing on replay).

    The cached frames live in the caller's cache scope, on an error
    mid-ingest too."""
    key = _batch_key(new_docs, id_col)
    others_b, others_s = _read_others(spark, path, key)
    fresh = _without_indexed(new_docs, others_b, id_col)
    # ONE cached shingle pass feeds the index write AND detection
    rows = cached(shingle_rows(fresh, id_col, text_col, shingle_k, distinct=False))
    b, s = minhash_index_frames(
        fresh, id_col, text_col, shingle_k, num_hashes, bands, rows=rows
    )
    b, s = cached(b), cached(s)
    n = rows.select("doc_id").distinct().count()
    if n == 0:
        _drop_batch_subdirs(rows.sparkSession, path, key)
    else:
        _overwrite_batch(b, os.path.join(path, "buckets.parquet"), key)
        _overwrite_batch(s, os.path.join(path, "shingles.parquet"), key)
    pairs = incremental_near_duplicates(
        others_b,
        others_s,
        fresh,
        id_col,
        text_col,
        threshold,
        shingle_k,
        num_hashes,
        bands,
        max_bucket_size,
        coverage_out,
        _new_frames=(b, s),
    )
    return pairs, n


def incremental_near_duplicates(
    index_buckets: DataFrame,
    index_shingles: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int = 50,
    coverage_out: dict | None = None,
    _new_frames: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """→ (id_a, id_b, jaccard): verified near-dup pairs that involve
    at least one NEW doc — new-vs-corpus and new-vs-new — without
    reading any corpus text. Equals minhash_near_duplicates over
    (corpus ∪ batch) filtered to batch-involving pairs (tested).

    ``_new_frames`` lets :func:`ingest_batch` hand in the batch's
    (buckets, shingles) frames it already computed (and cached) so
    detection and index maintenance share ONE shingle/minhash pass;
    when given, ``new_docs`` must already exclude indexed ids."""
    if _new_frames is None:
        # a batch doc already present in the index is not "new" —
        # keeping it would double its bucket/shingle rows in the
        # unions below and corrupt the exact-Jaccard counts
        new_docs = _without_indexed(new_docs, index_buckets, id_col)
        new_buckets, new_shingles = minhash_index_frames(
            new_docs, id_col, text_col, shingle_k, num_hashes, bands
        )
    else:
        new_buckets, new_shingles = _new_frames
    union = index_buckets.select(
        "doc_id", "band", "band_key", F.lit(False).alias("is_new")
    ).unionByName(
        new_buckets.select(
            "doc_id", "band", "band_key", F.lit(True).alias("is_new")
        )
    )
    # same candidate generation (and occupancy cap over the FULL
    # union) as the full-corpus run, restricted to batch-involving
    # pairs via the is_new flag
    cands = cached(
        lsh_candidate_pairs(union, max_bucket_size, coverage_out, require_flag="is_new")
    )
    ids = cands.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    rows = cached(
        index_shingles.unionByName(new_shingles).join(
            F.broadcast(ids), "doc_id", "left_semi"
        )
    )
    verified = jaccard_for_pairs(rows, cands)
    return verified.filter(F.col("jaccard") >= threshold)
