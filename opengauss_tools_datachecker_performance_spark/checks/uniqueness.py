"""Uniqueness check — exact, with a hash-narrowing scale path (SURVEY.md A11).

The reference never checks uniqueness explicitly — the DB PK enforces
it and bucket-map inserts silently overwrite (Bucket.java:84-87).
This is a new-engine check, designed for 10^12 keys:

* **hash pass** (scale path): aggregate on ``xxhash64(key)`` — an
  8-byte shuffle key regardless of doc_id width, map-side combined.
  Hash values seen more than once are *candidates* (real dups ∪ rare
  hash collisions).
* **verify pass**: semi-join the candidate hash set (tiny; broadcast)
  back onto the scan and run the exact ``groupBy(key)`` only on the
  surviving sliver. Collision candidates drop out here, so the result
  is exact — unlike an HLL prescreen, which can mask a single dup
  inside a large partition's error bar.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, key: Column, hash_narrow: bool = True) -> DataFrame:
    """→ (key, n_occurrences) for every key appearing more than once.

    ``hash_narrow=True`` is the scale path described in the module
    docstring; ``False`` is the direct exact groupBy (used by tests to
    prove the narrowing is lossless).
    """
    from opengauss_tools_datachecker_performance_spark.operators.skew import (
        small_side,
    )

    keyed = df.select(key.cast("string").alias("key"))
    if hash_narrow:
        hashed = keyed.withColumn("kh", F.xxhash64("key"))
        candidates = (
            hashed.groupBy("kh")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .select("kh")
        )
        # candidate set is violation-sized on a healthy corpus but
        # corpus-sized on a duplicate-flooded one — small_side lets
        # AQE's runtime size check pick broadcast vs shuffle (the
        # digest-frame variant below keeps an explicit escape hatch
        # with its measured AQE-off trade instead)
        keyed = hashed.join(small_side(candidates), "kh", "left_semi").drop("kh")
    return (
        keyed.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 1)
    )


def duplicate_keys_from_digests(
    digests: DataFrame, broadcast_hint: bool = True
) -> DataFrame:
    """Same check over an existing ``(key, k_hash, ...)`` digest frame —
    reuses the digest layer's k_hash as the narrowing hash, so the
    uniqueness check adds zero extra scans of the base table.
    Returns (key, n_occurrences[, part=min part seen]).

    ``broadcast_hint``: the candidate set (duplicated k_hashes) is
    ~violation-sized — tiny in a healthy corpus, input-sized in a
    duplicate-flooded one.  True routes it through
    ``operators.skew.small_side``: unhinted under AQE (the production
    default — the RUNTIME size decides broadcast vs shuffle, so a
    flooded corpus degrades to a shuffle instead of OOMing the
    driver), pinned broadcast only in the AQE-off diagnostic config
    (where the static estimate can't see through the aggregation;
    measured +6 s without the hint at local[8]/AQE-off, min-of-3:
    44.8 s vs 51.0 s full validate).  Pass False to force the plain
    join unconditionally."""
    from opengauss_tools_datachecker_performance_spark.operators.skew import small_side

    candidates = (
        digests.groupBy("k_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("k_hash")
    )
    if broadcast_hint:
        candidates = small_side(candidates)
    narrowed = digests.join(candidates, "k_hash", "left_semi")
    aggs = [F.count(F.lit(1)).alias("n_occurrences")]
    if "part" in digests.columns:
        aggs.append(F.min("part").alias("part"))
    return narrowed.groupBy("key").agg(*aggs).filter(F.col("n_occurrences") > 1)

