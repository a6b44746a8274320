"""Cross-snapshot incremental re-validation scope (Iceberg-style).

A 10^12-doc table is validated incrementally: after the first full run,
each subsequent run should touch only the data that changed between
two table snapshots.  :func:`snapshot_bucket_delta` compares two
digest frames (the enriched digest companion of sources/prehashed.py,
or any (part, bucket, k_hash, v_hash) projection) at BUCKET grain and
emits exactly the re-validation scope:

* bucket-level: every (part, bucket) whose row count or XOR digest
  differs between the snapshots, classified new/gone/changed;
* partition-level rollup: per-part changed/new/gone bucket counts +
  row deltas, so a scheduler can prune whole partitions first and
  then, inside a touched partition, re-check only the changed buckets
  (the same two-phase prune validate_docs uses in-run —
  operators/diff.py bucket signatures — applied across runs).

Scale: two partial-aggregated groupBys (shuffle rows = #part×#bucket
signatures, ≤2^16 per partition regardless of doc count) and one
full-outer join between the two signature frames.  Doc bodies are
never read; with digest companions both sides are metadata-sized
scans.  Reference parity: the reference re-extracts and re-compares
the full table every run (datachecker-check CheckService start →
full extract); this operator is the Spark-native replacement that
makes run N+1 cost proportional to the delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.digest import signature_fold
from opengauss_tools_datachecker_performance_spark.partitions import partition_join


def _bucket_signatures(digests: DataFrame, side: str) -> DataFrame:
    """(part, bucket, k_hash, v_hash, …) → (part, bucket, n_<side>,
    sig_<side>): the partial-aggregated, key-bound per-bucket signature
    (``digest.signature_fold``), so two docs of one bucket that swap
    contents change it."""
    return digests.groupBy(
        "part", F.col("bucket").cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias(f"n_{side}"),
        signature_fold().alias(f"sig_{side}"),
    )


def snapshot_bucket_delta(
    old_digests: DataFrame, new_digests: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """→ (bucket_delta, part_rollup).

    ``bucket_delta``: (part, bucket, status∈{new,gone,changed},
    n_old, n_new) — only non-identical buckets survive.
    ``part_rollup``: (part, n_buckets_changed, n_buckets_new,
    n_buckets_gone, delta_rows_old, delta_rows_new) — only touched
    partitions survive; the row counts are the volumes inside the
    touched buckets (the re-validation cost estimate), not the full
    partition size."""
    j = partition_join(
        _bucket_signatures(old_digests, "old"),
        _bucket_signatures(new_digests, "new"),
        ["part", "bucket"],
    )
    status = (
        F.when(F.col("n_old").isNull(), F.lit("new"))
        .when(F.col("n_new").isNull(), F.lit("gone"))
        .when(
            (F.col("n_old") != F.col("n_new"))
            | ~F.col("sig_old").eqNullSafe(F.col("sig_new")),
            F.lit("changed"),
        )
    )
    delta = (
        j.select(
            "part",
            "bucket",
            status.alias("status"),
            F.col("n_old").alias("n_old"),
            F.col("n_new").alias("n_new"),
        )
        .filter(F.col("status").isNotNull())
    )
    rollup = delta.groupBy("part").agg(
        F.sum((F.col("status") == "changed").cast("long"))
        .cast("long")
        .alias("n_buckets_changed"),
        F.sum((F.col("status") == "new").cast("long"))
        .cast("long")
        .alias("n_buckets_new"),
        F.sum((F.col("status") == "gone").cast("long"))
        .cast("long")
        .alias("n_buckets_gone"),
        F.sum(F.coalesce(F.col("n_old"), F.lit(0)))
        .cast("long")
        .alias("delta_rows_old"),
        F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
        .cast("long")
        .alias("delta_rows_new"),
    )
    return delta, rollup


def snapshot_drift(
    old_digests: DataFrame,
    new_digests: DataFrame,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    threshold: float = 0.3,
    exact: bool = False,
) -> DataFrame:
    """Per-partition distribution drift BETWEEN snapshots — body-free:
    both sides are digest frames carrying the stored ``text_len``
    metric (the companion writes it at ingest), so run-over-run drift
    costs two metadata scans, never a doc-body read.

    → (part, status∈{new,gone,compared}, n_old, n_new, drift_score,
    drifted): quantile profile of text_len at t2 vs t1 per partition,
    KS-style max relative gap with the OLD snapshot as the baseline
    (run N's own data is the yardstick for run N+1 — the cross-run
    complement of checks/drift.py's cross-partition median baseline).
    A partition present in only one snapshot is drift by definition.

    ``exact=False`` (default) uses percentile_approx(10k) — mergeable,
    bounded memory per group at any partition size; ``exact=True``
    uses exact percentiles for oracle parity at test scale."""
    grid = ", ".join(f"{p!r}D" for p in probs)
    q_expr = (
        F.expr(f"percentile(text_len, array({grid}))")
        if exact
        else F.expr(f"percentile_approx(text_len, array({grid}), 10000)")
    )

    def _prof(df: DataFrame, side: str) -> DataFrame:
        return df.groupBy("part").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{side}"),
            q_expr.alias(f"q_{side}"),
        )

    j = partition_join(_prof(old_digests, "old"), _prof(new_digests, "new"))
    gap = F.aggregate(
        F.zip_with(
            "q_new",
            "q_old",
            lambda n, o: F.abs(n - o) / F.greatest(F.abs(o), F.lit(1.0)),
        ),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    status = (
        F.when(F.col("n_old").isNull(), F.lit("new"))
        .when(F.col("n_new").isNull(), F.lit("gone"))
        .otherwise(F.lit("compared"))
    )
    score = F.when(status == "compared", gap)
    return j.select(
        "part",
        status.alias("status"),
        F.col("n_old"),
        F.col("n_new"),
        score.alias("drift_score"),
        F.coalesce(score > threshold, F.lit(True)).alias("drifted"),
    )
