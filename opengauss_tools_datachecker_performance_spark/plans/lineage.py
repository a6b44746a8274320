"""Per-partition lineage + resumable runs (SURVEY.md X12, north rule).

Reference: slice status bitmask registry (source=1|sink=2|checked=4,
datachecker-check/.../cache/TableStatusRegister.java, SliceVo.java:68-70)
— an in-heap ledger; a crash loses it.  Here the ledger is a parquet
checkpoint table (Iceberg stand-in) with one row per completed
partition:

    (run_id, part, n_rows, digest, status, wall_ts, fold)

``digest`` is digest.signature_fold over the partition's rows and
``fold`` the version of that fold (digest.FOLD_VERSION); a row of
another version (NULL: written before the column existed) still counts
as done for resume, but its digest is not comparable with a fresh one.

Resume = read the ledger, take parts with status='done', anti-join
them from the partition universe, and validate only the remainder —
the driver-side list is tiny (#partitions), so the anti-join is a
Python set difference feeding partition pruning, not a data shuffle.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.digest import (
    FOLD_VERSION,
    _enriched_digests,
    signature_fold,
)

_LEDGER_SCHEMA = (
    "run_id string, part int, n_rows long, digest long, status string, "
    "wall_ts double, fold int"
)


def ledger_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "partition_ledger.parquet")


def read_ledger(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    path = ledger_path(checkpoint_dir)
    try:
        return spark.read.schema(_LEDGER_SCHEMA).parquet(path)
    except Exception:
        return spark.createDataFrame([], _LEDGER_SCHEMA)


def completed_partitions(spark: SparkSession, checkpoint_dir: str) -> set[int]:
    rows = (
        read_ledger(spark, checkpoint_dir)
        .filter(F.col("status") == "done")
        .select("part")
        .distinct()
        .collect()
    )
    return {r["part"] for r in rows}


def pending_partitions(
    spark: SparkSession, checkpoint_dir: str, all_partitions: list[int]
) -> list[int]:
    """The resume anti-join (driver-side set difference — the universe
    is #partitions, not #rows)."""
    done = completed_partitions(spark, checkpoint_dir)
    return sorted(set(all_partitions) - done)


def record_partitions(
    spark: SparkSession,
    checkpoint_dir: str,
    run_id: str,
    partition_stats: DataFrame | list[tuple],
) -> None:
    """Append (part, n_rows, digest) stats as 'done' ledger rows.
    ``partition_stats``: a frame with columns part, n_rows, digest, or
    those rows already on the driver (validate_docs' barrier collects
    them as extras["partition_stats"])."""
    if not isinstance(partition_stats, DataFrame):
        import pyarrow as pa

        part, n_rows, digest = zip(*partition_stats) if partition_stats else ((),) * 3
        partition_stats = spark.createDataFrame(
            pa.table(
                {
                    "part": pa.array(part),
                    "n_rows": pa.array(n_rows, pa.int64()),
                    "digest": pa.array(digest, pa.int64()),
                }
            )
        )
    now = time.time()
    out = partition_stats.select(
        F.lit(run_id).alias("run_id"),
        F.col("part").cast("int"),
        F.col("n_rows").cast("long"),
        F.col("digest").cast("long"),
        F.lit("done").alias("status"),
        F.lit(now).alias("wall_ts"),
        F.lit(FOLD_VERSION).alias("fold"),
    )
    out.write.mode("append").parquet(ledger_path(checkpoint_dir))


def partition_stats(docs: DataFrame, partition_col: str = "part") -> DataFrame:
    """(part, n_rows, digest): digest.signature_fold per partition —
    the lineage digest the ledger stores (snapshot-id analogue in a
    real Iceberg deployment).

    Raw docs go through the doc-digest projection
    (digest._enriched_digests); digest-companion inputs (or validate's
    enriched digest frames) pass through it and fold their stored
    ``v_hash`` — no body scan, so the ledger write and the companion
    staleness check both stay metadata-sized."""
    dig = _enriched_digests(docs.withColumnRenamed(partition_col, "part"))
    return dig.groupBy("part").agg(
        F.count(F.lit(1)).alias("n_rows"),
        signature_fold().alias("digest"),
    )
