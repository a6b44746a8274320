"""Per-partition lineage + resumable runs (SURVEY.md X12, north rule).

Reference: slice status bitmask registry (source=1|sink=2|checked=4,
datachecker-check/.../cache/TableStatusRegister.java, SliceVo.java:68-70)
— an in-heap ledger; a crash loses it.  Here the ledger is a parquet
checkpoint table (Iceberg stand-in) with one row per completed
partition:

    (run_id, part, n_rows, digest, status, wall_ts, fold)

``part`` has the type of the table's partition column (partitions.py);
``--resume`` refuses a ledger of another ``part`` type. ``digest`` is
digest.signature_fold over the partition's rows and ``fold`` the
version of that fold (digest.FOLD_VERSION); a row of another version
(NULL: written before the column existed) still counts as done for
resume, but its digest is not comparable with a fresh one.

Resume = read the ledger, take parts with status='done', anti-join
them from the partition universe, and validate only the remainder —
the driver-side list is tiny (#partitions), so the anti-join is a
Python set difference feeding partition pruning, not a data shuffle.
"""

from __future__ import annotations

import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opengauss_tools_datachecker_performance_spark.digest import (
    FOLD_VERSION,
    _enriched_digests,
    signature_fold,
)
from opengauss_tools_datachecker_performance_spark.partitions import partition_order


def _ledger_schema(part_type: T.DataType) -> str:
    return (
        f"run_id string, part {part_type.simpleString()}, n_rows long, "
        "digest long, status string, wall_ts double, fold int"
    )


def ledger_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "partition_ledger.parquet")


def read_ledger(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The ledger, ``part`` typed as its files store it. One with no
    committed file (none yet, or a first append killed) reads as empty;
    an unreadable file raises — read as empty, ``--resume`` would redo
    every partition and a ledger audit would check nothing."""
    path = ledger_path(checkpoint_dir)
    try:
        part_type = spark.read.parquet(path).schema["part"].dataType
    except AnalysisException as exc:
        if exc.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return spark.createDataFrame([], _ledger_schema(T.NullType()))
    # the full schema: a row written before ``fold`` existed reads NULL
    return spark.read.schema(_ledger_schema(part_type)).parquet(path)


def completed_partitions(spark: SparkSession, checkpoint_dir: str) -> set:
    rows = (
        read_ledger(spark, checkpoint_dir)
        .filter(F.col("status") == "done")
        .select("part")
        .distinct()
        .collect()
    )
    return {r["part"] for r in rows}


def pending_partitions(
    spark: SparkSession, checkpoint_dir: str, all_partitions: list
) -> list:
    """The resume anti-join (driver-side set difference — the universe
    is #partitions, not #rows)."""
    done = completed_partitions(spark, checkpoint_dir)
    return sorted(set(all_partitions) - done, key=partition_order)


def arrow_frame(spark: SparkSession, schema: T.StructType, rows: list) -> DataFrame:
    """A driver-held row list as one Arrow-backed frame (no Python
    worker runs when it is scanned)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema=schema)


class PartitionStats(list):
    """(part, n_rows, digest) rows collected on the driver, with
    ``part_type``, the type of their frame's ``part``."""

    def __init__(self, rows, part_type: T.DataType):
        super().__init__(rows)
        self.part_type = part_type


def record_partitions(
    spark: SparkSession,
    checkpoint_dir: str,
    run_id: str,
    partition_stats: DataFrame | PartitionStats,
) -> None:
    """Append (part, n_rows, digest) stats as 'done' ledger rows, ``part``
    with the type of the stats' ``part``. ``partition_stats``: a frame
    with columns part, n_rows, digest, or those rows already on the
    driver (validate_docs' barrier collects them as
    extras["partition_stats"])."""
    if not isinstance(partition_stats, DataFrame):
        if not isinstance(partition_stats, PartitionStats):
            raise TypeError(
                "driver-held ledger rows must be a PartitionStats, "
                "which carries their part type"
            )
        schema = f"part {partition_stats.part_type.simpleString()}, n_rows long, digest long"
        partition_stats = arrow_frame(spark, T.StructType.fromDDL(schema), partition_stats)
    now = time.time()
    out = partition_stats.select(
        F.lit(run_id).alias("run_id"),
        F.col("part"),
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
