"""Partition values: one contract from scan to ledger.

A table may be sliced on a column of any type (the reference's
TableMetadata.sliceColumn). ``part`` keeps that type everywhere —
digest frame, violations, verdicts, ledger, companion, summary — and
NULL is one more partition. Every decision about such a value is here.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def partition_order(p) -> tuple:
    """Sort key for partition values with NULL among them (NULL last)."""
    return (p is None, p)


def partition_filter(df: DataFrame, parts, col: str = "part") -> DataFrame:
    """Rows whose ``col`` is one of ``parts``, a None selecting the NULL
    partition (``IN`` never matches NULL). Still a prunable predicate."""
    parts = list(parts)
    values = [p for p in parts if p is not None]
    cond = F.col(col).isin(values)
    return df.filter(cond | F.col(col).isNull() if None in parts else cond)


def partition_join(a: DataFrame, b: DataFrame, keys=("part",)) -> DataFrame:
    """Full outer join on ``keys`` with NULL matching NULL, each key
    column coalesced from its two sides (which may share a lineage)."""
    cond = [F.col(f"_l.{k}").eqNullSafe(F.col(f"_r.{k}")) for k in keys]
    return a.alias("_l").join(b.alias("_r"), cond, "full_outer").select(
        *[F.coalesce(F.col(f"_l.{k}"), F.col(f"_r.{k}")).alias(k) for k in keys],
        *[c for c in a.columns + b.columns if c not in keys],
    )


def named_partition(col: str = "part") -> Column:
    """``struct(value, text)``: a value beside Spark's string form of it,
    which a ``partitionBy`` write names the directory after. Unlike the
    bare value it survives ``collect_set`` when NULL; map the collected
    rows with :func:`partition_dirs`."""
    return F.struct(F.col(col).alias("value"), F.col(col).cast("string").alias("text"))


def partition_dirs(spark: SparkSession, named, col: str = "part") -> dict:
    """{value: directory name} for collected :func:`named_partition`
    rows, by Spark's own partition-path escaping (``a/b`` is not
    path-safe; NULL is ``__HIVE_DEFAULT_PARTITION__``)."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return {r["value"]: utils.getPartitionPathString(col, r["text"]) for r in named}


def chunk_id(value, dir_name: str) -> int:
    """The ``chunk=<id>`` of a wave whose first partition is ``value``,
    named ``dir_name`` by :func:`partition_dirs`. An int is its own id;
    any other value, NULL included, takes 63 bits of the SHA-1 of its
    directory name. Derived from the value alone, so a resume over a
    universe that has gained or lost partitions since never writes a
    wave over a finished one."""
    if isinstance(value, int) and not isinstance(value, bool):
        return value
    return int.from_bytes(hashlib.sha1(dir_name.encode()).digest()[:8], "big") >> 1


def json_value(v):
    """``json.dump``'s ``default``: a value JSON has no type for (date,
    timestamp, decimal) as its ISO or decimal text."""
    return v.isoformat() if hasattr(v, "isoformat") else str(v)
