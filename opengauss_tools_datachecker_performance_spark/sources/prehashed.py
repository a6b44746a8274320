"""Digest-companion tables: validation without reading doc bodies.

The digest stage is the memory-bandwidth ceiling of the whole engine:
at 3M heavy docs/side the parquet nested-span decode (text bytes)
dominates the scan — the body-free companion layout validates 462,789
docs/s against the raw layout's 214,773 on the same build
(BENCH/BASELINE.md, round-5 spot; BENCH/scaling_companion.md). At
10^12 docs the same ratio holds — every validation run re-reads ~KB of span text per doc to
recompute ~40 B of digests.

A digest COMPANION table inverts that cost: at ingest (when the
writer has the doc bodies in memory anyway) it persists exactly the
enriched digest frame the checks consume (digest.ENRICHED_COLS:
per-span hash array, span-sequence digest, k_hash, bucket, drift
metric, span-rule inputs). Validation then scans tens of bytes per
doc instead of the bodies — a 10-100x scan-volume cut that converts
the bandwidth-bound digest stage into a metadata read, the same
economics as Iceberg keeping column stats in manifests. The reference
has the identical idea in miniature: its extract service builds row
digests ONCE per endpoint and ships only digests to the check service
(DataCheckRunnable.java) — the companion is that digest shipment made
durable and incremental.

Integrity model: the companion is DERIVED state. Writers maintain it
transactionally with the doc table (same commit in Iceberg); a stale
companion is detectable cheaply by comparing its per-partition row
counts/XOR signatures against the doc table's lineage ledger entries
(plans.lineage), without reading bodies.

Layout: partitioned by ``part`` (partition pruning for chunked /
resumed runs) — or bucketed by ``key`` via ``table_name`` +
``n_buckets`` so the consistency diff against a same-bucketed
companion also runs exchange-free (sources.bucketed's co-location
argument, compounded: no body scan AND no shuffle).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.digest import _enriched_digests
from opengauss_tools_datachecker_performance_spark.partitions import (
    named_partition, partition_dirs, partition_filter, partition_join, partition_order,
)
from opengauss_tools_datachecker_performance_spark.session import cache_scope, cached


def digest_companion_frame(docs: DataFrame, partition_col: str = "part") -> DataFrame:
    """The exact enriched digest frame validate_docs builds internally
    (digest._enriched_digests), as a writable projection."""
    return _enriched_digests(docs.withColumnRenamed(partition_col, "part"))


def write_digest_companion(
    docs: DataFrame,
    path: str | None = None,
    partition_col: str = "part",
    table_name: str | None = None,
    n_buckets: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write the digest companion for ``docs``.

    * ``path`` only: plain parquet, partitioned by ``part`` (pruned
      scans for --chunk-partitions / resume waves).
    * ``table_name`` (+ optional ``path`` for external data): catalog
      table bucketed by ``key`` with ``n_buckets`` (default 64) — a
      diff between two same-bucketed companions plans with zero key
      Exchange on top of the body-free scan.
    """
    frame = digest_companion_frame(docs, partition_col)
    if table_name is not None:
        w = (
            frame.write.mode(mode)
            .format("parquet")
            .bucketBy(n_buckets or 64, "key")
            .sortBy("key")
        )
        if path is not None:
            w = w.option("path", path)
        w.saveAsTable(table_name)
        return
    if path is None:
        raise ValueError("write_digest_companion needs a path or a table_name")
    frame.write.mode(mode).partitionBy("part").parquet(path)


@cache_scope()
def update_digest_companion(
    spark: SparkSession,
    path: str,
    upserts: DataFrame | None = None,
    delete_keys: DataFrame | None = None,
    partition_col: str = "part",
) -> list:
    """Incrementally maintain a ``partitionBy(part)`` companion: merge
    re-digested rows for changed docs (``upserts``: raw docs shape)
    and remove ``delete_keys`` (a ``key`` column), rewriting ONLY the
    affected partitions (each is swapped for a one-file rewrite, see
    :func:`_overwrite_partitions`). Returns the list of rewritten
    partition values.

    This is how the companion stays fresh at 10^12 docs without a
    rebuild: the CDC feed (sources.debezium → streaming.incremental)
    names changed keys; re-digesting touches just those docs' bodies;
    every untouched partition's files are left byte-identical. In an
    Iceberg deployment the same merge is a MERGE INTO committed in the
    writer's transaction — this file-level variant keeps the sandbox
    path self-contained and is idempotent (re-running the same update
    converges).
    """
    comp = spark.read.parquet(path)
    # cached: the re-digested upsert frame feeds TWO actions below
    # (affected-part discovery, the rewrite), each reading its keys and
    # its rows — without it each action would re-read + re-digest the
    # upsert doc bodies, the exact I/O this function exists to minimize
    new = (
        cached(digest_companion_frame(upserts, partition_col))
        if upserts is not None
        else None
    )
    touched = None
    if delete_keys is not None:
        touched = delete_keys.select(F.col("key").cast("string"))
    if new is not None:
        upk = new.select("key")
        touched = upk if touched is None else touched.unionByName(upk)
    if touched is None:
        return []
    # broadcast is right for the normal CDC trickle but fatal for
    # a bulk backfill / wholesale delete whose key set is
    # corpus-sized; with AQE on (production default) let the
    # RUNTIME size decide, pinning the hint only when AQE is off
    # (same treatment as checks/span_rules.py's dangling-ref join).
    # No distinct: a semi/anti join ignores duplicate build keys,
    # and a distinct would cost a shuffle that changes nothing.
    aqe = (
        spark.conf.get("spark.sql.adaptive.enabled", "true").lower()
        == "true"
    )
    t_side = touched if aqe else F.broadcast(touched)

    # affected partitions (where new rows land + where touched keys
    # live), each with the directory Spark names it after, observed
    # in-plan (driver-side, #partitions not #rows) while a noop sink
    # drains the rows — no distinct shuffle; the pass fills the upsert cache
    hit = comp.join(t_side, "key", "left_semi").select("part")
    if new is not None:
        hit = new.select("part").unionByName(hit)
    seen = Observation()
    hit.observe(seen, F.collect_set(named_partition()).alias("parts")).write.format(
        "noop"
    ).mode("overwrite").save()
    dirs = partition_dirs(spark, seen.get["parts"])
    if not dirs:
        return []

    keep = partition_filter(comp, dirs).join(t_side, "key", "left_anti")
    out = keep if new is None else keep.unionByName(new.select(*keep.columns))
    _overwrite_partitions(spark, out, path, set(dirs.values()))
    return sorted(dirs, key=partition_order)


def _overwrite_partitions(
    spark: SparkSession, frame: DataFrame, path: str, dirs: set
) -> None:
    """Rewrite exactly the part= ``dirs`` (directory names, from
    partitions.partition_dirs) with ``frame``'s rows, one file per dir.

    The rows go to a staging dir inside ``path`` first: its ``_`` name
    hides it from readers of ``path``, and it keeps the write off the
    files ``frame`` reads (Spark refuses to overwrite a path it is
    reading). Then each of ``dirs`` is swapped for its staged copy.
    A partition the frame emptied has no staged dir, so its old dir is
    only removed — stale rows must not survive. The swap
    goes through the Hadoop FileSystem API so hdfs:///s3a:// companion
    paths work too; a local-only shutil call would silently leave the
    stale part= dir on remote storage and the next diff would report
    phantom deletes."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    staging = hpath(path, f"_staging-{uuid.uuid4().hex}")
    fs = staging.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        # rebalance by part: each part= dir is written by one task, so
        # it holds one file however many batches have rewritten it
        # (AQE splits only a partition past its advisory size)
        frame.hint("rebalance", "part").write.partitionBy("part").parquet(
            staging.toString()
        )
        staged = {st.getPath().getName() for st in fs.listStatus(staging)}
        for name in dirs:
            dst = hpath(path, name)
            if fs.exists(dst) and not fs.delete(dst, True):
                raise IOError(f"failed to delete {dst.toString()}")
            if name in staged and not fs.rename(hpath(staging, name), dst):
                raise IOError(f"failed to move the rewritten {name} into {path}")
    finally:
        fs.delete(staging, True)


def maintain_companion_from_cdc(
    spark: SparkSession,
    path: str,
    docs_source: DataFrame,
    cdc_rows: DataFrame,
    partition_col: str = "part",
    table_name: str | None = None,
) -> list:
    """One decoded CDC batch (``key``, ``op`` [, ``ts_ms``,
    ``table_name``] — the output shape of sources.debezium's decoders)
    → companion merge.

    The latest op per key wins (ts_ms desc); ties — same-millisecond
    ops, or no ts_ms at all — resolve deterministically TOWARD upsert,
    because the upsert path re-reads the source table (the truth): a
    key whose doc is gone resolves to delete anyway via the missing
    path below, so the tie rule self-corrects, whereas a delete-wins
    tie could drop a live doc's row. Upserted keys re-fetch their doc
    bodies from ``docs_source`` with a broadcast semi-join (the CDC
    batch is the small side by construction — S5/P6's IN-list fetch
    pattern); only those docs are re-digested. Returns the rewritten
    partition values.

    A multi-table feed MUST name the companion's table: rows from
    other tables sharing key values would otherwise delete/rewrite
    this companion's rows."""
    if "table_name" in cdc_rows.columns:
        if table_name is None:
            raise ValueError(
                "CDC feed carries table_name — pass table_name= so other "
                "tables' ops don't corrupt this companion"
            )
        cdc_rows = cdc_rows.filter(F.col("table_name") == table_name)
    elif table_name is not None:
        raise ValueError("table_name given but the CDC feed has no such column")
    cols = ["key", "op"] + (["ts_ms"] if "ts_ms" in cdc_rows.columns else [])
    ops = cdc_rows.select(*cols).withColumn("key", F.col("key").cast("string"))
    from pyspark.sql.window import Window

    ts = F.col("ts_ms") if "ts_ms" in cols else F.lit(0)
    w = Window.partitionBy("key").orderBy(
        ts.desc(),
        (F.col("op") == "d").asc(),  # ties: upsert first (self-correcting)
        F.col("op").asc(),
    )
    ops = (
        ops.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("key", "op")
    )
    # one row per key already: no distinct before the joins below
    up_keys = ops.filter(F.col("op") != "d").select("key")
    del_keys = ops.filter(F.col("op") == "d").select("key")

    docs = docs_source.withColumnRenamed(partition_col, "part")
    keyed = docs.withColumn("doc_id", F.col("doc_id").cast("string"))
    upserts = keyed.join(
        F.broadcast(up_keys.withColumnRenamed("key", "doc_id")), "doc_id", "left_semi"
    )
    missing = up_keys.join(
        keyed.select(F.col("doc_id").alias("key")), "key", "left_anti"
    )
    return update_digest_companion(
        spark,
        path,
        upserts=upserts.select("doc_id", "spans", "part"),
        delete_keys=del_keys.unionByName(missing),
    )


def companion_maintenance_stream(
    spark: SparkSession,
    change_stream: DataFrame,
    path: str,
    docs_source: DataFrame,
    checkpoint_dir: str,
    partition_col: str = "part",
    trigger_seconds: int | None = None,
    table_name: str | None = None,
):
    """Structured-Streaming wrapper: a decoded CDC stream (key, op[,
    ts_ms, table_name]) keeps the companion fresh, one idempotent
    partition-merge per micro-batch (exactly-once effect: replaying a
    batch after a crash converges to the same files).
    ``trigger_seconds`` None → availableNow (drain-and-stop, used by
    tests/catch-up runs); ``table_name`` is required when the feed is
    multi-table (see maintain_companion_from_cdc)."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        maintain_companion_from_cdc(
            spark, path, docs_source, batch_df, partition_col, table_name
        )

    w = change_stream.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds is None:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.start()


def companion_stale_partitions(
    companion: DataFrame, reference_stats: DataFrame
) -> DataFrame:
    """Body-free staleness check for the derived companion state:
    → (part, reason, companion_n_rows, reference_n_rows,
    companion_digest, reference_digest), one row per partition whose
    companion (row count, digest.signature_fold) disagrees with
    ``reference_stats`` — either ``plans.lineage.partition_stats``
    computed fresh off the doc table, or the ledger's recorded rows
    (``read_ledger(...).filter(status='done')`` reduced to the latest
    entry per part). Empty result ⇔ the companion faithfully derives
    from the state the reference describes; any row names a partition
    to re-ingest. The companion side folds its STORED v_hash, so the
    check reads hashes, never bodies."""
    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        partition_stats,
    )

    comp = partition_stats(companion)  # enriched fast path: stored v_hash
    ref = reference_stats.select(
        "part",
        F.col("n_rows").cast("long").alias("ref_n_rows"),
        F.col("digest").cast("long").alias("ref_digest"),
    )
    j = partition_join(comp, ref)
    reason = (
        F.when(F.col("n_rows").isNull(), F.lit("missing_in_companion"))
        .when(F.col("ref_n_rows").isNull(), F.lit("missing_in_reference"))
        .when(F.col("n_rows") != F.col("ref_n_rows"), F.lit("row_count"))
        .when(~F.col("digest").eqNullSafe(F.col("ref_digest")), F.lit("digest"))
    )
    return (
        j.select(
            "part",
            reason.alias("reason"),
            F.col("n_rows").alias("companion_n_rows"),
            F.col("ref_n_rows").alias("reference_n_rows"),
            F.col("digest").alias("companion_digest"),
            F.col("ref_digest").alias("reference_digest"),
        )
        .filter(F.col("reason").isNotNull())
    )


def repair_companion(
    spark: SparkSession,
    path: str,
    docs_source: DataFrame,
    parts: list,
    partition_col: str = "part",
) -> list:
    """Remediation for :func:`companion_stale_partitions` hits:
    re-derive the named partitions from the doc table (the only time
    bodies are read — and only the stale partitions' bodies).
    Partitions with no doc rows anymore have their dirs removed (the
    update upserts their docs and deletes their companion keys).
    Returns the repaired partition values."""
    if not parts:
        return []
    update_digest_companion(
        spark,
        path,
        upserts=partition_filter(docs_source.withColumnRenamed(partition_col, "part"), parts),
        delete_keys=partition_filter(spark.read.parquet(path), parts).select("key"),
    )
    return sorted(parts, key=partition_order)


def read_digest_companion(
    spark: SparkSession, ref: str
) -> DataFrame:
    """Read a companion written by :func:`write_digest_companion` —
    ``table:name`` for the bucketed form (bucket metadata only
    survives catalog reads), else a parquet path."""
    if ref.startswith("table:"):
        return spark.table(ref[len("table:"):])
    return spark.read.parquet(ref)
