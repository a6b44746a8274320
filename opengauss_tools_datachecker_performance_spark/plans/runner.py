"""Validation runner: one pass over the doc table → per-partition
verdicts + violation rows.

Output contract (the reference's CheckDiffResult + Difference,
datachecker-check/.../modules/check/CheckDiffResult.java:55-130,
.../entry/check/Difference.java:27-33, re-shaped):

* ``violations``: (part, constraint, key, span_idx, detail) — one row
  per violating doc; ``span_idx`` set where span-resolution applies
  (corrupted span, dangling ref, null text).
* ``verdicts``:   (part, constraint, n_violations, status) — complete
  grid over partitions × constraints; ``status`` ∈ pass|fail.

Constraints: consistency (diff vs sink: detail=insert|update|delete),
unique, referential, null_text, drift, schema.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opengauss_tools_datachecker_performance_spark.checks.drift import (
    drift_from_profiles,
    quantile_profiles,
)
from opengauss_tools_datachecker_performance_spark.checks.schema_check import (
    DOCS_SCHEMA,
    SchemaCheckResult,
    check_schema,
)
from opengauss_tools_datachecker_performance_spark.checks.span_rules import (
    span_rule_violations_from_digests,
)
from opengauss_tools_datachecker_performance_spark.checks.uniqueness import (
    duplicate_keys_from_digests,
)
from opengauss_tools_datachecker_performance_spark.digest import (
    ENRICHED_COLS,
    _enriched_digests,
    enriched_schema,
    is_enriched,
)
from opengauss_tools_datachecker_performance_spark.operators.diff import (
    diff_digests,
)
from opengauss_tools_datachecker_performance_spark.plans.lineage import (
    partition_stats,
)

CONSTRAINTS = ["consistency", "unique", "referential", "null_text", "drift"]

_VIOLATION_SCHEMA = "part int, constraint string, key string, span_idx int, detail string"


@dataclass
class ValidationResult:
    violations: DataFrame
    verdicts: DataFrame
    schema_ok: bool
    schema_message: str = ""
    extras: dict = field(default_factory=dict)


def _empty_violations(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], _VIOLATION_SCHEMA)


def partition_order(p) -> tuple:
    """Sort key for partition values with NULL among them (NULL last)."""
    return (p is None, p)


def _partition_stats(dig: DataFrame) -> list[tuple]:
    """(part, n_rows, digest) per partition of a digest frame, collected
    (the lineage digest folds the frame's stored hashes)."""
    return [tuple(r) for r in partition_stats(dig).collect()]


def _arrow_frame(spark: SparkSession, schema: T.StructType, rows: list) -> DataFrame:
    """A driver-held row list as one Arrow-backed frame (no Python
    worker runs when it is scanned)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema=schema)


def drift_verdicts(drift: DataFrame) -> DataFrame:
    """(part, drift_score, drifted) → verdict-grid rows for 'drift'."""
    return drift.select(
        F.col("part"),
        F.lit("drift").alias("constraint"),
        F.col("drifted").cast("int").cast("long").alias("n_violations"),
        F.when(F.col("drifted"), "fail").otherwise("pass").alias("status"),
    )


def validate_docs(
    docs_source: DataFrame,
    docs_sink: DataFrame | None,
    assets: DataFrame | None,
    partition_col: str = "part",
    only_partitions: list[int] | None = None,
    drift_threshold: float = 0.15,
    max_violations_per_partition: int | None = None,
    skip_drift: bool = False,
) -> ValidationResult:
    """Run every applicable check; returns violations + verdict grid.

    ``only_partitions`` implements resume: restrict the scan up front
    (partition pruning on the parquet/Iceberg partition column) —
    see plans.lineage for the anti-join that computes the list.
    """
    spark = docs_source.sparkSession

    docs_source = docs_source.withColumnRenamed(partition_col, "part")
    if docs_sink is not None:
        docs_sink = docs_sink.withColumnRenamed(partition_col, "part")

    # --- schema pre-check: failure excludes data checks (ref §3.2).
    # Each side is checked against ITS OWN contract (digest companions
    # against ENRICHED_COLS, raw docs against DOCS_SCHEMA), so a
    # companion source can be diffed against a raw sink and vice versa
    # — _enriched_digests normalizes each input independently.
    def _precheck(df: DataFrame):
        if is_enriched(df):
            return check_schema(
                df.select(*ENRICHED_COLS), enriched_schema(spark), check_types=True
            )
        present = {f.name for f in df.schema.fields}
        probe_cols = [f.name for f in DOCS_SCHEMA.fields if f.name in present]
        return check_schema(
            df.select(*probe_cols) if probe_cols else df.limit(0),
            DOCS_SCHEMA,
            check_types=True,
        )

    sres = _precheck(docs_source)
    if sres.equal and docs_sink is not None:
        sres = _precheck(docs_sink)
    # the partition column is part of the structural contract too —
    # without this, a typo'd --partition-col crashes in the digest
    # projection instead of failing the schema gate gracefully
    if sres.equal:
        for side in (docs_source, docs_sink):
            if side is not None and "part" not in side.columns:
                sres = SchemaCheckResult(
                    equal=False, missing_columns=[partition_col]
                )
                break
    # only filter sides that actually carry the partition column — when
    # the schema gate just failed for a missing 'part', the filter would
    # raise UNRESOLVED_COLUMN and mask the graceful fail verdict below
    if only_partitions is not None:
        if "part" in docs_source.columns:
            docs_source = docs_source.filter(F.col("part").isin(only_partitions))
        if docs_sink is not None and "part" in docs_sink.columns:
            docs_sink = docs_sink.filter(F.col("part").isin(only_partitions))

    if not sres.equal:
        # the fail branch cannot assume the partition column exists —
        # that may be exactly what failed; one NULL-part row then
        sides = [
            d
            for d in (docs_source, docs_sink)
            if d is not None and "part" in d.columns
        ]
        if sides:
            parts_all = sides[0].select("part").distinct()
            for d in sides[1:]:
                parts_all = parts_all.union(d.select("part")).distinct()
        else:
            parts_all = spark.range(1).select(
                F.lit(None).cast("int").alias("part")
            )
        verdicts = parts_all.select(
            "part",
            F.lit("schema").alias("constraint"),
            F.lit(1).alias("n_violations"),
            F.lit("fail").alias("status"),
        )
        return ValidationResult(
            violations=_empty_violations(spark),
            verdicts=verdicts,
            schema_ok=False,
            schema_message=sres.message,
        )

    # --- digest frames: computed ONCE, persisted, reused by diff,
    # uniqueness (k_hash reuse), drift (text_len), the partition
    # universe and the verdict grid. The digest frame is the small
    # projection of the scan (5 longs + key), so it is the right thing
    # to persist at any scale — never the doc bodies.
    dig_src = _enriched_digests(docs_source).persist()
    dig_sink = (
        _enriched_digests(docs_sink).persist() if docs_sink is not None else None
    )
    # Materialize the digest caches as an explicit barrier before any
    # downstream branch is planned against them. Without this, the
    # first consumer to run is a driver-side BROADCAST BUILD (the
    # mismatched-bucket set), so the heaviest stage of the whole job
    # — the full doc scan + digest — executes inside a blocking
    # broadcast future while the main job's stages sit idle. (A
    # driver-side exchange of the bucket signatures as this barrier
    # was measured worse; README "Performance notes" has the A/B.)
    # The barrier action is a per-partition (n_rows, digest) collect,
    # not a bare count: it fills the cache just the same, and its
    # #partitions-sized result is every partition-level figure the
    # wave needs — the partition universe, the progress count and the
    # lineage stats — so none of them costs a Spark job of its own.
    # The reference takes a slice's row count and table hash the same
    # way, while extracting it (SliceExtend.count / tableHash).
    # Both sides run as CONCURRENT jobs (Spark schedulers fill one
    # job's straggler/stage-gap slack with the other's tasks; on a
    # real cluster this overlaps two independent table scans). A
    # per-barrier AQE exemption (session-conf toggle around these
    # actions) was built and interleaved-A/B-measured: WORSE (min
    # 33.9 s vs 30.5 s at local[8] AQE-on, 3M docs) — caches built
    # under a different AQE setting than their consumers cost more
    # than AQE's stage decomposition does, so the barrier inherits
    # the session setting untouched.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        sink_stats = (
            pool.submit(_partition_stats, dig_sink) if dig_sink is not None else None
        )
        src_stats = _partition_stats(dig_src)
        sink_stats = sink_stats.result() if sink_stats is not None else []
    parts_all = sorted(
        {r[0] for r in src_stats} | {r[0] for r in sink_stats},
        key=partition_order,
    )

    pieces: list[DataFrame] = []
    diffs: DataFrame | None = None

    # --- consistency diff (the reference's core check) ---
    if dig_sink is not None:
        # persist: the diff result is tiny (≈ diff-rate × rows) but its
        # subtree is the bucket-prune + full-outer join over both digest
        # frames; it feeds BOTH the violation rows and the updated-key
        # IN-list below — without persist that consumer would re-execute
        # the whole join subtree.
        diffs = diff_digests(
            dig_src, dig_sink, carry_cols=["part"], locate_spans=True
        ).persist()
        diffs.count()
        # --- span location for updated keys rides the diff join
        # itself (classify_diff(locate_spans=True)): the digest frames
        # carry per-span hash arrays, so the first divergent index is
        # a zip_with over columns the join already exchanged. Two
        # earlier designs paid a second full-table body read for this:
        # a key-IN-list pushdown re-scan (measured 14-20 s per 3M-doc
        # run and nearly FLAT from local[2] to local[8] — parquet can't
        # push a multi-thousand-literal IN, row-group stats don't prune
        # uniformly-spread keys, and the literal list bloats every
        # downstream plan re-analysis) and a broadcast-semi-join full
        # scan. The in-join formulation eliminates the re-scan, the
        # two driver barriers (count + collect), and the IN-list cap
        # tuning at any scale. The IN-list fetch pattern itself lives
        # on in streaming.incremental (P6), where the key set arrives
        # from OUTSIDE the digest caches.
        diff_v = diffs.select(
            "part",
            F.lit("consistency").alias("constraint"),
            "key",
            F.col("span_idx").cast("int"),
            F.col("diff_type").alias("detail"),
        )
        pieces.append(diff_v)

    # --- uniqueness (reuses dig_src's k_hash; zero extra scans) ---
    uniq = duplicate_keys_from_digests(dig_src).select(
        "part",
        F.lit("unique").alias("constraint"),
        "key",
        F.lit(None).cast("int").alias("span_idx"),
        F.lit(None).cast("string").alias("detail"),
    )
    pieces.append(uniq)

    # --- span-level rules: referential + null_text, off the digest
    # cache (zero extra doc-body scans; span_rules.py) ---
    pieces.append(
        span_rule_violations_from_digests(dig_src, assets).select(
            "part", "constraint", "key", "span_idx", "detail"
        )
    )

    violations = pieces[0]
    for p in pieces[1:]:
        violations = violations.unionByName(p)
    violations = violations.persist()
    violations_full = violations  # the persisted frame (unpersist handle)

    # --- verdict counts come from the FULL violation set; the
    # enumerated rows can be capped per (part, constraint) — the
    # analogue of the reference's large-diff guard rails (X11:
    # LargeDataDiffException / MerkleTreeDepthException,
    # DataCheckRunnable.java:165-182,299-322), except a flooded
    # partition still FAILS with its exact count instead of aborting
    # the run; only the per-row enumeration stops at the cap. ---
    counts = {
        (r["part"], r["constraint"]): r["n_violations"]
        for r in violations.groupBy("part", "constraint")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .collect()  # bounded: #partitions × #constraints
    }
    if max_violations_per_partition is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("part", "constraint").orderBy("key", "span_idx")
        violations = (
            violations.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_violations_per_partition)
            .drop("_rn")
        )

    # --- drift (partition-level; metric rides on the digest frame).
    # The per-partition quantile PROFILES are always exposed: a chunked
    # run (``__main__ --chunk-partitions``) sets skip_drift=True,
    # persists each wave's profiles, and judges drift once over their
    # union so the baseline is run-global regardless of waving. ---
    drift_prof = quantile_profiles(
        dig_src.select("part", F.col("text_len").alias("metric")),
        group_col="part",
    )
    drift = (
        None
        if skip_drift
        else drift_from_profiles(drift_prof, threshold=drift_threshold)
    )

    # --- verdict grid: partitions × constraints, zero-filled,
    # assembled on the driver from the collected counts and drift rows
    # (both #partitions-sized; summarize_dir collects the whole grid
    # anyway) and handed back as one Arrow-backed frame. Planned as
    # Spark joins instead, the grid re-ran the drift subtree twice
    # (the drift rows and the vanished-partition anti-join) with a
    # broadcast inside each copy.
    # Only constraints that actually RAN appear: a no-sink run never
    # compared anything, a no-assets run never resolved a media_ref —
    # reporting those as 'pass' would present unexecuted checks as
    # green (the grid row's absence is the honest signal).
    active = [
        c
        for c in CONSTRAINTS
        if c != "drift"
        and (c != "consistency" or docs_sink is not None)
        and (c != "referential" or assets is not None)
    ]
    rows = []
    for p in parts_all:
        for c in active:
            n = counts.get((p, c), 0)
            rows.append((p, c, n, "fail" if n > 0 else "pass"))
    if drift is not None:
        dv = [tuple(r) for r in drift_verdicts(drift).collect()]
        # a sink-only partition has NO source rows, so no drift profile
        # exists for it — its distribution vanished, which IS drift;
        # emit an explicit fail instead of leaving a hole in the
        # partitions × constraints grid
        profiled = {r[0] for r in dv}
        rows += dv + [(p, "drift", 1, "fail") for p in parts_all if p not in profiled]
    verdicts = _arrow_frame(
        spark,
        T.StructType(
            [
                T.StructField("part", dig_src.schema["part"].dataType),
                T.StructField("constraint", T.StringType(), False),
                # nullable only beside drift rows (a NULL drift flag has
                # no count), as the grid's parquet schema always was
                T.StructField("n_violations", T.LongType(), drift is not None),
                T.StructField("status", T.StringType(), False),
            ]
        ),
        rows,
    )

    return ValidationResult(
        violations=violations,
        verdicts=verdicts,
        schema_ok=True,
        schema_message=sres.message,
        extras={
            "partitions": parts_all,
            "partition_stats": src_stats,
            "drift_profiles": drift_prof,
            "digests_source": dig_src,
            "digests_sink": dig_sink,
            "diffs": diffs,
            "violations_full": violations_full,
        },
    )
