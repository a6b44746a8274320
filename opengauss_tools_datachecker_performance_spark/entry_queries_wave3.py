"""Driver-contract query catalog, wave 3.

Fills the remaining SURVEY.md §2 rows with oracle-checked entries:
schema pre-check (§3.2), repair DML (S8/dml builders), incremental
IN-list recheck (P6/J4/§3.3), CSV scan with row locators (S4), slice
planning (A4/A5/X4), diff display cap (O3/O4), union-PK slice-column
choice (W2), multimodal decode plumbing (mapInPandas), frame-sample
planning — plus rows-only entries for the genuinely non-SQL ops
(lineage resume round-trip, KLL-sketch drift).

Registered into entry_queries.QUERIES/ORACLES via the same decorator.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.entry_queries import (
    _DIFF_ORDERS_SQL,
    _sink_orders,
    _t,
    q_diff_full_outer,
    query,
)

# ---------------------------------------------------------------------------
# §3.2 table-structure pre-check
# ---------------------------------------------------------------------------

_EXPECTED_SINK_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_sink_flag",  # present only on the (simulated) sink side
]

_SCHEMA_SQL = f"""
    WITH actual AS (SELECT lower(column_name) AS c FROM (DESCRIBE orders)),
    expected AS (
      SELECT lower(c) AS c
      FROM (VALUES {', '.join("('" + c + "')" for c in _EXPECTED_SINK_COLS)}) t(c)
    )
    SELECT c AS column_name, 'source_only' AS status
    FROM actual WHERE c NOT IN (SELECT c FROM expected)
    UNION ALL
    SELECT c, 'sink_only' FROM expected WHERE c NOT IN (SELECT c FROM actual)
"""


@query("schema_compare", _SCHEMA_SQL)
def q_schema_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2: case-insensitive column-set compare of the actual orders
    schema vs a simulated sink schema (one column renamed away, one
    added) — CheckTableStructureService.java:65-80,190-200 semantics
    via checks.schema_check.check_schema."""
    from pyspark.sql import types as T

    from opengauss_tools_datachecker_performance_spark.checks.schema_check import (
        check_schema,
    )

    orders = _t(spark, sf_dir, "orders")
    expected = T.StructType(
        [T.StructField(c, T.StringType()) for c in _EXPECTED_SINK_COLS]
    )
    res = check_schema(orders, expected, check_types=False, check_order=False)
    rows = [(c, "source_only") for c in sorted(res.extra_columns)] + [
        (c, "sink_only") for c in sorted(res.missing_columns)
    ]
    return spark.createDataFrame(rows, "column_name string, status string")


# ---------------------------------------------------------------------------
# S8 tail: repair DML from the orders diff
# ---------------------------------------------------------------------------

_REPAIR_SQL = f"""
    WITH diffs AS ({_DIFF_ORDERS_SQL}),
    src AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS key,
             'INSERT INTO orders (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority) VALUES ('
             || o_orderkey || ', ' || o_custkey
             || ', ''' || replace(o_orderstatus, '''', '''''')
             || ''', ' || CAST(o_totalprice AS DECIMAL(20,6))
             || ', ''' || strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
             || ''', ''' || replace(o_orderpriority, '''', '''''') || ''');' AS ins_sql,
             'UPDATE orders SET o_custkey = ' || o_custkey
             || ', o_orderstatus = ''' || replace(o_orderstatus, '''', '''''')
             || ''', o_totalprice = ' || CAST(o_totalprice AS DECIMAL(20,6))
             || ', o_orderdate = ''' || strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
             || ''', o_orderpriority = ''' || replace(o_orderpriority, '''', '''''')
             || ''' WHERE o_orderkey = ' || o_orderkey || ';' AS upd_sql
      FROM orders
    )
    SELECT d.key, d.diff_type,
           CASE d.diff_type
             WHEN 'insert' THEN s.ins_sql
             WHEN 'update' THEN s.upd_sql
             ELSE 'DELETE FROM orders WHERE o_orderkey = ' || d.key || ';'
           END AS sql
    FROM diffs d LEFT JOIN src s ON s.key = d.key
"""


@query("repair_dml", _REPAIR_SQL)
def q_repair_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repair DML rendering (dml/{Insert,Update,Delete}DmlBuilder.java,
    SliceCheckResultManager.java:370-449): diff keys joined back to the
    source rows, statements rendered with vectorized string exprs."""
    from opengauss_tools_datachecker_performance_spark.operators.repair import repair_dml

    orders = _t(spark, sf_dir, "orders")
    diff = q_diff_full_outer(spark, sf_dir)
    return repair_dml(diff, orders, key_cols=["o_orderkey"], table_name="orders")


# ---------------------------------------------------------------------------
# P6 / J4 / §3.3: incremental IN-list recheck
# ---------------------------------------------------------------------------


@query(
    "incremental_recheck",
    f"""
    WITH diffs AS ({_DIFF_ORDERS_SQL})
    SELECT key, diff_type FROM diffs WHERE CAST(key AS BIGINT) % 11 = 3
    """,
)
def q_incremental_recheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 incremental check core: a CDC changed-key log (keys ≡ 3
    mod 11 here) is re-fetched from both endpoints by key (P6 IN-list
    → broadcast semi-join, SelectDmlBuilder.java:108-137) and only
    those keys re-compared (IncrementCheckThread.java:186-232) — no
    bucketing pass, direct digest join, like the reference's keyed
    secondary check."""
    from opengauss_tools_datachecker_performance_spark.digest import row_digests
    from opengauss_tools_datachecker_performance_spark.operators.diff import diff_digests

    orders = _t(spark, sf_dir, "orders")
    sink = _sink_orders(orders)
    changed = (
        orders.select("o_orderkey")
        .unionByName(sink.select("o_orderkey"))
        .filter(F.col("o_orderkey") % 11 == 3)
        .distinct()
    )
    src_k = orders.join(F.broadcast(changed), "o_orderkey", "left_semi")
    sink_k = sink.join(F.broadcast(changed), "o_orderkey", "left_semi")
    return diff_digests(
        row_digests(src_k, ["o_orderkey"]),
        row_digests(sink_k, ["o_orderkey"]),
        two_phase=False,
    )


# ---------------------------------------------------------------------------
# S4: CSV scan with row locators
# ---------------------------------------------------------------------------


@query(
    "csv_scan_idx",
    """
    SELECT 'nation.csv' AS src_file,
           row_number() OVER (ORDER BY n_nationkey) - 1 AS row_idx,
           n_nationkey, n_name
    FROM nation
    """,
)
def q_csv_scan_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 CSV scan (CsvDataAccessService.java:68-280): schema-pinned
    csv read + per-file row locator (sources.csv_source). The fixture
    CSV is derived deterministically from the nation table (sorted by
    PK, single file) so the locator is oracle-checkable."""
    from opengauss_tools_datachecker_performance_spark.sources.csv_source import (
        read_csv_with_idx,
    )

    out_dir = f"/tmp/spark_graft_csv_{os.path.basename(sf_dir.rstrip('/'))}"
    path = os.path.join(out_dir, "nation.csv")
    os.makedirs(out_dir, exist_ok=True)
    rows = sorted(
        _t(spark, sf_dir, "nation").collect(), key=lambda r: r["n_nationkey"]
    )
    with open(path, "w") as f:
        f.write("n_nationkey,n_name,n_regionkey\n")
        for r in rows:
            f.write(f"{r['n_nationkey']},{r['n_name']},{r['n_regionkey']}\n")
    df = read_csv_with_idx(
        spark, path, schema="n_nationkey int, n_name string, n_regionkey int"
    )
    return df.select(
        "src_file", F.col("row_idx").cast("long").alias("row_idx"), "n_nationkey", "n_name"
    )


# ---------------------------------------------------------------------------
# A4/A5/X4: slice planning (count + min/max envelope + TaskUtil sizing)
# ---------------------------------------------------------------------------

_SLICE_MIN, _SLICE_MAX, _SLICE_TARGET = 50_000, 1_000_000, 10


@query(
    "slice_plan",
    f"""
    SELECT COUNT(*) AS n_rows,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_key,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_key,
           least(greatest(ceil(COUNT(*) / {_SLICE_TARGET}.0)::BIGINT, {_SLICE_MIN}), {_SLICE_MAX}) AS slice_size,
           ceil(COUNT(*) / least(greatest(ceil(COUNT(*) / {_SLICE_TARGET}.0)::BIGINT, {_SLICE_MIN}), {_SLICE_MAX})::DOUBLE)::BIGINT AS n_slices
    FROM orders
    """,
)
def q_slice_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5 + X4: row count, slice-column envelope, and adaptive slice
    sizing (TaskUtil.java:28-67 policy: 50k–1M rows/slice targeting
    ~10 slices/table)."""
    orders = _t(spark, sf_dir, "orders")
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").cast("string").alias("min_key"),
        F.max("o_orderkey").cast("string").alias("max_key"),
    )
    slice_size = F.least(
        F.greatest(
            F.ceil(F.col("n_rows") / _SLICE_TARGET), F.lit(_SLICE_MIN).cast("long")
        ),
        F.lit(_SLICE_MAX).cast("long"),
    )
    return agg.withColumn("slice_size", slice_size).withColumn(
        "n_slices", F.ceil(F.col("n_rows") / F.col("slice_size").cast("double"))
    )


# ---------------------------------------------------------------------------
# O3/O4: diff display cap — first 100 sorted keys per category
# ---------------------------------------------------------------------------


@query(
    "diff_display_cap",
    f"""
    WITH diffs AS ({_DIFF_ORDERS_SQL})
    SELECT key, diff_type FROM (
      SELECT key, diff_type,
             row_number() OVER (PARTITION BY diff_type ORDER BY key) AS rn
      FROM diffs
    ) WHERE rn <= 100
    """,
)
def q_diff_display_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/O4: human-report cap — first MAX_DISPLAY_SIZE=100 keys per
    diff category, sorted (CheckResultConstants.java:34,
    AbstractCheckDiffResultBuilder.java:292-312); the full set still
    flows to the violations table."""
    from pyspark.sql.window import Window

    d = q_diff_full_outer(spark, sf_dir)
    # Two-phase top-k: there are only 3 diff_type groups, so a single
    # window would sort a flooded category's ENTIRE diff set in one
    # task. Phase 1 ranks within (diff_type, salt) — 64-way spread —
    # and phase 2 ranks the <=100*64 survivors; the global smallest
    # 100 keys per category are always inside the union of per-salt
    # smallest 100s (keys are unique, so ordering is total). The salt
    # never reaches the output: same rows as the single-window plan.
    w_salt = Window.partitionBy("diff_type", "_salt").orderBy("key")
    w = Window.partitionBy("diff_type").orderBy("key")
    return (
        d.withColumn("_salt", F.pmod(F.xxhash64("key"), F.lit(64)))
        .withColumn("rn", F.row_number().over(w_salt))
        .filter(F.col("rn") <= 100)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .select("key", "diff_type")
    )


# ---------------------------------------------------------------------------
# W2: union-PK slice-column choice (fewest distinct values wins)
# ---------------------------------------------------------------------------

_PK_CANDIDATES = ["o_custkey", "o_orderpriority", "o_orderstatus"]

_UNION_PK_SQL = (
    " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, COUNT(DISTINCT {c}) AS n_distinct FROM orders"
        for c in _PK_CANDIDATES
    )
)


@query(
    "union_pk_choice",
    f"""
    WITH cand AS ({_UNION_PK_SQL})
    SELECT column_name, n_distinct,
           (row_number() OVER (ORDER BY n_distinct, column_name) = 1) AS chosen
    FROM cand
    """,
)
def q_union_pk_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: among joint-PK candidate columns, pick the slice column with
    the fewest distinct values (CheckPoint.initUnionPrimaryCheckPointList
    :161-199). Exact countDistinct here for oracle parity; the engine
    uses approx_count_distinct at scale (same argmin w.h.p.)."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    cand = None
    for c in _PK_CANDIDATES:
        one = orders.agg(
            F.lit(c).alias("column_name"), F.countDistinct(c).alias("n_distinct")
        )
        cand = one if cand is None else cand.unionByName(one)
    w = Window.orderBy("n_distinct", "column_name")
    return cand.withColumn("chosen", F.row_number().over(w) == 1)


# ---------------------------------------------------------------------------
# Multimodal plumbing: payload decode via mapInPandas + frame sampling
# ---------------------------------------------------------------------------

# deterministic asset catalog derived from part: 500 assets, payload =
# unhex(prefix of repeat(md5(ref))) with per-asset length 64..256 bytes
_N_ASSETS = 500

_ASSET_CATALOG_SQL = f"""
      SELECT 'asset-' || CAST(n AS VARCHAR) AS media_ref,
             CASE n % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
             (64 + (n % 5) * 48)::BIGINT AS n_bytes
      FROM (SELECT DISTINCT p_partkey % {_N_ASSETS} AS n FROM part)
"""


def _asset_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    n = (F.col("p_partkey") % _N_ASSETS).alias("n")
    cat = part.select(n).distinct()
    return cat.select(
        F.concat(F.lit("asset-"), F.col("n").cast("string")).alias("media_ref"),
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
            (F.col("n") % 3 + 1).cast("int"),
        ).alias("mime"),
        (F.lit(64) + (F.col("n") % 5) * 48).cast("long").alias("n_bytes"),
    )


@query(
    "multimodal_features",
    f"""
    WITH cat AS ({_ASSET_CATALOG_SQL}),
    p AS (
      SELECT media_ref, mime, n_bytes,
             substr(repeat(md5(media_ref), 33), 1, (n_bytes * 2)::INT) AS h
      FROM cat
    ),
    d AS (
      SELECT media_ref, mime, n_bytes,
             ('0x' || substr(h, 1, 2))::INT AS b0,
             ('0x' || substr(h, (n_bytes * 2 - 1)::INT, 2))::INT AS blast,
             list_sum(list_transform(range(0, 64),
                      i -> ('0x' || substr(h, (i * 2 + 1)::INT, 2))::BIGINT)) AS s64
      FROM p
    )
    SELECT media_ref, mime, n_bytes,
           (16 + b0 % 64)::INT AS width, (16 + blast % 64)::INT AS height,
           CAST(CAST(round(s64 / 64.0 / 255.0, 6) AS DECIMAL(10,6)) AS VARCHAR) AS mean_luma
    FROM d
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing (operators.multimodal): opaque binary
    payloads + typed metadata, feature extraction as an Arrow-batched
    mapInPandas pass (decode itself is the documented deterministic
    stub — no codec libs in this container). The oracle recomputes the
    stub's byte math from the hex form of the same payload."""
    from opengauss_tools_datachecker_performance_spark.operators.multimodal import (
        extract_features,
    )

    cat = _asset_catalog(spark, sf_dir)
    with_payload = cat.withColumn(
        "payload",
        F.unhex(
            F.repeat(F.md5("media_ref"), 33).substr(
                F.lit(1), (F.col("n_bytes") * 2).cast("int")
            )
        ),
    ).drop("n_bytes")
    feats = extract_features(with_payload)
    return feats.select(
        "media_ref",
        "mime",
        "n_bytes",
        "width",
        "height",
        F.round("mean_luma", 6).cast("decimal(10,6)").cast("string").alias("mean_luma"),
    )


@query(
    "frame_sample_plan",
    f"""
    WITH cat AS ({_ASSET_CATALOG_SQL})
    SELECT media_ref, f.frame_idx, f.frame_idx * 64 AS byte_offset
    FROM cat,
         (SELECT unnest(range(0, 8)) AS frame_idx) f
    WHERE f.frame_idx < least(greatest(n_bytes // 64, 1), 8)
    """,
)
def q_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan (operators.multimodal.frame_sample_plan):
    pure-metadata (media_ref, frame_idx, byte_offset) grid — payloads
    untouched, so the scan stays column-pruned."""
    from opengauss_tools_datachecker_performance_spark.operators.multimodal import (
        frame_sample_plan,
    )

    cat = _asset_catalog(spark, sf_dir).withColumnRenamed("n_bytes", "bytes")
    return frame_sample_plan(cat, every_n_bytes=64, max_frames=8).select(
        "media_ref",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("byte_offset").cast("long").alias("byte_offset"),
    )


# ---------------------------------------------------------------------------
# X12: lineage checkpoint + resume anti-join (round-trip through disk)
# ---------------------------------------------------------------------------


@query(
    "lineage_resume",
    """
    SELECT DISTINCT (doc_id % 8)::INT AS part,
           CASE WHEN doc_id % 8 < 4 THEN 'done' ELSE 'pending' END AS status
    FROM documents
    """,
)
def q_lineage_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12 resumability (north rule): write per-partition lineage rows
    (n_rows + XOR span digest) for the first half of the partitions to
    a parquet checkpoint ledger, then compute the resume set by
    anti-joining completed partitions (plans.lineage). The oracle
    states the invariant: recorded parts report done, rest pending."""
    from opengauss_tools_datachecker_performance_spark.partitions import partition_order
    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        partition_stats,
        pending_partitions,
        record_partitions,
    )
    from opengauss_tools_datachecker_performance_spark.sources.docs_builder import (
        docs_from_documents,
    )

    ckpt = f"/tmp/spark_graft_ckpt_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(ckpt, exist_ok=True)
    docs = docs_from_documents(_t(spark, sf_dir, "documents"))
    stats = partition_stats(docs)
    record_partitions(spark, ckpt, "run-1", stats.filter(F.col("part") < 4))
    all_parts = [r["part"] for r in docs.select("part").distinct().collect()]
    pending = pending_partitions(spark, ckpt, all_parts)
    rows = [
        (p, "pending" if p in set(pending) else "done")
        for p in sorted(all_parts, key=partition_order)
    ]
    part_type = docs.schema["part"].dataType.simpleString()
    return spark.createDataFrame(rows, f"part {part_type}, status string")


# ---------------------------------------------------------------------------
# A12 scale path: sketch drift (native KLL; the entry keeps its
# t-digest-era name). The sketch's quantiles are approximate, so the
# oracle checks what IS exact: the per-partition row count and the
# drift VERDICT. One partition (part 7) has its
# metric planted 3x larger (exact score ≈ 2.3) while natural parts
# measure ≤ 0.29 exact even at sf0.001 — the 0.75 threshold leaves
# sketch error (a few percent on a quantile, larger at tiny per-part
# n) no room to flip either side of the verdict at ANY test sf.  (A
# 0.3 threshold was within noise of sf0.001's 0.289 natural maximum —
# found by the full-catalog sf0.001 sweep.)
# ---------------------------------------------------------------------------

_TDIGEST_PROBS_SQL = [0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95]


def _tdigest_oracle_sql() -> str:
    qcols = ", ".join(
        f"quantile_cont(metric, {p}) AS q{i}" for i, p in enumerate(_TDIGEST_PROBS_SQL)
    )
    gcols = ", ".join(f"median(q{i}) AS g{i}" for i in range(len(_TDIGEST_PROBS_SQL)))
    gaps = ", ".join(
        f"abs(q{i} - g{i}) / greatest(abs(g{i}), 1.0)"
        for i in range(len(_TDIGEST_PROBS_SQL))
    )
    return f"""
    WITH m AS (
      SELECT (doc_id % 8)::INT AS part,
             CASE WHEN doc_id % 8 = 7 THEN n_chars * 3.0 ELSE n_chars::DOUBLE END AS metric
      FROM documents
    ),
    pq AS (SELECT part, COUNT(*) AS n, {qcols} FROM m GROUP BY part),
    g AS (SELECT {gcols} FROM pq)
    SELECT part, CAST(n AS BIGINT) AS n, greatest({gaps}) > 0.75 AS drifted
    FROM pq, g
    """


@query("drift_tdigest", _tdigest_oracle_sql())
def q_drift_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 at scale: per-partition native KLL sketches
    (``kll_sketch_agg_double``: mergeable, no Python hop) read out at
    the drift grid's ranks, judged by checks.drift.drift_from_profiles
    on the tiny profile frame. Oracle-checked on the exact fields (n,
    drifted verdict) with a planted 3x-drifted partition; the
    approximate raw score stays internal."""
    from opengauss_tools_datachecker_performance_spark.checks.drift import (
        DEFAULT_PROBS,
        drift_from_profiles,
    )

    d = _t(spark, sf_dir, "documents").select(
        F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("part"),
        F.when(F.pmod(F.col("doc_id"), F.lit(8)) == 7, F.col("n_chars") * 3.0)
        .otherwise(F.col("n_chars").cast("double"))
        .alias("metric"),
    )
    prof = d.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double("metric"),
            F.array(*[F.lit(p) for p in DEFAULT_PROBS]),
        ).alias("q"),
    )
    drift = drift_from_profiles(prof.select("part", "q"), threshold=0.75)
    return prof.select("part", "n").join(drift, "part").select("part", "n", "drifted")


@query(
    "multimodal_resize",
    f"""
    WITH cat AS ({_ASSET_CATALOG_SQL}),
    p AS (
      SELECT media_ref, mime, n_bytes,
             substr(repeat(md5(media_ref), 33), 1, (n_bytes * 2)::INT) AS h
      FROM cat
    )
    SELECT media_ref, mime, n_bytes AS src_bytes,
           32 AS target_w, 32 AS target_h,
           CASE WHEN n_bytes < 33 THEN n_bytes ELSE 33 END AS out_bytes,
           md5(substr(h, 1, ((CASE WHEN n_bytes < 33 THEN n_bytes ELSE 33 END) * 2)::INT)) AS out_digest
    FROM p
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing (operators.multimodal.resize_media):
    Arrow-batched mapInPandas over binary payloads; the stub resize is
    a deterministic byte-prefix + md5-of-hex so the oracle replays the
    exact byte math from the hex form of the same payload. 32×32
    target → 33-byte prefix (1 + 1024//32)."""
    from opengauss_tools_datachecker_performance_spark.operators.multimodal import (
        resize_media,
    )

    cat = _asset_catalog(spark, sf_dir)
    with_payload = cat.withColumn(
        "payload",
        F.unhex(
            F.repeat(F.md5("media_ref"), 33).substr(
                F.lit(1), (F.col("n_bytes") * 2).cast("int")
            )
        ),
    ).drop("n_bytes")
    return resize_media(with_payload, target_w=32, target_h=32)
