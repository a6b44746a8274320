"""Driver-contract query catalog, wave 12: interleaved-payload
structural checks (checks/interleaved.py) + cross-snapshot incremental
re-validation scope (plans/snapshot.py).

* ``media_context_audit`` — every media span audited for neighboring
  text context (the alt-text rule multimodal curation applies).
* ``offset_integrity`` — span-offset uniqueness/sign invariants (the
  precondition of digest.py's sorted-span canonicalization), on a
  deterministically corrupted copy so violations exist.
* ``interleaved_profile`` — per-partition corpus-composition rollup.
* ``snapshot_delta`` / ``snapshot_part_rollup`` — bucket-grain diff
  of two digest snapshots of the same table (source vs mutated sink
  standing in for Iceberg snapshots t1/t2): the re-validation scope
  an incremental run would touch.  Portable md5-60bit hashes so the
  DuckDB oracle replays the XOR signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.digest import _sorted_spans
from opengauss_tools_datachecker_performance_spark.entry_queries import (
    _SQL_CANON_BODY,
    _SQL_SPAN_CANON,
    _sql_doc_canon,
    _t,
    query,
)
from opengauss_tools_datachecker_performance_spark.functions.hashing import (
    portable_hash64,
    portable_hash64_sql,
)

_US, _RS = "\x1f", "\x1e"


@query(
    "media_context_audit",
    """
    WITH b AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS did,
             len(string_split(text, ' ')) AS nw
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id, CAST(1 AS INT) AS span_idx,
           'asset-' || CAST(did % 200 AS VARCHAR) AS media_ref,
           CAST(least(nw, 8) AS INT) AS prev_words,
           CAST(CASE WHEN nw > 8 THEN least(nw - 8, 8) END AS INT) AS next_words,
           (least(nw, 8) >= 8
            AND coalesce(CASE WHEN nw > 8 THEN least(nw - 8, 8) END >= 8, FALSE))
             AS ok
    FROM b
    """,
)
def q_media_context_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alt-text-context audit of every media span
    (checks.interleaved.media_context_audit over the derived
    interleaved docs; media spans sit at sorted position 1 between
    text chunks 0 and 1, so the oracle reads the neighbor token counts
    straight off the word count)."""
    from opengauss_tools_datachecker_performance_spark.checks.interleaved import (
        media_context_audit,
    )
    from opengauss_tools_datachecker_performance_spark.sources.docs_builder import (
        docs_from_documents,
    )

    docs = docs_from_documents(_t(spark, sf_dir, "documents"))
    return media_context_audit(docs, min_words=8)


@query(
    "offset_integrity",
    """
    WITH b AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS did,
             least(ceil(len(string_split(text, ' ')) / 8.0)::INT, 6) AS nc
      FROM documents WHERE doc_id % 53 = 9
    ),
    s AS (
      SELECT doc_id, nc + CASE WHEN did % 3 = 0 THEN 1 ELSE 0 END AS n FROM b
    )
    SELECT doc_id, CAST(n AS INT) AS n_spans,
           CAST(1 AS INT) AS n_distinct_offsets,
           CAST(n - 1 AS INT) AS n_dup_offsets,
           CAST(0 AS INT) AS n_neg_offsets,
           CAST(0 AS INT) AS n_null_offsets
    FROM s WHERE n > 1
    """,
)
def q_offset_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-offset invariant check (checks.interleaved.offset_integrity)
    on a copy where docs with doc_id%53==9 had every offset zeroed —
    the deterministic violation fixture both engines derive."""
    from opengauss_tools_datachecker_performance_spark.checks.interleaved import (
        offset_integrity,
    )
    from opengauss_tools_datachecker_performance_spark.sources.docs_builder import (
        docs_from_documents,
    )

    docs = docs_from_documents(_t(spark, sf_dir, "documents"))
    did = F.col("doc_id").cast("long")
    zeroed = F.transform(
        F.col("spans"),
        lambda sp: F.struct(
            sp["kind"].alias("kind"),
            sp["text"].alias("text"),
            sp["media_ref"].alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        ),
    )
    broken = docs.withColumn(
        "spans", F.when(did % 53 == 9, zeroed).otherwise(F.col("spans"))
    )
    return offset_integrity(broken)


@query(
    "interleaved_profile",
    """
    WITH b AS (
      SELECT doc_id AS did, doc_id % 8 AS part,
             len(string_split(text, ' ')) AS nw,
             least(ceil(len(string_split(text, ' ')) / 8.0)::INT, 6) AS nc
      FROM documents
    ),
    d AS (
      SELECT part,
             nc + CASE WHEN did % 3 = 0 THEN 1 ELSE 0 END AS n_spans,
             CASE WHEN did % 3 = 0 THEN 1 ELSE 0 END AS m,
             least(nw, nc * 8) AS toks
      FROM b
    )
    SELECT CAST(part AS INT) AS part,
           COUNT(*)::BIGINT AS n_docs,
           SUM(m)::BIGINT AS n_media_docs,
           SUM(n_spans)::BIGINT AS n_spans,
           SUM(m)::BIGINT AS n_media_spans,
           SUM(toks)::BIGINT AS text_tokens,
           CAST(CAST(round(SUM(m)::DOUBLE / SUM(n_spans), 6) AS DECIMAL(10,6))
                AS VARCHAR)
             AS media_span_fraction
    FROM d GROUP BY 1
    """,
)
def q_interleaved_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition interleaved-corpus composition
    (checks.interleaved.interleaved_profile). The fraction column is
    rendered as its exact 6-dp decimal string — hash-stable through
    both engines' pandas conversions."""
    from opengauss_tools_datachecker_performance_spark.checks.interleaved import (
        interleaved_profile,
    )
    from opengauss_tools_datachecker_performance_spark.sources.docs_builder import (
        docs_from_documents,
    )

    prof = interleaved_profile(docs_from_documents(_t(spark, sf_dir, "documents")))
    return prof.withColumn(
        "media_span_fraction", F.col("media_span_fraction").cast("string")
    )


# ---------------------------------------------------------------------------
# snapshot delta — src docs vs mutated sink as snapshots t1/t2
# ---------------------------------------------------------------------------

_N_SNAP_BUCKETS = 64


def _plain_canon(spans: Column) -> Column:
    """chr(31)/chr(30)-joined render of the sorted span list — the
    rendering _sql_doc_canon produces, replayed in Spark so the
    portable hashes agree.  Injective on control-char-free corpora
    (the framed render in digest.py is the engine-internal default;
    this plain one exists for cross-engine oracle parity)."""
    rendered = F.transform(
        _sorted_spans(spans),
        lambda sp: F.concat_ws(
            _US,
            F.coalesce(sp["kind"], F.lit("")),
            F.coalesce(sp["text"], F.lit("")),
            F.coalesce(sp["media_ref"], F.lit("")),
        ),
    )
    return F.array_join(rendered, _RS)


def _portable_digest_frame(docs: DataFrame) -> DataFrame:
    kh = portable_hash64(F.col("doc_id"))
    return docs.select(
        "part",
        F.pmod(kh, F.lit(_N_SNAP_BUCKETS)).cast("int").alias("bucket"),
        kh.alias("k_hash"),
        portable_hash64(_plain_canon(F.col("spans"))).alias("v_hash"),
    )


_SNAP_COMMON_SQL = f"""
    spans_base AS ({_SQL_SPAN_CANON}),
    built AS ({_SQL_CANON_BODY}),
    src AS (
      SELECT doc_id, did % 8 AS part,
             {_sql_doc_canon(False, False)} AS canon
      FROM built
    ),
    sink_kept AS (
      SELECT doc_id, did % 8 AS part,
             CASE WHEN did % 89 = 3 THEN {_sql_doc_canon(True, False)}
                  WHEN did % 83 = 5 THEN {_sql_doc_canon(False, True)}
                  ELSE {_sql_doc_canon(False, False)} END AS canon
      FROM built WHERE did % 97 <> 0
    ),
    sink AS (
      SELECT * FROM sink_kept
      UNION ALL
      SELECT 'x' || doc_id, did % 8, {_sql_doc_canon(False, False)}
      FROM built WHERE did % 79 = 11
    ),
    asig AS (
      SELECT part, {portable_hash64_sql("doc_id")} % {_N_SNAP_BUCKETS} AS bucket,
             COUNT(*)::BIGINT AS n_old,
             bit_xor({portable_hash64_sql("canon")}) AS sig_old
      FROM src GROUP BY 1, 2
    ),
    bsig AS (
      SELECT part, {portable_hash64_sql("doc_id")} % {_N_SNAP_BUCKETS} AS bucket,
             COUNT(*)::BIGINT AS n_new,
             bit_xor({portable_hash64_sql("canon")}) AS sig_new
      FROM sink GROUP BY 1, 2
    ),
    j AS (
      SELECT coalesce(a.part, b.part) AS part,
             coalesce(a.bucket, b.bucket) AS bucket,
             n_old, n_new, sig_old, sig_new
      FROM asig a FULL OUTER JOIN bsig b
        ON a.part = b.part AND a.bucket = b.bucket
    ),
    d AS (
      SELECT CAST(part AS INT) AS part, CAST(bucket AS INT) AS bucket,
             CASE WHEN n_old IS NULL THEN 'new'
                  WHEN n_new IS NULL THEN 'gone'
                  WHEN n_old <> n_new OR sig_old IS DISTINCT FROM sig_new
                    THEN 'changed' END AS status,
             n_old, n_new
      FROM j
    )
"""


def _snapshot_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    from opengauss_tools_datachecker_performance_spark.plans.snapshot import (
        snapshot_bucket_delta,
    )
    from opengauss_tools_datachecker_performance_spark.sources.docs_builder import (
        docs_from_documents,
        mutate_docs,
    )

    docs = docs_from_documents(_t(spark, sf_dir, "documents"))
    sink = mutate_docs(docs)
    return snapshot_bucket_delta(
        _portable_digest_frame(docs), _portable_digest_frame(sink)
    )


@query(
    "snapshot_delta",
    f"""
    WITH {_SNAP_COMMON_SQL}
    SELECT part, bucket, status, n_old, n_new FROM d WHERE status IS NOT NULL
    """,
)
def q_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-grain snapshot diff (plans.snapshot.snapshot_bucket_delta):
    the buckets an incremental run must re-validate."""
    return _snapshot_frames(spark, sf_dir)[0]


@query(
    "snapshot_part_rollup",
    f"""
    WITH {_SNAP_COMMON_SQL}
    SELECT part,
           SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)::BIGINT
             AS n_buckets_changed,
           SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END)::BIGINT
             AS n_buckets_new,
           SUM(CASE WHEN status = 'gone' THEN 1 ELSE 0 END)::BIGINT
             AS n_buckets_gone,
           SUM(coalesce(n_old, 0))::BIGINT AS delta_rows_old,
           SUM(coalesce(n_new, 0))::BIGINT AS delta_rows_new
    FROM d WHERE status IS NOT NULL GROUP BY 1
    """,
)
def q_snapshot_part_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level re-validation scope rolled up from the bucket
    delta (plans.snapshot.snapshot_bucket_delta)."""
    return _snapshot_frames(spark, sf_dir)[1]


# ---------------------------------------------------------------------------
# IVF-PQ ANN — memory-scale similarity path (PQ codes instead of raw
# vectors; Jégou/Douze/Schmid TPAMI 2011)
# ---------------------------------------------------------------------------

_PQ_M, _PQ_CODES, _PQ_CELLS, _PQ_NPROBE, _PQ_K, _PQ_OVER = 8, 16, 16, 2, 5, 4

_ANN_IVF_PQ_SQL = f"""
    WITH low AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS ci
      FROM embeddings ORDER BY vec_id LIMIT {_PQ_CODES}
    ),
    cb AS (
      -- PQ codes are dense ranks 0..n-1 by seed id (array positions
      -- for the ADC lookup), not the raw seed ids
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, ci FROM low
    ),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS vi
      FROM embeddings
    ),
    assign AS (
      SELECT vec_id, cell,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_dot_product(vi::DOUBLE[], ci::DOUBLE[]) DESC, cell
             ) AS rn
      FROM v, (SELECT vec_id AS cell, ci FROM low LIMIT {_PQ_CELLS})
    ),
    c AS (SELECT vec_id AS neighbor_id, cell FROM assign WHERE rn = 1),
    q AS (
      SELECT vec_id AS query_id, cell FROM assign
      WHERE rn <= {_PQ_NPROBE} AND vec_id % 50 = 0
    ),
    cdist AS (
      SELECT v.vec_id AS vid, sub.s, cb.code,
             list_sum(list_transform(range(1, 9), i ->
               (v.vi[sub.s*8 + i] - cb.ci[sub.s*8 + i])
               * (v.vi[sub.s*8 + i] - cb.ci[sub.s*8 + i]))) AS d
      FROM v, cb, (SELECT s FROM range(0, {_PQ_M}) t(s)) sub
    ),
    enc AS (
      SELECT vid AS neighbor_id, s, code FROM (
        SELECT vid, s, code,
               row_number() OVER (PARTITION BY vid, s ORDER BY d, code) AS rn
        FROM cdist) WHERE rn = 1
    ),
    cpair AS (
      SELECT DISTINCT query_id, neighbor_id
      FROM q JOIN c USING (cell) WHERE neighbor_id <> query_id
    ),
    adc AS (
      SELECT cp.query_id, cp.neighbor_id, SUM(qd.d)::BIGINT AS adc
      FROM cpair cp
      JOIN enc e ON e.neighbor_id = cp.neighbor_id
      JOIN cdist qd
        ON qd.vid = cp.query_id AND qd.s = e.s AND qd.code = e.code
      GROUP BY 1, 2
    ),
    keep AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
        FROM adc) WHERE rn <= {_PQ_OVER * _PQ_K}
    ),
    res AS (
      SELECT k.query_id, k.neighbor_id,
             list_cosine_similarity(qv.ev, cv.ev) AS cs
      FROM keep k
      JOIN v qv ON qv.vec_id = k.query_id
      JOIN v cv ON cv.vec_id = k.neighbor_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
      FROM res)
    WHERE rank <= {_PQ_K}
"""


@query("ann_ivf_pq", _ANN_IVF_PQ_SQL)
def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators.similarity.ivf_pq_ann_topk): coarse-cell
    pruning + 8×1-byte product-quantization codes per corpus vector,
    integer ADC scoring, exact cosine re-rank of the 4k-best
    candidates — the layout that fits a 10^12-vector index in
    cluster memory."""
    from opengauss_tools_datachecker_performance_spark.operators.similarity import (
        ivf_pq_ann_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_pq_ann_topk(
        emb.filter(F.col("vec_id") % 50 == 0), emb,
        k=_PQ_K, n_cells=_PQ_CELLS, nprobe=_PQ_NPROBE, m_sub=_PQ_M,
        n_codes=_PQ_CODES, overfetch=_PQ_OVER,
    )
