"""Wave-12 unit checks: interleaved structural checks
(checks/interleaved.py) and the cross-snapshot bucket delta
(plans/snapshot.py).  Catalog-vs-oracle parity for these entries is
covered by the sf0.001 sweep in test_wave12_matches_oracle below plus
the driver gate; here the operators also get hand-built edge-case
fixtures the synthetic derivation can't produce (media at the array
edge, media-next-to-media, negative offsets, unchanged snapshots)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opengauss_tools_datachecker_performance_spark.checks.interleaved import (
    interleaved_profile,
    media_context_audit,
    offset_integrity,
)
from opengauss_tools_datachecker_performance_spark.entry_queries import ORACLES, QUERIES
from opengauss_tools_datachecker_performance_spark.plans.snapshot import (
    snapshot_bucket_delta,
)

SF_DIR = "/root/testdata/sf0.001"

_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("part", T.IntegerType()),
    ]
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, _DOC_SCHEMA)


def _sp(kind, text, ref, off):
    return (kind, text, ref, off)


WAVE12 = [
    "media_context_audit",
    "offset_integrity",
    "interleaved_profile",
    "snapshot_delta",
    "snapshot_part_rollup",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", WAVE12)
def test_wave12_matches_oracle(spark, duck, name):
    got = {tuple(map(str, r)) for r in QUERIES[name](spark, SF_DIR).collect()}
    want = {tuple(map(str, r)) for r in duck.execute(ORACLES[name]).fetchall()}
    assert got == want and len(got) > 0


def test_media_context_audit_edges(spark):
    docs = _docs(
        spark,
        [
            # media first in sorted order: no prev → not ok
            ("a", [_sp("media", None, "m1", 0), _sp("text", "w1 w2 w3", None, 1)], 0),
            # media last: no next → not ok
            ("b", [_sp("text", "a b c", None, 0), _sp("media", None, "m2", 5)], 0),
            # media between two rich text spans → ok at min_words=3
            (
                "c",
                [
                    _sp("text", "one two three", None, 0),
                    _sp("media", None, "m3", 1),
                    _sp("text", "x y z", None, 2),
                ],
                0,
            ),
            # neighbor is another media span → no textual context
            (
                "d",
                [
                    _sp("text", "t t t", None, 0),
                    _sp("media", None, "m4", 1),
                    _sp("media", None, "m5", 2),
                    _sp("text", "u u u", None, 3),
                ],
                0,
            ),
            # text-only doc contributes no audit rows
            ("e", [_sp("text", "hello", None, 0)], 0),
        ],
    )
    rows = {
        (r.doc_id, r.span_idx): r
        for r in media_context_audit(docs, min_words=3).collect()
    }
    assert set(rows) == {("a", 0), ("b", 1), ("c", 1), ("d", 1), ("d", 2)}
    assert not rows[("a", 0)].ok and rows[("a", 0)].prev_words is None
    assert not rows[("b", 1)].ok and rows[("b", 1)].next_words is None
    assert rows[("c", 1)].ok
    assert rows[("c", 1)].prev_words == 3 and rows[("c", 1)].next_words == 3
    # d's first media sees a media neighbor on the right → NULL words
    assert not rows[("d", 1)].ok and rows[("d", 1)].next_words is None
    assert not rows[("d", 2)].ok and rows[("d", 2)].prev_words is None


def test_media_context_audit_sorts_by_offset_not_array_order(spark):
    # spans arrive shuffled; the audit must see sorted-order neighbors
    docs = _docs(
        spark,
        [
            (
                "z",
                [
                    _sp("text", "r r r r", None, 2),
                    _sp("media", None, "m", 1),
                    _sp("text", "l l l l", None, 0),
                ],
                0,
            )
        ],
    )
    [r] = media_context_audit(docs, min_words=4).collect()
    assert (r.span_idx, r.prev_words, r.next_words, r.ok) == (1, 4, 4, True)


def test_offset_integrity_flags_dups_and_negatives(spark):
    docs = _docs(
        spark,
        [
            ("ok", [_sp("text", "a", None, 0), _sp("text", "b", None, 1)], 0),
            ("dup", [_sp("text", "a", None, 3), _sp("text", "b", None, 3)], 0),
            (
                "neg",
                [_sp("text", "a", None, -1), _sp("text", "b", None, 0)],
                0,
            ),
        ],
    )
    got = {r.doc_id: r for r in offset_integrity(docs).collect()}
    assert set(got) == {"dup", "neg"}
    assert got["dup"].n_dup_offsets == 1 and got["dup"].n_neg_offsets == 0
    assert got["neg"].n_dup_offsets == 0 and got["neg"].n_neg_offsets == 1


def test_interleaved_profile_math(spark):
    docs = _docs(
        spark,
        [
            ("1", [_sp("text", "a b", None, 0), _sp("media", None, "m", 1)], 0),
            ("2", [_sp("text", "c d e", None, 0)], 0),
            ("3", [_sp("media", None, "m2", 0)], 1),
        ],
    )
    got = {r.part: r for r in interleaved_profile(docs).collect()}
    assert got[0].n_docs == 2 and got[0].n_media_docs == 1
    assert got[0].n_spans == 3 and got[0].n_media_spans == 1
    assert got[0].text_tokens == 5
    assert float(got[0].media_span_fraction) == pytest.approx(1 / 3, abs=1e-6)
    assert got[1].n_media_docs == 1 and got[1].text_tokens == 0
    assert float(got[1].media_span_fraction) == 1.0


def _dig(spark, rows):
    """(part, bucket, v_hash) rows, one key per bucket."""
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("part", T.IntegerType()),
                T.StructField("bucket", T.IntegerType()),
                T.StructField("v_hash", T.LongType()),
            ]
        ),
    ).withColumn("k_hash", F.col("bucket").cast("long"))


def test_snapshot_bucket_delta_classification(spark):
    old = _dig(
        spark,
        [
            (0, 1, 10),
            (0, 1, 11),  # bucket (0,1): 2 rows, sig 10^11
            (0, 2, 20),  # unchanged bucket
            (1, 3, 30),  # gone bucket
            (1, 4, 40),  # changed: same count, different hash
        ],
    )
    new = _dig(
        spark,
        [
            (0, 1, 10),  # row removed → changed (count)
            (0, 2, 20),
            (1, 4, 41),
            (2, 5, 50),  # new bucket in a new part
        ],
    )
    delta, rollup = snapshot_bucket_delta(old, new)
    got = {(r.part, r.bucket): r.status for r in delta.collect()}
    assert got == {
        (0, 1): "changed",
        (1, 3): "gone",
        (1, 4): "changed",
        (2, 5): "new",
    }
    roll = {r.part: r for r in rollup.collect()}
    assert set(roll) == {0, 1, 2}
    assert roll[0].n_buckets_changed == 1 and roll[0].delta_rows_old == 2
    assert roll[1].n_buckets_gone == 1 and roll[1].n_buckets_changed == 1
    assert roll[2].n_buckets_new == 1 and roll[2].delta_rows_new == 1


def test_snapshot_delta_empty_when_identical(spark):
    same = _dig(spark, [(0, 1, 10), (0, 2, 20), (1, 3, 30)])
    delta, rollup = snapshot_bucket_delta(same, same)
    assert delta.count() == 0 and rollup.count() == 0


def test_ivf_pq_exact_when_unpruned(spark):
    """With cell pruning off (1 cell) and overfetch covering the whole
    corpus, the PQ path must EQUAL brute force bit-for-bit — the exact
    cosine re-rank sees every candidate, so any divergence is a
    plumbing bug (codes, LUT lookup, or dedup), not quantization."""
    from opengauss_tools_datachecker_performance_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_ann_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in brute_force_topk(qs, emb, k=5).collect()
    }
    full = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_pq_ann_topk(
            qs, emb, k=5, n_cells=1, nprobe=1, overfetch=n // 5 + 1
        ).collect()
    }
    assert full == exact and len(full) == 5 * qs.count()


def test_ivf_pq_adc_pruning_keeps_signal(spark):
    """ADC pruning alone (no cell pruning, overfetch 2× over random
    UNCLUSTERED synthetic vectors — PQ's worst case) must still emit a
    full top-k per query and beat a trivial recall floor.  The
    pipeline is deterministic, so the measured 0.28 recall at sf0.001
    is stable; the floor just guards against ADC ordering degrading to
    noise."""
    from opengauss_tools_datachecker_performance_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_ann_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(qs, emb, k=5).collect()
    }
    pruned = {
        (r.query_id, r.neighbor_id)
        for r in ivf_pq_ann_topk(
            qs, emb, k=5, n_cells=1, nprobe=1, overfetch=2
        ).collect()
    }
    assert len(pruned) == 5 * qs.count()
    recall = len(exact & pruned) / len(exact)
    assert recall >= 0.2, f"ADC recall {recall:.2f} degraded to noise"


def test_ivf_pq_rejects_indivisible_dims(spark):
    from opengauss_tools_datachecker_performance_spark.operators.similarity import (
        ivf_pq_ann_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="not divisible"):
        ivf_pq_ann_topk(emb, emb, m_sub=7)


def test_ivf_pq_invariant_under_id_translation(spark):
    """PQ codes are dense ranks, not raw seed ids — results must be
    identical (modulo the shift) for a corpus whose ids start at 1000
    instead of 0.  Regression: the ADC LUT was once indexed by the raw
    code id, silently NULLing every lookup on non-dense ids."""
    from opengauss_tools_datachecker_performance_spark.operators.similarity import (
        ivf_pq_ann_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    shifted = emb.withColumn("vec_id", F.col("vec_id") + 1000)
    base = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_pq_ann_topk(
            emb.filter(F.col("vec_id") % 50 == 0), emb, k=5
        ).collect()
    }
    moved = {
        (r.query_id - 1000, r.neighbor_id - 1000, r.rank)
        for r in ivf_pq_ann_topk(
            shifted.filter((F.col("vec_id") - 1000) % 50 == 0), shifted, k=5
        ).collect()
    }
    assert base == moved and len(base) > 0


def test_interleaved_profile_empty_spans_partition(spark):
    """A partition of empty-span docs must profile (NULL fraction),
    not abort with ANSI DIVIDE_BY_ZERO."""
    docs = _docs(spark, [("a", [], 0), ("b", [], 0)])
    [r] = interleaved_profile(docs).collect()
    assert r.n_docs == 2 and r.n_spans == 0
    assert r.media_span_fraction is None


def test_offset_integrity_flags_null_offsets(spark):
    docs = _docs(
        spark,
        [
            ("ok", [_sp("text", "a", None, 0)], 0),
            ("nul", [_sp("text", "a", None, None), _sp("text", "b", None, 5)], 0),
        ],
    )
    got = {r.doc_id: r for r in offset_integrity(docs).collect()}
    assert set(got) == {"nul"}
    assert got["nul"].n_null_offsets == 1
