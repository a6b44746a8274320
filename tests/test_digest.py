"""Digest-layer invariants (SURVEY.md §5 'adopted' items):
- permuting span ARRAY order never changes a doc digest (order is
  defined by offset, not storage position);
- permuting ROW order / partitioning never changes a bucket signature
  (XOR fold is commutative);
- any single-span mutation flips the doc digest;
- the null=='' collision quirk inside digests is preserved and known.
"""

import pyspark.sql.functions as F

from opengauss_tools_datachecker_performance_spark.digest import (
    bucket_signatures,
    doc_digests,
    span_sequence_canonical_col,
)

DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


BASE = [
    ("d1", [("text", "hello", None, 0), ("media", None, "asset-1", 2), ("text", "world", None, 4)]),
    ("d2", [("text", "a", None, 0), ("text", "b", None, 1)]),
]


def test_array_order_irrelevant(spark):
    shuffled = [
        ("d1", [("media", None, "asset-1", 2), ("text", "world", None, 4), ("text", "hello", None, 0)]),
        ("d2", [("text", "b", None, 1), ("text", "a", None, 0)]),
    ]
    a = {r["key"]: r["v_hash"] for r in doc_digests(_docs(spark, BASE)).collect()}
    b = {r["key"]: r["v_hash"] for r in doc_digests(_docs(spark, shuffled)).collect()}
    assert a == b


def test_offset_order_matters(spark):
    swapped = [("d2", [("text", "a", None, 1), ("text", "b", None, 0)])]
    a = {r["key"]: r["v_hash"] for r in doc_digests(_docs(spark, BASE)).collect()}
    b = {r["key"]: r["v_hash"] for r in doc_digests(_docs(spark, swapped)).collect()}
    assert a["d2"] != b["d2"]


def test_single_span_mutation_flips_digest(spark):
    variants = [
        [("text", "hello!", None, 0), ("media", None, "asset-1", 2), ("text", "world", None, 4)],
        [("text", "hello", None, 0), ("media", None, "asset-2", 2), ("text", "world", None, 4)],
        [("media", "hello", None, 0), ("media", None, "asset-1", 2), ("text", "world", None, 4)],
        [("text", "hello", None, 0), ("media", None, "asset-1", 2)],
        [("text", "hello", None, 0), ("media", None, "asset-1", 2), ("text", "world", None, 4), ("text", "x", None, 6)],
    ]
    base = {r["key"]: r["v_hash"] for r in doc_digests(_docs(spark, BASE)).collect()}["d1"]
    for v in variants:
        got = {r["key"]: r["v_hash"] for r in doc_digests(_docs(spark, [("d1", v)])).collect()}["d1"]
        assert got != base, f"mutation not detected: {v}"


def test_null_empty_quirk_documented(spark):
    """null text and '' text collide INSIDE the digest — the
    reference's HashHandler.java:58 getOrDefault('') behavior,
    intentionally preserved (documented quirk, not a bug)."""
    a = _docs(spark, [("d", [("text", None, None, 0)])])
    b = _docs(spark, [("d", [("text", "", None, 0)])])
    ha = doc_digests(a).collect()[0]["v_hash"]
    hb = doc_digests(b).collect()[0]["v_hash"]
    assert ha == hb


def test_bucket_signature_row_order_invariant(spark, corpus):
    digests = doc_digests(corpus["docs_source"])
    sigs_a = {r["bucket"]: (r["sig"], r["n_rows"]) for r in bucket_signatures(digests).collect()}
    # re-partition arbitrarily → same signatures
    digests_b = doc_digests(corpus["docs_source"].repartition(17, F.col("doc_id")))
    sigs_b = {r["bucket"]: (r["sig"], r["n_rows"]) for r in bucket_signatures(digests_b).collect()}
    assert sigs_a == sigs_b


def test_canonical_matches_python_oracle(spark):
    from tests.oracle import canon_spans

    df = _docs(spark, BASE).select(
        "doc_id", span_sequence_canonical_col(F.col("spans")).alias("c")
    )
    got = {r["doc_id"]: r["c"] for r in df.collect()}

    def frame(v: str) -> str:
        # length-prefixed field framing (digest._framed): byte length +
        # ':' + bytes — injective even if v contains the separators
        return f"{len(v.encode('utf-8'))}:{v}"

    for doc_id, spans in BASE:
        expect = "\x1e".join(
            "\x1f".join(frame(f) for f in t)
            for t in canon_spans(
                [dict(kind=k, text=t, media_ref=m, offset=o) for (k, t, m, o) in spans]
            )
        )
        assert got[doc_id] == expect


def test_render_injective_on_separator_bytes(spark):
    """Span text containing the separator control bytes must NOT
    collide with a differently-split span sequence — the length-prefix
    framing pins every field boundary (a bare separator-joined render
    hashed 'x\\x1f' + '' identically to 'x' + '\\x1f')."""
    rows = [
        ("d1", [("text", "x\x1f", "", 0)]),
        ("d2", [("text", "x", "\x1f", 0)]),
        ("d3", [("text", "a\x1eb", None, 0)]),
        ("d4", [("text", "a", None, 0), ("text", "b", None, 2)]),
    ]
    df = spark.createDataFrame(
        [
            (d, [dict(kind=k, text=t, media_ref=m, offset=o) for k, t, m, o in s])
            for d, s in rows
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", span_sequence_canonical_col(F.col("spans")).alias("c")
        ).collect()
    }
    assert len(set(out.values())) == 4
