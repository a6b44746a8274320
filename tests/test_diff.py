"""Diff core vs the pure-Python oracle + planted violations."""

import pyspark.sql.functions as F

from opengauss_tools_datachecker_performance_spark.operators.diff import (
    diff_digests,
    diff_docs,
    diff_tables,
)
from tests.oracle import classify, collect_docs, first_divergence


def _sets(df):
    out = {"insert": set(), "update": set(), "delete": set()}
    for r in df.collect():
        out[r["diff_type"]].add(r["key"])
    return out


def test_diff_matches_python_oracle(corpus):
    got = _sets(diff_docs(corpus["docs_source"], corpus["docs_sink"]))
    src = collect_docs(corpus["docs_source"])
    sink = collect_docs(corpus["docs_sink"])
    want = classify(src, sink)
    assert got == want


def test_two_phase_pruning_lossless(corpus):
    direct = _sets(diff_docs(corpus["docs_source"], corpus["docs_sink"], two_phase=False))
    pruned = _sets(diff_docs(corpus["docs_source"], corpus["docs_sink"], two_phase=True))
    assert direct == pruned


def test_diff_matches_planted_classes(corpus, expected_by_class):
    got = _sets(diff_docs(corpus["docs_source"], corpus["docs_sink"]))
    assert got["insert"] == expected_by_class.get("missing_doc", set())
    assert got["delete"] == expected_by_class.get("extra_doc", set())
    assert got["update"] == (
        expected_by_class.get("corrupt_text", set())
        | expected_by_class.get("swap_offsets", set())
    )


def test_flat_table_diff(spark):
    src = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id int, s string, v double"
    )
    sink = spark.createDataFrame(
        [(2, "b", 20.0), (3, "CHANGED", 30.0), (4, "d", 40.0)], "id int, s string, v double"
    )
    got = _sets(diff_tables(src, sink, key_cols=["id"]))
    assert got == {"insert": {"1"}, "update": {"3"}, "delete": {"4"}}


def test_identical_tables_no_diff(corpus):
    assert diff_docs(corpus["docs_source"], corpus["docs_source"]).count() == 0


def test_locate_spans_in_join_matches_body_formulation(corpus):
    """classify_diff(locate_spans=True) — the runner's zero-re-scan
    span locator over digest-frame hash arrays — must agree with the
    oracle's body comparison (first_divergence) on every update key."""
    from opengauss_tools_datachecker_performance_spark.digest import (
        _enriched_digests,
    )

    dig_s = _enriched_digests(corpus["docs_source"])
    dig_t = _enriched_digests(corpus["docs_sink"])
    diffs = diff_digests(
        dig_s, dig_t, two_phase=True, carry_cols=["part"], locate_spans=True
    )
    got = {
        r["key"]: r["span_idx"]
        for r in diffs.filter(F.col("diff_type") == "update").collect()
    }
    src = collect_docs(corpus["docs_source"])
    sink = collect_docs(corpus["docs_sink"])
    want = {
        k: first_divergence(src[k], sink[k])
        for k in classify(src, sink)["update"]
    }
    assert got == want and len(got) > 0
    # non-update rows carry no span index
    others = diffs.filter(F.col("diff_type") != "update").collect()
    assert others and all(r["span_idx"] is None for r in others)


def test_locate_spans_requires_span_hashes(spark):
    import pytest

    from opengauss_tools_datachecker_performance_spark.operators.diff import (
        classify_diff,
    )

    plain = spark.createDataFrame([("k1", 1)], "key string, v_hash long")
    with pytest.raises(ValueError, match="span_hashes"):
        classify_diff(plain, plain, locate_spans=True)
