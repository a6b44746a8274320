"""Constraint checks vs planted violations."""

import pyspark.sql.functions as F

from opengauss_tools_datachecker_performance_spark.checks.drift import (
    drift_from_profiles,
    quantile_profiles,
)
from opengauss_tools_datachecker_performance_spark.checks.referential import (
    dangling_media_refs,
    referential_violations,
)
from opengauss_tools_datachecker_performance_spark.checks.schema_check import (
    DOCS_SCHEMA,
    check_schema,
)
from opengauss_tools_datachecker_performance_spark.checks.stats import (
    column_stats,
    span_null_text_violations,
)
from opengauss_tools_datachecker_performance_spark.checks.uniqueness import (
    duplicate_keys,
)
from opengauss_tools_datachecker_performance_spark.digest import _enriched_digests


def test_uniqueness_matches_planted(corpus, expected_by_class):
    got = {r["key"] for r in duplicate_keys(corpus["docs_source"], F.col("doc_id")).collect()}
    assert got == expected_by_class.get("duplicate", set())


def test_uniqueness_hash_narrow_lossless(corpus):
    a = {
        (r["key"], r["n_occurrences"])
        for r in duplicate_keys(corpus["docs_source"], F.col("doc_id"), hash_narrow=True).collect()
    }
    b = {
        (r["key"], r["n_occurrences"])
        for r in duplicate_keys(corpus["docs_source"], F.col("doc_id"), hash_narrow=False).collect()
    }
    assert a == b


def test_referential_matches_planted(corpus, expected_by_class):
    got = {r["key"] for r in referential_violations(corpus["docs_source"], corpus["assets"]).collect()}
    assert got == expected_by_class.get("dangling_ref", set())


def test_dangling_refs_all_missing_prefixed(corpus):
    refs = {r["media_ref"] for r in dangling_media_refs(corpus["docs_source"], corpus["assets"]).collect()}
    assert refs and all(r.startswith("missing-asset-") for r in refs)


def test_null_text_matches_planted(corpus, expected_by_class):
    got = {r["key"] for r in span_null_text_violations(corpus["docs_source"]).collect()}
    assert got == expected_by_class.get("null_text", set())


def test_drift_flags_only_partition_zero(corpus):
    m = _enriched_digests(corpus["docs_source"]).select(
        "part", F.col("text_len").alias("metric")
    )
    flags = {
        r["part"]: r["drifted"]
        for r in drift_from_profiles(quantile_profiles(m)).collect()
    }
    assert flags[0] is True
    assert all(not v for p, v in flags.items() if p != 0), flags


def test_schema_check_pass_and_fail(spark, corpus):
    ok = check_schema(corpus["docs_source"].select("doc_id", "spans"), DOCS_SCHEMA)
    assert ok.equal, ok.message
    bad = check_schema(corpus["docs_source"].select("doc_id"), DOCS_SCHEMA)
    assert not bad.equal and "spans" in bad.missing_columns


def test_column_stats_shape(corpus):
    stats = {r["column"]: r for r in column_stats(corpus["assets"]).collect()}
    n = corpus["assets"].count()
    assert stats["media_ref"]["n_rows"] == n
    assert stats["media_ref"]["n_nulls"] == 0
    # HLL within 5% of exact distinct
    assert abs(stats["media_ref"]["approx_distinct"] - n) <= max(2, 0.05 * n)
    assert stats["bytes"]["avg_value"] is not None
