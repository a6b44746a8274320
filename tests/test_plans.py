"""Physical-plan quality gates — the scale contract, asserted.

These tests pin the properties that make the engine viable at 100 TB:
the digest path stays JVM-side (no Python eval nodes), small
dimensions broadcast instead of shuffling the big side, bucket
signatures partial-aggregate map-side, and the parquet scan prunes to
the columns the digest actually needs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from opengauss_tools_datachecker_performance_spark.digest import doc_digests
from opengauss_tools_datachecker_performance_spark.operators.diff import (
    diff_digests,
    mismatched_buckets,
)
from opengauss_tools_datachecker_performance_spark.checks.span_rules import (
    span_rule_violations,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def docs_parquet(spark, corpus, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "docs.parquet")
    corpus["docs_source"].write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def test_digest_path_is_jvm_only(docs_parquet):
    plan = _plan(doc_digests(docs_parquet))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF", "MapInPandas"):
        assert marker not in plan, f"Python eval node in digest path:\n{plan}"


def test_digest_scan_prunes_columns(docs_parquet):
    # digest needs doc_id + spans only; the scan must not read vclass/
    # n_spans/part etc.
    fmt = _formatted(doc_digests(docs_parquet))
    scan_lines = [l for l in fmt.splitlines() if "ReadSchema" in l]
    assert scan_lines, fmt
    rs = scan_lines[0]
    assert "doc_id" in rs and "spans" in rs
    assert "vclass" not in rs and "n_spans" not in rs


def test_bucket_signature_partial_aggregation(docs_parquet):
    sigs = mismatched_buckets(doc_digests(docs_parquet), doc_digests(docs_parquet))
    plan = _plan(sigs)
    # map-side combine: a partial HashAggregate below the exchange and
    # a final one above it
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan


def test_referential_rules_broadcast_assets(corpus):
    plan = _plan(span_rule_violations(corpus["docs_source"], corpus["assets"]))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_two_phase_diff_broadcasts_bucket_set(corpus):
    src = doc_digests(corpus["docs_source"])
    sink = doc_digests(corpus["docs_sink"])
    plan = _plan(diff_digests(src, sink, two_phase=True))
    # the mismatched-bucket semi-join must be a broadcast, never a
    # shuffle of the full digest frames
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_no_cartesian_anywhere(corpus):
    src = doc_digests(corpus["docs_source"])
    sink = doc_digests(corpus["docs_sink"])
    plan = _plan(diff_digests(src, sink, two_phase=True))
    assert "CartesianProduct" not in plan


def test_span_rules_from_digest_cache_match_explode_path(corpus):
    """The runner's fused span-rule path (off the cached digest frame,
    zero doc-body re-scans) must produce EXACTLY the rows of the
    standalone single-pass explode formulation."""
    from opengauss_tools_datachecker_performance_spark.checks.span_rules import (
        span_rule_violations_from_digests,
    )
    from opengauss_tools_datachecker_performance_spark.digest import (
        _enriched_digests,
    )

    docs, assets = corpus["docs_source"], corpus["assets"]
    dig = _enriched_digests(docs.withColumnRenamed("part", "part"))
    got = {
        tuple(r)
        for r in span_rule_violations_from_digests(dig, assets)
        .select("part", "constraint", "key", "span_idx", "detail")
        .collect()
    }
    want = {
        tuple(r)
        for r in span_rule_violations(docs, assets)
        .select("part", "constraint", "key", "span_idx", "detail")
        .collect()
    }
    assert got == want and len(got) > 0
