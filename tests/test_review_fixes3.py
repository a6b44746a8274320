"""Regression tests for the round-3 review fixes (ADVICE.md items):

* runner: only_partitions no longer bypasses the missing-partition-
  column schema gate with an AnalysisException
* url: trailing-slash strip confined to the path component
* incremental: flap-ledger eviction + max_batch_keys driver bound
* skew: global_rank_cumsum fails fast on NULL order/sum values
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_only_partitions_with_missing_part_fails_gracefully(spark):
    """A typo'd partition column + only_partitions must produce the
    schema-gate fail verdict, not an UNRESOLVED_COLUMN crash."""
    from opengauss_tools_datachecker_performance_spark.plans.runner import validate_docs

    docs = spark.createDataFrame(
        [("d1", [("text", "hello", None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    # no 'part' column at all on either side
    res = validate_docs(
        docs, docs, None, partition_col="part_typo", only_partitions=[0, 1]
    )
    rows = res.verdicts.collect()
    assert rows, "schema-gate failure must still emit a verdict grid"
    assert all(r.status == "fail" for r in rows if r.constraint == "schema")


def test_trailing_slash_survives_inside_query(spark):
    from opengauss_tools_datachecker_performance_spark.functions.url import (
        canonical_url,
    )

    cases = [
        ("https://site.com/login?next=/home/", "https://site.com/login?next=/home/"),
        ("https://site.com/a/?id=1", "https://site.com/a/?id=1"),
        ("https://site.com/a//", "https://site.com/a"),
        ("https://site.com/", "https://site.com"),
        # tracking strip leaves no query -> path slash then strips
        ("https://site.com/a/?utm_source=x", "https://site.com/a"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i int, url string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, f"{u!r}: {got[i]!r} != {want!r}"


def test_incremental_flap_ledger_evicts_absorbed_keys(spark, tmp_path):
    """A key that diffs once and then stops (lag absorbed) must not
    occupy the flap ledger forever."""
    from opengauss_tools_datachecker_performance_spark.sources.docs_builder import (
        docs_from_documents,
    )
    from opengauss_tools_datachecker_performance_spark.streaming.incremental import (
        IncrementalChecker,
    )

    documents = spark.createDataFrame(
        [(i, "src", f"text {i}") for i in range(8)],
        "doc_id long, source string, text string",
    )
    docs = docs_from_documents(documents)
    # sink differs on doc 1 only -> doc 1 keeps flapping; doc 1 enters
    # pending, every other probed key is clean
    sink = docs.withColumn(
        "spans",
        F.when(
            F.col("doc_id") == "1",
            F.expr(
                "transform(spans, s -> named_struct('kind', s.kind, 'text',"
                " concat(s.text, '!'), 'media_ref', s.media_ref,"
                " 'offset', s.offset))"
            ),
        ).otherwise(F.col("spans")),
    )
    chk = IncrementalChecker(
        docs, sink, str(tmp_path), max_retries=99, flap_ttl_batches=2
    )
    batch1 = spark.createDataFrame([("1",)], "doc_id string")
    chk.process_batch(batch1, 0)
    assert "1" in chk.flaps and "1" in chk.pending
    # batch 2 re-sees it pending -> confirms, pops from flaps
    empty = spark.createDataFrame([], "doc_id string")
    chk.process_batch(empty, 1)
    assert chk.confirmed and "1" not in chk.flaps
    # now a transient: doc 1 was repaired upstream? simulate with a key
    # that never diffs: enters neither pending nor flaps
    batch3 = spark.createDataFrame([("2",)], "doc_id string")
    chk.process_batch(batch3, 2)
    assert "2" not in chk.flaps
    # a key that diffs once then is absorbed: force it into flaps, then
    # run TTL batches of silence -> evicted
    chk.flaps["9"] = (1, 2)
    chk.process_batch(empty, 3)
    assert "9" in chk.flaps  # within TTL
    chk.process_batch(empty, 5)
    assert "9" not in chk.flaps  # TTL expired, ledger stays bounded


def test_incremental_max_batch_keys_cap(spark, tmp_path):
    from opengauss_tools_datachecker_performance_spark.sources.docs_builder import (
        docs_from_documents,
    )
    from opengauss_tools_datachecker_performance_spark.streaming.incremental import (
        IncrementalChecker,
    )

    documents = spark.createDataFrame(
        [(i, "src", f"text {i}") for i in range(20)],
        "doc_id long, source string, text string",
    )
    docs = docs_from_documents(documents)
    chk = IncrementalChecker(docs, docs, str(tmp_path), max_batch_keys=5)
    oversized = spark.createDataFrame(
        [(str(i),) for i in range(10)], "doc_id string"
    )
    with pytest.raises(ValueError, match="max_batch_keys"):
        chk.process_batch(oversized, 0)
    # an in-bounds batch still works
    ok = spark.createDataFrame([("1",), ("2",)], "doc_id string")
    chk.process_batch(ok, 1)
    # duplicates fill the capped collect and hide a key beyond it: the
    # truncated rows must not pass for the whole batch
    hidden = spark.createDataFrame(
        [("1",)] * 6 + [("7",)], "doc_id string"
    ).coalesce(1)
    with pytest.raises(ValueError, match="max_batch_keys"):
        chk.process_batch(hidden, 2)

    # keys pending a secondary check count against the cap too
    from pyspark.sql import functions as F

    drifted = docs.withColumn(
        "spans",
        F.when(
            F.col("doc_id").isin("0", "1", "2"),
            F.slice(F.col("spans"), 1, 0),
        ).otherwise(F.col("spans")),
    )
    chk2 = IncrementalChecker(docs, drifted, str(tmp_path), max_batch_keys=5)
    chk2.process_batch(
        spark.createDataFrame([("0",), ("1",), ("2",)], "doc_id string"), 0
    )
    assert set(chk2.pending) == {"0", "1", "2"}
    in_bounds = spark.createDataFrame(
        [("10",), ("11",), ("12",)], "doc_id string"
    )
    with pytest.raises(ValueError, match="max_batch_keys"):
        chk2.process_batch(in_bounds, 1)
    # the refused batch changed nothing: no pending key was dropped
    assert set(chk2.pending) == {"0", "1", "2"}
    assert chk2.confirmed == []


def test_global_rank_cumsum_rejects_nulls(spark):
    from opengauss_tools_datachecker_performance_spark.operators.skew import (
        global_rank_cumsum,
    )

    null_order = spark.createDataFrame(
        [(None, "a", 3), (1.0, "b", 4)], "score double, k string, w int"
    )
    with pytest.raises(ValueError, match="NULL"):
        global_rank_cumsum(null_order, ["score", "k"], "w")
    null_sum = spark.createDataFrame(
        [(1.0, "a", None), (2.0, "b", 4)], "score double, k string, w int"
    )
    with pytest.raises(ValueError, match="NULL"):
        global_rank_cumsum(null_sum, ["score", "k"], "w")
    # empty frame still returns the documented empty result, no raise
    empty = spark.createDataFrame([], "score double, k string, w int")
    assert global_rank_cumsum(empty, ["score", "k"], "w").count() == 0


def test_exact_duplicate_groups_caps_id_sample(spark):
    """A mega duplicate group must not materialize an unbounded all_ids
    array: the sample caps at sample_ids_cap while n_docs stays true."""
    from opengauss_tools_datachecker_performance_spark.operators.dedup import (
        exact_duplicate_groups,
    )

    docs = spark.createDataFrame(
        [(f"d{i:03d}", "boilerplate") for i in range(50)]
        + [("u1", "unique one"), ("u2", "unique one")],
        "doc_id string, text string",
    )
    rows = {
        r.n_docs: r
        for r in exact_duplicate_groups(
            docs, "doc_id", "text", sample_ids_cap=5
        ).collect()
    }
    big = rows[50]
    assert len(big.all_ids) == 5 and big.all_ids == sorted(big.all_ids)
    assert big.keep_id == "d000" and big.all_ids[0] == "d000"
    assert rows[2].all_ids == ["u1", "u2"]
    # cap=None drops the sample branch entirely
    no_ids = exact_duplicate_groups(docs, "doc_id", "text", sample_ids_cap=None)
    assert no_ids.columns == ["fingerprint", "n_docs", "keep_id"]
    plan = no_ids._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan


def test_simhash_duplicate_groups_caps_id_sample(spark):
    from opengauss_tools_datachecker_performance_spark.operators.dedup import (
        simhash_duplicate_groups,
    )

    docs = spark.createDataFrame(
        [(f"d{i:02d}", "same text for every doc here") for i in range(12)],
        "doc_id string, text string",
    )
    [row] = simhash_duplicate_groups(
        docs, "doc_id", "text", sample_ids_cap=4
    ).collect()
    assert row.n_docs == 12 and len(row.all_ids) == 4
    assert row.keep_id == "d00" and row.all_ids == ["d00", "d01", "d02", "d03"]
