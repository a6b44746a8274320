"""Table IO seam: Iceberg ref grammar + parquet stand-in path."""

from __future__ import annotations

import pytest

from opengauss_tools_datachecker_performance_spark.sources.table_io import (
    is_iceberg_ref,
    load_table,
    parse_iceberg_ref,
    write_table,
)


def test_ref_grammar():
    assert is_iceberg_ref("iceberg:db.docs")
    assert not is_iceberg_ref("/data/docs.parquet")
    assert parse_iceberg_ref("iceberg:db.docs") == ("db.docs", None)
    assert parse_iceberg_ref("iceberg:db.docs@12345") == ("db.docs", 12345)


def test_parquet_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    df = spark.range(10).withColumnRenamed("id", "k")
    write_table(df, path)
    assert load_table(spark, path).count() == 10


def test_iceberg_ref_requires_runtime(spark):
    """Without Iceberg jars the ref must fail loudly (not silently read
    something else) — the sandbox has no Iceberg runtime."""
    with pytest.raises(Exception):
        load_table(spark, "iceberg:db.nope").count()


def test_bucketed_docs_diff_without_shuffle(corpus, spark, tmp_path):
    """Source+sink written bucketed by doc_id (sources.bucketed) must
    (a) produce EXACTLY the same diffs as the parquet-path scan, and
    (b) plan the row-level full-outer join with ZERO Exchange on the
    key — bucketing survives the digest projection, the persist, and
    the join, so at 10^12 docs each executor diffs its co-located
    buckets map-side."""
    import pyspark.sql.functions as F

    from opengauss_tools_datachecker_performance_spark.operators.diff import (
        classify_diff,
    )
    from opengauss_tools_datachecker_performance_spark.digest import (
        _enriched_digests,
    )
    from opengauss_tools_datachecker_performance_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed_docs,
    )
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        load_table,
    )

    src, sink = corpus["docs_source"], corpus["docs_sink"]
    write_bucketed_docs(src, "bsrc", n_buckets=8, path=str(tmp_path / "bsrc"))
    write_bucketed_docs(sink, "bsnk", n_buckets=8, path=str(tmp_path / "bsnk"))
    try:
        bsrc, bsnk = read_bucketed(spark, "bsrc"), read_bucketed(spark, "bsnk")
        # the table: ref scheme resolves to the same catalog read
        assert load_table(spark, "table:bsrc").schema == bsrc.schema
        # two_phase=False isolates the row-level join (the signature
        # agg legitimately shuffles by bucket id; it is tiny)
        diffs_b = classify_diff(_enriched_digests(bsrc), _enriched_digests(bsnk))
        plan = diffs_b._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning(key" not in plan, plan[:4000]
        got = {(r["key"], r["diff_type"]) for r in diffs_b.collect()}
        want = {
            (r["key"], r["diff_type"])
            for r in classify_diff(
                _enriched_digests(src), _enriched_digests(sink)
            ).collect()
        }
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bsrc")
        spark.sql("DROP TABLE IF EXISTS bsnk")
