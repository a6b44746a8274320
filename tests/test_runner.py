"""End-to-end runner + report + lineage/resume."""

import json
import os

import pyspark.sql.functions as F

from opengauss_tools_datachecker_performance_spark.plans.lineage import (
    partition_stats,
    pending_partitions,
    read_ledger,
    record_partitions,
)
from opengauss_tools_datachecker_performance_spark.plans.report import write_report
from opengauss_tools_datachecker_performance_spark.plans.runner import (
    CONSTRAINTS,
    validate_docs,
)
from tests.conftest import N_PARTS


def test_validate_docs_end_to_end(corpus, expected_by_class):
    res = validate_docs(corpus["docs_source"], corpus["docs_sink"], corpus["assets"])
    assert res.schema_ok
    v = res.violations.cache()
    by = {
        (r["constraint"], r["detail"]): r["cnt"]
        for r in v.groupBy("constraint", "detail").agg(F.count("*").alias("cnt")).collect()
    }
    exp = expected_by_class
    assert by.get(("consistency", "insert"), 0) == len(exp.get("missing_doc", ()))
    assert by.get(("consistency", "delete"), 0) == len(exp.get("extra_doc", ()))
    assert by.get(("consistency", "update"), 0) == len(exp.get("corrupt_text", ())) + len(
        exp.get("swap_offsets", ())
    )
    uniq_keys = {r["key"] for r in v.filter("constraint='unique'").collect()}
    assert uniq_keys == exp.get("duplicate", set())
    # verdict grid is complete: every (part, constraint) present
    grid = {(r["part"], r["constraint"]) for r in res.verdicts.collect()}
    assert len(grid) == N_PARTS * len(CONSTRAINTS)


def test_clean_table_all_pass(corpus):
    clean = corpus["docs_source"].filter(
        ~F.col("doc_id").isin(
            [r["doc_id"] for r in corpus["violations_expected"].collect()]
        )
    ).dropDuplicates(["doc_id"])
    res = validate_docs(clean, clean, corpus["assets"], drift_threshold=10.0)
    assert res.violations.count() == 0
    assert res.verdicts.filter("status='fail'").count() == 0


def test_schema_failure_short_circuits(corpus):
    bad = corpus["docs_source"].drop("spans")
    res = validate_docs(bad, None, None)
    assert not res.schema_ok
    cs = {r["constraint"] for r in res.verdicts.collect()}
    assert cs == {"schema"}
    assert res.verdicts.filter("status='fail'").count() > 0


def test_report_files(tmp_path, corpus):
    res = validate_docs(corpus["docs_source"], corpus["docs_sink"], corpus["assets"])
    out = str(tmp_path / "report")
    summary = write_report(res, out)
    assert os.path.exists(os.path.join(out, "summary.json"))
    assert os.path.exists(os.path.join(out, "violations.parquet"))
    assert os.path.exists(os.path.join(out, "success.log"))
    with open(os.path.join(out, "summary.json")) as f:
        loaded = json.load(f)
    assert loaded["result"] == "failed"
    assert loaded["constraints"]["consistency"]["n_violations"] > 0
    # display cap honored
    for keys in loaded["display_keys"].values():
        assert len(keys) <= 100
    assert summary == loaded


def test_lineage_resume(tmp_path, spark, corpus):
    ck = str(tmp_path / "ckpt")
    all_parts = list(range(N_PARTS))
    # nothing done yet → everything pending
    assert pending_partitions(spark, ck, all_parts) == all_parts
    # record half the partitions as done
    stats = partition_stats(corpus["docs_source"]).filter(F.col("part") < 4)
    record_partitions(spark, ck, "run-1", stats)
    pend = pending_partitions(spark, ck, all_parts)
    assert pend == [4, 5, 6, 7]
    # resumed run touches only pending partitions
    res = validate_docs(
        corpus["docs_source"], corpus["docs_sink"], corpus["assets"],
        only_partitions=pend,
    )
    parts_seen = {r["part"] for r in res.verdicts.collect()}
    assert parts_seen == set(pend)
    # second record completes the run
    record_partitions(
        spark, ck, "run-2", partition_stats(corpus["docs_source"]).filter(F.col("part") >= 4)
    )
    assert pending_partitions(spark, ck, all_parts) == []
    # ledger digests are deterministic: re-computing matches stored
    ledger = {
        r["part"]: (r["n_rows"], r["digest"]) for r in read_ledger(spark, ck).collect()
    }
    recomputed = {
        r["part"]: (r["n_rows"], r["digest"])
        for r in partition_stats(corpus["docs_source"]).collect()
    }
    assert ledger == recomputed


def test_max_violations_cap(corpus):
    """X11 guard rail: enumeration capped per (part, constraint) but
    verdict counts stay exact (no abort, partition still fails)."""
    res = validate_docs(
        corpus["docs_source"], corpus["docs_sink"], corpus["assets"],
        max_violations_per_partition=1,
    )
    per = (
        res.violations.groupBy("part", "constraint")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert per and all(r["n"] <= 1 for r in per)
    full = validate_docs(
        corpus["docs_source"], corpus["docs_sink"], corpus["assets"]
    )
    assert sorted(
        (r["part"], r["constraint"], r["n_violations"])
        for r in res.verdicts.collect()
    ) == sorted(
        (r["part"], r["constraint"], r["n_violations"])
        for r in full.verdicts.collect()
    )


def test_grid_omits_checks_that_never_ran(corpus):
    """A no-sink run must not report consistency=pass, a no-assets run
    must not report referential=pass — the grid only contains
    constraints that executed (review hardening)."""
    res = validate_docs(corpus["docs_source"], None, None)
    constraints = {r["constraint"] for r in res.verdicts.collect()}
    assert "consistency" not in constraints
    assert "referential" not in constraints
    assert {"unique", "null_text", "drift"} <= constraints
    res2 = validate_docs(corpus["docs_source"], corpus["docs_sink"], None)
    c2 = {r["constraint"] for r in res2.verdicts.collect()}
    assert "consistency" in c2 and "referential" not in c2


def test_sink_only_partition_gets_drift_fail(spark, corpus):
    """A partition wholesale-deleted from the source must appear in
    the drift rows as an explicit fail (its distribution vanished),
    not as a hole in the grid."""
    src_cut = corpus["docs_source"].filter(F.col("part") != 3)
    res = validate_docs(src_cut, corpus["docs_sink"], corpus["assets"])
    drift_rows = {
        r["part"]: r for r in res.verdicts.collect() if r["constraint"] == "drift"
    }
    assert 3 in drift_rows
    assert drift_rows[3]["status"] == "fail"
    # every partition in the universe has a drift row
    parts = {r["part"] for r in res.verdicts.collect()}
    assert set(drift_rows) == parts


def test_missing_partition_column_fails_schema_gate(corpus):
    """A typo'd partition column is a graceful schema failure, not an
    AnalysisException from the digest projection."""
    res = validate_docs(
        corpus["docs_source"].drop("part"), None, None,
        partition_col="no_such_col",
    )
    assert not res.schema_ok
    assert "no_such_col" in res.schema_message

