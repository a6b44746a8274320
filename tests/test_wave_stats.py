"""The validate wave's partition-sized results come from the digest
barrier: the ledger stats, the progress count and the verdict grid.

The grid is assembled on the driver; it must hold the same rows and
write the same parquet schema as the grid planned lazily as Spark
joins (reproduced below as the oracle), and the ledger stats must be
bit-identical to ``partition_stats`` of the raw doc bodies.
"""

import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.__main__ import main
from opengauss_tools_datachecker_performance_spark.checks.drift import (
    drift_from_profiles,
    quantile_profiles,
)
from opengauss_tools_datachecker_performance_spark.plans.lineage import (
    partition_stats,
    read_ledger,
)
from opengauss_tools_datachecker_performance_spark.plans.report import write_frames
from opengauss_tools_datachecker_performance_spark.plans.runner import (
    CONSTRAINTS,
    drift_verdicts,
    validate_docs,
)
from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
    write_digest_companion,
)
from opengauss_tools_datachecker_performance_spark.synth import write_corpus

DRIFT = 0.15


def _release(res):
    for name in ("violations_full", "digests_source", "digests_sink", "diffs"):
        if res.extras.get(name) is not None:
            res.extras[name].unpersist()


def _planned_grid(res, src, sink, assets):
    """The verdict grid as Spark joins: partitions × ran constraints
    left-joined to the violation counts, plus the drift rows and an
    explicit drift fail for each partition without a source profile."""
    parts = src.select("part")
    if sink is not None:
        parts = parts.union(sink.select("part"))
    parts = parts.distinct()
    active = [
        c for c in CONSTRAINTS
        if c != "drift"
        and (c != "consistency" or sink is not None)
        and (c != "referential" or assets is not None)
    ]
    counts = res.extras["violations_full"].groupBy("part", "constraint").agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    grid = (
        parts.select("part", F.explode(F.array(*map(F.lit, active))).alias("constraint"))
        .join(counts, ["part", "constraint"], "left")
        .withColumn("n_violations", F.coalesce("n_violations", F.lit(0)))
        .withColumn("status", F.when(F.col("n_violations") > 0, "fail").otherwise("pass"))
    )
    dv = drift_verdicts(
        drift_from_profiles(
            quantile_profiles(
                res.extras["digests_source"].select("part", F.col("text_len").alias("metric")),
                group_col="part",
            ),
            threshold=DRIFT,
        )
    )
    vanished = parts.join(dv.select("part"), "part", "left_anti").select(
        "part", F.lit("drift"), F.lit(1).cast("long"), F.lit("fail")
    )
    return sorted(tuple(r) for r in grid.union(dv).union(vanished).collect())


def _parquet_fields(report):
    f = glob.glob(os.path.join(report, "verdicts.parquet", "*.parquet"))[0]
    return [(x.name, str(x.type), x.nullable) for x in pq.read_schema(f)]


GRID_FIELDS = [
    ("part", "int32", True),
    ("constraint", "string", False),
    ("n_violations", "int64", True),
    ("status", "string", False),
]


@pytest.mark.parametrize("case", ["sink_only", "no_sink", "no_assets", "max_violations"])
def test_driver_grid_matches_planned_grid(spark, corpus, tmp_path, case):
    src, sink, assets = corpus["docs_source"], corpus["docs_sink"], corpus["assets"]
    kw = {}
    if case == "sink_only":
        src = src.filter(F.col("part") != 3)
    elif case == "no_sink":
        sink = None
    elif case == "no_assets":
        assets = None
    else:
        kw["max_violations_per_partition"] = 1
    res = validate_docs(src, sink, assets, drift_threshold=DRIFT, **kw)
    try:
        rows = sorted(tuple(r) for r in res.verdicts.collect())
        assert rows == _planned_grid(res, src, sink, assets)
        if case == "sink_only":
            assert (3, "drift", 1, "fail") in rows
        write_frames(res, str(tmp_path / "r"))
    finally:
        _release(res)
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in res.verdicts.schema.fields] == [
        ("part", "int", True), ("constraint", "string", False),
        ("n_violations", "bigint", True), ("status", "string", False),
    ]
    assert _parquet_fields(str(tmp_path / "r")) == GRID_FIELDS


def test_schema_fail_grid_unchanged(spark, corpus, tmp_path):
    res = validate_docs(corpus["docs_source"].drop("spans"), corpus["docs_sink"], None)
    assert not res.schema_ok
    assert sorted(tuple(r) for r in res.verdicts.collect()) == [
        (p, "schema", 1, "fail") for p in range(8)
    ]
    write_frames(res, str(tmp_path / "r"))
    assert _parquet_fields(str(tmp_path / "r")) == [
        ("part", "int32", True),
        ("constraint", "string", False),
        ("n_violations", "int32", False),
        ("status", "string", False),
    ]


def test_null_partition_grid_counts_its_violations(spark, corpus):
    """Docs whose partition value is NULL form one partition of the
    grid: it carries that partition's real violation counts and one
    drift row (a NULL join key matched nothing in the planned grid)."""
    nullp = F.when(F.col("part") == 2, F.lit(None).cast("int")).otherwise(F.col("part"))
    src = corpus["docs_source"].withColumn("part", nullp)
    sink = corpus["docs_sink"].withColumn("part", nullp)
    res = validate_docs(src, sink, corpus["assets"], drift_threshold=DRIFT)
    try:
        got = {
            r["constraint"]: r["n_violations"]
            for r in res.verdicts.collect() if r["part"] is None
        }
        want = {
            r["constraint"]: r["n"]
            for r in res.extras["violations_full"].filter(F.col("part").isNull())
            .groupBy("constraint").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    finally:
        _release(res)
    assert want and all(got[c] == n for c, n in want.items())
    assert sorted(got) == sorted(set(CONSTRAINTS))  # one row each, drift included


def test_barrier_fills_every_new_cache(spark, corpus):
    """The barrier's per-partition collects still materialize both
    digest frames completely (and the violation counts their cache)."""
    jsc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in jsc.getRDDStorageInfo()}
    res = validate_docs(corpus["docs_source"], corpus["docs_sink"], corpus["assets"])
    try:
        new = [i for i in jsc.getRDDStorageInfo() if i.id() not in before]
        assert len(new) >= 3  # source + sink digests, violations
        assert all(i.numCachedPartitions() == i.numPartitions() for i in new)
        n_src = res.extras["digests_source"].count()
        assert sum(r[1] for r in res.extras["partition_stats"]) == n_src
    finally:
        _release(res)


def _corpus(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=800, n_assets=60, n_partitions=4)
    return corpus


def _ledger(spark, ckpt):
    return sorted(
        tuple(r) for r in read_ledger(spark, ckpt).select("part", "n_rows", "digest").collect()
    )


def _args(corpus):
    return [
        "--source", f"{corpus}/docs_source.parquet",
        "--sink", f"{corpus}/docs_sink.parquet",
        "--assets", f"{corpus}/assets.parquet",
    ]


def test_cli_ledger_is_raw_partition_stats_in_both_modes(spark, tmp_path):
    """A raw-mode run's ledger equals partition_stats of the raw source
    bodies, and a companion-mode run records the very same rows."""
    corpus = _corpus(spark, tmp_path)
    raw = spark.read.parquet(f"{corpus}/docs_source.parquet")
    write_digest_companion(raw, f"{corpus}/comp_source")
    write_digest_companion(
        spark.read.parquet(f"{corpus}/docs_sink.parquet"), f"{corpus}/comp_sink"
    )
    main(_args(corpus) + ["--report-dir", str(tmp_path / "r_raw"),
                          "--checkpoint-dir", str(tmp_path / "c_raw")], spark=spark)
    main(_args(corpus) + ["--report-dir", str(tmp_path / "r_comp"),
                          "--checkpoint-dir", str(tmp_path / "c_comp"),
                          "--source-companion", f"{corpus}/comp_source",
                          "--sink-companion", f"{corpus}/comp_sink"], spark=spark)
    want = sorted(tuple(r) for r in partition_stats(raw).collect())
    assert len(want) == 4
    assert _ledger(spark, str(tmp_path / "c_raw")) == want
    assert _ledger(spark, str(tmp_path / "c_comp")) == want
    # the progress line counts the barrier's rows and the wave's parts
    rec = json.loads(open(tmp_path / "r_raw" / "progress.log").read().splitlines()[-1])
    assert (rec["rows_done"], rec["parts_done"]) == (raw.count(), 4)


def test_cli_chunked_ledger_matches_single_wave(spark, tmp_path):
    corpus = _corpus(spark, tmp_path)
    main(_args(corpus) + ["--report-dir", str(tmp_path / "one"),
                          "--checkpoint-dir", str(tmp_path / "c_one")], spark=spark)
    main(_args(corpus) + ["--report-dir", str(tmp_path / "chk"),
                          "--checkpoint-dir", str(tmp_path / "c_chk"),
                          "--chunk-partitions", "2"], spark=spark)
    one = _ledger(spark, str(tmp_path / "c_one"))
    assert len(one) == 4
    assert _ledger(spark, str(tmp_path / "c_chk")) == one


def test_cli_run_leaves_no_persisted_rdd_and_one_violation_file(spark, tmp_path):
    """A CLI wave releases every frame it persisted, and a small
    violation set (a union of per-check branches) lands in one file."""
    corpus = _corpus(spark, tmp_path)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    report = str(tmp_path / "r")
    rc = main(_args(corpus) + ["--report-dir", report,
                               "--checkpoint-dir", str(tmp_path / "c")], spark=spark)
    assert rc == 1
    assert set(jsc.getPersistentRDDs().keys()) <= before
    files = glob.glob(os.path.join(report, "violations.parquet", "*.parquet"))
    assert len(files) == 1
