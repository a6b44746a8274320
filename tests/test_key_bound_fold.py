"""Key-bound signature folds: content that moves between keys is a change.

Bucket signatures, the two-phase diff's prune and the per-partition
lineage digest all fold digest.signature_fold, i.e. the XOR of
xxhash64(k_hash, v_hash) — like the reference's vHash, which hashes the
key columns too (RowDataHash.java:34-65). A fold of v_hash alone reads
two docs that swap contents, or two equal-content docs rewritten the
same way, as equal.
"""

import json
import os

import pyspark.sql.functions as F

from opengauss_tools_datachecker_performance_spark.__main__ import main
from opengauss_tools_datachecker_performance_spark.digest import (
    bucket_of,
    doc_digests,
)
from opengauss_tools_datachecker_performance_spark.functions.hashing import k_hash
from opengauss_tools_datachecker_performance_spark.operators.diff import diff_digests
from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
    write_digest_companion,
)

DOCS = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "part int"
)


def _docs(spark, texts: dict, parts: dict):
    """doc_id → one text span, partitioned by ``parts[doc_id]``."""
    return spark.createDataFrame(
        [(k, [("text", t, None, 0)], parts[k]) for k, t in texts.items()], DOCS
    )


def _same_bucket_pair(spark) -> tuple[str, str]:
    """Two doc ids that share a bucket at the default bucket count."""
    key = F.concat(F.lit("doc-"), F.col("id").cast("string"))
    row = (
        spark.range(4000)
        .select(key.alias("k"), bucket_of(k_hash(key)).alias("b"))
        .groupBy("b")
        .agg(F.sort_array(F.collect_list("k")).alias("ks"))
        .filter(F.size("ks") >= 2)
        .orderBy("b")
        .first()
    )
    return row["ks"][0], row["ks"][1]


def _corpus(a: str, b: str) -> tuple[dict, dict]:
    """20 filler docs over 2 partitions plus ``a`` and ``b`` in part 0."""
    texts = {f"f{i:02d}": f"filler text {i}" for i in range(20)}
    texts.update({a: "alpha alpha", b: "beta beta beta"})
    parts = {k: (0 if k in (a, b) else int(k[1:]) % 2) for k in texts}
    return texts, parts


def _updates(diffs) -> set:
    return {r["key"] for r in diffs.filter(F.col("diff_type") == "update").collect()}


def _write(df, path: str) -> str:
    df.write.mode("overwrite").partitionBy("part").parquet(path)
    return path


def test_two_phase_diff_catches_swapped_contents(spark):
    texts = {"a": "one", "b": "two", "c": "three"}
    sink = dict(texts, a="two", b="one")
    parts = dict.fromkeys(texts, 0)
    for n in (1, 4):
        got = diff_digests(
            doc_digests(_docs(spark, texts, parts), num_buckets=n),
            doc_digests(_docs(spark, sink, parts), num_buckets=n),
            two_phase=True,
        )
        assert _updates(got) == {"a", "b"}, n


def test_two_phase_diff_catches_equal_docs_changed_alike(spark):
    texts = {"a": "same", "b": "same", "c": "other"}
    sink = dict(texts, a="changed", b="changed")
    parts = dict.fromkeys(texts, 0)
    got = diff_digests(
        doc_digests(_docs(spark, texts, parts), num_buckets=1),
        doc_digests(_docs(spark, sink, parts), num_buckets=1),
        two_phase=True,
    )
    assert _updates(got) == {"a", "b"}


def test_cli_reports_swap_in_one_bucket(spark, tmp_path):
    a, b = _same_bucket_pair(spark)
    texts, parts = _corpus(a, b)
    src = _write(_docs(spark, texts, parts), str(tmp_path / "src"))
    swapped = dict(texts, **{a: texts[b], b: texts[a]})
    snk = _write(_docs(spark, swapped, parts), str(tmp_path / "snk"))
    report = str(tmp_path / "report")
    rc = main(["--source", src, "--sink", snk, "--report-dir", report], spark=spark)
    assert rc == 1
    summary = json.load(open(os.path.join(report, "summary.json")))
    assert summary["constraints"]["consistency"]["n_violations"] == 2
    shown = summary["display_keys"]["consistency:update"]
    assert {d["key"] for d in shown} == {a, b}


def test_companion_full_audit_catches_swap_in_partition(spark, tmp_path):
    """A companion written before two docs of one partition swapped
    contents is stale: --companion-audit full aborts and names the
    partition."""
    texts, parts = _corpus("x", "y")
    comp = str(tmp_path / "comp")
    write_digest_companion(_docs(spark, texts, parts), comp)
    swapped = dict(texts, x=texts["y"], y=texts["x"])
    src = _write(_docs(spark, swapped, parts), str(tmp_path / "src"))
    report = str(tmp_path / "report")
    rc = main(
        [
            "--source", src, "--report-dir", report,
            "--source-companion", comp, "--companion-audit", "full",
        ],
        spark=spark,
    )
    assert rc == 2
    stale = spark.read.parquet(os.path.join(report, "companion_stale.parquet"))
    assert [(r["part"], r["reason"]) for r in stale.collect()] == [(0, "digest")]


def test_pre_fold_ledger_reads_unaudited(spark, tmp_path):
    """A ledger written before its rows carried a fold version holds
    digests of the key-free fold: the ledger audit treats those
    partitions as unaudited (no abort), and the run's own ledger rows
    carry the current version."""
    from opengauss_tools_datachecker_performance_spark.digest import (
        FOLD_VERSION,
        _enriched_digests,
    )
    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        ledger_path,
        read_ledger,
    )

    texts, parts = _corpus("x", "y")
    docs = _docs(spark, texts, parts)
    src = _write(docs, str(tmp_path / "src"))
    comp = str(tmp_path / "comp")
    write_digest_companion(docs, comp)
    ckpt = str(tmp_path / "ckpt")
    _enriched_digests(docs).groupBy("part").agg(
        F.count(F.lit(1)).alias("n_rows"), F.bit_xor("v_hash").alias("digest")
    ).select(
        F.lit("old-run").alias("run_id"),
        "part",
        "n_rows",
        "digest",
        F.lit("done").alias("status"),
        F.lit(0.0).alias("wall_ts"),
    ).write.parquet(ledger_path(ckpt))
    report = str(tmp_path / "report")
    rc = main(
        [
            "--source", src, "--report-dir", report, "--checkpoint-dir", ckpt,
            "--source-companion", comp, "--companion-audit", "ledger",
        ],
        spark=spark,
    )
    assert rc in (0, 1)
    assert not os.path.exists(os.path.join(report, "companion_stale.parquet"))
    folds = {
        (r["run_id"] == "old-run", r["fold"]) for r in read_ledger(spark, ckpt).collect()
    }
    assert folds == {(True, None), (False, FOLD_VERSION)}
