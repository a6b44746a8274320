"""Partition values of any type, NULL included, in every CLI mode.

The reference slices on any slice or primary-key column; Iceberg tables
are usually partitioned by date or string. One synth corpus is written
under four labelings of its partitions 0..3 — int, and int, string and
date each with a NULL partition — and run through every CLI mode.
Relabeling partitions changes no verdict, so each cell's verdict grid,
mapped back to the int labels, must equal the plain int run's.
"""

import datetime
import json
import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.__main__ import _DRIFT_CHUNK, main
from opengauss_tools_datachecker_performance_spark.plans.lineage import (
    ledger_path,
    read_ledger,
)
from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
    digest_companion_frame,
    update_digest_companion,
    write_digest_companion,
)
from opengauss_tools_datachecker_performance_spark.synth import write_corpus

_D = datetime.date
LABELS = {
    "int": {0: 0, 1: 1, 2: 2, 3: 3},
    "int_null": {0: 0, 1: 1, 2: None, 3: 3},
    # "a/b c" is not path-safe: its directory is Spark-escaped
    "string_null": {0: "p0", 1: "a/b c", 2: None, 3: "p3"},
    "date_null": {0: _D(2024, 1, 1), 1: _D(2024, 1, 2), 2: None, 3: _D(2024, 1, 4)},
}
MODES = ["plain", "checkpoint", "companion", "chunked_resume"]


def _relabel(col, labels: dict):
    out = F.lit(None)
    for old, new in labels.items():
        if new is not None:
            out = F.when(col == old, F.lit(new)).otherwise(out)
    return out


@pytest.fixture(scope="module")
def corpora(spark, tmp_path_factory):
    """{labeling: dir holding docs_source/docs_sink (partitioned by the
    relabeled ``part``), their digest companions and the assets}."""
    base = tmp_path_factory.mktemp("partition_types")
    write_corpus(spark, str(base / "int"), n_docs=200, n_assets=30, n_partitions=4)
    out = {"int": str(base / "int")}
    for name, labels in LABELS.items():
        d = str(base / name)
        if name != "int":
            for side in ("docs_source", "docs_sink"):
                spark.read.parquet(f"{out['int']}/{side}.parquet").withColumn(
                    "part", _relabel(F.col("part"), labels)
                ).write.partitionBy("part").parquet(f"{d}/{side}.parquet")
        for side in ("docs_source", "docs_sink"):
            write_digest_companion(
                spark.read.parquet(f"{d}/{side}.parquet"), f"{d}/comp_{side}"
            )
        out[name] = d
    return out


def _args(d: str, report: str) -> list[str]:
    # the assets table has no partition column: the int corpus's serves all
    return [
        "--source", f"{d}/docs_source.parquet",
        "--sink", f"{d}/docs_sink.parquet",
        "--assets", os.path.join(os.path.dirname(d), "int", "assets.parquet"),
        "--report-dir", report,
    ]


def _grid(spark, report: str, labels: dict) -> set:
    back = {new: old for old, new in labels.items()}
    return {
        (back[r["part"]], r["constraint"], r["n_violations"], r["status"])
        for r in spark.read.parquet(f"{report}/verdicts.parquet")
        .select("part", "constraint", "n_violations", "status")
        .collect()
    }


def _drop_last_wave(report: str, ckpt: str) -> None:
    """Rewind a finished chunked run to one killed before its last
    wave's lineage: that wave's ledger rows (the latest wall_ts), its
    chunk dirs, the drift rollup and the summary go."""
    ledger = ledger_path(ckpt)
    table = pq.read_table(ledger)
    last = pc.max(table["wall_ts"])
    undone = set(table.filter(pc.equal(table["wall_ts"], last))["part"].to_pylist())
    kept = table.filter(pc.less(table["wall_ts"], last))
    shutil.rmtree(ledger)
    os.makedirs(ledger)
    pq.write_table(kept, os.path.join(ledger, "part-0.parquet"))
    # chunk ids are not ordered like waves: find the wave's by its parts
    verdicts = os.path.join(report, "verdicts.parquet")
    drift = f"chunk={_DRIFT_CHUNK}"
    (chunk,) = [
        e
        for e in os.listdir(verdicts)
        if e.startswith("chunk=") and e != drift
        and set(pq.read_table(os.path.join(verdicts, e))["part"].to_pylist()) & undone
    ]
    for frame in ("violations.parquet", "verdicts.parquet", "drift_profiles.parquet"):
        shutil.rmtree(os.path.join(report, frame, chunk))
    shutil.rmtree(os.path.join(verdicts, drift))
    os.remove(os.path.join(report, "summary.json"))


@pytest.fixture(scope="module")
def int_grid(spark, corpora, tmp_path_factory):
    """The oracle, and the matrix's (int, plain) cell."""
    report = str(tmp_path_factory.mktemp("int_plain") / "report")
    assert main(_args(corpora["int"], report), spark=spark) == 1
    return _grid(spark, report, LABELS["int"])


@pytest.mark.parametrize(
    "labeling,mode",
    [(lab, mode) for lab in LABELS for mode in MODES if (lab, mode) != ("int", "plain")],
)
def test_partition_type_matrix(spark, corpora, int_grid, tmp_path, labeling, mode):
    d = corpora[labeling]
    report, ckpt = str(tmp_path / "report"), str(tmp_path / "ckpt")
    args = _args(d, report)
    if mode == "checkpoint":
        args += ["--checkpoint-dir", ckpt]
    elif mode == "companion":
        args += [
            "--source-companion", f"{d}/comp_docs_source",
            "--sink-companion", f"{d}/comp_docs_sink",
        ]
    elif mode == "chunked_resume":
        args += ["--chunk-partitions", "2", "--checkpoint-dir", ckpt]
        assert main(args, spark=spark) == 1
        _drop_last_wave(report, ckpt)
        args += ["--resume"]
    assert main(args, spark=spark) == 1
    assert _grid(spark, report, LABELS[labeling]) == int_grid
    summary = json.load(open(os.path.join(report, "summary.json")))
    assert summary["result"] == "failed"
    if mode in ("checkpoint", "chunked_resume"):
        ledger = read_ledger(spark, ckpt)
        table_part = spark.read.parquet(f"{d}/docs_source.parquet").schema["part"]
        assert ledger.schema["part"].dataType == table_part.dataType
        done = {r["part"] for r in ledger.collect()}
        assert done == set(LABELS[labeling].values())


@pytest.mark.parametrize("labeling", ["int", "string_null"])
def test_chunked_resume_after_finished_partitions_dropped(
    spark, corpora, int_grid, tmp_path, labeling
):
    """The finished wave's partitions, which sort before the pending
    ones, are dropped between a killed chunked run and its resume: the
    pending wave's chunk id depends on its own first value, so it does
    not overwrite the finished wave's dir."""
    d = corpora[labeling]
    report, ckpt = str(tmp_path / "report"), str(tmp_path / "ckpt")
    chunked = ["--chunk-partitions", "2", "--checkpoint-dir", ckpt]
    assert main(_args(d, report) + chunked, spark=spark) == 1
    _drop_last_wave(report, ckpt)
    dropped = sorted(v for v in LABELS[labeling].values() if v is not None)[:2]
    fewer = f"{d}_finished_dropped"  # beside the corpora, for the int assets
    for side in ("docs_source", "docs_sink"):
        spark.read.parquet(f"{d}/{side}.parquet").filter(
            F.col("part").isNull() | ~F.col("part").isin(dropped)
        ).write.partitionBy("part").parquet(f"{fewer}/{side}.parquet")
    assert main(_args(fewer, report) + chunked + ["--resume"], spark=spark) == 1
    # both waves' verdicts, the dropped partitions' first-run ones too
    assert _grid(spark, report, LABELS[labeling]) == int_grid
    assert spark.read.parquet(f"{report}/verdicts.parquet").count() == len(int_grid)


def test_resume_refuses_ledger_of_another_part_type(spark, corpora, tmp_path, capsys):
    """A --resume over a ledger whose part type differs from the
    table's exits 2 before any wave runs, naming both types."""
    ckpt = str(tmp_path / "ckpt")
    first = str(tmp_path / "first")
    assert main(
        _args(corpora["int"], first) + ["--checkpoint-dir", ckpt], spark=spark
    ) == 1
    report = str(tmp_path / "report")
    capsys.readouterr()
    rc = main(
        _args(corpora["string_null"], report)
        + ["--checkpoint-dir", ckpt, "--resume", "--chunk-partitions", "2"],
        spark=spark,
    )
    assert rc == 2
    err = capsys.readouterr().err
    assert "int" in err and "string" in err
    assert not os.path.exists(report)


def test_read_ledger_raises_on_corrupt_file(spark, tmp_path):
    """Only a ledger with no committed file reads as empty; an
    unreadable one raises instead of making every partition pending."""
    ckpt = str(tmp_path / "ckpt")
    assert read_ledger(spark, ckpt).count() == 0
    # a first append killed before its commit leaves only _temporary
    os.makedirs(os.path.join(ledger_path(ckpt), "_temporary"))
    assert read_ledger(spark, ckpt).count() == 0
    with open(os.path.join(ledger_path(ckpt), "part-0.parquet"), "w") as fh:
        fh.write("not a parquet file")
    with pytest.raises(Exception):
        read_ledger(spark, ckpt).collect()


def test_companion_update_null_and_unsafe_partitions(spark, tmp_path):
    """update_digest_companion rewrites the NULL partition and one whose
    value is not path-safe: afterwards the companion equals the digest
    frame of the updated docs."""
    docs_schema = (
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
        "part string"
    )
    parts = ["p0", "a/b c", None]
    docs = {f"d{i}": (f"text {i}", parts[i % 3]) for i in range(12)}

    def frame(rows):
        return spark.createDataFrame(
            [(k, [("text", t, None, 0)], p) for k, (t, p) in rows.items()], docs_schema
        )

    comp = str(tmp_path / "comp")
    write_digest_companion(frame(docs), comp)
    changed = {"d1": ("changed 1", "a/b c"), "d2": ("changed 2", None)}
    updated = dict(docs, **changed)
    rewritten = update_digest_companion(spark, comp, upserts=frame(changed))
    assert rewritten == ["a/b c", None]

    def contents(df):
        return {tuple(r) for r in df.select("key", "part", "v_hash").collect()}

    assert contents(spark.read.parquet(comp)) == contents(
        digest_companion_frame(frame(updated))
    )
