"""Across-source exact-content overlap matrix
(operators/dedup.py source_overlap_matrix + the --source-overlap CLI
path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.operators.dedup import (
    source_overlap_matrix,
)


def _rows(df):
    return {
        (r["source_a"], r["source_b"]): r
        for r in df.collect()
    }


def test_overlap_counts_and_ratios(spark):
    # A: {x, y, z}  B: {x, y, w}  C: {q}  (normalized content sets)
    df = spark.createDataFrame(
        [
            ("A", "x common"), ("A", "y common"), ("A", "z only a"),
            ("A", "X  COMMON"),  # same fingerprint as "x common" (norm)
            ("B", "x common"), ("B", "y common"), ("B", "w only b"),
            ("C", "q alone"),
        ],
        "source string, text string",
    )
    out = _rows(source_overlap_matrix(df))
    assert set(out) == {("A", "B")}  # C shares nothing → no row
    r = out[("A", "B")]
    assert (r["n_a"], r["n_b"], r["n_shared"]) == (3, 3, 2)
    assert r["jaccard"] == "0.500000"  # 2 / (3+3-2)
    assert r["frac_a_in_b"] == "0.666667"
    assert r["frac_b_in_a"] == "0.666667"


def test_overlap_null_and_ordering(spark):
    df = spark.createDataFrame(
        [("B", "shared"), ("A", "shared"), ("A", None), (None, "shared")],
        "source string, text string",
    )
    out = _rows(source_overlap_matrix(df))
    # NULL text / NULL source rows drop; pair is emitted as (A, B)
    assert set(out) == {("A", "B")}
    assert out[("A", "B")]["n_shared"] == 1


def test_overlap_universal_fingerprint_capped_with_ledger(spark):
    # "boiler" appears in ALL 5 sources → capped out at cap=4; the
    # "pair" content appears in 2 sources and must survive
    rows = [(f"s{i}", "boiler plate") for i in range(5)]
    rows += [("s0", "pair content"), ("s1", "pair content")]
    df = spark.createDataFrame(rows, "source string, text string")
    cov: dict = {}
    out = _rows(
        source_overlap_matrix(df, max_sources_per_fp=4, coverage_out=cov)
    )
    assert set(out) == {("s0", "s1")}
    assert out[("s0", "s1")]["n_shared"] == 1
    # never silent: the dropped fingerprint is in the coverage ledger
    assert cov["overlap_dropped_fps"].count() == 1
    # per-source sizes also exclude the capped fingerprint
    assert out[("s0", "s1")]["n_a"] == 1


def test_overlap_without_ledger_releases_its_cache(spark):
    """With no coverage ledger to hand the cached (source, fp) frame
    to, the matrix releases it itself: no persisted RDD outlives the
    call, and the rows and schema equal the ledger path's."""
    df = spark.createDataFrame(
        [("A", "t1"), ("A", "t2"), ("B", "t1"), ("B", "t3"), ("C", "t2")],
        "source string, text string",
    )
    jsc = spark.sparkContext._jsc
    # entries persisted before may be garbage-collected meanwhile, so
    # the check is that no new entry appears
    before = set(jsc.getPersistentRDDs().keys())
    eager = source_overlap_matrix(df, coverage_out=None)
    rows = sorted(eager.collect())
    assert set(jsc.getPersistentRDDs().keys()) <= before
    cov: dict = {}
    lazy = source_overlap_matrix(df, coverage_out=cov)
    try:
        assert eager.schema == lazy.schema
        assert rows == sorted(lazy.collect())
    finally:
        for frame in cov["persisted"]:
            frame.unpersist()
    assert set(jsc.getPersistentRDDs().keys()) <= before


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_overlap_same_result_both_aqe_settings(spark, aqe):
    df = spark.createDataFrame(
        [("A", "t1"), ("A", "t2"), ("B", "t1"), ("B", "t3")],
        "source string, text string",
    )
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        out = _rows(source_overlap_matrix(df))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert out[("A", "B")]["jaccard"] == "0.333333"


def test_cli_source_overlap(spark, tmp_path):
    import os

    from opengauss_tools_datachecker_performance_spark.__main__ import main
    from opengauss_tools_datachecker_performance_spark.synth import write_corpus

    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=400, n_assets=40, n_partitions=2)
    flat = str(tmp_path / "flat.parquet")
    spark.createDataFrame(
        [("A", "dup text"), ("A", "a only"), ("B", "dup text")],
        "source string, text string",
    ).write.parquet(flat)
    report = str(tmp_path / "report")
    rc = main(
        [
            "--source", f"{corpus}/docs_source.parquet",
            "--sink", f"{corpus}/docs_sink.parquet",
            "--report-dir", report,
            "--source-overlap", flat,
        ],
        spark=spark,
    )
    assert rc in (0, 1)  # seeded corpus verdict; overlap must not crash
    got = spark.read.parquet(os.path.join(report, "source_overlap.parquet"))
    r = got.collect()[0]
    assert (r["source_a"], r["source_b"], r["n_shared"]) == ("A", "B", 1)
    # a later run WITHOUT the flag must clear the stale frame
    main(
        ["--source", f"{corpus}/docs_source.parquet", "--report-dir", report],
        spark=spark,
    )
    assert not os.path.isdir(os.path.join(report, "source_overlap.parquet"))


def test_cli_source_overlap_malformed_spec_is_argparse_error():
    from opengauss_tools_datachecker_performance_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(
            [
                "--source", "s.parquet",
                "--report-dir", "out",
                "--source-overlap", ":src:text",  # empty TABLE
            ]
        )
    assert exc.value.code == 2


# --- randomized property: Spark matrix == pure-Python brute force ------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _norm(t: str) -> str:
    import re as _re

    return _re.sub(r"\s+", " ", t.lower()).strip()


@st.composite
def _corpus(draw):
    n_sources = draw(st.integers(1, 5))
    texts = [f"t{i} body" for i in range(6)] + ["T3  BODY"]  # norm collision
    rows = []
    for s in range(n_sources):
        for _ in range(draw(st.integers(0, 6))):
            rows.append((f"s{s}", draw(st.sampled_from(texts))))
    return rows


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_corpus())
def test_overlap_matches_python_brute_force(spark, rows):
    # pure-Python oracle: distinct normalized-content sets per source
    sets: dict[str, set] = {}
    for s, t in rows:
        sets.setdefault(s, set()).add(_norm(t))
    want = {}
    srcs = sorted(sets)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                want[(a, b)] = (
                    len(sets[a]), len(sets[b]), inter,
                    round(inter / len(sets[a] | sets[b]), 6),
                )
    if not rows:
        return
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        (r["source_a"], r["source_b"]): (
            r["n_a"], r["n_b"], r["n_shared"], float(r["jaccard"])
        )
        for r in source_overlap_matrix(df).collect()
    }
    assert got.keys() == want.keys(), (rows, got, want)
    for k, (na, nb, sh, jac) in want.items():
        gna, gnb, gsh, gjac = got[k]
        assert (gna, gnb, gsh) == (na, nb, sh), (k, rows)
        assert abs(gjac - jac) < 1e-6, (k, rows)
