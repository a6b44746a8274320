"""spark-submit entrypoint: full lifecycle incl. kill-and-resume."""

import json
import os

import pytest

from opengauss_tools_datachecker_performance_spark.__main__ import main
from opengauss_tools_datachecker_performance_spark.synth import write_corpus


def _setup(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=800, n_assets=60, n_partitions=4)
    return corpus


def test_cli_full_run(spark, tmp_path):
    corpus = _setup(spark, tmp_path)
    report = str(tmp_path / "report")
    rc = main(
        [
            "--source", f"{corpus}/docs_source.parquet",
            "--sink", f"{corpus}/docs_sink.parquet",
            "--assets", f"{corpus}/assets.parquet",
            "--report-dir", report,
        ],
        spark=spark,
    )
    assert rc == 1  # seeded violations must fail the run
    summary = json.load(open(os.path.join(report, "summary.json")))
    assert summary["result"] == "failed"
    assert summary["constraints"]["consistency"]["n_violations"] > 0
    assert os.path.exists(os.path.join(report, "violations.parquet"))


def test_cli_resume_skips_done(spark, tmp_path):
    corpus = _setup(spark, tmp_path)
    report = str(tmp_path / "r1")
    ckpt = str(tmp_path / "ckpt")
    args = [
        "--source", f"{corpus}/docs_source.parquet",
        "--sink", f"{corpus}/docs_sink.parquet",
        "--assets", f"{corpus}/assets.parquet",
        "--checkpoint-dir", ckpt,
    ]
    main(args + ["--report-dir", report], spark=spark)
    # every partition is now 'done' → a resumed run validates nothing
    rc = main(
        args + ["--report-dir", str(tmp_path / "r2"), "--resume"], spark=spark
    )
    assert rc == 0
    assert not os.path.exists(os.path.join(str(tmp_path / "r2"), "summary.json"))


def test_cli_chunked_waves_match_single_shot(spark, tmp_path):
    """--chunk-partitions waves must produce the same verdicts and
    summary totals as one wave, with per-wave lineage appended."""
    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        completed_partitions,
    )

    corpus = _setup(spark, tmp_path)
    args = [
        "--source", f"{corpus}/docs_source.parquet",
        "--sink", f"{corpus}/docs_sink.parquet",
        "--assets", f"{corpus}/assets.parquet",
    ]
    r_one = str(tmp_path / "one")
    r_chk = str(tmp_path / "chk")
    ckpt = str(tmp_path / "ckpt_chk")
    main(args + ["--report-dir", r_one], spark=spark)
    main(
        args + ["--report-dir", r_chk, "--chunk-partitions", "2",
                "--checkpoint-dir", ckpt],
        spark=spark,
    )
    assert completed_partitions(spark, ckpt) == {0, 1, 2, 3}
    s_one = json.load(open(os.path.join(r_one, "summary.json")))
    s_chk = json.load(open(os.path.join(r_chk, "summary.json")))
    assert s_one["constraints"] == s_chk["constraints"]
    ver_one = {
        tuple(r) for r in spark.read.parquet(f"{r_one}/verdicts.parquet")
        .select("part", "constraint", "n_violations", "status").collect()
    }
    ver_chk = {
        tuple(r) for r in spark.read.parquet(f"{r_chk}/verdicts.parquet")
        .select("part", "constraint", "n_violations", "status").collect()
    }
    assert ver_one == ver_chk


def test_cli_resume_final_wave_keeps_earlier_chunks(spark, tmp_path):
    """A resumed chunked run whose pending set fits in ONE wave must
    stay in chunked layout: the final wave may not overwrite the base
    report dirs (deleting every earlier wave) and the run-global drift
    rollup must still happen."""
    import shutil

    from opengauss_tools_datachecker_performance_spark.__main__ import _DRIFT_CHUNK
    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        partition_stats,
        record_partitions,
    )

    corpus = _setup(spark, tmp_path)
    args = [
        "--source", f"{corpus}/docs_source.parquet",
        "--sink", f"{corpus}/docs_sink.parquet",
        "--assets", f"{corpus}/assets.parquet",
    ]
    r_one = str(tmp_path / "one")
    main(args + ["--report-dir", r_one], spark=spark)
    s_one = json.load(open(os.path.join(r_one, "summary.json")))

    # complete chunked run, then rewind to "killed after wave 1":
    # drop wave-2 frames + rollups, and a ledger that only has parts 0,1
    report = str(tmp_path / "chunked")
    main(args + ["--report-dir", report, "--chunk-partitions", "2"], spark=spark)
    for sub in (
        "violations.parquet/chunk=2",
        "verdicts.parquet/chunk=2",
        f"verdicts.parquet/chunk={_DRIFT_CHUNK}",
        "drift_profiles.parquet/chunk=2",
    ):
        shutil.rmtree(os.path.join(report, sub), ignore_errors=True)
    os.remove(os.path.join(report, "summary.json"))
    ckpt = str(tmp_path / "ckpt_wave1")
    src = spark.read.parquet(f"{corpus}/docs_source.parquet")
    record_partitions(
        spark, ckpt, "wave-1", partition_stats(src.filter("part < 2"))
    )

    # resume: pending = [2, 3] fits exactly one wave of 2
    rc = main(
        args + ["--report-dir", report, "--chunk-partitions", "2",
                "--checkpoint-dir", ckpt, "--resume"],
        spark=spark,
    )
    assert rc == 1
    # wave-1 frames survived and the merged report equals the single shot
    assert os.path.isdir(os.path.join(report, "violations.parquet", "chunk=0"))
    assert os.path.isdir(
        os.path.join(report, "verdicts.parquet", f"chunk={_DRIFT_CHUNK}")
    )
    s_chk = json.load(open(os.path.join(report, "summary.json")))
    assert s_one["constraints"] == s_chk["constraints"]
    parts = {
        r[0]
        for r in spark.read.parquet(f"{report}/verdicts.parquet")
        .select("part").distinct().collect()
    }
    assert parts == {0, 1, 2, 3}


def test_cli_sink_only_partition_is_validated(spark, tmp_path):
    """A partition wholesale-deleted from the source (present only in
    the sink) must still be validated in chunked mode — its docs are
    all 'delete' diffs."""
    corpus = _setup(spark, tmp_path)
    src_cut = str(tmp_path / "src_cut.parquet")
    spark.read.parquet(f"{corpus}/docs_source.parquet").filter(
        "part <> 3"
    ).write.parquet(src_cut)
    report = str(tmp_path / "report_cut")
    rc = main(
        [
            "--source", src_cut,
            "--sink", f"{corpus}/docs_sink.parquet",
            "--assets", f"{corpus}/assets.parquet",
            "--report-dir", report,
            "--chunk-partitions", "2",
        ],
        spark=spark,
    )
    assert rc == 1
    v = spark.read.parquet(f"{report}/violations.parquet")
    deletes3 = v.filter(
        "part = 3 AND constraint = 'consistency' AND detail = 'delete'"
    ).count()
    sink3 = (
        spark.read.parquet(f"{corpus}/docs_sink.parquet")
        .filter("part = 3")
        .count()
    )
    assert deletes3 == sink3
    parts = {
        r[0]
        for r in spark.read.parquet(f"{report}/verdicts.parquet")
        .select("part").distinct().collect()
    }
    assert 3 in parts


def test_cli_null_partition_is_reported(spark, tmp_path):
    """A NULL partition value on both sides: a --checkpoint-dir run
    (a plain run's report path plus the ledger write) finishes with a
    verdict, and summary.json lists the NULL partition among the
    failed ones."""
    from pyspark.sql import functions as F

    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=400, n_assets=40, n_partitions=4)
    sides = {}
    for side in ("docs_source", "docs_sink"):
        sides[side] = str(tmp_path / f"{side}_null.parquet")
        spark.read.parquet(f"{corpus}/{side}.parquet").withColumn(
            "part", F.when(F.col("part") != 2, F.col("part"))
        ).write.partitionBy("part").parquet(sides[side])
    report = str(tmp_path / "report")
    args = [
        "--source", sides["docs_source"],
        "--sink", sides["docs_sink"],
        "--assets", f"{corpus}/assets.parquet",
        "--report-dir", report,
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ]
    assert main(args, spark=spark) == 1
    summary = json.load(open(os.path.join(report, "summary.json")))
    failed = summary["constraints"]["consistency"]["failed_partitions"]
    assert failed[-1] is None and None not in failed[:-1]


def test_cli_kill_and_resume(tmp_path):
    """Real kill -9 mid-run: the resumed process must finish ONLY the
    pending waves and the merged report must equal a clean run's."""
    import signal
    import subprocess
    import sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    corpus = str(tmp_path / "corpus")
    # every child session gets a small heap: the default is a 12g
    # pre-touched heap, which does not fit beside the suite's own
    # session on a 15 GB host ("Java gateway process exited")
    env = dict(os.environ, SPARK_GRAFT_SHUFFLE_PARTITIONS="8",
               SPARK_GRAFT_DRIVER_MEM="2g")
    # generate via a subprocess session so the test session's master
    # settings don't matter
    gen = subprocess.run(
        [sys.executable, "-c", (
            "import sys; sys.path.insert(0, %r); "
            "from opengauss_tools_datachecker_performance_spark import get_spark; "
            "from opengauss_tools_datachecker_performance_spark.synth import write_corpus; "
            "s = get_spark(app_name='gen', master='local[4]', shuffle_partitions=8); "
            "write_corpus(s, %r, n_docs=3000, n_assets=100, n_partitions=8); s.stop()"
        ) % (repo, corpus)],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert gen.returncode == 0, gen.stderr[-2000:]
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    cmd = [
        sys.executable, "-m", "opengauss_tools_datachecker_performance_spark",
        "--source", f"{corpus}/docs_source.parquet",
        "--sink", f"{corpus}/docs_sink.parquet",
        "--assets", f"{corpus}/assets.parquet",
        "--report-dir", report, "--checkpoint-dir", ckpt,
        "--chunk-partitions", "2", "--resume",
        "--master", "local[4]",
    ]
    p = subprocess.Popen(cmd, cwd=repo, env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True)
    # kill as soon as the first wave's lineage lands on disk
    ledger = os.path.join(ckpt, "partition_ledger.parquet")
    deadline = time.monotonic() + 240
    while time.monotonic() < deadline:
        if os.path.isdir(ledger) and any(
            f.endswith(".parquet") for f in os.listdir(ledger)
        ):
            break
        if p.poll() is not None:
            break
        time.sleep(0.3)
    killed_midway = p.poll() is None
    if killed_midway:
        p.send_signal(signal.SIGKILL)
    p.wait(timeout=60)

    # resume: must complete the remaining waves and exit by verdict
    out = subprocess.run(cmd, cwd=repo, env=env, capture_output=True,
                         text=True, timeout=600)
    assert out.returncode in (0, 1), out.stderr[-2000:]
    if killed_midway:
        assert "[resume]" in out.stdout and "pending" in out.stdout
    summary = json.load(open(os.path.join(report, "summary.json")))
    # the corpus seeds violations → merged report must show them all
    assert summary["result"] == "failed"
    assert summary["constraints"]["consistency"]["n_violations"] > 0
    # verdict grid complete across ALL 8 partitions despite the kill
    import duckdb
    parts = {
        r[0] for r in duckdb.sql(
            f"SELECT DISTINCT part FROM '{report}/verdicts.parquet/**/*.parquet'"
        ).fetchall()
    }
    assert parts == set(range(8))


def test_cli_emit_repair(spark, tmp_path):
    corpus = _setup(spark, tmp_path)
    report = str(tmp_path / "report_repair")
    rc = main(
        [
            "--source", f"{corpus}/docs_source.parquet",
            "--sink", f"{corpus}/docs_sink.parquet",
            "--assets", f"{corpus}/assets.parquet",
            "--report-dir", report,
            "--emit-repair", "--repair-batch-size", "7",
        ],
        spark=spark,
    )
    assert rc == 1
    stmts = [
        r[0]
        for r in spark.read.text(os.path.join(report, "repair.sql")).collect()
    ]
    merges = [s for s in stmts if s.startswith("MERGE INTO")]
    deletes = [s for s in stmts if s.startswith("DELETE FROM")]
    assert merges and deletes
    # every statement is batched: ≤7 keys per IN list
    for s in stmts:
        inner = s.split(" IN (", 1)[1].split(")", 1)[0]
        assert 1 <= inner.count("'") // 2 <= 7
    # statement key sets must exactly match the diff classification
    from opengauss_tools_datachecker_performance_spark.operators.diff import (
        diff_docs,
    )

    src = spark.read.parquet(f"{corpus}/docs_source.parquet")
    sink = spark.read.parquet(f"{corpus}/docs_sink.parquet")
    diffs = {
        r["key"]: r["diff_type"] for r in diff_docs(src, sink).collect()
    }
    want_upsert = {k for k, t in diffs.items() if t in ("insert", "update")}
    want_delete = {k for k, t in diffs.items() if t == "delete"}

    def keys_of(stmts_list):
        out = set()
        for s in stmts_list:
            inner = s.split(" IN (", 1)[1].split(")", 1)[0]
            out.update(x.strip().strip("'") for x in inner.split(","))
        return out

    assert keys_of(merges) == want_upsert
    assert keys_of(deletes) == want_delete
    # upserts pull whole docs from the authoritative source side
    assert all("USING (SELECT * FROM " in s for s in merges)


def test_cli_progress_log(spark, tmp_path):
    """Every wave appends a rows/s progress line (ProgressService.java
    analogue): cumulative counts monotone, rates present."""
    corpus = _setup(spark, tmp_path)
    report = str(tmp_path / "report_prog")
    main(
        [
            "--source", f"{corpus}/docs_source.parquet",
            "--sink", f"{corpus}/docs_sink.parquet",
            "--assets", f"{corpus}/assets.parquet",
            "--report-dir", report,
            "--chunk-partitions", "2",
        ],
        spark=spark,
    )
    lines = [
        json.loads(x)
        for x in open(os.path.join(report, "progress.log")).read().splitlines()
    ]
    assert len(lines) == 2  # 4 partitions / waves of 2
    assert lines[-1]["parts_done"] == 4
    src_rows = spark.read.parquet(f"{corpus}/docs_source.parquet").count()
    assert lines[-1]["rows_done"] == src_rows
    assert all(l["avg_rows_per_sec"] > 0 and l["tick_rows_per_sec"] > 0 for l in lines)
    assert lines[0]["rows_done"] < lines[1]["rows_done"]


def test_cli_corpus_stats_section(spark, tmp_path):
    corpus = _setup(spark, tmp_path)
    report = str(tmp_path / "report_cs")
    rc = main(
        [
            "--source", f"{corpus}/docs_source.parquet",
            "--report-dir", report,
            "--corpus-stats-table", f"{corpus}/docs_source.parquet",
            "--corpus-stats-top-k", "25",
            "--lm-surprisal",
            "--token-budget", "5000",
        ],
        spark=spark,
    )
    assert rc in (0, 1)
    summary = json.load(open(os.path.join(report, "summary.json")))
    cs = summary["corpus_stats"]
    assert cs["top_k"] == 25 and cs["n_terms"] == 25
    assert cs["topk_token_occurrences"] > 0
    lm = cs["lm_surprisal"]
    assert lm["n_scored"] > 0 and lm["mean_avg_bits"] > 0
    # frames written next to the report
    import pyspark.sql.functions as F  # noqa: F401

    vocab = spark.read.parquet(os.path.join(report, "vocab_stats.parquet"))
    assert vocab.count() == 25
    scores = spark.read.parquet(os.path.join(report, "lm_surprisal.parquet"))
    assert scores.filter("surprisal_bits < 0").count() == 0
    bp = cs["budget_prune"]
    assert bp["token_budget"] == 5000
    assert bp["n_kept"] > 0 and bp["kept_tokens"] <= 5000
    plan = spark.read.parquet(os.path.join(report, "budget_prune.parquet"))
    assert plan.count() == bp["n_kept"] + bp["n_dropped"] == lm["n_scored"]
    # kept set = exactly the best-ranked prefix
    worst_kept = plan.filter("kept").agg({"rank": "max"}).collect()[0][0]
    assert plan.filter(f"NOT kept AND rank <= {worst_kept}").count() == 0
    # a later run WITHOUT the flags must clear the stale frames
    main(
        ["--source", f"{corpus}/docs_source.parquet", "--report-dir", report],
        spark=spark,
    )
    for frame in (
        "vocab_stats.parquet",
        "lm_surprisal.parquet",
        "budget_prune.parquet",
    ):
        assert not os.path.isdir(os.path.join(report, frame)), frame
    assert "corpus_stats" not in json.load(
        open(os.path.join(report, "summary.json"))
    )


def test_cli_interleaved_audit_and_snapshot_delta(spark, tmp_path):
    corpus = _setup(spark, tmp_path)
    # "old snapshot" = digest companion of the source side
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        write_digest_companion,
    )

    old_comp = str(tmp_path / "old_companion.parquet")
    write_digest_companion(
        spark.read.parquet(f"{corpus}/docs_source.parquet"), old_comp
    )
    report = str(tmp_path / "report_ia")
    rc = main(
        [
            "--source", f"{corpus}/docs_sink.parquet",  # mutated "now"
            "--report-dir", report,
            "--interleaved-audit",
            "--interleaved-min-words", "2",
            "--snapshot-delta", old_comp,
        ],
        spark=spark,
    )
    assert rc in (0, 1)
    summary = json.load(open(os.path.join(report, "summary.json")))
    ia = summary["interleaved_audit"]
    assert ia["n_media_spans"] > 0 and ia["min_words"] == 2
    assert ia["n_offset_violation_docs"] == 0  # synth offsets are clean
    assert ia["n_transition_kinds"] >= 2  # at least ^->text, text->text
    trans = spark.read.parquet(
        os.path.join(report, "span_transitions.parquet")
    )
    assert {r["from_kind"] for r in trans.collect()} >= {"^", "text"}
    sd = summary["snapshot_delta"]
    assert sd["n_partitions_touched"] > 0 and sd["n_buckets_touched"] > 0
    assert sd["old_snapshot"] == old_comp
    # frames written next to the report
    audit = spark.read.parquet(os.path.join(report, "media_context_audit.parquet"))
    assert audit.count() == ia["n_media_spans"]
    prof = spark.read.parquet(os.path.join(report, "interleaved_profile.parquet"))
    assert prof.count() > 0
    delta = spark.read.parquet(os.path.join(report, "snapshot_delta.parquet"))
    assert delta.count() == sd["n_buckets_touched"]
    # both sides carry text_len (companion + derived frame) → the
    # body-free run-over-run drift rides along
    drift = spark.read.parquet(os.path.join(report, "snapshot_drift.parquet"))
    assert drift.count() > 0
    assert set(sd["drifted_partitions"]) <= {r.part for r in drift.collect()}
    # a later run WITHOUT the flags must clear the stale frames
    rc2 = main(
        ["--source", f"{corpus}/docs_sink.parquet", "--report-dir", report],
        spark=spark,
    )
    assert rc2 in (0, 1)
    assert not os.path.isdir(os.path.join(report, "media_context_audit.parquet"))
    assert not os.path.isdir(os.path.join(report, "span_transitions.parquet"))
    assert not os.path.isdir(os.path.join(report, "snapshot_delta.parquet"))
    assert not os.path.isdir(os.path.join(report, "snapshot_drift.parquet"))
    summary2 = json.load(open(os.path.join(report, "summary.json")))
    assert "interleaved_audit" not in summary2
    assert "snapshot_delta" not in summary2


def test_cli_table_audit(spark, tmp_path):
    """--audit-table runs the single-table contract checks over an
    arbitrary table (independent of docs validation) and lands both
    the audit_*.parquet frames and a table_audit summary section."""
    # build a small orders-like table with planted rule violations
    tbl = str(tmp_path / "orders_like")
    rows = [
        (i, i % 40, "O" if i % 7 else "X", float(100 + i), '{"k": %d}' % i)
        for i in range(300)
        if i != 150  # pk gap
    ]
    spark.createDataFrame(
        rows, "ok long, cust long, status string, price double, props string"
    ).write.mode("overwrite").parquet(tbl)
    corpus = _setup(spark, tmp_path)
    report = str(tmp_path / "audit_report")
    rc = main(
        [
            "--source", f"{corpus}/docs_source.parquet",
            "--report-dir", report,
            "--audit-table", tbl,
            "--audit-domain", "status=O|F|P",
            "--audit-key", "ok",
            "--audit-fd", "cust=status",
            "--audit-complete", "status,props:0.5",
            "--audit-json", "props:k",
            "--audit-benford", "price",
            "--audit-histogram", "price:10",
            "--audit-pk-gaps", "ok",
            "--audit-fd-discovery", "cust,status:0.05",
        ],
        spark=spark,
    )
    assert rc in (0, 1)
    summary = json.load(open(os.path.join(report, "summary.json")))
    sec = summary["table_audit"]
    assert sec["table"] == tbl
    assert sec["domain_status"] > 0  # planted 'X' rows
    assert sec["n_pk_gaps"] == 1  # the missing key 150
    assert sec["fd_pairs_profiled"] == 2  # cust->status, status->cust
    for frame in (
        "audit_domain_status",
        "audit_fd_cust",
        "audit_completeness",
        "audit_json",
        "audit_benford",
        "audit_histogram",
        "audit_pk_gaps",
        "audit_fd_discovery",
    ):
        assert os.path.exists(os.path.join(report, f"{frame}.parquet")), frame
    # a later run WITHOUT the flags must clear every stale audit_* frame
    main(
        ["--source", f"{corpus}/docs_source.parquet", "--report-dir", report],
        spark=spark,
    )
    assert not [f for f in os.listdir(report) if f.startswith("audit_")]
    assert "table_audit" not in json.load(
        open(os.path.join(report, "summary.json"))
    )


def test_cli_table_audit_wave19(spark, tmp_path):
    """--audit-kanon / --audit-split / --audit-equidepth land their
    frames + summary counters through the same --audit-table path."""
    tbl = str(tmp_path / "cust_like")
    rows = [
        (i, i % 7, "SEG%d" % (i % 3), float((i * 37) % 101))
        for i in range(400)
    ]
    spark.createDataFrame(
        rows, "ck long, nat long, seg string, v double"
    ).write.mode("overwrite").parquet(tbl)
    corpus = _setup(spark, tmp_path)
    report = str(tmp_path / "audit19_report")
    rc = main(
        [
            "--source", f"{corpus}/docs_source.parquet",
            "--report-dir", report,
            "--audit-table", tbl,
            "--audit-kanon", "nat,seg:10",
            "--audit-split", "ck:seg:7",
            "--audit-equidepth", "v:ck:8",
        ],
        spark=spark,
    )
    assert rc in (0, 1)
    summary = json.load(open(os.path.join(report, "summary.json")))
    sec = summary["table_audit"]
    assert sec["kanon_cols"] == "nat,seg"
    assert sec["split_rows"] >= 3
    assert sec["equidepth_bins"] == 8
    kan = spark.read.parquet(os.path.join(report, "audit_kanon.parquet")).first()
    assert kan["n_rows"] == 400 and kan["n_groups"] == 21
    eq = spark.read.parquet(os.path.join(report, "audit_equidepth.parquet"))
    counts = [r["n"] for r in eq.collect()]
    assert sum(counts) == 400 and max(counts) - min(counts) <= 1


def test_cli_resume_nothing_pending_runs_near_dup(spark, tmp_path):
    """A resumed run with nothing left to validate still runs every
    requested optional stage — near-dup included — and refreshes the
    summary with its coverage counts."""
    corpus = _setup(spark, tmp_path)
    docs_tbl = str(tmp_path / "nd_docs.parquet")
    shared = "alpha beta gamma delta epsilon zeta eta theta " * 4
    spark.createDataFrame(
        [("a1", shared), ("a2", shared), ("u1", "q1 q2 q3 q4 q5 q6 q7 q8")],
        "doc_id string, text string",
    ).write.parquet(docs_tbl)
    report = str(tmp_path / "report")
    args = [
        "--source", f"{corpus}/docs_source.parquet",
        "--sink", f"{corpus}/docs_sink.parquet",
        "--report-dir", report,
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ]
    main(args, spark=spark)
    rc = main(args + ["--resume", "--near-dup-table", docs_tbl], spark=spark)
    assert rc == 0
    pairs = spark.read.parquet(os.path.join(report, "near_dup_pairs.parquet"))
    assert pairs.count() == 1
    assert "coverage_bounds" in json.load(
        open(os.path.join(report, "summary.json"))
    )


@pytest.mark.parametrize(
    "spec",
    [
        ["--audit-fd", "cust"],  # no '='
        ["--audit-domain", "status=O|F"],  # no --audit-key
        ["--audit-complete", "a:x"],  # non-numeric MIN
        ["--audit-json", "props"],  # no FIELD
        ["--audit-histogram", "c:x"],  # non-numeric BINS
        ["--audit-outliers", "ok"],  # no COL
        ["--audit-rate", "ts"],  # no GROUP
        ["--audit-split", "ck:g:--5"],  # repeated sign in SEED
    ],
)
def test_cli_malformed_audit_spec_is_argparse_error(spec):
    with pytest.raises(SystemExit) as exc:
        main(
            [
                "--source", "s.parquet",
                "--report-dir", "out",
                "--audit-table", "t.parquet",
                *spec,
            ]
        )
    assert exc.value.code == 2
