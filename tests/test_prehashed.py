"""Digest-companion tables (sources.prehashed): body-free validation
must produce byte-identical violations + verdicts to the raw path."""

import os

import pytest
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.digest import ENRICHED_COLS
from opengauss_tools_datachecker_performance_spark.plans.runner import validate_docs
from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
    read_digest_companion,
    write_digest_companion,
)
from opengauss_tools_datachecker_performance_spark.synth import write_corpus


def _result_sets(res):
    vio = {
        (r["part"], r["constraint"], r["key"], r["span_idx"], r["detail"])
        for r in res.violations.collect()
    }
    ver = {
        (r["part"], r["constraint"], r["n_violations"], r["status"])
        for r in res.verdicts.collect()
    }
    return vio, ver


def test_companion_run_matches_raw_run(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=600, n_assets=50, n_partitions=3)
    src = spark.read.parquet(f"{corpus}/docs_source.parquet")
    sink = spark.read.parquet(f"{corpus}/docs_sink.parquet")
    assets = spark.read.parquet(f"{corpus}/assets.parquet")

    raw = validate_docs(src, sink, assets)
    assert raw.schema_ok

    csrc, csnk = str(tmp_path / "comp_src"), str(tmp_path / "comp_snk")
    write_digest_companion(src, csrc)
    write_digest_companion(sink, csnk)
    comp = validate_docs(
        read_digest_companion(spark, csrc),
        read_digest_companion(spark, csnk),
        assets,
    )
    assert comp.schema_ok, comp.schema_message

    assert _result_sets(comp) == _result_sets(raw)

    # the companion digest plan must not touch doc bodies: no span
    # sort, no xxhash over raw fields — just the pruned column read
    dig_plan = (
        comp.extras["digests_source"]
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "sort_array" not in dig_plan

    for df in (
        comp.extras.get("digests_source"),
        comp.extras.get("digests_sink"),
        raw.extras.get("digests_source"),
        raw.extras.get("digests_sink"),
        comp.extras.get("diffs"),
        raw.extras.get("diffs"),
    ):
        if df is not None:
            df.unpersist()


def test_companion_partition_pruning_and_contract(spark, tmp_path):
    """only_partitions restricts the companion scan (resume waves) and
    a companion with a wrong-typed column fails the schema pre-check
    instead of crashing mid-checks."""
    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=300, n_assets=30, n_partitions=3)
    src = spark.read.parquet(f"{corpus}/docs_source.parquet")
    comp_path = str(tmp_path / "comp")
    write_digest_companion(src, comp_path)
    comp = read_digest_companion(spark, comp_path)
    assert set(ENRICHED_COLS) <= set(comp.columns)

    res = validate_docs(comp, None, None, only_partitions=[1])
    parts = {r["part"] for r in res.verdicts.collect()}
    assert parts == {1}

    broken = comp.withColumn("v_hash", F.col("v_hash").cast("string"))
    bad = validate_docs(broken, None, None)
    assert not bad.schema_ok
    assert "v_hash" in bad.schema_message

    for df in (
        res.extras.get("digests_source"),
    ):
        if df is not None:
            df.unpersist()


def test_companion_staleness_and_incremental_update(spark, tmp_path):
    """companion_stale_partitions is empty iff the companion derives
    from the current doc table; update_digest_companion merges CDC
    upserts/deletes rewriting ONLY affected part= dirs."""
    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        partition_stats,
    )
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        companion_stale_partitions,
        update_digest_companion,
    )

    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=400, n_assets=30, n_partitions=4)
    src = spark.read.parquet(f"{corpus}/docs_source.parquet").select(
        "doc_id", "spans", "part"
    )
    comp_path = str(tmp_path / "comp")
    write_digest_companion(src, comp_path)
    comp = read_digest_companion(spark, comp_path)

    # fresh companion: no stale partitions
    assert companion_stale_partitions(comp, partition_stats(src)).count() == 0

    # CDC batch: one doc's spans truncated (update), one doc deleted,
    # one brand-new doc
    two = src.orderBy("doc_id").limit(2).collect()
    upd, dele = two[0], two[1]
    new_docs = spark.createDataFrame(
        [
            (upd["doc_id"], upd["spans"][:1], upd["part"]),
            ("brand-new-doc", upd["spans"], 2),
        ],
        src.schema,
    )
    deletes = spark.createDataFrame([(dele["doc_id"],)], "key string")

    mtimes_before = {
        d: os.path.getmtime(os.path.join(comp_path, d))
        for d in os.listdir(comp_path)
        if d.startswith("part=")
    }
    rewritten = update_digest_companion(
        spark, comp_path, upserts=new_docs, delete_keys=deletes
    )
    assert set(rewritten) == {upd["part"], dele["part"], 2}

    # untouched partition dirs are byte-identical (mtime unchanged)
    for d, t in mtimes_before.items():
        p = int(d.split("=")[1])
        if p not in rewritten:
            assert os.path.getmtime(os.path.join(comp_path, d)) == t

    # the updated companion must derive exactly from the updated docs
    docs_v2 = (
        src.filter(~F.col("doc_id").isin(upd["doc_id"], dele["doc_id"]))
        .unionByName(new_docs)
    )
    comp2 = read_digest_companion(spark, comp_path)
    assert companion_stale_partitions(comp2, partition_stats(docs_v2)).count() == 0
    # ...and disagree with the OLD doc state (the check has teeth)
    stale = companion_stale_partitions(comp2, partition_stats(src))
    assert {r["part"] for r in stale.collect()} == set(rewritten)

    # idempotency: replaying the same CDC batch converges (the gone
    # key no longer names a partition, so a subset rewrites)
    again = update_digest_companion(
        spark, comp_path, upserts=new_docs, delete_keys=deletes
    )
    assert set(again) <= set(rewritten)
    comp3 = read_digest_companion(spark, comp_path)
    assert companion_stale_partitions(comp3, partition_stats(docs_v2)).count() == 0


def test_cli_accepts_companion_tables(spark, tmp_path):
    """The production entrypoint runs end-to-end on companion inputs —
    --source/--sink pointing at digest companions validates body-free
    with the same report layout."""
    import json

    from opengauss_tools_datachecker_performance_spark.__main__ import main

    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=300, n_assets=30, n_partitions=2)
    csrc, csnk = str(tmp_path / "csrc"), str(tmp_path / "csnk")
    write_digest_companion(spark.read.parquet(f"{corpus}/docs_source.parquet"), csrc)
    write_digest_companion(spark.read.parquet(f"{corpus}/docs_sink.parquet"), csnk)
    report = str(tmp_path / "report")
    rc = main(
        ["--source", csrc, "--sink", csnk, "--report-dir", report],
        spark=spark,
    )
    assert rc == 1  # seeded violations still fail the run, body-free
    summary = json.load(open(os.path.join(report, "summary.json")))
    assert summary["constraints"]["consistency"]["n_violations"] > 0


def test_repair_companion_rederives_stale_partitions(spark, tmp_path):
    """audit → repair loop: corrupt the companion two ways (dropped
    partition + drifted partition), repair_companion re-derives
    exactly the flagged partitions and the audit comes back clean."""
    import shutil

    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        partition_stats,
    )
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        companion_stale_partitions,
        repair_companion,
        update_digest_companion,
    )

    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=300, n_assets=30, n_partitions=3)
    src = spark.read.parquet(f"{corpus}/docs_source.parquet").select(
        "doc_id", "spans", "part"
    )
    comp_path = str(tmp_path / "comp")
    write_digest_companion(src, comp_path)

    # corruption 1: a whole partition dir lost
    shutil.rmtree(os.path.join(comp_path, "part=0"))
    # corruption 2: a doc deleted from the companion but not the table
    victim = src.filter(F.col("part") == 1).select("doc_id").first()[0]
    update_digest_companion(
        spark, comp_path,
        delete_keys=spark.createDataFrame([(victim,)], "key string"),
    )

    stats = partition_stats(src)
    comp = read_digest_companion(spark, comp_path)
    stale = companion_stale_partitions(comp, stats).collect()
    assert {(r["part"], r["reason"]) for r in stale} == {
        (0, "missing_in_companion"),
        (1, "row_count"),
    }

    repaired = repair_companion(
        spark, comp_path, src, [r["part"] for r in stale]
    )
    assert repaired == [0, 1]
    comp2 = read_digest_companion(spark, comp_path)
    assert companion_stale_partitions(comp2, stats).count() == 0


def _companion_fixture(spark, tmp_path, n_partitions=4):
    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=400, n_assets=30, n_partitions=n_partitions)
    src = spark.read.parquet(f"{corpus}/docs_source.parquet").select(
        "doc_id", "spans", "part"
    )
    comp_path = str(tmp_path / "comp")
    write_digest_companion(src, comp_path)
    return src, comp_path


def _parquet_files_per_part(comp_path):
    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(comp_path, d)))
        for d in os.listdir(comp_path)
        if d.startswith("part=")
    }


def test_companion_rewrites_leave_no_persisted_rdd(spark, tmp_path):
    """A CDC merge and a repair release every RDD they persist or
    checkpoint, so a long CDC loop holds no growing cache."""
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        repair_companion,
        update_digest_companion,
    )

    src, comp_path = _companion_fixture(spark, tmp_path)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    picked = src.orderBy("doc_id").limit(6)
    gone = picked.limit(2).select(F.col("doc_id").alias("key"))
    # entries persisted before may be garbage-collected meanwhile, so
    # the check is that no new entry appears
    update_digest_companion(spark, comp_path, upserts=picked, delete_keys=gone)
    assert set(jsc.getPersistentRDDs().keys()) <= before
    repair_companion(spark, comp_path, src, [0, 1])
    assert set(jsc.getPersistentRDDs().keys()) <= before


def test_companion_rewrites_keep_one_file_per_partition(spark, tmp_path):
    """Repeated CDC merges replace a partition's files instead of
    adding to them: after five merges touching every partition and a
    two-partition repair, each part= dir holds exactly one parquet
    file and the companion still derives exactly from the docs. A
    partition a merge empties loses its dir."""
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        digest_companion_frame,
        repair_companion,
        update_digest_companion,
    )

    src, comp_path = _companion_fixture(spark, tmp_path)
    by_part: dict = {}
    for r in src.select("doc_id", "part").collect():
        by_part.setdefault(r["part"], []).append(r["doc_id"])
    for i in range(5):
        keys = [ids[i] for ids in by_part.values()]
        rewritten = update_digest_companion(
            spark, comp_path, upserts=src.filter(F.col("doc_id").isin(keys))
        )
        assert sorted(rewritten) == sorted(by_part)
    assert repair_companion(spark, comp_path, src, [0, 1]) == [0, 1]
    assert _parquet_files_per_part(comp_path) == {f"part={p}": 1 for p in by_part}

    fresh = digest_companion_frame(src)
    kept = read_digest_companion(spark, comp_path).select(*fresh.columns)
    assert kept.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(kept).count() == 0

    # a merge that deletes every key of part 3 removes its dir
    gone = spark.createDataFrame([(k,) for k in by_part[3]], "key string")
    assert update_digest_companion(spark, comp_path, delete_keys=gone) == [3]
    assert _parquet_files_per_part(comp_path) == {
        f"part={p}": 1 for p in by_part if p != 3
    }


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_companion_merge_edge_cases_both_aqe_settings(spark, tmp_path, aqe):
    """The affected-partition set is observed in-plan and the emptied
    set read off the staged rewrite; both must hold when nothing
    matches, when a partition empties and when one appears."""
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        repair_companion,
        update_digest_companion,
    )

    src, comp_path = _companion_fixture(spark, tmp_path, n_partitions=3)
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        unknown = spark.createDataFrame([("no-such-doc",)], "key string")
        assert update_digest_companion(spark, comp_path, delete_keys=unknown) == []
        part0 = [r["doc_id"] for r in src.filter(F.col("part") == 0).collect()]
        # part 0's docs move to a new part 7: 0 empties, 7 appears
        moved = src.filter(F.col("part") == 0).withColumn("part", F.lit(7))
        assert update_digest_companion(spark, comp_path, upserts=moved) == [0, 7]
        assert _parquet_files_per_part(comp_path).keys() == {
            "part=1", "part=2", "part=7"
        }
        comp = read_digest_companion(spark, comp_path)
        assert sorted(
            r["key"] for r in comp.filter(F.col("part") == 7).collect()
        ) == sorted(part0)
        # repair of a partition the doc table no longer has removes it
        assert repair_companion(spark, comp_path, src, [7]) == [7]
        assert _parquet_files_per_part(comp_path).keys() == {"part=1", "part=2"}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_companion_cdc_maintenance_stream(spark, tmp_path):
    """Decoded-CDC stream → companion merge: latest op per key wins,
    upserts re-fetch bodies from the (already updated) source table,
    a re-deleted upsert key resolves as delete, and after the stream
    drains the companion derives exactly from the new doc state."""
    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        partition_stats,
    )
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        companion_maintenance_stream,
        companion_stale_partitions,
    )

    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=300, n_assets=30, n_partitions=3)
    src = spark.read.parquet(f"{corpus}/docs_source.parquet").select(
        "doc_id", "spans", "part"
    )
    comp_path = str(tmp_path / "comp")
    write_digest_companion(src, comp_path)

    rows = src.orderBy("doc_id").limit(3).collect()
    changed, removed, ghost = rows[0], rows[1], rows[2]
    # the WRITER already applied these changes to the doc table:
    docs_v2_path = str(tmp_path / "docs_v2")
    (
        src.filter(~F.col("doc_id").isin(removed["doc_id"], ghost["doc_id"]))
        .withColumn(
            "spans",
            F.when(
                F.col("doc_id") == changed["doc_id"], F.slice("spans", 1, 1)
            ).otherwise(F.col("spans")),
        )
        .unionByName(
            spark.createDataFrame(
                [("cdc-new-doc", changed["spans"], 1)], src.schema
            )
        )
        .write.parquet(docs_v2_path)
    )
    docs_v2 = spark.read.parquet(docs_v2_path)

    # CDC feed: update(changed); removed = update then delete (latest
    # op per key wins → delete); create(new); ghost = an upsert whose
    # key is already gone from the source table (resolves as delete)
    cdc_dir = str(tmp_path / "cdc")
    # one file = one micro-batch: latest-op-per-key resolution is a
    # within-batch contract (cross-batch ordering is the feed's job)
    spark.createDataFrame(
        [
            (changed["doc_id"], "u", 100),
            (removed["doc_id"], "u", 100),
            (removed["doc_id"], "d", 200),
            ("cdc-new-doc", "c", 100),
            (ghost["doc_id"], "u", 100),
        ],
        "key string, op string, ts_ms long",
    ).coalesce(1).write.parquet(cdc_dir)
    stream = (
        spark.readStream.schema("key string, op string, ts_ms long")
        .option("maxFilesPerTrigger", 2)
        .parquet(cdc_dir)
    )
    q = companion_maintenance_stream(
        spark, stream, comp_path, docs_v2, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    comp = read_digest_companion(spark, comp_path)
    assert companion_stale_partitions(comp, partition_stats(docs_v2)).count() == 0
    keys = {r["key"] for r in comp.select("key").collect()}
    assert "cdc-new-doc" in keys
    assert removed["doc_id"] not in keys and ghost["doc_id"] not in keys


def test_companion_cdc_multi_table_and_ties(spark, tmp_path):
    """Multi-table feeds must be filtered to this companion's table
    (foreign rows with colliding keys would corrupt it), and
    same-timestamp update+delete ties resolve toward upsert —
    self-correcting, because the source table is the truth."""
    import pytest

    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        partition_stats,
    )
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        companion_stale_partitions,
        maintain_companion_from_cdc,
    )

    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=200, n_assets=20, n_partitions=2)
    src = spark.read.parquet(f"{corpus}/docs_source.parquet").select(
        "doc_id", "spans", "part"
    )
    comp_path = str(tmp_path / "comp")
    write_digest_companion(src, comp_path)
    live = src.select("doc_id").first()[0]

    # a foreign table's delete for a colliding key + a same-ts u/d tie
    # for a LIVE doc of ours: nothing in OUR companion may change
    cdc = spark.createDataFrame(
        [
            (live, "d", 100, "other_table"),
            (live, "u", 100, "docs"),
            (live, "d", 100, "docs"),
        ],
        "key string, op string, ts_ms long, table_name string",
    )
    with pytest.raises(ValueError, match="table_name"):
        maintain_companion_from_cdc(spark, comp_path, src, cdc)
    maintain_companion_from_cdc(spark, comp_path, src, cdc, table_name="docs")
    comp = read_digest_companion(spark, comp_path)
    assert companion_stale_partitions(comp, partition_stats(src)).count() == 0
    assert comp.filter(F.col("key") == live).count() == 1


def test_ivf_near_dup_works_with_sparse_high_ids(spark):
    """Centroid choice is the n_cells LOWEST ids, not ids < n_cells:
    a corpus whose ids start at 10^6 must still route and recover its
    planted duplicates (was: silent zero-pair result)."""
    import math

    from opengauss_tools_datachecker_performance_spark.operators.dedup import (
        embedding_near_duplicates_ivf,
    )

    dims = 16
    base = [
        (1_000_000 + i * 7, [math.sin(i * 13.0 + d) for d in range(dims)])
        for i in range(30)
    ]
    scaled = [(vid + 500_000, [x * 1.001 for x in v]) for vid, v in base[::5]]
    df = spark.createDataFrame(base + scaled, "vid long, emb array<double>")
    out = embedding_near_duplicates_ivf(
        df, id_col="vid", vec_col="emb", threshold=0.99, n_cells=4
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert {(vid, vid + 500_000) for vid, _ in base[::5]} <= pairs


def test_bucketed_companion_diff_has_no_key_exchange(spark, tmp_path):
    """Bucketed companions compound both layout wins: body-free scan
    AND a zero-Exchange consistency diff."""
    from opengauss_tools_datachecker_performance_spark.operators.diff import (
        classify_diff,
    )
    from opengauss_tools_datachecker_performance_spark.digest import (
        _enriched_digests,
    )

    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_docs=400, n_assets=30, n_partitions=2)
    src = spark.read.parquet(f"{corpus}/docs_source.parquet")
    sink = spark.read.parquet(f"{corpus}/docs_sink.parquet")
    base = str(tmp_path / "bkt")
    write_digest_companion(src, path=f"{base}/src", table_name="comp_bsrc", n_buckets=8)
    write_digest_companion(sink, path=f"{base}/snk", table_name="comp_bsnk", n_buckets=8)
    try:
        a = read_digest_companion(spark, "table:comp_bsrc")
        b = read_digest_companion(spark, "table:comp_bsnk")
        d = classify_diff(_enriched_digests(a), _enriched_digests(b))
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning(key" not in plan
        assert d.count() > 0  # seeded violations still detected
    finally:
        spark.sql("DROP TABLE IF EXISTS comp_bsrc")
        spark.sql("DROP TABLE IF EXISTS comp_bsnk")
