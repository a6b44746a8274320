"""Persisted MinHash index + incremental near-dup detection."""

from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.operators.dedup import (
    minhash_near_duplicates,
)
from opengauss_tools_datachecker_performance_spark.operators.dedup_index import (
    incremental_near_duplicates,
    minhash_index_frames,
    read_minhash_index,
    update_minhash_index,
    write_minhash_index,
)
from opengauss_tools_datachecker_performance_spark.session import cache_scope


def _corpus(spark, n=120):
    """Deterministic toy corpus with enough shared shingles to bucket."""
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = []
    for i in range(n):
        toks = [words[(i + j) % len(words)] for j in range(12)]
        rows.append((str(i), " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id string, text string")


def _batch(spark, corpus):
    """New batch: near-dups of every 10th corpus doc + one novel doc
    + one doc whose id is already indexed (must be ignored)."""
    near = (
        corpus.filter(F.col("doc_id").cast("long") % 10 == 0)
        .select(
            (F.col("doc_id").cast("long") + 1000).cast("string").alias("doc_id"),
            F.concat("text", F.lit(" tail")).alias("text"),
        )
    )
    extra = corpus.sparkSession.createDataFrame(
        [("2000", "completely unrelated novel text payload tokens"),
         ("5", "this id is already in the index and must be skipped")],
        "doc_id string, text string",
    )
    return near.unionByName(extra)


def _pairs_set(df):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in df.collect()
    }


def test_incremental_matches_full_run(spark, tmp_path):
    """incremental over (index, batch) == full minhash over
    (corpus ∪ batch) restricted to batch-involving pairs."""
    corpus = _corpus(spark)
    batch = _batch(spark, corpus)
    # the already-indexed id ("5") is skipped, so the reference union
    # must keep the CORPUS version of that doc, not the batch's text
    batch_new = batch.filter(F.col("doc_id") != "5")
    buckets, shingles = minhash_index_frames(corpus)

    # the operators' intermediate caches live in this scope, as in a run
    with cache_scope():
        inc = incremental_near_duplicates(
            buckets, shingles, batch, threshold=0.2
        )

        full = minhash_near_duplicates(
            corpus.unionByName(batch_new), "doc_id", "text", threshold=0.2
        )
        new_ids = {r["doc_id"] for r in batch_new.select("doc_id").collect()}
        want = {
            p
            for p in _pairs_set(full)
            if p[0] in new_ids or p[1] in new_ids
        }
        assert _pairs_set(inc) == want
    assert len(want) > 0  # the planted near-dups must actually pair


def test_write_read_update_roundtrip(spark, tmp_path):
    import os
    import shutil

    corpus = _corpus(spark, n=40)
    path = str(tmp_path / "mh_index")
    write_minhash_index(corpus, path)
    b, s = read_minhash_index(spark, path)
    eb, es = minhash_index_frames(corpus)
    assert b.count() == eb.count()
    assert s.count() == es.count()

    batch = spark.createDataFrame(
        [("900", "fresh doc alpha beta gamma delta"), ("5", "already indexed")],
        "doc_id string, text string",
    )
    n = update_minhash_index(spark, path, batch)
    assert n == 1  # "5" already indexed by the corpus batch → skipped

    def _ids():
        b2, _ = read_minhash_index(spark, path)
        return {r["doc_id"] for r in b2.select("doc_id").distinct().collect()}

    assert "900" in _ids() and len(_ids()) == 41
    # replay overwrites the same batch= subdirs — no duplicate rows
    assert update_minhash_index(spark, path, batch) == 1
    b3, s3 = read_minhash_index(spark, path)
    assert len(_ids()) == 41
    assert b3.filter("doc_id = '900'").count() == 4  # bands, not 2x bands

    # crash between the two writes: shingles batch dir lost — replay
    # recomputes the same key and heals both tables
    batch_dirs = [
        d for d in os.listdir(os.path.join(path, "shingles.parquet"))
        if d.startswith("batch=")
    ]
    assert len(batch_dirs) == 2
    victim = [
        d for d in batch_dirs
        if spark.read.parquet(os.path.join(path, "shingles.parquet", d))
        .filter("doc_id = '900'").count() > 0
    ][0]
    shutil.rmtree(os.path.join(path, "shingles.parquet", victim))
    assert update_minhash_index(spark, path, batch) == 1
    _, s4 = read_minhash_index(spark, path)
    assert s4.filter("doc_id = '900'").count() > 0

    # a batch with nothing new returns 0 and leaves no stray subdir
    dup_batch = spark.createDataFrame(
        [("5", "already indexed")], "doc_id string, text string"
    )
    assert update_minhash_index(spark, path, dup_batch) == 0
    assert len(_ids()) == 41


def test_cli_incremental_near_dup(spark, tmp_path):
    """--near-dup-index switches --near-dup-table to incremental mode:
    pairs all involve the batch, and --near-dup-update-index indexes
    the batch afterward."""
    import os

    from opengauss_tools_datachecker_performance_spark.__main__ import main
    from opengauss_tools_datachecker_performance_spark.synth import write_corpus

    corpus_dir = str(tmp_path / "corpus")
    write_corpus(spark, corpus_dir, n_docs=200, n_assets=30, n_partitions=2)
    corpus = _corpus(spark)
    idx = str(tmp_path / "idx")
    write_minhash_index(corpus, idx)
    batch = _batch(spark, corpus)
    batch_path = str(tmp_path / "batch.parquet")
    batch.write.parquet(batch_path)
    report = str(tmp_path / "report")
    main(
        [
            "--source", f"{corpus_dir}/docs_source.parquet",
            "--report-dir", report,
            "--near-dup-table", batch_path,
            "--near-dup-index", idx,
            "--near-dup-threshold", "0.2",
            "--near-dup-update-index",
        ],
        spark=spark,
    )
    pairs = spark.read.parquet(
        os.path.join(report, "near_dup_pairs.parquet")
    ).collect()
    assert len(pairs) > 0
    new_ids = {r["doc_id"] for r in batch.collect()}
    assert all(r["id_a"] in new_ids or r["id_b"] in new_ids for r in pairs)
    b2, _ = read_minhash_index(spark, idx)
    ids = {r["doc_id"] for r in b2.select("doc_id").distinct().collect()}
    assert "2000" in ids  # the novel batch doc got indexed


def test_ingest_batch_single_pass_equivalence(spark, tmp_path):
    """ingest_batch == detect-then-update composition: identical pairs
    AND identical index contents, with one shingle pass instead of
    two. Replay re-emits the same pairs (idempotent output)."""
    from opengauss_tools_datachecker_performance_spark.operators.dedup_index import (
        ingest_batch,
    )

    corpus = _corpus(spark)
    batch = _batch(spark, corpus)

    # reference: the two-call composition; the operators' intermediate
    # caches live in one scope per call, as in a run
    ref_idx = str(tmp_path / "ref_idx")
    write_minhash_index(corpus, ref_idx)
    rb, rs = read_minhash_index(spark, ref_idx)
    with cache_scope():
        ref_pairs = _pairs_set(
            incremental_near_duplicates(rb, rs, batch, threshold=0.2)
        )
    ref_n = update_minhash_index(spark, ref_idx, batch)

    idx = str(tmp_path / "idx")
    write_minhash_index(corpus, idx)
    with cache_scope():
        pairs, n = ingest_batch(spark, idx, batch, threshold=0.2)
        got = _pairs_set(pairs)
    assert got == ref_pairs and len(got) > 0
    assert n == ref_n

    def _index_rows(path):
        b, s = read_minhash_index(spark, path)
        return (
            sorted(map(tuple, b.collect())),
            sorted(map(tuple, s.collect())),
        )

    assert _index_rows(idx) == _index_rows(ref_idx)

    # replay: same pairs again (unlike the composition, which goes
    # silent once the batch is indexed), same index contents
    with cache_scope():
        pairs2, n2 = ingest_batch(spark, idx, batch, threshold=0.2)
        assert _pairs_set(pairs2) == ref_pairs
    assert n2 == ref_n  # replay overwrites its own subdirs
    assert _index_rows(idx) == _index_rows(ref_idx)


def test_cli_near_dup_flag_validation(spark, tmp_path):
    """Inconsistent near-dup flag combinations abort instead of
    silently skipping detection or the index update."""
    import pytest

    from opengauss_tools_datachecker_performance_spark.__main__ import main

    base = ["--source", str(tmp_path / "nope.parquet"),
            "--report-dir", str(tmp_path / "r")]
    with pytest.raises(SystemExit) as e1:
        main(base + ["--near-dup-table", "x.parquet",
                     "--near-dup-update-index"], spark=spark)
    assert e1.value.code == 2
    with pytest.raises(SystemExit) as e2:
        main(base + ["--near-dup-index", str(tmp_path / "idx")], spark=spark)
    assert e2.value.code == 2


def test_incremental_plan_reads_no_corpus_text(spark):
    """The incremental plan must not contain the corpus text scan —
    only the thin index frames and the batch."""
    corpus = _corpus(spark, n=40)
    buckets, shingles = minhash_index_frames(corpus)
    # materialize the index to parquet-backed frames so the lineage to
    # the corpus text is genuinely severed (as in production)
    buckets = buckets.localCheckpoint(eager=True)
    shingles = shingles.localCheckpoint(eager=True)
    batch = spark.createDataFrame(
        [("901", "alpha beta gamma delta epsilon zeta eta alpha")],
        "doc_id string, text string",
    )
    out = incremental_near_duplicates(buckets, shingles, batch, threshold=0.2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "PythonRDD" not in plan


def test_duplicate_id_rows_count_parity(spark, tmp_path):
    """A batch carrying duplicate rows for the same doc_id: the two
    advertised-equivalent paths (ingest_batch vs detect-then-update)
    must report the same indexed-doc count — DISTINCT ids, not raw
    rows — and produce identical index contents."""
    from opengauss_tools_datachecker_performance_spark.operators.dedup_index import (
        ingest_batch,
    )

    corpus = _corpus(spark)
    dup_batch = spark.createDataFrame(
        [("7000", "one re-exported doc duplicated upstream"),
         ("7000", "one re-exported doc duplicated upstream"),
         ("7001", "a second novel doc")],
        "doc_id string, text string",
    )
    ref_idx, idx = str(tmp_path / "ref"), str(tmp_path / "one")
    write_minhash_index(corpus, ref_idx)
    write_minhash_index(corpus, idx)
    n_ref = update_minhash_index(spark, ref_idx, dup_batch)
    _, n = ingest_batch(spark, idx, dup_batch, threshold=0.2)
    assert n == n_ref == 2

    def _rows(path):
        b, s = read_minhash_index(spark, path)
        return sorted(map(tuple, b.collect())), sorted(map(tuple, s.collect()))

    assert _rows(idx) == _rows(ref_idx)
