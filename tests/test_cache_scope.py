"""One cache lifetime: every frame the engine caches or checkpoints lives
in a cache scope (session.py), so no CLI mode, optional stage, failed
run or driver-contract call leaves a persisted RDD behind."""

import pytest
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.__main__ import main
from opengauss_tools_datachecker_performance_spark.operators.dedup_index import (
    write_minhash_index,
)
from opengauss_tools_datachecker_performance_spark.session import (
    cache_scope,
    cached,
    checkpointed,
)
from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
    write_digest_companion,
)
from opengauss_tools_datachecker_performance_spark.synth import write_corpus


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """A 200-doc corpus, its source companion, and a (doc_id, text,
    source) table with near-duplicate and shared-passage pairs."""
    root = tmp_path_factory.mktemp("cache_scope")
    corpus = str(root / "corpus")
    write_corpus(spark, corpus, n_docs=200, n_assets=30, n_partitions=4)
    comp = str(root / "comp_source")
    write_digest_companion(spark.read.parquet(f"{corpus}/docs_source.parquet"), comp)
    rows = []
    for i in range(40):
        base = " ".join(f"w{(i * 7 + j) % 50}" for j in range(20))
        rows.append((f"a{i}", base, f"s{i % 3}"))
        if i < 15:
            rows.append((f"b{i}", base + " extra", f"s{(i + 1) % 3}"))
    text = str(root / "text.parquet")
    spark.createDataFrame(rows, "doc_id string, text string, source string").write.parquet(
        text
    )
    return {"corpus": corpus, "comp": comp, "text": text}


def _stages(spark, inp, tmp_path):
    """Every optional report stage that caches, in one run; the near-dup
    clusters are the storage test's."""
    text = spark.read.parquet(inp["text"])
    idx = str(tmp_path / "idx")
    write_minhash_index(text.filter(F.col("doc_id").startswith("a")), idx)
    return [
        "--near-dup-table", inp["text"],
        "--near-dup-index", idx, "--near-dup-update-index",
        "--substring-dedup-table", inp["text"],
        "--source-overlap", inp["text"],
        "--corpus-stats-table", inp["text"], "--lm-surprisal",
        "--interleaved-audit",
        "--snapshot-delta", inp["comp"],
    ]


#: mode → (validates against a sink, extra flags); the stage modes
#: validate the source alone, since their caches are the stages' own
MODES = {
    "plain": (True, lambda spark, inp, tmp: []),
    "checkpoint_dir_emit_repair": (True, lambda spark, inp, tmp: [
        "--checkpoint-dir", str(tmp / "ckpt"), "--emit-repair",
    ]),
    "chunked": (True, lambda spark, inp, tmp: ["--chunk-partitions", "2"]),
    "source_companion": (True, lambda spark, inp, tmp: [
        "--source-companion", inp["comp"],
    ]),
    "stages": (False, _stages),
}


def _argv(inp, report, sink=True):
    corpus = inp["corpus"]
    argv = ["--source", f"{corpus}/docs_source.parquet", "--report-dir", report]
    if sink:
        argv += [
            "--sink", f"{corpus}/docs_sink.parquet",
            "--assets", f"{corpus}/assets.parquet",
        ]
    return argv


@pytest.mark.parametrize("mode", list(MODES))
def test_cli_mode_leaves_no_persisted_rdd(spark, inputs, tmp_path, mode):
    sink, flags = MODES[mode]
    extra = flags(spark, inputs, tmp_path)
    # entries persisted before may be garbage-collected meanwhile, so
    # the check is that no new entry is left
    before = _persisted(spark)
    rc = main(_argv(inputs, str(tmp_path / "report"), sink) + extra, spark=spark)
    assert rc in (0, 1)
    assert _persisted(spark) <= before


def test_entry_leaves_no_persisted_rdd(spark):
    import __spark_entry__

    before = _persisted(spark)
    rows = __spark_entry__.entry(spark).collect()
    assert rows
    assert _persisted(spark) <= before


def test_run_raising_after_the_barrier_releases_its_caches(
    spark, inputs, tmp_path, monkeypatch
):
    """A run that fails after the digest barrier filled its caches
    releases them on the way out."""
    from opengauss_tools_datachecker_performance_spark.plans import report

    def fail(*args, **kwargs):
        raise RuntimeError("report write failed")

    monkeypatch.setattr(report, "write_frames", fail)
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="report write failed"):
        main(_argv(inputs, str(tmp_path / "report")), spark=spark)
    assert _persisted(spark) <= before


def test_repeated_cluster_runs_keep_storage_flat(spark, inputs, tmp_path):
    """Three near-dup cluster runs in one long-lived session: each
    leaves no persisted RDD (the clusters' local checkpoints included),
    and cached storage is back at its starting size after each."""
    before, start = _persisted(spark), _storage_bytes(spark)
    for i in range(3):
        rc = main(
            _argv(inputs, str(tmp_path / f"report{i}"), sink=False)
            + ["--near-dup-table", inputs["text"], "--near-dup-clusters"],
            spark=spark,
        )
        assert rc in (0, 1)
        assert _persisted(spark) <= before
        assert _storage_bytes(spark) <= start


def test_scope_releases_cached_and_checkpointed_frames(spark):
    """cached() persists only inside a scope; checkpointed() always
    truncates lineage, and the scope releases its RDD (which
    DataFrame.unpersist does not reach). Nested scopes release only
    their own frames."""
    df = spark.range(100).select((F.col("id") % 7).alias("k"))
    assert not cached(df).is_cached
    before = _persisted(spark)
    with cache_scope():
        outer = cached(df.distinct())
        outer.count()
        with cache_scope():
            inner = checkpointed(df.groupBy("k").count())
            assert "LogicalRDD" in inner._jdf.queryExecution().analyzed().toString()
            assert len(_persisted(spark) - before) == 2
        assert outer.is_cached and len(_persisted(spark) - before) == 1
    assert not outer.is_cached
    assert _persisted(spark) <= before
