"""The two workloads, each as a timed run and as a traced run.

Timed runs call what users launch: the CLI ``main(argv, spark=...)``
for ``validate_raw``, and the maintain-and-recheck CDC loop for
``cdc_trickle``. Traced runs re-compose the same work from each layer's
public functions, in the CLI's order, closing every lazy layer with an
action of the benchmark's own so its Spark work lands in its span.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import sys
import time

import bench_env
import corpus
import gate
from tracing import LAYERS, Tracer, memory_peaks

#: corpus size (docs per side, logical partitions), shared by all workloads
SIZES = {"full": (10_000, 16), "toy": (3_000, 8)}
#: companion builds per timed run, and the untimed ones before them
#: (the write path is still JIT-cold after the CLI runs, and the builds
#: keep speeding up for a few more); the metric is the timed ones' median
BUILDS, BUILD_WARMUP = 3, 2
#: the fewest warm CLI runs a timed run makes
MIN_WARM = 2
#: CDC loop: keys per batch, planted-divergent keys among them, the
#: batches after the cold one still warming up the JIT (timed with the
#: cold one as the loop's cold start), and the fewest warm batches a run
#: makes
CDC_KEYS, CDC_DIVERGENT, CDC_WARMUP, CDC_MIN_BATCHES = 50, 2, 2, 3
DRIFT_THRESHOLD = 0.15

#: layers each workload must cover with at least one span when traced
COVERAGE = {
    "validate": {"session", "sources", "digest", "diff", "checks", "runner",
                 "report", "lineage", "prehashed_write", "cli"},
    "cdc": {"session", "sources", "prehashed_write", "incremental", "cli"},
}


class Run:
    """What one invocation measured and checked."""

    def __init__(self, workload: str, seed: int, seconds: float, size: str, work: str):
        self.workload, self.seed, self.seconds, self.size = workload, seed, seconds, size
        self.work = work
        self.attempted = 0
        self.errors: list[str] = []
        self.metrics: dict[str, float] = {}
        self.info: dict = {"workload": workload, "seed": seed, "size": size}

    def check(self, errs: list[str], what: str) -> None:
        self.attempted += 1
        self.errors.extend(f"{what}: {e}" for e in errs)

    @property
    def failed(self) -> int:
        return len({e.split(":", 1)[0] for e in self.errors})

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def scratch(self, name: str) -> str:
        """A fresh (emptied) run-local directory path."""
        p = self.path(name)
        shutil.rmtree(p, ignore_errors=True)
        return p


def _inputs(run: Run, env: dict) -> str:
    """The cache entry of this run's inputs, generated first on a miss."""
    docs, parts = SIZES[run.size]
    run.info.update(docs_per_side=docs, partitions=parts)
    return corpus.ensure_entry(os.path.join(bench_env.WORK, "cache"), run.seed, docs, parts, env)


def _expected(run: Run, entry: str, break_expectation: bool) -> dict:
    expected = gate.load_expected(entry)
    if break_expectation:
        # a deliberately wrong expectation: a key the corpus lacks,
        # expected as a duplicate and as a doc missing from the sink
        expected["unique"] = expected["unique"] + ["doc-not-in-corpus"]
        expected["consistency:insert"] = expected["consistency:insert"] + ["doc-not-in-corpus"]
    run.info["source_rows"] = expected["source_rows"]
    return expected


def _quiet():
    """The CLI reports progress on stdout; keep stdout for the result."""
    return contextlib.redirect_stdout(sys.stderr)


def _build_companions(spark, frames: dict, out: str) -> tuple[float, dict[str, str]]:
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        write_digest_companion,
    )

    paths = {}
    t0 = time.perf_counter()
    for side in ("source", "sink"):
        paths[side] = os.path.join(out, f"{side}.parquet")
        write_digest_companion(frames[side], paths[side])
    return time.perf_counter() - t0, paths


# -- validate_raw ------------------------------------------------------------


def _timed_main(spark, run: Run, entry: str, expected: dict, tag: str) -> float:
    from opengauss_tools_datachecker_performance_spark.__main__ import main

    report, ckpt = run.scratch(f"report-{tag}"), run.scratch(f"ckpt-{tag}")
    argv = [
        "--source", f"{entry}/docs_source.parquet",
        "--sink", f"{entry}/docs_sink.parquet",
        "--assets", f"{entry}/assets.parquet",
        "--report-dir", report, "--checkpoint-dir", ckpt,
        "--drift-threshold", str(DRIFT_THRESHOLD),
    ]
    with _quiet():
        t0 = time.perf_counter()
        rc = main(argv, spark=spark)
        wall = time.perf_counter() - t0
    errs = [f"exit code {rc}"] if rc not in (0, 1) else []
    run.check(errs or gate.check_report(spark, report, expected), f"main {tag}")
    return wall


def _build(spark, tracer, frames, run) -> tuple[float, dict[str, str]]:
    """write_digest_companion of both sides into run-local paths, BUILDS
    times after BUILD_WARMUP untimed builds (once when traced); returns
    the median time and the paths."""
    if tracer is not None:
        with tracer.span("prehashed_write"):
            return _build_companions(spark, frames, run.scratch("companion-build"))
    secs = []
    for _ in range(BUILD_WARMUP + BUILDS):
        t, paths = _build_companions(spark, frames, run.scratch("companion-build"))
        secs.append(t)
    run.info["companion_build_samples"] = secs
    return statistics.median(secs[BUILD_WARMUP:]), paths


def validate(run: Run, env: dict, traced: bool, break_expectation: bool) -> None:
    """Cold then warm CLI runs, then the companion builds (timed as
    companion_build_s), which come last so the CLI runs stay JIT-cold."""
    entry = _inputs(run, env)
    tables = {
        "source": f"{entry}/docs_source.parquet",
        "sink": f"{entry}/docs_sink.parquet",
        "assets": f"{entry}/assets.parquet",
    }
    tracer = Tracer(f"{run.workload}-{run.seed}") if traced else None
    with bench_env.RssSampler() as rss:
        spark, frames, setup_s = bench_env.set_up(tables, tracer)
        try:
            run.info.update(bench_env.host_info(spark))
            expected = _expected(run, entry, break_expectation)
            cold = _timed_main(spark, run, entry, expected, "cold")
            warm = []
            t_end = time.perf_counter() + (0 if traced else run.seconds)
            while len(warm) < MIN_WARM or time.perf_counter() < t_end:
                warm.append(_timed_main(spark, run, entry, expected, f"warm{len(warm)}"))
                if traced:
                    break
            build_s, _ = _build(spark, tracer, frames, run)
            if traced:
                _traced_validate(spark, tracer, run, entry, expected, warm[-1])
        finally:
            spark.stop()
    run.info.update(setup_s=setup_s, cold_s=cold, warm_s=warm, rss_at_peak_mb=rss.at_peak)
    op = statistics.median(warm)
    run.metrics.update(
        setup_s=setup_s,
        cold_op_s=cold,
        op_p50_s=op,
        items_per_s=expected["source_rows"] / op,
        companion_build_s=build_s,
        peak_rss_mb=rss.peak_mb,
    )


@contextlib.contextmanager
def _substitute(module, frames: dict):
    """Hand the runner the layer results computed (and timed) in their
    own spans, so its span holds only its own work: the digest barrier
    over the cached frames, the violation union and the verdict grid."""
    saved = {name: getattr(module, name) for name in frames}
    calls = []

    def stub(name):
        def f(*args, **kwargs):
            calls.append(name)
            return frames[name]
        return f

    for name in frames:
        setattr(module, name, stub(name))
    try:
        yield calls
    finally:
        for name, fn in saved.items():
            setattr(module, name, fn)


def _cache_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _traced_validate(spark, tracer, run, entry, expected, untraced_s):
    """The CLI's validation, re-composed from layer calls in its order
    (one wave): digest → diff → checks → runner → report → lineage, then
    the summary."""
    from pyspark.sql import functions as F

    from opengauss_tools_datachecker_performance_spark.checks.drift import (
        drift_from_profiles,
        quantile_profiles,
    )
    from opengauss_tools_datachecker_performance_spark.checks.span_rules import (
        span_rule_violations_from_digests,
    )
    from opengauss_tools_datachecker_performance_spark.checks.uniqueness import (
        duplicate_keys_from_digests,
    )
    from opengauss_tools_datachecker_performance_spark.digest import bucket_signatures
    from opengauss_tools_datachecker_performance_spark.operators.diff import (
        diff_digests,
        mismatched_buckets,
    )
    from opengauss_tools_datachecker_performance_spark.plans import runner
    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        partition_stats,
        record_partitions,
    )
    from opengauss_tools_datachecker_performance_spark.plans.report import (
        ProgressTracker,
        summarize_dir,
        write_frames,
    )
    from opengauss_tools_datachecker_performance_spark.plans.runner import validate_docs
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        digest_companion_frame,
    )
    from opengauss_tools_datachecker_performance_spark.sources.table_io import load_table

    report, ckpt = run.scratch("report-traced"), run.scratch("ckpt-traced")
    t0 = time.perf_counter()
    with _quiet(), tracer.span("cli"):
        with tracer.span("sources"):
            src = load_table(spark, f"{entry}/docs_source.parquet")
            sink = load_table(spark, f"{entry}/docs_sink.parquet")
            assets = load_table(spark, f"{entry}/assets.parquet")
        universe = sorted(
            r[0] for r in src.select("part").unionByName(sink.select("part"))
            .distinct().collect()
        )
        progress = ProgressTracker(report, tracer.run_id)
        w0 = time.perf_counter()
        with tracer.span("digest"):
            dig_src = digest_companion_frame(src).persist()
            dig_sink = digest_companion_frame(sink).persist()
            dig_src.count()
            dig_sink.count()
            sigs = bucket_signatures(dig_src).unionByName(bucket_signatures(dig_sink))
            n_buckets = sigs.select("bucket").distinct().count()
            tracer.counts["digest.cache_bytes"] = _cache_bytes(spark)
        with tracer.span("diff"):
            tracer.count("diff.buckets", n_buckets)
            tracer.count("diff.mismatched_buckets",
                         mismatched_buckets(dig_src, dig_sink).count())
            diffs = diff_digests(dig_src, dig_sink, two_phase=True,
                                 carry_cols=["part"], locate_spans=True).persist()
            diffs.count()
        with tracer.span("checks"):
            dups = duplicate_keys_from_digests(dig_src).persist()
            rules = span_rule_violations_from_digests(dig_src, assets).persist()
            prof = quantile_profiles(
                dig_src.select("part", F.col("text_len").alias("metric")),
                group_col="part",
            ).persist()
            drift = drift_from_profiles(prof, threshold=DRIFT_THRESHOLD).persist()
            held = [dups, rules, prof, drift]
            for df in held:
                df.count()
        with tracer.span("runner"):
            pre = {
                "diff_digests": diffs,
                "duplicate_keys_from_digests": dups,
                "span_rule_violations_from_digests": rules,
                "quantile_profiles": prof,
                "drift_from_profiles": drift,
            }
            with _substitute(runner, pre) as calls:
                result = validate_docs(
                    dig_src, dig_sink, assets, drift_threshold=DRIFT_THRESHOLD)
                result.verdicts.collect()
            if sorted(calls) != sorted(pre):
                run.check([f"runner used {sorted(calls)} of {sorted(pre)}"], "trace runner")
        with tracer.span("report"):
            write_frames(result, report)
        progress.record(len(universe), dig_src.count())
        with tracer.span("lineage"):
            record_partitions(
                spark, ckpt, tracer.run_id,
                partition_stats(src.filter(F.col("part").isin(universe))),
            )
        for df in (result.extras["violations_full"], result.extras["digests_source"],
                   result.extras["digests_sink"], dig_src, dig_sink, *held, diffs):
            df.unpersist()
        wave_s = time.perf_counter() - w0
        with tracer.span("report"):
            summarize_dir(spark, report)
    traced_s = time.perf_counter() - t0
    tracer.counts["report.bytes_written"] = _dir_bytes(report)
    run.check(gate.check_report(spark, report, expected), "traced report")
    run.check(_same_verdicts(spark, report, run.path("report-warm0")), "traced verdicts")
    _finish_trace(spark, tracer, run, traced_s, traced_s - untraced_s, [wave_s], "validate")


def _same_verdicts(spark, a: str, b: str) -> list[str]:
    def rows(d):
        return sorted(
            tuple(r) for r in spark.read.parquet(os.path.join(d, "verdicts.parquet"))
            .select("part", "constraint", "n_violations", "status").collect()
        )
    return [] if rows(a) == rows(b) else ["traced verdict grid differs from the untraced run's"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _finish_trace(spark, tracer, run, traced_s, overhead_s, waves, kind):
    """Per-layer metrics of a traced run: span self times, stage metrics
    per layer, and the layer counters."""
    missing = COVERAGE[kind] - {s["name"] for s in tracer.spans}
    run.check([f"no span for layers {sorted(missing)}"] if missing else [], "trace coverage")
    stages = tracer.stage_metrics(spark)
    self_t = tracer.self_times()
    m = run.metrics
    for layer in LAYERS:
        st = stages[layer]
        m[f"{layer}.wall_s"] = self_t[layer]
        m[f"{layer}.busy_s"] = st["busy_s"]
        m[f"{layer}.tasks"] = st["tasks"]
        m[f"{layer}.failed_tasks"] = st["failed_tasks"]
        m[f"{layer}.spill_bytes"] = st["spill_bytes"]
    c = tracer.counts
    m["cli.wall_s"] = traced_s
    m["cli.driver_s"] = self_t["cli"]
    m["cli.jobs"] = stages["cli"]["jobs"]
    m["cli.per_wave_s"] = statistics.median(waves) if waves else 0.0
    m["runner.jobs"] = stages["runner"]["jobs"]
    m["digest.input_bytes"] = stages["digest"]["input_bytes"]
    m["digest.cache_bytes"] = c.get("digest.cache_bytes", 0)
    m["lineage.input_bytes"] = stages["lineage"]["input_bytes"]
    m["diff.shuffle_bytes"] = stages["diff"]["shuffle_bytes"]
    m["diff.bucket_mismatch_ratio"] = (
        c["diff.mismatched_buckets"] / c["diff.buckets"] if c.get("diff.buckets") else 0.0
    )
    m["checks.shuffle_bytes"] = stages["checks"]["shuffle_bytes"]
    m["report.bytes_written"] = c.get("report.bytes_written", 0)
    keys = c.get("prehashed_write.changed_keys", 0)
    m["prehashed_write.parts_rewritten"] = c.get("prehashed_write.parts_rewritten", 0)
    m["prehashed_write.bytes_per_changed_key"] = (
        c.get("prehashed_write.bytes_rewritten", 0) / keys if keys else 0.0
    )
    m["prehashed_write.files"] = c.get("prehashed_write.files", 0)
    m["incremental.input_bytes"] = stages["incremental"]["input_bytes"]
    m["incremental.keys_checked"] = c.get("incremental.keys_checked", 0)
    peaks = memory_peaks(spark)
    m["cli.storage_peak_bytes"] = peaks["storage_bytes"]
    m["cli.execution_peak_bytes"] = peaks["execution_bytes"]
    m["tracing_overhead_s"] = overhead_s
    run.info.update(traced_s=traced_s, tracing_overhead_s=overhead_s, waves_s=waves)
    path = os.path.join(run.work, "trace.json")
    tracer.dump(path, {"stages": stages, "self_s": self_t, "counts": c})
    run.info["trace_file"] = path


# -- cdc_trickle -------------------------------------------------------------


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        if f.endswith(".parquet")
    ]


def cdc(run: Run, env: dict, traced: bool, break_expectation: bool) -> None:
    from pyspark.sql import functions as F

    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        update_digest_companion,
    )
    from opengauss_tools_datachecker_performance_spark.streaming.incremental import (
        IncrementalChecker,
    )

    entry = _inputs(run, env)
    tables = {"source": f"{entry}/docs_source.parquet", "sink": f"{entry}/docs_sink.parquet"}
    tracer = Tracer(f"{run.workload}-{run.seed}") if traced else None
    drawn: list[list[str]] = []
    plain, spanned = [], []
    with bench_env.RssSampler() as rss:
        spark, frames, setup_s = bench_env.set_up(tables, tracer)
        try:
            run.info.update(bench_env.host_info(spark))
            expected = _expected(run, entry, break_expectation)
            divergent = gate.divergent_keys(expected)
            div_pool = sorted(divergent)
            clean_pool = sorted(set(expected["source_keys"]) - set(divergent))
            rng = random.Random(run.seed)
            rng.shuffle(div_pool)
            build_s, comp = _build(spark, tracer, frames, run)
            path = comp["sink"]
            n_files0 = len(_parquet_files(path))
            checker = IncrementalChecker(frames["source"], frames["sink"], run.scratch("cdc-out"))

            def batch(b: int, trace: bool) -> float:
                n_div = min(CDC_DIVERGENT, len(div_pool))
                keys = [div_pool.pop() for _ in range(n_div)]
                keys += rng.sample(clean_pool, CDC_KEYS - n_div)
                rng.shuffle(keys)
                drawn.append(keys)
                checked = len(set(keys) | set(checker.pending))
                t0 = time.perf_counter()
                ctx = tracer.span("cli") if trace else contextlib.nullcontext()
                with ctx:
                    # the changed keys as an in-plan relation, like a feed
                    # read by the JVM (no Python worker round trips)
                    batch_df = spark.range(1).select(
                        F.explode(F.array(*map(F.lit, keys))).alias("doc_id"))
                    up = frames["sink"].join(F.broadcast(batch_df), "doc_id", "left_semi")
                    with tracer.span("prehashed_write") if trace else contextlib.nullcontext():
                        parts = update_digest_companion(spark, path, upserts=up)
                    with tracer.span("incremental") if trace else contextlib.nullcontext():
                        checker.process_batch(batch_df, b)
                wall = time.perf_counter() - t0
                if trace:
                    tracer.count("prehashed_write.parts_rewritten", len(parts))
                    tracer.count("prehashed_write.changed_keys", len(keys))
                    tracer.count("prehashed_write.bytes_rewritten", sum(
                        _dir_bytes(os.path.join(path, f"part={p}")) for p in parts))
                    tracer.count("incremental.keys_checked", checked)
                run.check(gate.check_cdc_batch(checker, drawn, divergent), f"batch {b}")
                return wall

            # the loop's cold start: a single cold batch varies too much
            # from run to run on a shared host to be a metric of its own
            startup = [batch(b, False) for b in range(1 + CDC_WARMUP)]
            # a traced run needs two traced and two untraced batches
            min_batches = 4 if traced else CDC_MIN_BATCHES
            t_end = time.perf_counter() + run.seconds
            loop0 = time.perf_counter()
            b = 1 + CDC_WARMUP
            while b <= CDC_WARMUP + min_batches or (
                not traced and time.perf_counter() < t_end
            ):
                # a traced run alternates traced and untraced batches, so
                # companion file growth weighs on both alike
                trace = traced and b % 2 == 0
                (spanned if trace else plain).append(batch(b, trace))
                b += 1
            loop_s = time.perf_counter() - loop0
            if traced:
                tracer.counts["prehashed_write.files"] = len(_parquet_files(path))
            run.check(gate.check_companion(spark, path, frames["sink"]), "companion")
            if traced:
                _finish_trace(
                    spark, tracer, run, sum(spanned),
                    statistics.median(spanned) - statistics.median(plain), spanned, "cdc",
                )
        finally:
            spark.stop()
    warm = plain + spanned
    run.info.update(
        setup_s=setup_s, startup_s=startup, batch_s=warm,
        rss_at_peak_mb=rss.at_peak,
        batches=len(drawn),
        files_before=n_files0, files_after=len(_parquet_files(path)),
        keys_per_batch=CDC_KEYS, divergent_per_batch=CDC_DIVERGENT,
    )
    run.metrics.update(
        setup_s=setup_s,
        cold_op_s=sum(startup),
        op_p50_s=statistics.median(warm),
        items_per_s=CDC_KEYS * len(warm) / loop_s,
        companion_build_s=build_s,
        peak_rss_mb=rss.peak_mb,
    )
