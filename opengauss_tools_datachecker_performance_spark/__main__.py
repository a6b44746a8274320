"""spark-submit job entrypoint — the whole check lifecycle in one job.

The reference runs three Spring services (check :9000, source :9001,
sink :9002 — config/application.yml:2,15-16) wired by Feign REST and
Kafka; its /start full-check flow is traced in SURVEY.md §3.1. Here
the entire lifecycle is ONE Spark job: driver = check service,
executors = extract workers, shuffle = Kafka.

Usage (cluster; zip built by scripts/make_pyfiles.py):

    spark-submit --master yarn --deploy-mode cluster \
        --py-files dist/opengauss_tools_datachecker_performance_spark.zip \
        scripts/submit_job.py \
        --source iceberg:db.docs_source --sink iceberg:db.docs_sink \
        --assets iceberg:db.assets --report-dir out/ \
        --checkpoint-dir ckpt/ --resume

or locally: ``python -m opengauss_tools_datachecker_performance_spark ...``

Lifecycle: read inputs → (resume? anti-join completed partitions from
the checkpoint ledger) → validate_docs (schema pre-check, digest
tree, two-phase diff, uniqueness, referential, null-rule, drift) →
write report (violations + verdicts parquet, summary.json,
success/failed logs) → append per-partition lineage to the ledger.
Exit code 0 iff every validated partition passed every constraint;
1 = violations found; 2 = a digest companion failed its staleness
audit (rerun with --companion-repair, or refresh the companion).

Body-free mode: ``--source-companion`` / ``--sink-companion`` point
at digest companion tables (sources/prehashed.py) and validation
scans ONLY the persisted enriched digest frames — the doc bodies are
touched solely for companion repair (and for ``--companion-audit
full``). Measured 2.2× at 3M docs/side with byte-identical reports
(BENCH/BASELINE.md); at 10^12 docs it converts the bandwidth-bound
digest stage into a metadata-sized read.

Optional report stages (near-dup pairs/index/clusters,
decontamination, substring dedup, source overlap, corpus stats,
interleaved audit, snapshot delta, table audit) live in
plans/sections.py, one record each: flags, parse-time spec checks,
owned report frames and a run function. ``main`` adds and checks them
at parse time and runs them in the one tail every summary-writing
exit reaches.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.plans.sections import SECTIONS


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="opengauss_tools_datachecker_performance_spark",
        description="PySpark-native schema + constraint validation of interleaved-doc tables",
    )
    p.add_argument("--source", required=True,
                   help="source docs table: parquet path or iceberg:db.tbl[@snapshot]")
    p.add_argument("--sink", default=None, help="sink docs table to diff against (optional)")
    p.add_argument("--assets", default=None, help="asset catalog for referential check")
    p.add_argument("--report-dir", required=True, help="report output directory")
    p.add_argument("--checkpoint-dir", default=None, help="lineage ledger directory")
    p.add_argument(
        "--baseline-report-dir", default=None,
        help="a previous run's report dir: this run's violations are "
             "diffed against it (regression.parquet + new/resolved/"
             "persisting counts in summary.json)",
    )
    p.add_argument("--resume", action="store_true", help="skip partitions already 'done' in the ledger")
    p.add_argument(
        "--streaming-demo", default=None, metavar="CHANGES_URI",
        help="run the live micro-batch incremental re-check instead of "
             "the batch validation: consume a change feed of (doc_id) "
             "rows (directory of parquet files, or kafka://servers/"
             "topic), IN-list re-check both tables per micro-batch "
             "with the two-pass secondary-check ledger, and write "
             "confirmed diffs to --report-dir/incremental_violations"
             ".parquet + a streaming_demo.json summary; requires "
             "--sink and --checkpoint-dir",
    )
    p.add_argument("--partition-col", default="part")
    p.add_argument("--drift-threshold", type=float, default=0.15)
    p.add_argument(
        "--max-violations", type=int, default=None,
        help="cap ENUMERATED violation rows per (partition, constraint); "
             "verdict counts stay exact (guard rail for flooded diffs)",
    )
    p.add_argument(
        "--chunk-partitions", type=int, default=0,
        help="validate in waves of N partitions, appending per-partition "
             "lineage after each wave so a killed run resumes mid-table "
             "(0 = one wave). Wave report writes are idempotent "
             "(chunk=<id> subdirs), so retrying a half-written wave is safe.",
    )
    p.add_argument(
        "--emit-repair", action="store_true",
        help="also write repair.sql/ — batched MERGE (upsert from source) "
             "+ DELETE statements for the consistency diffs",
    )
    p.add_argument(
        "--repair-batch-size", type=int, default=100,
        help="keys per repair statement IN-list",
    )
    p.add_argument(
        "--source-companion", default=None,
        help="digest companion for --source (parquet path or table:name, "
             "sources/prehashed.py): validate body-free off the persisted "
             "enriched digest frame — identical report, ~2.2x at 3M "
             "docs/side (BENCH/BASELINE.md)",
    )
    p.add_argument(
        "--sink-companion", default=None,
        help="digest companion for --sink (see --source-companion)",
    )
    p.add_argument(
        "--companion-audit", choices=["none", "ledger", "full"], default="none",
        help="staleness gate before trusting a companion. Every mode first "
             "checks partition PRESENCE against the raw table's partition "
             "column (a single-int-column scan, no bodies): a partition the "
             "table has but the companion lacks is stale. 'none' (default) "
             "stops there — right for writer-maintained companions, where "
             "data and companion move together. 'ledger' additionally "
             "compares per-partition (n_rows, XOR digest) against the "
             "checkpoint ledger's latest 'done' entries (body-free, source "
             "side only, no-op without --checkpoint-dir) — use when no "
             "legitimate change is expected since the last validated run, "
             "as ANY divergence (companion rot or unexpected mutation) "
             "exits 2. 'full' recomputes reference stats from the doc "
             "bodies (recovery mode — one body scan)",
    )
    p.add_argument(
        "--companion-repair", action="store_true",
        help="re-derive audit-stale partitions from the doc bodies into the "
             "companion (parquet-path companions only; reads only the stale "
             "partitions' bodies) instead of exiting 2",
    )
    p.add_argument(
        "--status-demo", default=None, metavar="STATUS_DIR",
        help="run the slice-status orchestration loop instead of the "
             "batch validation: consume (slice_no, st) extract reports "
             "from a directory of parquet files through the keyed-state "
             "OR-register; slices reaching ready(3) are digest-diffed "
             "(that partition only) and their checked(4) report is fed "
             "back until done(7) — slice_verdicts.parquet + "
             "status_demo.json; requires --sink and --checkpoint-dir",
    )
    p.add_argument("--run-id", default=None)
    p.add_argument("--master", default=None, help="override master (default: spark-submit / env)")
    for sec in SECTIONS:
        sec.add_args(p)
    return p


#: pseudo-chunk id for the run-global drift verdicts of a chunked run
_DRIFT_CHUNK = 999_999_999


def _has_chunk_subdirs(report_dir: str) -> bool:
    """True if a previous (chunked) run left chunk= subdirs in this
    report dir — the resumed run must keep appending to that layout."""
    for frame in ("violations.parquet", "verdicts.parquet"):
        base = os.path.join(report_dir, frame)
        if os.path.isdir(base) and any(
            e.startswith("chunk=") for e in os.listdir(base)
        ):
            return True
    return False


def _finalize_drift(spark: SparkSession, report_dir: str, threshold: float) -> None:
    """Chunked runs defer drift: each wave persisted its per-partition
    quantile profiles; judge drift ONCE over their union (run-global
    baseline) and write the verdict rows as a dedicated chunk —
    idempotent like every wave write."""
    from opengauss_tools_datachecker_performance_spark.checks.drift import (
        drift_from_profiles,
    )
    from opengauss_tools_datachecker_performance_spark.plans.runner import (
        drift_verdicts,
    )

    profiles = spark.read.parquet(
        os.path.join(report_dir, "drift_profiles.parquet")
    ).select("part", "q")
    drift_verdicts(drift_from_profiles(profiles, threshold=threshold)).write.mode(
        "overwrite"
    ).parquet(
        os.path.join(report_dir, "verdicts.parquet", f"chunk={_DRIFT_CHUNK}")
    )


def _run_status_demo(spark: SparkSession, args, docs_source, docs_sink) -> int:
    """--status-demo: the reference's slice-status orchestration loop
    as one streaming job (TableStatusRegister.java:1-488 +
    TaskRegisterCenter completion scan): a stream of
    ``(slice_no, st)`` extract reports folds through the keyed-state
    OR-register (streaming/status_register.py,
    ``applyInPandasWithState``); a slice whose status reaches
    READY(3 = source|sink reported) triggers the slice check (digest
    diff of that partition only); the check then emits the
    CHECKED(4) report back into the SAME feed, driving the register
    to DONE(7) — the full report→ready→check→done cycle, checkpointed.

    Per status batch the register emits ≤ one row per slice (driver
    collect is #slices-bounded, same contract as the incremental
    checker's key cap).  Slice verdicts land in
    ``slice_verdicts.parquet/batch=<id>`` subdirs (idempotent under
    replays); the final registry + verdicts summarize into
    status_demo.json.  Exit 1 when any checked slice has diffs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opengauss_tools_datachecker_performance_spark.operators.diff import diff_docs
    from opengauss_tools_datachecker_performance_spark.streaming.status_register import (
        track_slice_status,
    )

    part_col = args.partition_col
    state: dict = {"statuses": {}, "checked": set(), "n_failed": 0}

    def on_batch(batch_df, batch_id: int) -> None:
        rows = batch_df.collect()  # ≤ one row per slice per batch
        for r in rows:
            state["statuses"][int(r["slice_no"])] = int(r["status"])
        ready = sorted(
            int(r["slice_no"])
            for r in rows
            if r["ready_for_check"] and int(r["slice_no"]) not in state["checked"]
        )
        if not ready:
            return
        state["checked"].update(ready)
        src = docs_source.filter(F.col(part_col).isin(ready))
        snk = docs_sink.filter(F.col(part_col).isin(ready))
        # attribute diff keys back to their slice via the key→part maps
        # (distinct-collapsed before the join; diff output is key-level)
        keymap = (
            src.select(F.col("doc_id").cast("string").alias("key"), F.col(part_col).alias("_part"))
            .unionByName(
                snk.select(
                    F.col("doc_id").cast("string").alias("key"),
                    F.col(part_col).alias("_part"),
                )
            )
            .distinct()
        )
        diffs = diff_docs(src, snk, two_phase=False)
        per_slice = {
            int(r["_part"]): int(r["n"])
            for r in diffs.join(keymap, "key")
            .groupBy("_part")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        verdicts = [
            (s, per_slice.get(s, 0), "failed" if per_slice.get(s, 0) else "passed",
             int(batch_id))
            for s in ready
        ]
        state["n_failed"] += sum(1 for v in verdicts if v[2] == "failed")
        spark.createDataFrame(
            verdicts, "slice_no int, n_diffs long, verdict string, batch_id long"
        ).write.mode("overwrite").parquet(
            os.path.join(
                args.report_dir, "slice_verdicts.parquet", f"batch={batch_id}"
            )
        )
        # report CHECKED back into the feed → register advances to DONE
        pq.write_table(
            pa.table(
                {
                    "slice_no": pa.array(ready, type=pa.int32()),
                    "st": pa.array([4] * len(ready), type=pa.int32()),
                }
            ),
            # unique per write: a checkpoint-resumed run's file source
            # has seen the previous runs' paths and would skip a reuse
            os.path.join(args.status_demo, f"checked_{uuid.uuid4().hex}.parquet"),
        )

    stream = (
        spark.readStream.schema("slice_no int, st int")
        .option("maxFilesPerTrigger", "1")
        .parquet(args.status_demo)
    )
    query = (
        track_slice_status(stream)
        .writeStream.foreachBatch(on_batch)
        .outputMode("update")  # required by applyInPandasWithState
        .option("checkpointLocation", os.path.join(args.checkpoint_dir, "status_demo"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        # the check's own CHECKED reports create new feed files, so one
        # drain is not quiescence — drain until no new slice was checked
        while True:
            before = len(state["checked"])
            query.processAllAvailable()
            if len(state["checked"]) == before:
                break
    finally:
        query.stop()
    summary = {
        "status_feed": args.status_demo,
        "slice_status": {str(k): v for k, v in sorted(state["statuses"].items())},
        "n_checked": len(state["checked"]),
        "n_failed_slices": state["n_failed"],
    }
    os.makedirs(args.report_dir, exist_ok=True)
    with open(os.path.join(args.report_dir, "status_demo.json"), "w") as fh:
        json.dump(summary, fh, indent=2, sort_keys=True)
    print(
        f"[status-demo] {len(state['checked'])} slices checked, "
        f"{state['n_failed']} failed; registry: {summary['slice_status']}"
    )
    return 1 if state["n_failed"] else 0


def _run_streaming_demo(spark: SparkSession, args, docs_source, docs_sink) -> int:
    """--streaming-demo: the reference's incremental lifecycle as ONE
    running Structured-Streaming job (IncrementCheckThread.java:140-232
    / IncrementDataAnalysisService.java:102-170): change feed →
    micro-batch IN-list re-check of both endpoints → two-pass
    secondary-check ledger → confirmed-violation sink.

    The feed is a directory of (doc_id) parquet files (the CI-runnable
    double) or ``kafka://servers/topic`` (production) — the SAME
    reader plumbing either way (streaming.incremental
    plan_change_source).  ``maxFilesPerTrigger=1`` makes each file one
    micro-batch, so the secondary check (a diff key confirms only when
    it diffs in two consecutive batches) is exercised for real, not
    simulated.  Processes everything available (blocking), stops the
    query, and writes a streaming_demo.json summary; keys still
    pending their second sighting are reported as such — a restarted
    run picks the stream checkpoint back up.  Exit 1 when confirmed
    diffs exist, 0 otherwise (mirrors the batch run's verdict exit
    code)."""
    from opengauss_tools_datachecker_performance_spark.streaming.incremental import (
        IncrementalChecker,
        open_change_source,
    )

    checker = IncrementalChecker(docs_source, docs_sink, args.report_dir)
    stream = open_change_source(
        spark, args.streaming_demo, max_files_per_trigger=1
    )
    query = checker.start(
        stream,
        checkpoint_dir=os.path.join(args.checkpoint_dir, "streaming_demo"),
        trigger_seconds=1,
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    def _input_rows(progress) -> int:
        if isinstance(progress, dict):
            return int(progress.get("numInputRows", 0))
        return int(getattr(progress, "numInputRows", 0))

    n_batches = sum(1 for p in query.recentProgress if _input_rows(p) > 0)
    summary = {
        "change_source": args.streaming_demo,
        "batches_with_data": n_batches,
        "confirmed": [
            {"key": k, "diff_type": dt, "batch_id": b}
            for (k, dt, b) in checker.confirmed
        ],
        "n_confirmed": len(checker.confirmed),
        # keys seen diffing once, awaiting their second consecutive
        # sighting (the reference's secondary-check queue)
        "n_pending_secondary": len(checker.pending),
    }
    os.makedirs(args.report_dir, exist_ok=True)
    with open(
        os.path.join(args.report_dir, "streaming_demo.json"), "w"
    ) as fh:
        json.dump(summary, fh, indent=2, sort_keys=True)
    print(
        f"[streaming-demo] {n_batches} micro-batches, "
        f"{summary['n_confirmed']} confirmed diff keys, "
        f"{summary['n_pending_secondary']} pending secondary check"
    )
    return 1 if checker.confirmed else 0


def _ledger_reference_stats(spark: SparkSession, checkpoint_dir: str):
    """Latest 'done' ledger entry per partition, shaped for
    prehashed.companion_stale_partitions: (part, n_rows, digest).
    Body-free — the ledger recorded these stats when the partition
    last validated. Only entries of the current fold version count: a
    partition whose entries predate it reads as unaudited, not stale."""
    from pyspark.sql import Window

    from opengauss_tools_datachecker_performance_spark.digest import FOLD_VERSION
    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        read_ledger,
    )

    led = read_ledger(spark, checkpoint_dir).filter(
        (F.col("status") == "done") & (F.col("fold") == FOLD_VERSION)
    )
    w = Window.partitionBy("part").orderBy(F.col("wall_ts").desc())
    return (
        led.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("part", "n_rows", "digest")
    )


def _check_args(parser: argparse.ArgumentParser, args) -> None:
    """Bad flag combinations and malformed specs fail here, before a
    session starts or a table is read — never partway through a run."""
    if args.streaming_demo and args.status_demo:
        parser.error("--streaming-demo and --status-demo are exclusive modes")
    for flag, given in (
        ("--streaming-demo", args.streaming_demo),
        ("--status-demo", args.status_demo),
    ):
        if given and (not args.sink or not args.checkpoint_dir):
            parser.error(
                f"{flag} requires --sink (the diff target) and "
                "--checkpoint-dir (the stream's progress checkpoint)"
            )
    if args.streaming_demo:
        # a malformed kafka:// uri must be an argparse error up front,
        # not a ValueError traceback after the tables are loaded
        from opengauss_tools_datachecker_performance_spark.streaming.incremental import (
            plan_change_source,
        )

        try:
            plan_change_source(args.streaming_demo)
        except ValueError as exc:
            parser.error(str(exc))
    # a typo'd baseline dir must fail BEFORE the (potentially
    # hours-long) validation, not in the final summarize_dir
    if args.baseline_report_dir is not None and not os.path.isdir(
        os.path.join(args.baseline_report_dir, "violations.parquet")
    ):
        parser.error(
            "--baseline-report-dir has no violations.parquet: "
            f"{args.baseline_report_dir}"
        )
    for sec in SECTIONS:
        sec.check(parser, args)


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    _check_args(parser, args)
    own_session = spark is None
    if own_session:
        from opengauss_tools_datachecker_performance_spark.session import get_spark

        spark = get_spark(app_name="datachecker-validate", master=args.master)
    try:
        return _run(spark, args)
    finally:
        if own_session:
            spark.stop()


def _run(spark: SparkSession, args) -> int:
    from opengauss_tools_datachecker_performance_spark.plans.lineage import (
        pending_partitions,
        record_partitions,
    )
    from opengauss_tools_datachecker_performance_spark.plans.report import (
        ProgressTracker,
        write_frames,
    )
    from opengauss_tools_datachecker_performance_spark.plans.runner import validate_docs
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        load_table,
    )

    run_id = args.run_id or uuid.uuid4().hex[:12]
    docs_source = load_table(spark, args.source)
    docs_sink = load_table(spark, args.sink) if args.sink else None
    assets = load_table(spark, args.assets) if args.assets else None

    if args.streaming_demo:
        return _run_streaming_demo(spark, args, docs_source, docs_sink)
    if args.status_demo:
        return _run_status_demo(spark, args, docs_source, docs_sink)

    # Body-free mode: swap each side for its digest companion after an
    # optional staleness audit. The raw tables stay loaded (schema-only
    # until an audit/repair actually scans them) as the repair source.
    src_part_col = sink_part_col = args.partition_col
    if args.source_companion or args.sink_companion:
        from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
            companion_stale_partitions,
            read_digest_companion,
            repair_companion,
        )

        for side, ref, bodies in (
            ("source", args.source_companion, docs_source),
            ("sink", args.sink_companion, docs_sink),
        ):
            if not ref:
                continue
            if bodies is None:
                print(f"[companion] --{side}-companion given without --{side}")
                return 2
            comp = read_digest_companion(spark, ref)
            # Unconditional body-free PRESENCE check (every audit
            # mode): the raw table's partition column is a single-int
            # scan, so comparing partition SETS costs no body read. A
            # partition the table has but the companion lacks (new,
            # never ingested into the companion) or the companion has
            # but the table lost (wholesale delete) is stale — without
            # this, a companion-missing partition silently drops out
            # of the validation universe.
            raw_parts = bodies.select(
                F.col(args.partition_col).cast("int").alias("part")
            ).distinct()
            comp_parts = comp.select(F.col("part").cast("int")).distinct()

            def _presence(missing_from, present_in, reason):
                return present_in.join(missing_from, "part", "left_anti").select(
                    "part",
                    F.lit(reason).alias("reason"),
                    F.lit(None).cast("long").alias("companion_n_rows"),
                    F.lit(None).cast("long").alias("reference_n_rows"),
                    F.lit(None).cast("long").alias("companion_digest"),
                    F.lit(None).cast("long").alias("reference_digest"),
                )

            stale_df = _presence(
                comp_parts, raw_parts, "missing_in_companion"
            ).unionByName(
                _presence(raw_parts, comp_parts, "missing_in_reference")
            )
            ref_stats = None
            if args.companion_audit == "full":
                from opengauss_tools_datachecker_performance_spark.plans.lineage import (
                    partition_stats as _pstats,
                )

                ref_stats = _pstats(
                    bodies.withColumnRenamed(args.partition_col, "part")
                )
            elif (
                args.companion_audit == "ledger"
                and args.checkpoint_dir
                and side == "source"
            ):
                ref_stats = _ledger_reference_stats(spark, args.checkpoint_dir)
            if ref_stats is not None:
                audit_df = companion_stale_partitions(comp, ref_stats)
                if args.companion_audit == "ledger":
                    # the ledger only knows previously-validated
                    # partitions — a companion partition absent from it
                    # is unaudited, not stale
                    audit_df = audit_df.filter(
                        F.col("reason") != "missing_in_reference"
                    )
                stale_df = stale_df.unionByName(audit_df)
            stale_df = stale_df.dropDuplicates(["part"])
            stale = stale_df.collect()  # bounded: #partitions
            if stale and args.companion_repair and not ref.startswith("table:"):
                repair_companion(
                    spark,
                    ref,
                    bodies,
                    [r["part"] for r in stale],
                    partition_col=args.partition_col,
                )
                comp = read_digest_companion(spark, ref)
                print(
                    f"[companion] {side}: repaired "
                    f"{len(stale)} stale partitions from doc bodies"
                )
            elif stale:
                os.makedirs(args.report_dir, exist_ok=True)
                # record WHICH audit level detected the staleness: a
                # later, weaker-audited run must not treat its own pass
                # as clearing findings it could not have re-checked
                stale_df.withColumn(
                    "audit_level", F.lit(args.companion_audit)
                ).coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(args.report_dir, "companion_stale.parquet")
                )
                why = (
                    "table: companions cannot be partition-repaired "
                    "— refresh via write_digest_companion"
                    if ref.startswith("table:")
                    else "rerun with --companion-repair"
                )
                print(
                    f"[companion] {side}: {len(stale)} stale partitions "
                    f"(companion_stale.parquet) — aborting; {why}"
                )
                return 2
            if side == "source":
                docs_source, src_part_col = comp, "part"
            else:
                docs_sink, sink_part_col = comp, "part"
        # audits passed (or repaired): a companion_stale.parquet left
        # by a previously-aborted run in this report dir is stale info
        # — but only if THIS run's audit is at least as strong as the
        # one that wrote it. A 'none'-level rerun passing its presence
        # check has not re-examined what a 'full' audit flagged;
        # deleting the marker would destroy the only record of
        # known-stale partitions while the staleness is unresolved.
        marker = os.path.join(args.report_dir, "companion_stale.parquet")
        if os.path.isdir(marker):
            rank = {"none": 0, "ledger": 1, "full": 2}
            try:
                prev_levels = {
                    r[0]
                    for r in spark.read.parquet(marker)
                    .select("audit_level")
                    .distinct()
                    .collect()
                }
            except Exception:
                # pre-audit_level marker (older layout): treat as full
                prev_levels = {"full"}
            prev = max(rank.get(lv, 2) for lv in prev_levels)
            if rank[args.companion_audit] >= prev:
                shutil.rmtree(marker, ignore_errors=True)
            else:
                print(
                    "[companion] WARNING: companion_stale.parquet was "
                    "written by a stronger audit "
                    f"({', '.join(sorted(prev_levels))}) than this "
                    f"run's --companion-audit {args.companion_audit}; "
                    "keeping the marker — re-run at that level (or "
                    "--companion-repair) to clear it"
                )

    n = args.chunk_partitions
    # The partition universe is needed up front only to cut waves or to
    # resume; a single fresh wave takes its partitions from the digest
    # barrier instead (validate_docs' extras["partitions"]).
    universe = pending = None
    if n > 0 or args.resume:
        # universe = source ∪ sink: a partition wholesale-deleted from
        # the source still exists in the sink and must surface its
        # delete diffs — a source-only universe would silently skip it
        # in chunked/resumed runs.
        parts_df = docs_source.select(F.col(src_part_col).alias("part"))
        if docs_sink is not None:
            parts_df = parts_df.unionByName(
                docs_sink.select(F.col(sink_part_col).alias("part"))
            )
        universe = sorted(r[0] for r in parts_df.distinct().collect())
        pending = universe
    if args.resume and args.checkpoint_dir:
        pending = pending_partitions(spark, args.checkpoint_dir, universe)
        print(
            f"[resume] {len(universe) - len(pending)} partitions done, "
            f"{len(pending)} pending"
        )
        if not pending:
            print("[resume] nothing to do")
            return _finish(spark, args, {}, run_id, refresh_only=True)

    # Chunked mode is a property of the REPORT LAYOUT, not of how many
    # waves remain: a resumed run whose pending set fits one wave must
    # still write chunk=<id> subdirs (a base-dir overwrite would delete
    # every previously-written wave) and must still defer drift to the
    # run-global _finalize_drift rollup. Likewise, resuming into a
    # report dir that already holds chunk= subdirs stays chunked even
    # without --chunk-partitions.
    chunked = n > 0 or (args.resume and _has_chunk_subdirs(args.report_dir))
    if chunked and not args.resume:
        # fresh chunked run into a dirty report dir: stale chunk=
        # subdirs from a previous run with different wave boundaries
        # would otherwise survive the per-chunk overwrites and
        # duplicate rows in the merged report
        for frame in (
            "violations.parquet",
            "verdicts.parquet",
            "drift_profiles.parquet",
            "repair.sql",  # stale repair chunks re-apply old DELETEs
        ):
            shutil.rmtree(os.path.join(args.report_dir, frame), ignore_errors=True)
    if not args.resume and not args.baseline_report_dir:
        # a previous run's regression frame next to a summary with no
        # regression section would read as current
        shutil.rmtree(
            os.path.join(args.report_dir, "regression.parquet"),
            ignore_errors=True,
        )
    chunks = (
        [pending[i : i + n] for i in range(0, len(pending), n)]
        if chunked and n > 0
        else [pending]
    )
    schema_ok, schema_msg = True, ""
    held_digests = None  # a single full wave's digest frame, for the sections
    progress = ProgressTracker(args.report_dir, run_id)
    for ch in chunks:
        # fast path: a full single wave needs no partition filter
        only = ch if chunked or ch != universe else None
        result = validate_docs(
            docs_source,
            docs_sink,
            assets,
            partition_col=args.partition_col,
            only_partitions=only,
            drift_threshold=args.drift_threshold,
            max_violations_per_partition=args.max_violations,
            skip_drift=chunked,  # judged run-globally after the waves
        )
        write_frames(
            result, args.report_dir, chunk=(min(ch) if chunked else None)
        )
        if args.emit_repair and result.extras.get("diffs") is not None:
            from opengauss_tools_datachecker_performance_spark.plans.report import (
                write_repair_sql,
            )

            write_repair_sql(
                result.extras["diffs"],
                args.report_dir,
                source_table=args.source,
                sink_table=args.sink,
                batch_size=args.repair_batch_size,
                chunk=(min(ch) if chunked else None),
            )
        if chunked and result.schema_ok:
            result.extras["drift_profiles"].write.mode("overwrite").parquet(
                os.path.join(
                    args.report_dir, "drift_profiles.parquet", f"chunk={min(ch)}"
                )
            )
            print(f"[wave] partitions {ch[0]}..{ch[-1]} written", flush=True)
        if not result.schema_ok:
            schema_ok, schema_msg = False, result.schema_message
            break
        # liveness/rate line and lineage per wave, both from the
        # per-partition (part, n_rows, digest) stats the digest barrier
        # collected: no Spark job of their own and no body re-scan —
        # the barrier folds the same hashes the companion stores, so
        # raw and companion runs record bit-identical lineage
        stats = result.extras["partition_stats"]
        progress.record(
            len(result.extras["partitions"]), sum(r[1] for r in stats)
        )
        if args.checkpoint_dir:
            record_partitions(spark, args.checkpoint_dir, run_id, stats)
        # a single full wave's persisted enriched digest frame covers
        # the whole source: hand it to the sections (a snapshot delta
        # then never digests the source a second time) and unpersist
        # it after them
        if only is None:
            held_digests = result.extras.get("digests_source")
        for df in (
            result.extras.get("violations_full"),
            None if only is None else result.extras.get("digests_source"),
            result.extras.get("digests_sink"),
            result.extras.get("diffs"),
        ):
            if df is not None:
                df.unpersist()

    if chunked and schema_ok:
        _finalize_drift(spark, args.report_dir, args.drift_threshold)
    return _finish(
        spark,
        args,
        {"source_digests": held_digests},
        run_id,
        schema_ok=schema_ok,
        schema_message=schema_msg,
    )


def _finish(
    spark: SparkSession,
    args,
    ctx: dict,
    run_id: str,
    schema_ok: bool = True,
    schema_message: str = "",
    refresh_only: bool = False,
) -> int:
    """The one tail every summary-writing exit reaches: run each
    requested optional stage (plans/sections.py), then write the
    summary. ``refresh_only`` marks a resumed run with nothing left to
    validate: the stages still run, the summary is refreshed
    best-effort over the frames a previous run left in this report
    dir, and the exit code is 0."""
    from opengauss_tools_datachecker_performance_spark.plans.report import (
        summarize_dir,
    )

    entries: dict = {}
    for sec in SECTIONS:
        if not args.resume:
            # fresh run: a frame a PREVIOUS run wrote for a stage this
            # run was not given would otherwise sit next to a
            # summary.json with no matching section
            for frame in sec.frames:
                for path in glob.glob(
                    os.path.join(glob.escape(args.report_dir), frame)
                ):
                    shutil.rmtree(path, ignore_errors=True)
        entries.update(sec.run(spark, args, ctx))
    if ctx.get("source_digests") is not None:
        ctx["source_digests"].unpersist()
    try:
        # a resumed run finalizes drift in case a kill landed between
        # the last wave and the drift rollup
        if refresh_only and os.path.isdir(
            os.path.join(args.report_dir, "drift_profiles.parquet")
        ):
            _finalize_drift(spark, args.report_dir, args.drift_threshold)
        summary = summarize_dir(
            spark,
            args.report_dir,
            schema_ok=schema_ok,
            schema_message=schema_message,
            baseline_dir=args.baseline_report_dir,
            sections=entries,
        )
    except Exception as exc:
        if not refresh_only:
            raise
        # the stages' failures above surface; a failed refresh over a
        # PREVIOUS run's leftovers must not fail this run, but it must
        # be visible
        print(f"[summary] WARNING: refresh skipped: {exc}")
        return 0
    if refresh_only:
        return 0
    print(f"[validate] run={run_id} result={summary['result']}")
    if "regression" in summary:
        r = summary["regression"]
        print(
            f"[regression] vs {r['baseline_dir']}: {r['new']} new, "
            f"{r['resolved']} resolved, {r['persisting']} persisting"
        )
    return 0 if summary["result"] == "success" else 1


if __name__ == "__main__":
    sys.exit(main())
