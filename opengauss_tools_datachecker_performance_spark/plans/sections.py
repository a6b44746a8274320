"""The CLI's optional report stages, one record each.

Reference: one result manager (SliceCheckResultManager) owns every
report file. Here each optional stage is a :data:`Section` record:

* ``add_args(parser)`` — the stage's flags;
* ``check(parser, args)`` — parse-time validation: a malformed spec is
  a ``parser.error`` before any table is read, never a traceback after
  the (possibly hours-long) validation;
* ``frames`` — the report-dir entries the stage owns (names or globs);
  a fresh run deletes them before the stage runs, so a frame a
  previous run wrote for a flag this run was not given never sits next
  to a summary.json without its section;
* ``run(spark, args, ctx) -> dict`` — writes the stage's frames when
  its flags ask for it and returns the summary.json entries it owns
  (``{}`` when not requested).

``__main__`` walks :data:`SECTIONS` at parse time and in the one tail
that every summary-writing exit reaches, so a resumed run with nothing
left to validate still honors every requested stage. ``ctx`` carries
what the validation hands over: ``source_digests``, the persisted
enriched digest frame of a single full wave (or None).
"""

from __future__ import annotations

import os
import re
import shutil
from collections import namedtuple

from pyspark.sql import functions as F

Section = namedtuple("Section", "add_args check frames run")


def _no_check(parser, args) -> None:
    pass


def _load(spark, ref: str):
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        load_table,
    )

    return load_table(spark, ref)


def _is_float(s: str) -> bool:
    try:
        float(s)
    except ValueError:
        return False
    return True


# --- near-duplicate pairs / incremental index / clusters -------------


def _near_dup_args(p) -> None:
    p.add_argument(
        "--near-dup-table", default=None,
        help="also run MinHash-LSH near-duplicate detection over this "
             "documents table (needs doc_id + text columns); pairs land "
             "in near_dup_pairs.parquet and any capped coverage "
             "(mega-bucket / stop-shingle drops) in summary.json's "
             "coverage_bounds — the cap is never silent",
    )
    p.add_argument("--near-dup-threshold", type=float, default=0.5,
                   help="verified-Jaccard threshold for --near-dup-table")
    p.add_argument(
        "--near-dup-index", default=None,
        help="persisted MinHash index dir (operators/dedup_index.py). "
             "When set, --near-dup-table is treated as the NEW BATCH and "
             "deduped incrementally against the index (new-vs-corpus and "
             "new-vs-new; corpus text is never re-read)",
    )
    p.add_argument(
        "--near-dup-clusters", action="store_true",
        help="also cluster the emitted near-dup pairs into connected "
             "components with one canonical survivor per component "
             "(operators/clusters.py): doc-level keep/remove decisions "
             "land in near_dup_clusters.parquet and counts in "
             "summary.json's near_dup_clusters section",
    )
    p.add_argument(
        "--near-dup-update-index", action="store_true",
        help="after detection, index the batch into --near-dup-index "
             "(idempotent: replaying a batch overwrites its own batch= "
             "subdirs)",
    )


def _near_dup_check(parser, args) -> None:
    # silently skipping the index update would make the NEXT
    # incremental run miss real near-duplicates of this batch
    if args.near_dup_update_index and not args.near_dup_index:
        parser.error("--near-dup-update-index requires --near-dup-index")
    if args.near_dup_index and not args.near_dup_table:
        parser.error(
            "--near-dup-index requires --near-dup-table (the new batch)"
        )
    if args.near_dup_clusters and not args.near_dup_table:
        parser.error("--near-dup-clusters requires --near-dup-table")
    if args.near_dup_clusters and args.near_dup_index:
        # incremental pairs are batch-vs-CORPUS: corpus members' text
        # is not in --near-dup-table, so survivor ranking (longest
        # text) and cluster membership would silently be computed over
        # a partial node set — refuse rather than mislead
        parser.error(
            "--near-dup-clusters needs the full-corpus pair run; it "
            "cannot cluster incremental (--near-dup-index) pairs"
        )


def _run_near_dup(spark, args, ctx) -> dict:
    if not args.near_dup_table:
        return {}
    from opengauss_tools_datachecker_performance_spark.operators.dedup import (
        coverage_counts,
        minhash_near_duplicates,
        release,
    )

    cov: dict = {}
    nd_table = _load(spark, args.near_dup_table)
    if args.near_dup_index and args.near_dup_update_index:
        # detect AND index in one shingle/minhash pass over the
        # batch text (ingest_batch) instead of recomputing the
        # batch's frames a second time for the index write
        from opengauss_tools_datachecker_performance_spark.operators.dedup_index import (
            ingest_batch,
        )

        pairs, n_indexed = ingest_batch(
            spark,
            args.near_dup_index,
            nd_table,
            threshold=args.near_dup_threshold,
            coverage_out=cov,
        )
        print(f"[near-dup] indexed {n_indexed} new docs into "
              f"{args.near_dup_index}")
    elif args.near_dup_index:
        # incremental detection only: the table is the NEW BATCH,
        # deduped against the persisted corpus index without
        # re-reading corpus text
        from opengauss_tools_datachecker_performance_spark.operators.dedup_index import (
            incremental_near_duplicates,
            read_minhash_index,
        )

        idx_b, idx_s = read_minhash_index(spark, args.near_dup_index)
        # a batch doc already in the index contributes NO pairs
        # here (its pairs were emitted when it was first ingested)
        # — say so, or a replayed/pre-ingested batch looks falsely
        # clean. The probe is one small join against the thin
        # bucket table.
        batch_ids = nd_table.select(
            F.col("doc_id").cast("string").alias("doc_id")
        ).distinct()
        n_already = (
            idx_b.join(F.broadcast(batch_ids), "doc_id", "left_semi")
            .select("doc_id")
            .distinct()
            .count()
        )
        if n_already:
            print(
                f"[near-dup] WARNING: {n_already} batch docs are "
                "already indexed and are skipped by detect-only "
                "mode (their pairs were reported at ingest); "
                "re-run with --near-dup-update-index to re-emit"
            )
        pairs = incremental_near_duplicates(
            idx_b,
            idx_s,
            nd_table,
            threshold=args.near_dup_threshold,
            coverage_out=cov,
        )
    else:
        pairs = minhash_near_duplicates(
            nd_table,
            "doc_id",
            "text",
            threshold=args.near_dup_threshold,
            coverage_out=cov,
        )
    pairs_path = os.path.join(args.report_dir, "near_dup_pairs.parquet")
    pairs.write.mode("overwrite").parquet(pairs_path)
    entries = {"coverage_bounds": coverage_counts(cov)}
    release(cov)
    if args.near_dup_clusters:
        from opengauss_tools_datachecker_performance_spark.operators.components import (
            connected_components,
            dedup_survivors,
        )

        # cluster off the WRITTEN pair frame — the LSH plan is not
        # recomputed once per label-propagation round
        labels_path = os.path.join(args.report_dir, "near_dup_clusters.parquet")
        connected_components(spark.read.parquet(pairs_path)).write.mode(
            "overwrite"
        ).parquet(labels_path)
        surv_path = os.path.join(args.report_dir, "near_dup_survivors.parquet")
        dedup_survivors(spark.read.parquet(labels_path), nd_table).write.mode(
            "overwrite"
        ).parquet(surv_path)
        stats = spark.read.parquet(surv_path).agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.coalesce(F.sum("n_members"), F.lit(0)).alias("n_docs"),
            F.coalesce(F.max("n_members"), F.lit(0)).alias("largest"),
        ).collect()[0]
        entries["near_dup_clusters"] = {
            "n_clusters": stats["n_clusters"],
            "n_docs_clustered": int(stats["n_docs"]),
            "largest_cluster": int(stats["largest"]),
            "n_removable": int(stats["n_docs"]) - stats["n_clusters"],
        }
        print(
            f"[near-dup] {stats['n_clusters']} clusters over "
            f"{stats['n_docs']} docs → {surv_path}"
        )
    return entries


# --- benchmark decontamination ---------------------------------------


def _decon_args(p) -> None:
    p.add_argument(
        "--decontaminate-table", default=None,
        help="corpus of (doc_id, text) to screen for benchmark "
             "contamination (operators/decontamination.py); flagged "
             "docs land in contaminated.parquet and the count in "
             "summary.json's decontamination section",
    )
    p.add_argument(
        "--decontaminate-benchmark", default=None,
        help="held-out eval/benchmark set of (doc_id, text) whose "
             "k-shingle overlap flags corpus docs (requires "
             "--decontaminate-table)",
    )
    p.add_argument(
        "--decontaminate-min-shared", type=int, default=2,
        help="distinct shared shingles needed to flag a doc (default 2)",
    )


def _decon_check(parser, args) -> None:
    if bool(args.decontaminate_table) != bool(args.decontaminate_benchmark):
        parser.error(
            "--decontaminate-table and --decontaminate-benchmark "
            "must be given together"
        )


def _run_decontamination(spark, args, ctx) -> dict:
    if not args.decontaminate_table:
        return {}
    from opengauss_tools_datachecker_performance_spark.operators.decontamination import (
        decontaminate,
    )

    flagged = decontaminate(
        _load(spark, args.decontaminate_table),
        _load(spark, args.decontaminate_benchmark),
        min_shared=args.decontaminate_min_shared,
    ).filter(F.col("contaminated"))
    out_path = os.path.join(args.report_dir, "contaminated.parquet")
    flagged.write.mode("overwrite").parquet(out_path)
    # count off the written frame — no recompute of the overlap join
    n_flagged = spark.read.parquet(out_path).count()
    print(f"[decontaminate] {n_flagged} contaminated docs → {out_path}")
    return {
        "decontamination": {
            "benchmark": args.decontaminate_benchmark,
            "min_shared": args.decontaminate_min_shared,
            "n_contaminated": n_flagged,
        }
    }


# --- cross-document duplicate passages -------------------------------


def _subdup_args(p) -> None:
    p.add_argument(
        "--substring-dedup-table", default=None,
        help="corpus of (doc_id, text) to scan for cross-document "
             "duplicate passages (operators/substring_dedup.py): "
             "maximal duplicated token spans land in "
             "duplicate_spans.parquet and the keep-first-carrier "
             "removal plan in span_removals.parquet, with counts in "
             "summary.json's substring_dedup section",
    )
    p.add_argument(
        "--substring-dedup-k", type=int, default=3,
        help="token-shingle width for passage detection (a flagged "
             "span is always >= k tokens)",
    )
    p.add_argument(
        "--substring-dedup-min-docs", type=int, default=2,
        help="distinct docs a passage must appear in to flag (default 2)",
    )
    p.add_argument(
        "--substring-dedup-apply", action="store_true",
        help="also apply the removal plan: clean_docs.parquet with "
             "(doc_id, n_tokens, n_removed_tokens, clean_text) over "
             "the normalized tokenization",
    )


def _run_substring_dedup(spark, args, ctx) -> dict:
    if not args.substring_dedup_table:
        return {}
    from opengauss_tools_datachecker_performance_spark.operators.dedup import (
        release,
    )
    from opengauss_tools_datachecker_performance_spark.operators.substring_dedup import (
        duplicate_spans,
        removal_plan,
        remove_spans,
    )

    docs = _load(spark, args.substring_dedup_table)
    spans_path = os.path.join(args.report_dir, "duplicate_spans.parquet")
    handles: dict = {}
    duplicate_spans(
        docs,
        k=args.substring_dedup_k,
        min_docs=args.substring_dedup_min_docs,
        handles_out=handles,
    ).write.mode("overwrite").parquet(spans_path)
    release(handles)  # downstream reads the written frame, not the plan
    # downstream stages read the WRITTEN frame — the shingle/island
    # computation runs once, not once per consumer
    spans = spark.read.parquet(spans_path)
    plan_path = os.path.join(args.report_dir, "span_removals.parquet")
    removal_plan(spans).write.mode("overwrite").parquet(plan_path)
    plan = spark.read.parquet(plan_path)
    counts = plan.agg(
        F.count(F.when(F.col("action") == "remove", 1)).alias("n"),
        F.countDistinct(
            F.when(F.col("action") == "remove", F.col("doc_id"))
        ).alias("d"),
    ).collect()[0]
    # exact planned-token count: per doc, positions under remove spans
    # MINUS keep-protected positions — overlapping spans counted once,
    # so n_tokens_planned always equals an applied run's
    # n_tokens_removed (a naive sum(span_tokens) double-counts overlap)
    seq = F.sequence("start_pos", "end_pos")
    per_doc = plan.groupBy("doc_id").agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(F.when(F.col("action") == "remove", seq))
            )
        ).alias("_rmp"),
        F.array_distinct(
            F.flatten(F.collect_list(F.when(F.col("action") == "keep", seq)))
        ).alias("_kpp"),
    )
    planned = (
        per_doc.select(F.size(F.array_except("_rmp", "_kpp")).alias("n"))
        .agg(F.coalesce(F.sum("n"), F.lit(0)))
        .collect()[0][0]
    )
    section = {
        "table": args.substring_dedup_table,
        "k": args.substring_dedup_k,
        "min_docs": args.substring_dedup_min_docs,
        "n_duplicate_spans": spans.count(),
        "n_removals": counts["n"],
        "n_docs_affected": counts["d"],
        "n_tokens_planned": int(planned),
    }
    if args.substring_dedup_apply:
        clean_path = os.path.join(args.report_dir, "clean_docs.parquet")
        remove_spans(docs, plan).write.mode("overwrite").parquet(clean_path)
        removed = (
            spark.read.parquet(clean_path)
            .agg(F.coalesce(F.sum("n_removed_tokens"), F.lit(0)))
            .collect()[0][0]
        )
        section["n_tokens_removed"] = int(removed)
    print(
        f"[substring-dedup] {section['n_duplicate_spans']} duplicate "
        f"spans, {section['n_removals']} removals over "
        f"{section['n_docs_affected']} docs → {spans_path}"
    )
    return {"substring_dedup": section}


# --- across-source overlap matrix ------------------------------------


def _overlap_args(p) -> None:
    p.add_argument(
        "--source-overlap", default=None,
        metavar="TABLE[:SRCCOL[:TEXTCOL]]",
        help="across-source exact-content overlap matrix (distinct-"
             "fingerprint Jaccard + containment fractions per source "
             "pair; default columns source/text) → "
             "source_overlap.parquet",
    )


def _overlap_check(parser, args) -> None:
    if args.source_overlap is not None:
        sp = args.source_overlap.split(":")
        if not sp[0] or len(sp) > 3:
            parser.error(
                "--source-overlap expects TABLE[:SRCCOL[:TEXTCOL]], "
                f"got {args.source_overlap!r}"
            )


def _run_source_overlap(spark, args, ctx) -> dict:
    """One row per co-occurring source pair (distinct-fingerprint
    Jaccard + both containment fractions); the count of fingerprints
    the near-universal-boilerplate cap dropped is printed, not
    summarized."""
    if not args.source_overlap:
        return {}
    from opengauss_tools_datachecker_performance_spark.operators.dedup import (
        release,
        source_overlap_matrix,
    )

    parts = args.source_overlap.split(":")
    table, src_col, text_col = (
        parts[0],
        parts[1] if len(parts) > 1 and parts[1] else "source",
        parts[2] if len(parts) > 2 and parts[2] else "text",
    )
    cov: dict = {}
    out = source_overlap_matrix(
        _load(spark, table), text_col=text_col, source_col=src_col,
        coverage_out=cov,
    )
    path = os.path.join(args.report_dir, "source_overlap.parquet")
    out.write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    dropped = cov["overlap_dropped_fps"].count()
    release(cov)
    msg = f"[source-overlap] {n} co-occurring source pairs → {path}"
    if dropped:
        msg += f" ({dropped} near-universal fingerprints capped out)"
    print(msg)
    return {}


# --- corpus statistics, LM surprisal, token budget -------------------


def _cstats_args(p) -> None:
    p.add_argument(
        "--corpus-stats-table", default=None,
        help="corpus of (doc_id, text) to profile "
             "(operators/corpus_stats.py): top-K vocabulary lands in "
             "vocab_stats.parquet and totals in summary.json's "
             "corpus_stats section",
    )
    p.add_argument(
        "--corpus-stats-top-k", type=int, default=100,
        help="vocabulary terms to keep (default 100)",
    )
    p.add_argument(
        "--lm-surprisal", action="store_true",
        help="also score every doc of --corpus-stats-table under the "
             "corpus's own add-one-smoothed bigram model (integer-bits "
             "surprisal, operators/corpus_stats.py) → "
             "lm_surprisal.parquet + score stats in the corpus_stats "
             "section",
    )
    p.add_argument(
        "--token-budget", type=int, default=None,
        help="with --lm-surprisal: write the perplexity-pruning plan "
             "(operators/curation.budget_prune) → budget_prune.parquet "
             "— best-scored docs kept while the exact global running "
             "token total fits this budget; keep/drop per doc",
    )


def _cstats_check(parser, args) -> None:
    if args.token_budget and not args.lm_surprisal:
        parser.error("--token-budget requires --lm-surprisal (the score source)")


def _run_corpus_stats(spark, args, ctx) -> dict:
    if not args.corpus_stats_table:
        return {}
    from opengauss_tools_datachecker_performance_spark.operators.corpus_stats import (
        bigram_surprisal_scores,
        vocab_stats,
        with_span_text,
    )
    from opengauss_tools_datachecker_performance_spark.operators.dedup import release

    docs = _load(spark, args.corpus_stats_table)
    if "text" not in docs.columns and "spans" in docs.columns:
        # interleaved-doc table: span texts in offset order ARE the text
        docs = with_span_text(docs)
    vocab_path = os.path.join(args.report_dir, "vocab_stats.parquet")
    vocab_stats(docs, top_k=args.corpus_stats_top_k).write.mode(
        "overwrite"
    ).parquet(vocab_path)
    # totals off the written frame — no recompute of the vocab pass
    vstats = (
        spark.read.parquet(vocab_path)
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.coalesce(F.sum("tf"), F.lit(0)).alias("topk_tf"),
        )
        .collect()[0]
    )
    section = {
        "table": args.corpus_stats_table,
        "top_k": args.corpus_stats_top_k,
        "n_terms": vstats["n_terms"],
        "topk_token_occurrences": int(vstats["topk_tf"]),
    }
    print(
        f"[corpus-stats] top-{args.corpus_stats_top_k} vocabulary → {vocab_path}"
    )
    if args.lm_surprisal:
        handles: dict = {}
        lm_path = os.path.join(args.report_dir, "lm_surprisal.parquet")
        bigram_surprisal_scores(docs, handles_out=handles).write.mode(
            "overwrite"
        ).parquet(lm_path)
        release(handles)
        sstats = (
            spark.read.parquet(lm_path)
            .agg(
                F.count(F.lit(1)).alias("n_scored"),
                F.coalesce(F.avg(F.col("avg_bits").cast("double")), F.lit(0.0))
                .alias("mean_bits"),
                F.coalesce(F.max(F.col("avg_bits").cast("double")), F.lit(0.0))
                .alias("max_bits"),
            )
            .collect()[0]
        )
        section["lm_surprisal"] = {
            "n_scored": sstats["n_scored"],
            "mean_avg_bits": round(float(sstats["mean_bits"]), 3),
            "max_avg_bits": round(float(sstats["max_bits"]), 3),
        }
        print(
            f"[corpus-stats] {sstats['n_scored']} docs LM-scored "
            f"(mean {section['lm_surprisal']['mean_avg_bits']} bits) → {lm_path}"
        )
        if args.token_budget:
            from opengauss_tools_datachecker_performance_spark.functions.text import (
                normalized_text,
                ws_tokens,
            )
            from opengauss_tools_datachecker_performance_spark.operators.curation import (
                budget_prune,
            )

            # prune off the WRITTEN scores — the scoring plan is not
            # recomputed for the selection pass
            lm_scores = spark.read.parquet(lm_path).select("doc_id", "avg_bits")
            # aggregate per doc_id: the validated table may carry
            # duplicate ids (a seeded violation class) — the budget
            # charges the id's TOTAL tokens, and the join stays 1:1
            # with the per-id LM scores
            toks = (
                docs.select(
                    F.col("doc_id").cast("string").alias("doc_id"),
                    F.size(ws_tokens(normalized_text(F.col("text"))))
                    .cast("long")
                    .alias("n_tokens"),
                )
                .groupBy("doc_id")
                .agg(F.sum("n_tokens").alias("n_tokens"))
            )
            plan = budget_prune(
                lm_scores.join(toks, "doc_id"),
                args.token_budget,
                score_col="avg_bits",
            )
            prune_path = os.path.join(args.report_dir, "budget_prune.parquet")
            plan.write.mode("overwrite").parquet(prune_path)
            pstats = (
                spark.read.parquet(prune_path)
                .agg(
                    F.coalesce(F.sum(F.col("kept").cast("long")), F.lit(0))
                    .alias("n_kept"),
                    F.count(F.lit(1)).alias("n_docs"),
                    F.coalesce(
                        F.sum(F.when(F.col("kept"), F.col("n_tokens"))), F.lit(0)
                    ).alias("kept_tokens"),
                )
                .collect()[0]
            )
            print(
                f"[corpus-stats] budget {args.token_budget}: kept "
                f"{pstats['n_kept']}/{pstats['n_docs']} docs "
                f"({pstats['kept_tokens']} tokens) → {prune_path}"
            )
            section["budget_prune"] = {
                "token_budget": args.token_budget,
                "n_kept": int(pstats["n_kept"]),
                "n_dropped": int(pstats["n_docs"]) - int(pstats["n_kept"]),
                "kept_tokens": int(pstats["kept_tokens"]),
            }
    return {"corpus_stats": section}


# --- interleaved structural audit ------------------------------------


def _inter_args(p) -> None:
    p.add_argument(
        "--interleaved-audit", action="store_true",
        help="run the interleaved structural checks over --source "
             "(checks/interleaved.py): media-context (alt-text) audit "
             "-> media_context_audit.parquet, offset invariants -> "
             "offset_integrity.parquet, per-partition composition -> "
             "interleaved_profile.parquet (reads span bodies; "
             "independent of companion mode)",
    )
    p.add_argument(
        "--interleaved-min-words", type=int, default=8,
        help="tokens a media span's neighboring text spans must carry "
             "for the context audit to pass (default 8)",
    )


def _run_interleaved_audit(spark, args, ctx) -> dict:
    """Reads the raw --source span bodies once: the audits need
    kinds/offsets/token counts, which the digest companion deliberately
    does not carry."""
    if not args.interleaved_audit:
        return {}
    from opengauss_tools_datachecker_performance_spark.checks.interleaved import (
        interleaved_profile,
        media_context_audit,
        offset_integrity,
        span_transition_profile,
    )

    docs = _load(spark, args.source)
    if "spans" not in docs.columns:
        raise SystemExit(
            "--interleaved-audit needs a docs table with a spans column "
            f"(got columns {docs.columns})"
        )
    docs = docs.withColumnRenamed(args.partition_col, "part")
    audit_path = os.path.join(args.report_dir, "media_context_audit.parquet")
    media_context_audit(docs, min_words=args.interleaved_min_words).write.mode(
        "overwrite"
    ).parquet(audit_path)
    off_path = os.path.join(args.report_dir, "offset_integrity.parquet")
    offset_integrity(docs).write.mode("overwrite").parquet(off_path)
    prof_path = os.path.join(args.report_dir, "interleaved_profile.parquet")
    interleaved_profile(docs).write.mode("overwrite").parquet(prof_path)
    trans_path = os.path.join(args.report_dir, "span_transitions.parquet")
    span_transition_profile(docs).write.mode("overwrite").parquet(trans_path)
    # counts off the written frames — no recompute
    audit = spark.read.parquet(audit_path)
    a = audit.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum((~F.col("ok")).cast("long")), F.lit(0)).alias("bad"),
    ).collect()[0]
    n_off_docs = spark.read.parquet(off_path).count()
    print(
        f"[interleaved] {a['n']} media spans audited "
        f"({int(a['bad'])} lacking context), {n_off_docs} docs with "
        f"offset violations → {args.report_dir}"
    )
    n_transitions = spark.read.parquet(trans_path).count()
    return {
        "interleaved_audit": {
            "min_words": args.interleaved_min_words,
            "n_media_spans": a["n"],
            "n_context_fail": int(a["bad"]),
            # DOC count (one row per bad doc); per-doc dup/neg/null
            # counts live in offset_integrity.parquet
            "n_offset_violation_docs": n_off_docs,
            # distinct kind-bigram keys observed (profile rows, not volume)
            "n_transition_kinds": n_transitions,
        }
    }


# --- snapshot-to-snapshot incremental scope --------------------------


def _snapshot_args(p) -> None:
    p.add_argument(
        "--snapshot-delta", default=None, metavar="OLD_COMPANION",
        help="bucket-grain incremental scope vs an older digest "
             "snapshot (plans/snapshot.py): compares the given digest "
             "companion (parquet path or table:name) against this "
             "run's source digests -> snapshot_delta.parquet + "
             "snapshot_rollup.parquet; with --source-companion both "
             "sides are body-free",
    )


def _run_snapshot_delta(spark, args, ctx) -> dict:
    """The OLD digest companion vs this run's source digests → changed
    buckets + the partition re-validation scope. ``ctx["source_digests"]``
    hands over the validation's persisted digest frame, so the raw
    source is digested a second time only by a run that did not
    validate it in one full wave."""
    if not args.snapshot_delta:
        return {}
    from opengauss_tools_datachecker_performance_spark.plans.snapshot import (
        snapshot_bucket_delta,
        snapshot_drift,
    )
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        digest_companion_frame,
        read_digest_companion,
    )

    old = read_digest_companion(spark, args.snapshot_delta)
    new = ctx.get("source_digests")
    if new is None and args.source_companion:
        new = read_digest_companion(spark, args.source_companion)
    elif new is None:
        new = digest_companion_frame(
            _load(spark, args.source), partition_col=args.partition_col
        )
    delta, rollup = snapshot_bucket_delta(old, new)
    delta_path = os.path.join(args.report_dir, "snapshot_delta.parquet")
    delta.write.mode("overwrite").parquet(delta_path)
    roll_path = os.path.join(args.report_dir, "snapshot_rollup.parquet")
    rollup.write.mode("overwrite").parquet(roll_path)
    rolled = spark.read.parquet(roll_path).collect()  # bounded: #partitions
    parts = sorted(r["part"] for r in rolled)
    n_buckets = spark.read.parquet(delta_path).count()
    print(
        f"[snapshot] {len(parts)} partitions touched "
        f"({n_buckets} buckets) since {args.snapshot_delta}: {parts}"
    )
    section = {
        "old_snapshot": args.snapshot_delta,
        "n_partitions_touched": len(parts),
        "partitions_touched": parts,
        "n_buckets_touched": n_buckets,
        "delta_rows_new": int(sum(r["delta_rows_new"] for r in rolled)),
    }
    drift_path = os.path.join(args.report_dir, "snapshot_drift.parquet")
    if "text_len" in old.columns and "text_len" in new.columns:
        # run-over-run drift rides the same two metadata scans (the
        # companion stores text_len at ingest) — body-free
        snapshot_drift(old, new, threshold=args.drift_threshold).write.mode(
            "overwrite"
        ).parquet(drift_path)
        drifted = sorted(
            r["part"]
            for r in spark.read.parquet(drift_path)
            .filter(F.col("drifted"))
            .collect()
        )
        print(f"[snapshot] drifted partitions vs old snapshot: {drifted}")
        section["drifted_partitions"] = drifted
    else:
        # drift skipped (a side lacks text_len): a resumed run keeps its
        # report dir, and a previous drift frame there would sit next
        # to a section with no drift — stale data presented as current
        shutil.rmtree(drift_path, ignore_errors=True)
    return {"snapshot_delta": section}


# --- single-table contract audit -------------------------------------


def _audit_args(p) -> None:
    p.add_argument(
        "--audit-table", default=None, metavar="TABLE",
        help="run the single-table contract checks (checks/constraints"
             ".py + checks/distributions.py) over this table (parquet "
             "path, table:name, or iceberg:db.tbl) — independent of the "
             "docs validation; results land in --report-dir as "
             "audit_*.parquet + a table_audit summary section",
    )
    p.add_argument(
        "--audit-fd", action="append", default=[], metavar="LHS=RHS",
        help="functional dependency to audit, e.g. 'cust_id=priority' "
             "or 'a+b=c+d' (repeatable) → audit_fd_<lhs>.parquet of "
             "violating groups",
    )
    p.add_argument(
        "--audit-domain", action="append", default=[], metavar="COL=V1|V2",
        help="allowed value set per column, e.g. \"status=O|F|P\" "
             "(repeatable); requires --audit-key",
    )
    p.add_argument(
        "--audit-complete", default=None, metavar="COL1,COL2[:MIN]",
        help="completeness verdicts for these columns (optional "
             "min-ratio suffix, default 0.95)",
    )
    p.add_argument(
        "--audit-json", default=None, metavar="COL:FIELD[:TYPE]",
        help="schema-on-read JSON audit of a string column (default "
             "field type int)",
    )
    p.add_argument(
        "--audit-benford", default=None, metavar="COL",
        help="Benford first-digit profile of a numeric column",
    )
    p.add_argument(
        "--audit-histogram", default=None, metavar="COL[:BINS]",
        help="equi-width histogram of a numeric column (default 20 bins)",
    )
    p.add_argument(
        "--audit-outliers", default=None, metavar="KEY:COL[:K]",
        help="median/MAD robust outliers of COL keyed by KEY "
             "(default k=3.5)",
    )
    p.add_argument(
        "--audit-pk-gaps", default=None, metavar="KEYCOL",
        help="dense-key gap scan over an integer key column",
    )
    p.add_argument(
        "--audit-key", default=None, metavar="KEYCOL",
        help="row-locator column for --audit-domain violation keys",
    )
    p.add_argument(
        "--audit-fd-discovery", default=None, metavar="COL1,COL2[,...][:RATE]",
        help="approximate-FD discovery over every ordered pair of the "
             "given columns (violation-rate threshold suffix, default "
             "0.05) → audit_fd_discovery.parquet",
    )
    p.add_argument(
        "--audit-rate", default=None,
        metavar="TS:GROUP[:WINDOW_MIN[:TRAILING]]",
        help="event-rate anomaly scan: tumbling WINDOW_MIN-minute "
             "counts of rows per GROUP column vs the trailing baseline "
             "(defaults 60 min, 24 windows) → audit_rate_anomaly.parquet",
    )
    p.add_argument(
        "--audit-kanon", default=None, metavar="QI1,QI2[,...][:K]",
        help="k-anonymity audit over the quasi-identifier columns "
             "(default k=5) → audit_kanon.parquet (one verdict row)",
    )
    p.add_argument(
        "--audit-split", default=None, metavar="IDCOL[:GROUPCOL[:SEED]]",
        help="deterministic 90/5/5 train/val/test hash-split report "
             "(seeded md5 wheel; stable under appends) → "
             "audit_split.parquet",
    )
    p.add_argument(
        "--audit-equidepth", default=None,
        metavar="COL:TIE1[+TIE2][:BINS]",
        help="exact equi-depth histogram of COL (unique order via the "
             "tiebreak columns; default 16 bins) → "
             "audit_equidepth.parquet",
    )


def _audit_plan(args) -> list[tuple]:
    """Every requested --audit-* family as (frame name, check function,
    its arguments after the table, summary key, summary value of the
    written frame or None for its row count). Parsed once for both the
    parse-time check and the run, so a missing section or a trailing
    ':' is an argparse error, never an IndexError or int('') traceback
    mid-run; a malformed spec raises ValueError."""
    from opengauss_tools_datachecker_performance_spark.checks.constraints import (
        completeness,
        domain_violations,
        fd_discovery,
        fd_violations,
        json_field_audit,
        pk_gaps,
    )
    from opengauss_tools_datachecker_performance_spark.checks.distributions import (
        benford_profile,
        equidepth_histogram,
        equiwidth_histogram,
        mad_outliers,
    )
    from opengauss_tools_datachecker_performance_spark.checks.privacy import (
        k_anonymity_audit,
    )
    from opengauss_tools_datachecker_performance_spark.operators.splits import (
        split_report,
    )
    from opengauss_tools_datachecker_performance_spark.operators.temporal import (
        rate_anomaly,
    )

    def need(ok, flag: str, shape: str, spec: str) -> None:
        if not ok:
            raise ValueError(f"--{flag} expects {shape}, got {spec!r}")

    plan: list[tuple] = []
    for spec in args.audit_fd:
        lhs, _, rhs = spec.partition("=")
        lhs_cols, rhs_cols = lhs.split("+"), rhs.split("+")
        need(all(lhs_cols + rhs_cols), "audit-fd", "LHS=RHS", spec)
        plan.append((f"audit_fd_{'_'.join(lhs_cols)}", fd_violations,
                     (lhs_cols, rhs_cols), f"fd_{lhs}", None))
    for spec in args.audit_domain:
        col, _, vals = spec.partition("=")
        need(col and vals and args.audit_key, "audit-domain",
             "COL=V1|V2 and --audit-key", spec)
        plan.append((f"audit_domain_{col}", domain_violations,
                     (col, vals.split("|"), args.audit_key), f"domain_{col}",
                     None))
    if args.audit_complete is not None:
        cols, _, ratio = args.audit_complete.partition(":")
        need(all(cols.split(",")) and (not ratio or _is_float(ratio)),
             "audit-complete", "COL1,COL2[:MIN]", args.audit_complete)
        plan.append(("audit_completeness", completeness,
                     (cols.split(","), float(ratio) if ratio else 0.95),
                     "completeness_cols", None))
    if args.audit_json is not None:
        sp = args.audit_json.split(":")
        need(2 <= len(sp) <= 3 and all(sp), "audit-json", "COL:FIELD[:TYPE]",
             args.audit_json)
        plan.append(("audit_json", json_field_audit,
                     (sp[0], sp[1], sp[2] if len(sp) > 2 else "int"),
                     "json_col", lambda w, col=sp[0]: col))
    if args.audit_benford:
        plan.append(("audit_benford", benford_profile, (args.audit_benford,),
                     "benford_digits", None))
    if args.audit_histogram is not None:
        col, _, bins = args.audit_histogram.partition(":")
        need(col and (not bins or bins.isdigit()), "audit-histogram",
             "COL[:BINS]", args.audit_histogram)
        plan.append(("audit_histogram", equiwidth_histogram,
                     (col, int(bins) if bins else 20), "histogram_bins", None))
    if args.audit_outliers is not None:
        sp = args.audit_outliers.split(":")
        need(2 <= len(sp) <= 3 and all(sp) and (len(sp) < 3 or _is_float(sp[2])),
             "audit-outliers", "KEY:COL[:K]", args.audit_outliers)
        plan.append(("audit_outliers", mad_outliers,
                     (sp[0], sp[1], float(sp[2]) if len(sp) > 2 else 3.5),
                     "n_outliers", None))
    if args.audit_pk_gaps:
        plan.append(("audit_pk_gaps", pk_gaps, (args.audit_pk_gaps,),
                     "n_pk_gaps", None))
    if args.audit_fd_discovery is not None:
        cols, _, rate = args.audit_fd_discovery.partition(":")
        need(all(cols.split(",")) and (not rate or _is_float(rate)),
             "audit-fd-discovery", "COL1,COL2[,...][:RATE]",
             args.audit_fd_discovery)
        plan.append(("audit_fd_discovery", fd_discovery,
                     (cols.split(","), float(rate) if rate else 0.05),
                     "fd_pairs_profiled", None))
    if args.audit_rate is not None:
        sp = args.audit_rate.split(":")
        need(2 <= len(sp) <= 4 and all(sp) and all(s.isdigit() for s in sp[2:]),
             "audit-rate", "TS:GROUP[:WINDOW_MIN[:TRAILING]]", args.audit_rate)
        plan.append(("audit_rate_anomaly", rate_anomaly,
                     (sp[0], sp[1], *(int(s) for s in sp[2:])),
                     "n_rate_anomalies",
                     lambda w: w.filter(F.col("anomalous")).count()))
    if args.audit_kanon is not None:
        cols, _, k = args.audit_kanon.partition(":")
        need(all(cols.split(",")) and (not k or k.isdigit()), "audit-kanon",
             "QI1,QI2[,...][:K] with an integer K", args.audit_kanon)
        plan.append(("audit_kanon", k_anonymity_audit,
                     (cols.split(","), int(k) if k else 5), "kanon_cols",
                     lambda w, cols=cols: cols))
    if args.audit_split is not None:
        sp = args.audit_split.split(":")
        need(sp[0] and len(sp) <= 3
             and (len(sp) < 3 or re.fullmatch(r"-?\d+", sp[2])),
             "audit-split", "IDCOL[:GROUPCOL[:SEED]] with an integer SEED",
             args.audit_split)
        plan.append(("audit_split", split_report,
                     (sp[0], [("train", 0.9), ("val", 0.05), ("test", 0.05)],
                      sp[1] if len(sp) > 1 and sp[1] else None,
                      int(sp[2]) if len(sp) > 2 else 0),
                     "split_rows", None))
    if args.audit_equidepth is not None:
        sp = args.audit_equidepth.split(":")
        need(2 <= len(sp) <= 3 and sp[0] and all(sp[1].split("+"))
             and (len(sp) < 3 or sp[2].isdigit()),
             "audit-equidepth", "COL:TIE1[+TIE2][:BINS] with an integer BINS",
             args.audit_equidepth)
        plan.append(("audit_equidepth", equidepth_histogram,
                     (sp[0], sp[1].split("+"), int(sp[2]) if len(sp) > 2 else 16),
                     "equidepth_bins", None))
    return plan


def _audit_check(parser, args) -> None:
    try:
        _audit_plan(args)
    except ValueError as exc:
        parser.error(str(exc))


def _run_table_audit(spark, args, ctx) -> dict:
    """Each requested family writes its own audit_*.parquet; the
    section carries row counts so a summary reader sees at a glance
    which rules fired."""
    if not args.audit_table:
        return {}
    t = _load(spark, args.audit_table)
    section: dict = {"table": args.audit_table}
    for name, fn, fn_args, key, value in _audit_plan(args):
        path = os.path.join(args.report_dir, f"{name}.parquet")
        fn(t, *fn_args).write.mode("overwrite").parquet(path)
        written = spark.read.parquet(path)
        n = written.count()
        print(f"[table-audit] {name}: {n} rows → {path}")
        section[key] = n if value is None else value(written)
    return {"table_audit": section}


#: every optional report stage, in run order
SECTIONS = [
    Section(
        _near_dup_args,
        _near_dup_check,
        ["near_dup_pairs.parquet", "near_dup_clusters.parquet",
         "near_dup_survivors.parquet"],
        _run_near_dup,
    ),
    Section(_decon_args, _decon_check, ["contaminated.parquet"],
            _run_decontamination),
    Section(
        _subdup_args,
        _no_check,
        ["duplicate_spans.parquet", "span_removals.parquet",
         "clean_docs.parquet"],
        _run_substring_dedup,
    ),
    Section(_overlap_args, _overlap_check, ["source_overlap.parquet"],
            _run_source_overlap),
    Section(
        _cstats_args,
        _cstats_check,
        ["vocab_stats.parquet", "lm_surprisal.parquet", "budget_prune.parquet"],
        _run_corpus_stats,
    ),
    Section(
        _inter_args,
        _no_check,
        ["media_context_audit.parquet", "offset_integrity.parquet",
         "interleaved_profile.parquet", "span_transitions.parquet"],
        _run_interleaved_audit,
    ),
    Section(
        _snapshot_args,
        _no_check,
        ["snapshot_delta.parquet", "snapshot_rollup.parquet",
         "snapshot_drift.parquet"],
        _run_snapshot_delta,
    ),
    Section(_audit_args, _audit_check, ["audit_*.parquet"], _run_table_audit),
]
