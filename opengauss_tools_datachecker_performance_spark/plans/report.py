"""Report sink (SURVEY.md S8).

Reference: SliceCheckResultManager writes summary.log, success.log,
failed.log and per-table repair files, capping displayed diff keys at
100 per category (MAX_DISPLAY_SIZE, CheckResultConstants.java:34,
AbstractCheckDiffResultBuilder.java:292-312).

Here: full violation set → parquet (distributed write); verdicts →
parquet; a human summary JSON with per-constraint totals and the
first ≤100 violating keys per (constraint, detail) category, ordered
by key (the reference keeps sorted TreeSets,
CheckDiffResult.initEmptyCollections:132-136).

Chunked runs (``__main__ --chunk-partitions``) write each wave into a
``chunk=<id>`` subdirectory — re-running a wave OVERWRITES its own
subdir, so a killed-and-resumed run never double-counts (idempotent
retry, same property Spark task retries rely on); the final summary
reads the whole directory tree back (Spark partition discovery on the
``chunk=`` dirs).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from opengauss_tools_datachecker_performance_spark.plans.runner import (
    ValidationResult,
    partition_order,
)

MAX_DISPLAY_SIZE = 100  # CheckResultConstants.java:34


def _frame_path(out_dir: str, name: str, chunk: int | None) -> str:
    base = os.path.join(out_dir, name)
    return base if chunk is None else os.path.join(base, f"chunk={chunk}")


def write_frames(
    result: ValidationResult, out_dir: str, chunk: int | None = None
) -> None:
    """Write the violation + verdict frames. With ``chunk`` set, the
    write is scoped (and idempotent) to that wave's subdirectory. The
    violations are a union of per-check branches, each of which would
    write its own files; the rebalance hint lets AQE pack small sets
    into one file and still split a large one."""
    os.makedirs(out_dir, exist_ok=True)
    result.violations.hint("rebalance").write.mode("overwrite").parquet(
        _frame_path(out_dir, "violations.parquet", chunk)
    )
    result.verdicts.write.mode("overwrite").parquet(
        _frame_path(out_dir, "verdicts.parquet", chunk)
    )


def _read_frames(spark: SparkSession, out_dir: str) -> tuple[DataFrame, DataFrame]:
    cols_vio = ["part", "constraint", "key", "span_idx", "detail"]
    cols_ver = ["part", "constraint", "n_violations", "status"]
    vio = spark.read.parquet(os.path.join(out_dir, "violations.parquet")).select(*cols_vio)
    ver = spark.read.parquet(os.path.join(out_dir, "verdicts.parquet")).select(*cols_ver)
    return vio, ver


def summarize_dir(
    spark: SparkSession,
    out_dir: str,
    schema_ok: bool = True,
    schema_message: str = "",
    baseline_dir: str | None = None,
    sections: dict | None = None,
) -> dict:
    """Build summary.json + success/failed logs from the written
    frames (covers every chunk written so far, including those from a
    previous killed run). ``sections``: summary entries of the optional
    report stages (plans/sections.py), each a plain dict landing under
    its own key; empty entries are left out. ``coverage_bounds`` is one
    of them: plain counts of anything an operator DROPPED under a cap
    (mega-LSH-buckets, stop-shingles — operators.dedup.coverage_counts),
    so a bounded-coverage run is never silently read as exhaustive.
    ``baseline_dir``: a previous run's report dir — this run's
    violations are diffed against it (:func:`run_regression`),
    ``regression.parquet`` lands next to the frames, and the summary
    gains new/resolved/persisting counts."""
    violations, verdicts = _read_frames(spark, out_dir)
    verdict_rows = verdicts.collect()  # grid: #parts × #constraints
    by_constraint: dict[str, dict] = {}
    for r in verdict_rows:
        c = by_constraint.setdefault(
            r["constraint"], {"n_violations": 0, "failed_partitions": []}
        )
        c["n_violations"] += r["n_violations"]
        if r["status"] == "fail":
            c["failed_partitions"].append(r["part"])
    for c in by_constraint.values():
        c["failed_partitions"].sort(key=partition_order)

    # first ≤100 keys per (constraint, detail) category, key-ordered.
    # Two-phase top-k: a single window over (constraint, detail) sorts
    # a flooded category's ENTIRE violation set in one task (the run
    # may be uncapped — --max-violations defaults to None). Phase 1
    # pre-caps per (constraint, detail, part) — groups bounded by one
    # partition's violations — and phase 2 ranks the ≤ 100·#parts
    # survivors per category; the global smallest 100 keys are always
    # inside the union of per-part smallest 100s.
    w_part = Window.partitionBy("constraint", "detail", "part").orderBy(
        "key", "span_idx"
    )
    w = Window.partitionBy("constraint", "detail").orderBy("key", "span_idx")
    display = (
        violations.withColumn("rn", F.row_number().over(w_part))
        .filter(F.col("rn") <= MAX_DISPLAY_SIZE)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MAX_DISPLAY_SIZE)
        .drop("rn")
        .collect()
    )
    display_keys: dict[str, list] = {}
    for r in display:
        cat = r["constraint"] + (f":{r['detail']}" if r["detail"] else "")
        display_keys.setdefault(cat, []).append(
            {"key": r["key"], "part": r["part"], "span_idx": r["span_idx"]}
        )

    summary = {
        "schema_ok": schema_ok,
        "schema_message": schema_message,
        "result": "success"
        if schema_ok and all(r["status"] == "pass" for r in verdict_rows)
        else "failed",
        "constraints": by_constraint,
        "display_keys": display_keys,
    }
    summary.update(
        (name, dict(entry)) for name, entry in (sections or {}).items() if entry
    )
    if baseline_dir is not None:
        prev, _ = _read_frames(spark, baseline_dir)
        reg = run_regression(violations, prev).persist()
        try:
            reg.write.mode("overwrite").parquet(
                os.path.join(out_dir, "regression.parquet")
            )
            counts = {
                r["change"]: r["n"]
                for r in reg.groupBy("change")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        finally:
            reg.unpersist()
        summary["regression"] = {
            "baseline_dir": baseline_dir,
            "new": counts.get("new", 0),
            "resolved": counts.get("resolved", 0),
            "persisting": counts.get("persisting", 0),
        }
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=2, sort_keys=True)
    # success.log / failed.log analogues
    failed = sorted(
        {r["part"] for r in verdict_rows if r["status"] == "fail"},
        key=partition_order,
    )
    passed = sorted({r["part"] for r in verdict_rows} - set(failed), key=partition_order)
    with open(os.path.join(out_dir, "success.log"), "w") as f:
        f.writelines(f"partition {p}: pass\n" for p in passed)
    with open(os.path.join(out_dir, "failed.log"), "w") as f:
        f.writelines(f"partition {p}: fail\n" for p in failed)
    return summary


#: the identity of one violation for run-to-run comparison
_REGRESSION_KEY = ["part", "constraint", "key", "span_idx", "detail"]


def _regression_norm(vio: DataFrame) -> DataFrame:
    """Null-normalized distinct violation identities. Spark's
    column-list joins treat NULL keys as non-matching, so a doc-level
    violation (span_idx NULL) would classify as simultaneously new AND
    resolved; pin every nullable field to a sentinel instead — part
    included (it is NULL-able too, e.g. docs with a NULL partition
    value, and --partition-col may name a non-integer column, so it
    normalizes through string, not int)."""
    return vio.select(
        F.coalesce(F.col("part").cast("string"), F.lit("")).alias("part"),
        F.col("constraint").cast("string").alias("constraint"),
        F.coalesce(F.col("key").cast("string"), F.lit("")).alias("key"),
        F.coalesce(F.col("span_idx").cast("int"), F.lit(-1)).alias("span_idx"),
        F.coalesce(F.col("detail").cast("string"), F.lit("")).alias("detail"),
    ).distinct()


def run_regression(cur: DataFrame, prev: DataFrame) -> DataFrame:
    """Run-to-run violation diff → one row per violation identity seen
    in either run, with ``change`` ∈ {new, resolved, persisting}.

    The reference's users re-run checks after repairs and compare
    successive report trees (summary.log/failed.log per run,
    SliceCheckResultManager.refreshSummary:218-232 keeps per-table
    totals exactly so runs can be lined up); this makes the comparison
    an operator: ``new`` violations mean the data regressed (or the
    repair missed), ``resolved`` confirm the repair, ``persisting``
    are the backlog. One full-outer join keyed on the violation
    identity — violation-set sized, never corpus-sized, and AQE
    broadcasts the smaller run when the delta is small."""
    c = _regression_norm(cur).withColumn("_c", F.lit(True))
    p = _regression_norm(prev).withColumn("_p", F.lit(True))
    j = c.join(p, _REGRESSION_KEY, "full_outer")
    change = (
        F.when(F.col("_p").isNull(), F.lit("new"))
        .when(F.col("_c").isNull(), F.lit("resolved"))
        .otherwise(F.lit("persisting"))
    )
    return j.select(*_REGRESSION_KEY, change.alias("change"))


class ProgressTracker:
    """During-run progress/rate emission — the reference prints a
    sliding rows/s + running average to a progress log every 30 s
    (datachecker-check/.../modules/report/ProgressService.java:73-175).
    Here the natural tick is the WAVE (chunked runs) or the single
    shot: after each one the driver appends a JSON line to
    ``progress.log`` with cumulative rows, average rows/s since start,
    and the sliding rate of the just-finished tick — O(1) driver work,
    no extra cluster actions (callers pass counts they already have).
    On a week-long 100 TB run this is the operator's liveness signal."""

    def __init__(self, out_dir: str, run_id: str):
        import time

        self._path = os.path.join(out_dir, "progress.log")
        self._run_id = run_id
        self._t0 = time.monotonic()
        self._last_t = self._t0
        self._rows = 0
        self._parts = 0

    def record(self, n_parts: int, n_rows: int) -> dict:
        import time

        now = time.monotonic()
        self._parts += n_parts
        self._rows += n_rows
        elapsed = max(now - self._t0, 1e-9)
        tick = max(now - self._last_t, 1e-9)
        rec = {
            "run_id": self._run_id,
            "elapsed_sec": round(elapsed, 3),
            "parts_done": self._parts,
            "rows_done": self._rows,
            "avg_rows_per_sec": round(self._rows / elapsed, 1),
            "tick_rows_per_sec": round(n_rows / tick, 1),
        }
        self._last_t = now
        os.makedirs(os.path.dirname(self._path), exist_ok=True)
        with open(self._path, "a") as f:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
        print(
            f"[progress] parts={rec['parts_done']} rows={rec['rows_done']} "
            f"avg={rec['avg_rows_per_sec']}/s tick={rec['tick_rows_per_sec']}/s",
            flush=True,
        )
        return rec


def write_report(result: ValidationResult, out_dir: str) -> dict:
    """Single-wave convenience: write frames, then summarize them."""
    write_frames(result, out_dir)
    return summarize_dir(
        result.verdicts.sparkSession,
        out_dir,
        schema_ok=result.schema_ok,
        schema_message=result.schema_message,
    )


def write_repair_sql(
    diffs: DataFrame,
    out_dir: str,
    source_table: str,
    sink_table: str,
    key_col: str = "doc_id",
    batch_size: int = 100,
    chunk: int | None = None,
) -> None:
    """Per-table repair SQL file (reference:
    SliceCheckResultManager.java:370-449 writes repair_*.sql next to
    the check logs). Statements render distributed
    (operators/repair.doc_repair_statements) and land as text files
    under ``repair.sql/`` in the report dir."""
    from opengauss_tools_datachecker_performance_spark.operators.repair import (
        doc_repair_statements,
    )

    stmts = doc_repair_statements(
        diffs, source_table, sink_table, key_col=key_col, batch_size=batch_size
    )
    stmts.select("sql").write.mode("overwrite").text(
        _frame_path(out_dir, "repair.sql", chunk)
    )
