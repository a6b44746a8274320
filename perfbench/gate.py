"""Correctness gate: every report and every CDC batch is checked against
the expectation the corpus cache derived from the generator's sidecar.
Each function returns a list of mismatch messages (empty = correct)."""

from __future__ import annotations

import json
import os

#: report categories: consistency carries its diff type as the detail
CATEGORIES = [
    "consistency:insert", "consistency:update", "consistency:delete",
    "unique", "referential", "null_text",
]


def load_expected(entry: str) -> dict:
    with open(os.path.join(entry, "expected.json")) as f:
        return json.load(f)


def report_keys(spark, report_dir: str) -> dict[str, set[str]]:
    rows = (
        spark.read.parquet(os.path.join(report_dir, "violations.parquet"))
        .select("constraint", "detail", "key")
        .distinct()
        .collect()
    )
    out: dict[str, set[str]] = {}
    for r in rows:
        cat = r["constraint"]
        if cat == "consistency":
            cat = f"consistency:{r['detail']}"
        out.setdefault(cat, set()).add(r["key"])
    return out


def check_report(spark, report_dir: str, expected: dict) -> list[str]:
    """Per-constraint key sets, per-constraint totals and the drift
    verdict of one CLI report directory."""
    errs = []
    got = report_keys(spark, report_dir)
    for cat in sorted(set(got) | set(CATEGORIES)):
        want = set(expected.get(cat, []))
        have = got.get(cat, set())
        if have != want:
            errs.append(
                f"{cat}: {len(have - want)} unexpected, {len(want - have)} missing keys"
            )
    with open(os.path.join(report_dir, "summary.json")) as f:
        summary = json.load(f)
    totals = {c: v["n_violations"] for c, v in summary["constraints"].items()}
    if totals != expected["totals"]:
        errs.append(f"constraint totals {totals} != expected {expected['totals']}")
    drift = summary["constraints"].get("drift", {}).get("failed_partitions")
    if drift != expected["drift_failed_partitions"]:
        errs.append(f"drift failed partitions {drift} != {expected['drift_failed_partitions']}")
    return errs


def divergent_keys(expected: dict) -> dict[str, str]:
    """Source keys whose sink copy is missing or different → diff type."""
    out = {k: "insert" for k in expected["consistency:insert"]}
    out.update({k: "update" for k in expected["consistency:update"]})
    return out


def check_cdc_batch(checker, drawn: list[list[str]], divergent: dict[str, str]) -> list[str]:
    """After batch b: confirmed = divergent keys drawn in batches < b
    (each needs a second sighting), pending = those drawn in batch b."""
    def div(batches):
        return {k: divergent[k] for ks in batches for k in ks if k in divergent}

    errs = []
    confirmed = {k: t for k, t, _ in checker.confirmed}
    if len(confirmed) != len(checker.confirmed):
        errs.append("a key was confirmed twice")
    want = div(drawn[:-1])
    if confirmed != want:
        errs.append(
            f"confirmed {len(set(confirmed) - set(want))} unexpected, "
            f"{len(set(want) - set(confirmed))} missing (or wrong diff type)"
        )
    pending = {k: t for k, (t, _) in checker.pending.items()}
    if pending != div(drawn[-1:]):
        errs.append(f"pending {sorted(pending)} != drawn divergent of the last batch")
    return errs


def check_companion(spark, path: str, sink) -> list[str]:
    """The maintained companion equals a fresh digest of the sink, as a
    row multiset."""
    from opengauss_tools_datachecker_performance_spark.sources.prehashed import (
        digest_companion_frame,
    )

    fresh = digest_companion_frame(sink)
    kept = spark.read.parquet(path).select(*fresh.columns)
    extra = kept.exceptAll(fresh).count()
    lost = fresh.exceptAll(kept).count()
    if extra or lost:
        return [f"maintained companion: {extra} extra rows, {lost} missing rows"]
    return []
