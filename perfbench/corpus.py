"""Seeded inputs for the benchmark, generated once per (seed, size).

Run as a script, this builds one cache entry in its own process, so the
measuring process never executes generation code and its first
validation stays JIT-cold:

    python3 perfbench/corpus.py --out DIR --seed 7 --docs 20000 --parts 16

An entry holds the synth corpus (``docs_source``, ``docs_sink``,
``assets``, ``violations_expected``) and ``expected.json``: the violating keys per
constraint, derived from the generator's sidecar and from the raw spans
(never from the engine's digests), which the correctness gate compares
every report against.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys

#: the heavy document profile of bench.py (≈0.8 KB/doc)
HEAVY = dict(min_spans=4, spans_spread=10, min_words=8, words_spread=16)
#: cache entries kept, so both workloads of a seed share one; older
#: ones are deleted (an entry is about 6 MB at 10k docs per side)
KEEP_ENTRIES = 24
DONE = "_DONE"


def entry_dir(cache_root: str, seed: int, docs: int, parts: int) -> str:
    return os.path.join(cache_root, f"d{docs}-p{parts}-s{seed}")


def ensure_entry(cache_root: str, seed: int, docs: int, parts: int, env: dict) -> str:
    """The cache entry for (seed, size). On a miss a child process
    generates it; this returns once the child has ended, and the child
    ends its JVM and every other process of its own first, so generation
    never competes with a measurement."""
    path = entry_dir(cache_root, seed, docs, parts)
    if os.path.exists(os.path.join(path, DONE)):
        os.utime(path)  # LRU stamp
        return path
    os.makedirs(cache_root, exist_ok=True)
    _evict(cache_root, keep=KEEP_ENTRIES - 1)
    shutil.rmtree(path, ignore_errors=True)
    cmd = [
        sys.executable, os.path.abspath(__file__), "--out", path,
        "--seed", str(seed), "--docs", str(docs), "--parts", str(parts),
    ]
    # its own process group, so a stuck generator's JVM can be killed too
    # (what escapes the group is adopted and ended by the caller's
    # bench_env.end_children)
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = proc.wait(timeout=600)
    finally:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    if rc != 0:
        raise RuntimeError(f"corpus generation exited {rc}")
    if not os.path.exists(os.path.join(path, DONE)):
        raise RuntimeError(f"corpus generation left no {DONE} marker in {path}")
    return path


def _evict(cache_root: str, keep: int) -> None:
    entries = sorted(
        (os.path.getmtime(p), p)
        for p in (os.path.join(cache_root, e) for e in os.listdir(cache_root))
        if os.path.isdir(p)
    )
    for _, p in entries[: max(0, len(entries) - keep)]:
        shutil.rmtree(p, ignore_errors=True)


def _generate(spark, out: str, seed: int, docs: int, parts: int) -> None:
    from pyspark.sql import functions as F

    from opengauss_tools_datachecker_performance_spark import synth

    # synth_corpus has no seed parameter: its module-level SEED is read
    # while the column expressions are built, so set it only around the
    # generation call
    saved = synth.SEED
    synth.SEED = seed
    try:
        synth.write_corpus(
            spark, out, n_docs=docs, n_assets=max(500, docs // 100),
            n_partitions=parts, **HEAVY,
        )
    finally:
        synth.SEED = saved

    src = spark.read.parquet(f"{out}/docs_source.parquet")
    sink = spark.read.parquet(f"{out}/docs_sink.parquet")
    vclass: dict[str, set[str]] = {}
    for r in spark.read.parquet(f"{out}/violations_expected.parquet").collect():
        vclass.setdefault(r["vclass"], set()).add(r["doc_id"])
    # (doc_id, media spans) of every source row
    rows = src.select(
        "doc_id", F.size(F.filter("spans", lambda s: s["kind"] == "media")).alias("n")
    ).collect()
    dangling = [r for r in rows if r["doc_id"] in vclass.get("dangling_ref", ())]

    # an offset swap only diverges when the two swapped spans differ;
    # compare the offset-ordered span content of both sides directly
    def ordered(df, side):
        return df.filter(F.col("doc_id").isin(*vclass.get("swap_offsets", ()))).select(
            F.lit(side).alias("side"),
            "doc_id",
            F.transform(
                F.sort_array(
                    F.transform(
                        "spans",
                        lambda s: F.struct(
                            s["offset"].alias("o"), s["kind"].alias("k"),
                            s["text"].alias("t"), s["media_ref"].alias("m"),
                        ),
                    )
                ),
                lambda s: F.struct(s["k"], s["t"], s["m"]),
            ).alias("seq"),
        )

    seqs: dict[str, dict[str, object]] = {}
    for r in ordered(src, "src").unionByName(ordered(sink, "sink")).collect():
        seqs.setdefault(r["doc_id"], {})[r["side"]] = r["seq"]
    swapped = {k for k, v in seqs.items() if v.get("src") != v.get("sink")}
    expected = {
        "consistency:insert": sorted(vclass.get("missing_doc", ())),
        "consistency:update": sorted(vclass.get("corrupt_text", set()) | swapped),
        "consistency:delete": sorted(vclass.get("extra_doc", ())),
        "unique": sorted(vclass.get("duplicate", ())),
        "referential": sorted({r["doc_id"] for r in dangling if r["n"]}),
        "null_text": sorted(vclass.get("null_text", ())),
        "drift_failed_partitions": [0],
        "source_rows": len(rows),
        "source_keys": sorted({r["doc_id"] for r in rows}),
    }
    expected["totals"] = {
        "consistency": sum(len(expected[c]) for c in (
            "consistency:insert", "consistency:update", "consistency:delete")),
        "unique": len(expected["unique"]),
        "referential": sum(r["n"] for r in dangling),
        "null_text": len(expected["null_text"]),
        "drift": len(expected["drift_failed_partitions"]),
    }
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)
    with open(os.path.join(out, DONE), "w") as f:
        f.write("ok")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--parts", type=int, required=True)
    args = ap.parse_args()
    import bench_env

    bench_env.adopt_orphans()
    try:
        spark = bench_env.start_session(heap="1g", pretouch=False)
        try:
            _generate(spark, args.out, args.seed, args.docs, args.parts)
        finally:
            spark.stop()
    finally:
        bench_env.end_children()
    return 0


if __name__ == "__main__":
    sys.exit(main())
