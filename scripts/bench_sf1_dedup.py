#!/usr/bin/env python
"""Data-scaling evidence for the FULL dedup decision pipeline
(minhash pairs -> connected components -> survivors -> cluster
histogram) — the round-3 sf1 sweep covered the flagship validator and
the pair finder; this extends the 10x-data story end-to-end through
the cluster/decision layer (VERDICT r03 "next round" item 7).

Corpus construction (deterministic, from sf0.1 documents):
* every base doc spawns ``FAM`` family variants: each family
  interleaves a family-specific token after EVERY word, so every
  3-shingle contains the family token and CROSS-family Jaccard is ~0
  (families must not merge);
* each family spawns ``REP`` replicas: same text + a tiny trailing
  replica marker — WITHIN-family Jaccard stays ~1 (replicas must
  merge).  Expected shape: n_base * FAM clusters of size REP.

Scales: A = FAM 1 x REP 10 (10x the sf0.1 table), B = FAM 10 x REP 10
(100x) — 10x the docs of A with the same family size, so pairs,
clusters and edges all scale ~10x while the LSH bucket profile stays
fixed: the honest "same plan, order-of-magnitude more data" probe.

Usage: python scripts/bench_sf1_dedup.py [scale ...]   # default: A B
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark import get_spark
from opengauss_tools_datachecker_performance_spark.operators.components import (
    cluster_size_histogram,
    connected_components,
    dedup_survivors,
)
from opengauss_tools_datachecker_performance_spark.operators.dedup import (
    minhash_near_duplicates,
)
from opengauss_tools_datachecker_performance_spark.session import cache_scope

SCALES = {"A": (1, 10), "B": (10, 10)}


def build_corpus(spark, sf_dir: str, fam: int, rep: int):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    fams = spark.range(fam).select(F.col("id").alias("g"))
    reps = spark.range(rep).select(F.col("id").alias("r"))
    fam_tok = F.concat(F.lit(" f"), F.col("g").cast("string"), F.lit("x "))
    return (
        base.crossJoin(fams)
        .crossJoin(reps)
        .select(
            (
                F.col("doc_id") * fam * rep + F.col("g") * rep + F.col("r")
            ).alias("doc_id"),
            F.concat(
                F.regexp_replace(F.col("text"), F.lit(" "), fam_tok),
                F.lit(" rep"),
                F.col("r").cast("string"),
                F.lit("marker"),
            ).alias("text"),
        )
        .repartition(64)
    )


def run_scale(spark, sf_dir: str, tag: str) -> dict:
    fam, rep = SCALES[tag]
    docs = build_corpus(spark, sf_dir, fam, rep).persist()
    n_docs = docs.count()
    t0 = time.time()
    with cache_scope():
        cov: dict = {}
        pairs = minhash_near_duplicates(
            docs, "doc_id", "text", threshold=0.5, coverage_out=cov
        ).persist()
        n_pairs = pairs.count()
        t_pairs = time.time() - t0
        t1 = time.time()
        labels = connected_components(pairs).persist()
        n_labeled = labels.count()
        surv = dedup_survivors(labels, docs)
        n_clusters = surv.count()
        hist = {
            int(r["cluster_size"]): int(r["n_clusters"])
            for r in cluster_size_histogram(labels).collect()
        }
        t_cc = time.time() - t1
        wall = time.time() - t0
    pairs.unpersist()
    labels.unpersist()
    docs.unpersist()
    return {
        "scale": tag,
        "fam": fam,
        "rep": rep,
        "n_docs": n_docs,
        "n_pairs": n_pairs,
        "n_labeled_docs": n_labeled,
        "n_clusters": n_clusters,
        "hist_top": dict(sorted(hist.items(), key=lambda kv: -kv[1])[:4]),
        "pairs_sec": round(t_pairs, 1),
        "cc_sec": round(t_cc, 1),
        "wall_sec": round(wall, 1),
        "docs_per_sec": int(n_docs / wall),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tags = [t for t in sys.argv[1:] if t in SCALES] or ["A", "B"]
    spark = get_spark(app_name="sf1-dedup", shuffle_partitions=64)
    out = [run_scale(spark, sf_dir, t) for t in tags]
    for row in out:
        print(json.dumps(row))
    if len(out) == 2 and out[0]["scale"] == "A":
        a, b = out
        print(
            json.dumps(
                {
                    "docs_ratio": round(b["n_docs"] / a["n_docs"], 2),
                    "pairs_ratio": round(b["n_pairs"] / max(a["n_pairs"], 1), 2),
                    "clusters_ratio": round(
                        b["n_clusters"] / max(a["n_clusters"], 1), 2
                    ),
                    "wall_ratio": round(b["wall_sec"] / a["wall_sec"], 2),
                    "throughput_ratio": round(
                        b["docs_per_sec"] / max(a["docs_per_sec"], 1), 2
                    ),
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
