"""The explode-first shingle/minhash forms must agree exactly with the
array-form reference implementations (word_shingles / minhash_signature)
— same shingle sets, same signatures — including the <k-token and
empty-text fallbacks."""

from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.functions.hashing import (
    portable_hash64,
)
from opengauss_tools_datachecker_performance_spark.functions.text import (
    MINHASH_AB,
    minhash_affine,
    minhash_signature,
    shingle_rows,
    word_shingles,
)

DOCS = [
    ("1", "the quick brown fox jumps over the lazy dog"),
    ("2", "the quick brown fox jumps over the lazy cat"),
    ("3", "one two"),          # < k tokens → whole-doc shingle
    ("4", "single"),           # 1 token
    ("5", ""),                 # empty text → hash of ""
    ("6", "  padded   whitespace   everywhere  "),
    ("7", "dup dup dup dup dup"),  # duplicate shingles collapse (distinct)
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string")


def test_shingle_rows_match_array_form(spark):
    df = _df(spark)
    rows = {
        (r["doc_id"], r["sh"])
        for r in shingle_rows(df, "doc_id", "text", 3, distinct=True).collect()
    }
    arr = df.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                word_shingles(F.col("text"), 3), lambda s: portable_hash64(s)
            )
        ).alias("sh"),
    ).collect()
    want = {(r["doc_id"], h) for r in arr for h in r["sh"]}
    assert rows == want
    # every doc contributes at least one shingle (whole-doc fallback)
    assert {d for d, _ in rows} == {d for d, _ in DOCS}


def test_minhash_rows_match_array_form(spark):
    df = _df(spark)
    rows = shingle_rows(df, "doc_id", "text", 3, distinct=False)
    sig_rows = {
        r["doc_id"]: [r[f"_m{i}"] for i in range(8)]
        for r in rows.groupBy("doc_id")
        .agg(
            *[
                F.min(minhash_affine(F.col("sh"), a, b)).alias(f"_m{i}")
                for i, (a, b) in enumerate(MINHASH_AB)
            ]
        )
        .collect()
    }
    sig_arr = {
        r["doc_id"]: list(r["sig"])
        for r in df.select(
            "doc_id", minhash_signature(F.col("text"), 3, 8).alias("sig")
        ).collect()
    }
    assert sig_rows == sig_arr
    # near-identical docs share most signature slots; disjoint docs none
    same = sum(a == b for a, b in zip(sig_arr["1"], sig_arr["2"]))
    assert same >= 4
    assert not any(a == b for a, b in zip(sig_arr["1"], sig_arr["7"]))


def test_simhash_band_probing_complete_for_hamming_3(spark):
    """Pigeonhole property: the band-probing candidate generation must
    find EVERY pair within Hamming distance 3 — including planted
    near-dups at Hamming 1-3, which 16-bit (or any) exact-bucket
    grouping misses by construction."""
    from opengauss_tools_datachecker_performance_spark.operators.dedup import (
        simhash_bands,
        simhash_near_duplicates,
    )

    base_tokens = [f"tok{i}" for i in range(120)]
    variants = {
        "orig": base_tokens,
        # one/two replaced tokens out of 120 → few bit votes move →
        # small Hamming perturbations (exact distance asserted below)
        "v1": ["zzz1"] + base_tokens[1:],
        "v2": ["zzz1", "zzz2"] + base_tokens[2:],
        "far": [f"other{i}" for i in range(120)],
    }
    df = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in variants.items()], "doc_id string, text string"
    )
    bands = {
        r["doc_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in simhash_bands(df, "doc_id", "text").collect()
    }

    def hamming(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(bands[a], bands[b]))

    ids = sorted(variants)
    want = {
        (a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
        if hamming(a, b) <= 3
    }
    # the plant must actually be a non-trivial near-dup: Hamming 1..3
    # (deterministic md5 math — fails loudly if the fixture drifts)
    assert 1 <= hamming("orig", "v1") <= 3
    assert bands["orig"] != bands["v1"]  # exact-bucket grouping misses it
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_duplicates(df, "doc_id", "text").collect()
    }
    assert got == want
    assert ("orig", "v1") in got


def test_simhash_signature_composes_bands(spark):
    from opengauss_tools_datachecker_performance_spark.operators.dedup import (
        simhash_bands,
        simhash_signature,
    )

    df = spark.createDataFrame(
        [("a", "the quick brown fox jumps over the lazy dog"), ("e", "")],
        "doc_id string, text string",
    )
    bands_df = simhash_bands(df, "doc_id", "text")
    rows = {r["doc_id"]: r for r in bands_df.collect()}
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signature(bands_df).collect()}
    for d, r in rows.items():
        expect = sum(r[f"b{i}"] << (i * 15) for i in range(4))
        assert sigs[d] == expect
        assert 0 <= sigs[d] < (1 << 60)
    # empty doc → all-zero signature (votes all zero)
    assert sigs["e"] == 0


def test_dedup_coverage_accounting_and_release(spark, tmp_path):
    """Caps are never silent: a tiny mega-bucket cap must surface its
    dropped-entry count via coverage_counts, the counts must land in
    the report summary's coverage_bounds, and release() must unpersist
    every cached frame the operator registered."""
    import json
    import os

    from opengauss_tools_datachecker_performance_spark.operators.dedup import (
        coverage_counts,
        minhash_near_duplicates,
        ngram_jaccard_pairs,
        release,
    )

    # 12 identical docs → every LSH band bucket holds 12 entries;
    # cap 5 drops them all, and every shingle has freq 12 > cap 5
    docs = spark.createDataFrame(
        [(str(i), "the same boilerplate text repeated for every doc here") for i in range(12)],
        "doc_id string, text string",
    )
    cov: dict = {}
    out = minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.3, max_bucket_size=5, coverage_out=cov
    )
    assert out.count() == 0  # all candidates died with the mega-buckets
    counts = coverage_counts(cov)
    assert counts["minhash_dropped_bucket_entries"] == 12 * 4  # 4 bands
    cov2: dict = {}
    ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.3, max_shingle_freq=5, coverage_out=cov2
    ).count()
    assert coverage_counts(cov2)["ngram_dropped_stop_shingles"] > 0

    persisted = list(cov.get("persisted", []))
    assert persisted
    release(cov)
    assert all(not df.is_cached for df in persisted)

    # counts reach the report summary
    from opengauss_tools_datachecker_performance_spark.plans.report import (
        summarize_dir,
    )

    rd = str(tmp_path / "rep")
    os.makedirs(rd, exist_ok=True)
    spark.createDataFrame(
        [], "part int, constraint string, key string, span_idx int, detail string"
    ).write.parquet(os.path.join(rd, "violations.parquet"))
    spark.createDataFrame(
        [(0, "consistency", 0, "pass")],
        "part int, constraint string, n_violations long, status string",
    ).write.parquet(os.path.join(rd, "verdicts.parquet"))
    s = summarize_dir(spark, rd, sections={"coverage_bounds": counts})
    assert s["coverage_bounds"]["minhash_dropped_bucket_entries"] == 48
    assert (
        json.load(open(os.path.join(rd, "summary.json")))["coverage_bounds"]
        == s["coverage_bounds"]
    )


def test_exact_duplicate_decisions_row_output(spark):
    """exact_duplicate_decisions emits one keep/remove row per member
    of a >1-member content group (min-id keeps), agrees with
    exact_duplicate_groups on membership, and plans no per-group id
    arrays (the skew-safe application form)."""
    from opengauss_tools_datachecker_performance_spark.operators.dedup import (
        exact_duplicate_decisions,
        exact_duplicate_groups,
    )

    docs = spark.createDataFrame(
        [
            ("a1", "shared text one"),
            ("a2", "Shared   TEXT one "),  # same after normalization
            ("a3", "shared text one"),
            ("b1", "unique text here"),
            ("c1", "another shared"),
            ("c2", "another shared"),
        ],
        "doc_id string, text string",
    )
    got = {
        r["doc_id"]: (r["keep_id"], r["action"])
        for r in exact_duplicate_decisions(docs, "doc_id", "text").collect()
    }
    assert got == {
        "a1": ("a1", "keep"),
        "a2": ("a1", "remove"),
        "a3": ("a1", "remove"),
        "c1": ("c1", "keep"),
        "c2": ("c1", "remove"),
    }
    # membership parity with the grouped form
    groups = exact_duplicate_groups(docs, "doc_id", "text").collect()
    member_union = {i for r in groups for i in r["all_ids"]}
    assert member_union == set(got)
    # no collect_list in the physical plan (row output, not arrays)
    plan = (
        exact_duplicate_decisions(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "collect_list" not in plan
