"""Deduplication operator family for large-scale corpus pipelines.

Four families, all shuffle-disciplined for the 100 TB case:

* **exact** — hash-groupBy on the content fingerprint (md5 of
  normalized text). One exchange of (16-byte hash, id).
* **MinHash + LSH** — shingle → minhash signature → band buckets →
  candidate pairs via self-join on (band, band_hash) → exact-Jaccard
  verification of candidates only.  The self-join key is a band
  bucket, so only near-duplicates ever meet; a frequency cap drops
  degenerate mega-buckets (boilerplate shingles).
* **SimHash** — 60-bit simhash (4×15-bit bands over the portable
  hash): exact-bucket grouping for Hamming-0 groups, and Hamming-band
  probing (pigeonhole: distance ≤ 3 ⇒ ≥ 1 band equal) emitting
  verified near-dup PAIRS — no per-signature collect_list, so no
  mega-group blow-up at corpus scale.
* **embedding cosine** — near-dup pairs over an embedding column via
  hyperplane-LSH bucketed candidates (equi-joins only) + exact cosine
  re-score of candidates; shares its deterministic hyperplanes with
  operators/similarity.py.

Every emitted pair is canonicalized (id_a < id_b) and every hash that
reaches the output is the portable md5-based hash (oracle parity).

Frames an operator reads more than once are cached in the caller's
cache scope (session.py), so they live until the caller's scope exits;
called outside one, the operators stay lazy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from opengauss_tools_datachecker_performance_spark.operators.skew import small_side
from opengauss_tools_datachecker_performance_spark.session import cached

from opengauss_tools_datachecker_performance_spark.functions.hashing import (
    portable_hash64,
)
from opengauss_tools_datachecker_performance_spark.functions.text import (
    MINHASH_AB,
    fingerprint,
    minhash_affine,
    shingle_rows,
)


def _capped_group_ids(
    rows: DataFrame, group_col: str, cap: int
) -> DataFrame:
    """→ (<group_col>, all_ids): the ``cap`` smallest doc_ids per group,
    sorted — WITHOUT an unbounded per-group ``collect_list``.  Rows are
    rank-filtered inside their group first (row_number spills through
    the sort; it never buffers the group), so the aggregate only ever
    collects ≤cap ids even for a 10^8-copy boilerplate group."""
    w = Window.partitionBy(group_col).orderBy("doc_id")
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .groupBy(group_col)
        .agg(F.array_sort(F.collect_list("doc_id")).alias("all_ids"))
    )


def exact_duplicate_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sample_ids_cap: int | None = 100,
) -> DataFrame:
    """→ (fingerprint, n_docs, keep_id[, all_ids]): one row per content
    group with >1 member; keep_id = min id (the canonical survivor).

    ``all_ids`` is a SAMPLE of the ``sample_ids_cap`` smallest member
    ids (``n_docs`` stays the true count) — an uncapped per-group
    collect would materialize one giant array row for a boilerplate
    group at corpus scale.  Pass ``sample_ids_cap=None`` to skip the
    id-sample branch entirely (count+min only, pure partial aggregate);
    for per-row keep/remove application use
    :func:`exact_duplicate_decisions`."""
    fp = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        fingerprint(F.col(text_col)).alias("fingerprint"),
    )
    # groupBy groups NULL fingerprints; the sample join must too, so
    # both aggregates key on a null-coalesced group key
    fpk = fp.withColumn(
        "_fpk", F.coalesce(F.col("fingerprint"), F.lit("\x00null"))
    )
    groups = (
        fpk.groupBy("_fpk")
        .agg(
            F.first("fingerprint").alias("fingerprint"),
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )
    if sample_ids_cap is None:
        return groups.select("fingerprint", "n_docs", "keep_id")
    sample = _capped_group_ids(fpk, "_fpk", sample_ids_cap)
    return groups.join(sample, "_fpk").select(
        "fingerprint", "n_docs", "keep_id", "all_ids"
    )


def exact_duplicate_decisions(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """→ (doc_id, fingerprint, keep_id, action): one row per document
    whose content group has >1 member; the min-id member gets
    ``action='keep'``, every other copy ``'remove'``.

    The row-output counterpart of :func:`exact_duplicate_groups` for
    pipeline application (filter/anti-join on action): the aggregate
    side is count+min only (partial-aggregated, skew-immune), and the
    ids come from joining the doc stream back on the fingerprint — a
    10^8-copy boilerplate group streams through its partition instead
    of collecting into one ``all_ids`` array."""
    fp = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        fingerprint(F.col(text_col)).alias("fingerprint"),
    )
    # join on a null-coalesced key: NULL-text docs share the NULL
    # fingerprint GROUP (groupBy groups nulls) but a plain equi-join
    # would drop them — the decisions output must cover every group
    # the groups view reports
    key = F.coalesce(F.col("fingerprint"), F.lit("\x00null"))
    fp = fp.withColumn("_fpk", key)
    groups = (
        fp.groupBy("_fpk")
        .agg(F.count(F.lit(1)).alias("_n"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    return fp.join(groups, "_fpk").select(
        "doc_id",
        "fingerprint",
        "keep_id",
        F.when(F.col("doc_id") == F.col("keep_id"), F.lit("keep"))
        .otherwise(F.lit("remove"))
        .alias("action"),
    )


def minhash_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """→ (doc_id, band, band_key): LSH bucket assignment.  band_key is
    the portable hash of the band's signature slice, so two docs land
    in the same (band, band_key) iff that slice matches exactly."""
    # explode-first: shingle hashes as flat rows (codegen build, no
    # interpreted lambdas — functions.text.shingle_rows), then the
    # signature is num_hashes MIN aggregates of affine transforms, all
    # inside one partial-aggregated groupBy. Measured on the full
    # near-dup pipeline at sf0.1: 160 s (seeded-md5 array transforms)
    # → 19.6 s (affine over materialized arrays) → ~7 s (this form).
    rows = shingle_rows(df, id_col, text_col, shingle_k, distinct=False)
    return minhash_buckets_from_shingle_rows(rows, num_hashes, bands)


def minhash_buckets_from_shingle_rows(
    rows: DataFrame, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """:func:`minhash_band_buckets` from an already-built NON-distinct
    ``(doc_id, sh)`` shingle-rows frame — lets a caller that also needs
    the shingle rows (e.g. the persisted index of
    operators/dedup_index.py) pay for ONE text scan and derive both
    index frames from the same cached rows."""
    if num_hashes % bands:
        # truncating would silently waste signature hashes (pay for
        # num_hashes MINs, get the recall of bands*(num_hashes//bands))
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    sig = rows.groupBy("doc_id").agg(
        *[
            F.min(minhash_affine(F.col("sh"), a, b)).alias(f"_m{i}")
            for i, (a, b) in enumerate(MINHASH_AB[:num_hashes])
        ]
    ).select(
        "doc_id",
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig"),
    )
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                portable_hash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(band_entries).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.band_key").alias("band_key")
    )


def _with_group_size(df: DataFrame, keys: list[str], n_col: str) -> DataFrame:
    """Attach per-group row counts via a partial-aggregated groupBy +
    co-partitioned join back — deliberately NOT
    ``count() OVER (PARTITION BY keys)``: WindowExec must buffer each
    partition-key group inside one task, and the group whose size we
    are measuring is exactly the degenerate mega-bucket the size cap
    exists to drop — at corpus scale the window materializes the
    blow-up it is guarding against. The aggregate side is one thin row
    per group (map-side combined, skew-immune), and the join is keyed
    on the same columns, so the mega-group's rows *stream* through
    their partition instead of buffering, and AQE broadcasts the size
    frame when it is small."""
    sizes = df.groupBy(*keys).agg(F.count(F.lit(1)).alias(n_col))
    return df.join(sizes, keys)


def coverage_counts(coverage: dict) -> dict:
    """Materialize the drop-accounting frames registered by the dedup
    operators into plain counts (one tiny action each) — pipeline runs
    put these in their report so coverage caps are never silent."""
    return {k: df.count() for k, df in coverage.items()}


def lsh_candidate_pairs(
    buckets: DataFrame,
    max_bucket_size: int = 50,
    coverage_out: dict | None = None,
    require_flag: str | None = None,
) -> DataFrame:
    """Self-join per (band, band_key) → distinct candidate (id_a, id_b),
    id_a < id_b.  Buckets above ``max_bucket_size`` are dropped (at
    corpus scale those are boilerplate clusters that would quadratically
    explode); the dropped entries register in ``coverage_out`` as a
    lazy frame — see :func:`coverage_counts`.

    ``require_flag`` names an optional boolean column on ``buckets``:
    only pairs where at least one side carries the flag are emitted —
    the incremental-index path (operators/dedup_index.py) uses it to
    restrict candidates to batch-involving pairs while the occupancy
    cap still evaluates over the FULL bucket union."""
    sized = _with_group_size(buckets, ["band", "band_key"], "bucket_n")
    if coverage_out is not None:
        coverage_out["minhash_dropped_bucket_entries"] = sized.filter(
            F.col("bucket_n") > max_bucket_size
        )
    sized = sized.filter(F.col("bucket_n") <= max_bucket_size)
    a_cols = ["band", "band_key", F.col("doc_id").alias("id_a")]
    b_cols = ["band", "band_key", F.col("doc_id").alias("id_b")]
    if require_flag is not None:
        a_cols.append(F.col(require_flag).alias("_flag_a"))
        b_cols.append(F.col(require_flag).alias("_flag_b"))
    pairs = (
        sized.select(*a_cols)
        .join(sized.select(*b_cols), ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
    )
    if require_flag is not None:
        pairs = pairs.filter(F.col("_flag_a") | F.col("_flag_b"))
    return pairs.select("id_a", "id_b").distinct()


def exact_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame,
    shingle_k: int = 3,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard:
    → (id_a, id_b, jaccard), one row per input pair.

    Count-based formulation over the flat shingle-row index (no array
    materialization): |A∩B| = matched (doc, shingle) rows between the
    two sides, |A∪B| = |A| + |B| - |A∩B|. Everything is joins +
    codegen'd aggregates; candidate pairs are small (post-LSH), so
    they broadcast into the row index."""
    # verification only ever touches docs that appear in a candidate
    # pair — semi-join the shingle index down to those docs FIRST and
    # cache the (tiny) remainder, so the full-corpus shingle build
    # runs exactly once no matter how many joins read it below
    ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    rows = cached(
        shingle_rows(df, id_col, text_col, shingle_k, distinct=True).join(
            small_side(ids), "doc_id", "left_semi"
        )
    )
    return jaccard_for_pairs(rows, pairs)


def jaccard_for_pairs(rows: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard of candidate pairs over a flat DISTINCT shingle
    index (doc_id, sh) — the join core of :func:`exact_jaccard`,
    shared with the incremental index path
    (operators/dedup_index.py) where the corpus side's rows come
    pre-computed from persisted state instead of a text scan."""
    sizes = rows.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    bp = small_side(pairs)
    a_rows = bp.join(rows.withColumnRenamed("doc_id", "id_a"), "id_a")
    shared = (
        a_rows.alias("l")
        .join(
            rows.withColumnRenamed("doc_id", "id_b").alias("r"),
            ["id_b", "sh"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # NOTE: sizes has one row per doc — never broadcast it; the pair
    # side is the small one, so Catalyst/AQE broadcasts that instead
    out = (
        pairs.join(shared, ["id_a", "id_b"], "left")
        .join(sizes.withColumnsRenamed({"doc_id": "id_a", "n_sh": "na"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "n_sh": "nb"}), "id_b")
        .withColumn("shared", F.coalesce("shared", F.lit(0)))
    )
    union = F.col("na") + F.col("nb") - F.col("shared")
    return out.select(
        "id_a",
        "id_b",
        F.when(union > 0, F.col("shared").cast("double") / union.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int = 50,
    coverage_out: dict | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection:
    → (id_a, id_b, jaccard) for verified pairs ≥ threshold.

    The bucket frame feeds a self-join (both sides) and the candidate
    frame is referenced three times by the verification joins — both
    are thin (4 longs/doc; a few rows per near-dup pair), so they are
    cached rather than re-running the signature subtree per consumer
    (same cache-the-digests discipline as plans/runner.py). Pass
    ``coverage_out`` (a dict) to receive the mega-bucket drop
    accounting for :func:`coverage_counts` — pipeline runs surface
    those counts in their report so the cap is never silent."""
    buckets = cached(
        minhash_band_buckets(df, id_col, text_col, shingle_k, num_hashes, bands)
    )
    cands = cached(lsh_candidate_pairs(buckets, max_bucket_size, coverage_out))
    verified = exact_jaccard(df, id_col, text_col, cands, shingle_k)
    return verified.filter(F.col("jaccard") >= threshold)


#: 60-bit SimHash geometry: 4 bands × 15 bits (the portable md5 hash
#: is 60-bit, so every bit carries signal). Pigeonhole: two signatures
#: within Hamming distance ≤ bands-1 (=3) share at least one band.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def simhash_bands(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """→ (doc_id, b0..b3): 60-bit SimHash as four 15-bit band keys.

    Explode-first formulation: tokens as flat rows, then the 60 bit
    votes are 60 SUM aggregates inside ONE partial-aggregated groupBy
    (whole-stage codegen; no interpreted array lambdas — the
    shingle_rows discipline). A doc with no tokens keeps a row via
    explode_outer and votes 0 everywhere → all-zero signature, same as
    the array formulation."""
    from opengauss_tools_datachecker_performance_spark.functions.text import (
        normalized_text,
        ws_tokens,
    )

    toks = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        ws_tokens(normalized_text(F.col(text_col))).alias("_toks"),
    )
    # materialize the token hash ONCE per row: each of the 60 vote
    # aggregates below references the same column instead of inlining
    # portable_hash64 (an md5 chain) — aggregate expressions get no
    # common-subexpression elimination, so the inline form pays 60
    # md5s per token (measured 28 s → 1.3 s on the 5k-doc near-dup
    # pipeline for exactly this change)
    rows = toks.select("doc_id", F.explode_outer("_toks").alias("_tok")).select(
        "doc_id", portable_hash64(F.col("_tok")).alias("_th")
    )
    th = F.col("_th")
    vote = lambda b: F.when(th.isNull(), F.lit(0)).otherwise(  # noqa: E731
        F.when(F.shiftright(th, b) % 2 == 1, F.lit(1)).otherwise(F.lit(-1))
    )
    votes = rows.groupBy("doc_id").agg(
        *[F.sum(vote(b)).alias(f"_v{b}") for b in range(SIMHASH_BITS)]
    )
    band_cols = []
    for band in range(SIMHASH_BANDS):
        bits = [
            F.when(
                F.col(f"_v{band * SIMHASH_BAND_BITS + j}") > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
            for j in range(SIMHASH_BAND_BITS)
        ]
        expr = bits[0]
        for x in bits[1:]:
            expr = expr + x
        band_cols.append(expr.cast("int").alias(f"b{band}"))
    return votes.select("doc_id", *band_cols)


def simhash_signature(bands_df: DataFrame) -> DataFrame:
    """(doc_id, b0..b3) → (doc_id, simhash): the full 60-bit signature
    as one non-negative bigint (b0 is the low band)."""
    sig = F.lit(0).cast("long")
    for band in range(SIMHASH_BANDS):
        sig = sig + F.shiftleft(
            F.col(f"b{band}").cast("long"), band * SIMHASH_BAND_BITS
        )
    return bands_df.select("doc_id", sig.alias("simhash"))


def simhash_duplicate_groups(
    df: DataFrame, id_col: str, text_col: str, sample_ids_cap: int = 100
) -> DataFrame:
    """SimHash exact-bucket (Hamming-0) groups over the 60-bit
    signature: → (simhash, n_docs, keep_id, all_ids).  ``all_ids`` is
    capped at ``sample_ids_cap`` members (``n_docs`` stays exact) —
    same rank-then-collect shape as :func:`exact_duplicate_groups`.
    For Hamming > 0 near-dups use :func:`simhash_near_duplicates`
    (pair output — no mega-group collect at corpus scale)."""
    s = simhash_signature(simhash_bands(df, id_col, text_col))
    groups = (
        s.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )
    sample = _capped_group_ids(s, "simhash", sample_ids_cap)
    return groups.join(sample, "simhash").select(
        "simhash", "n_docs", "keep_id", "all_ids"
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
    coverage_out: dict | None = None,
) -> DataFrame:
    """SimHash near-dup PAIRS via Hamming-band probing:
    → (id_a, id_b, hamming), hamming ≤ ``max_hamming``.

    Candidates = equi-join per band (two signatures within Hamming ≤ 3
    must agree on ≥1 of the 4 bands — pigeonhole, so recall is exact
    for max_hamming ≤ 3); verification = exact bit_count of the XOR
    per band, summed. Pair output (never collect_list): at corpus
    scale a popular signature region becomes a bounded join, not a
    driver-sized array. ``max_bucket_size`` drops degenerate
    mega-buckets (all-identical boilerplate); the dropped entries
    register in ``coverage_out`` (see :func:`coverage_counts`)."""
    bands_df = cached(simhash_bands(df, id_col, text_col))
    # all four bands in ONE keyed frame: a single group-size pass and a
    # single co-partitioned self-join on (band, key) replace four of
    # each — same candidate set, quarter the shuffle stages (the key
    # space is disjoint across bands because band is part of the key)
    keyed = bands_df.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.col(f"b{band}").alias("_key"),
                    )
                    for band in range(SIMHASH_BANDS)
                ]
            )
        ).alias("_bk"),
    ).select("doc_id", F.col("_bk.band").alias("_band"), F.col("_bk._key").alias("_key"))
    sized = _with_group_size(keyed, ["_band", "_key"], "_n")
    if coverage_out is not None:
        coverage_out["simhash_dropped_bucket_entries"] = sized.filter(
            F.col("_n") > max_bucket_size
        )
    bucketed = sized.filter(F.col("_n") <= max_bucket_size)
    a = bucketed.select("_band", "_key", F.col("doc_id").alias("id_a"))
    b = bucketed.select("_band", "_key", F.col("doc_id").alias("id_b"))
    cand = (
        a.join(b, ["_band", "_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = bands_df.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(SIMHASH_BANDS)],
    )
    vb = bands_df.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"b{i}").alias(f"c{i}") for i in range(SIMHASH_BANDS)],
    )
    hamming = F.lit(0)
    for i in range(SIMHASH_BANDS):
        hamming = hamming + F.bit_count(
            F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}"))
        )
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_k: int = 3,
    max_shingle_freq: int = 100,
    coverage_out: dict | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via an inverted shingle index:
    explode shingles → self-join on shingle (stop-shingles above
    ``max_shingle_freq`` dropped) → shared-count per pair → Jaccard via
    |A|+|B|-shared.  Exact for every pair sharing ≥1 surviving shingle;
    pairs sharing only stop-shingles are below any useful threshold
    anyway.  This is the exact-verification counterpart to MinHash.
    The dropped stop-shingles register in ``coverage_out``
    (see :func:`coverage_counts`)."""
    sh = shingle_rows(df, id_col, text_col, shingle_k, distinct=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # broadcast direction matters at scale: the SURVIVING shingle set is
    # ~every distinct shingle in the corpus (unbroadcastable), while the
    # stop-shingles (freq > cap) are few — broadcast those and anti-join
    freq_bad = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("f")).filter(
        F.col("f") > max_shingle_freq
    )
    if coverage_out is not None:
        coverage_out["ngram_dropped_stop_shingles"] = freq_bad
    sh2 = sh.join(small_side(freq_bad.select("sh")), "sh", "left_anti")
    a = sh2.withColumnRenamed("doc_id", "id_a")
    b = sh2.withColumnRenamed("doc_id", "id_b")
    shared = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.join(sizes.withColumnsRenamed({"doc_id": "id_a", "n_sh": "na"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "n_sh": "nb"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")).cast("double")
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_k: int = 3,
    max_shingle_freq: int = 100,
    coverage_out: dict | None = None,
) -> DataFrame:
    """ASYMMETRIC shingle containment |A∩B| / |A| ≥ threshold →
    (doc_id, container_id, containment): documents mostly CONTAINED in
    another document.  A short doc pasted into a long one scores low
    Jaccard (union dominated by the long doc) but containment ≈ 1 —
    this is the near-superset detector quote/boilerplate removal needs
    alongside :func:`ngram_jaccard_pairs`.

    Same inverted-index scale shape as the Jaccard path: distinct
    shingles, stop-shingles above ``max_shingle_freq`` anti-joined out
    (runtime-size-checked broadcast — :func:`operators.skew.small_side`
    — since the stop-shingle set grows with vocabulary), pair counts
    via one shingle equi-join.  Output is directional (both (a,b) and (b,a) can
    appear); self-pairs excluded."""
    sh = shingle_rows(df, id_col, text_col, shingle_k, distinct=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    freq_bad = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("f")).filter(
        F.col("f") > max_shingle_freq
    )
    if coverage_out is not None:
        coverage_out["containment_dropped_stop_shingles"] = freq_bad
    sh2 = sh.join(small_side(freq_bad.select("sh")), "sh", "left_anti")
    a = sh2.withColumnRenamed("doc_id", "doc_id")
    b = sh2.withColumnRenamed("doc_id", "container_id")
    shared = (
        a.join(b, "sh")
        .filter(F.col("doc_id") != F.col("container_id"))
        .groupBy("doc_id", "container_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = shared.join(sizes, "doc_id").select(
        "doc_id",
        "container_id",
        (F.col("shared").cast("double") / F.col("n_sh").cast("double")).alias(
            "containment"
        ),
    )
    return out.filter(F.col("containment") >= threshold)


def embedding_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    dims: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    max_bucket_size: int = 1000,
    coverage_out: dict | None = None,
) -> DataFrame:
    """Cosine near-dup pairs → (id_a, id_b, cos_sim) via LSH-bucketed
    candidate generation + exact re-score.

    Candidates come from random-hyperplane signature equality (the
    same deterministic planes as similarity.lsh_ann_topk): two vectors
    are candidates iff they share a bucket in at least one of
    ``n_tables`` hash tables.  Every join is an equi-join on the
    bucket / id keys — no O(n²) non-equi self-join anywhere in the
    plan.  At cosine ≥ 0.99 (angle ≤ ~8°) a single 8-plane table keeps
    ~0.7 recall; four tables push misses below 1 %, and an *exactly*
    scaled duplicate (v vs c·v) always collides since projections keep
    their sign.  At corpus scale, size n_planes ≈ log2(n_docs) so
    bucket occupancy stays O(1); ``max_bucket_size`` drops degenerate
    mega-buckets (callers surface the dropped count as a coverage
    bound, same as the MinHash cap)."""
    from opengauss_tools_datachecker_performance_spark.operators.similarity import (
        dot,
        hyperplane_signature,
        norm,
    )

    # cached: the vector frame feeds the signature pass AND both
    # re-score joins (same discipline as the MinHash/SimHash siblings)
    v = cached(
        embeddings.select(
            F.col(id_col).cast("long").alias("vid"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        ).withColumn("nrm", norm(F.col("vec")))
    )

    # all tables in ONE keyed frame: a single group-size pass and one
    # co-partitioned self-join on (table, bucket) replace n_tables of
    # each (same fold as the simhash band probe)
    keyed = v.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("_tbl"),
                        hyperplane_signature(
                            F.col("vec"), dims, n_planes, t
                        ).alias("_bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("_tb"),
    ).select("vid", F.col("_tb._tbl").alias("_tbl"), F.col("_tb._bucket").alias("_bucket"))
    sized = _with_group_size(keyed, ["_tbl", "_bucket"], "bucket_n")
    if coverage_out is not None:
        coverage_out["embedding_dropped_bucket_entries"] = sized.filter(
            F.col("bucket_n") > max_bucket_size
        )
    bucketed = sized.filter(F.col("bucket_n") <= max_bucket_size)
    a = bucketed.select("_tbl", "_bucket", F.col("vid").alias("id_a"))
    b = bucketed.select("_tbl", "_bucket", F.col("vid").alias("id_b"))
    cand = (
        a.join(b, ["_tbl", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # exact re-score of candidates only; per-row norms were
    # materialized once above (bit-identical to per-pair norm()).
    # try_divide: a zero-norm vector (failed/padded embedding) lands
    # in bucket 0 of every table — its pairs must score NULL (and
    # drop at the threshold filter), not abort the job with ANSI
    # DIVIDE_BY_ZERO
    va = v.withColumnsRenamed({"vid": "id_a", "vec": "vec_a", "nrm": "nrm_a"})
    vb = v.withColumnsRenamed({"vid": "id_b", "vec": "vec_b", "nrm": "nrm_b"})
    scored = cand.join(va, "id_a").join(vb, "id_b")
    return scored.select(
        "id_a",
        "id_b",
        F.try_divide(
            dot(F.col("vec_a"), F.col("vec_b")),
            F.col("nrm_a") * F.col("nrm_b"),
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


def embedding_near_duplicates_ivf(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_cells: int = 16,
    nprobe: int = 2,
    quantize_scale: float = 1_000_000.0,
    max_cell_size: int = 10_000,
    coverage_out: dict | None = None,
) -> DataFrame:
    """IVF-routed cosine near-dup pairs → (id_a, id_b, cos_sim): the
    inverted-file counterpart of the random-hyperplane route above,
    sharing similarity.py's deterministic coarse quantizer
    (ivf_centroids/ivf_assign — lowest-id centroids, exact integer
    dot assignment, so an exact SQL oracle can replay the bucketing).

    Candidates are pairs sharing any of each vector's ``nprobe`` best
    cells; near-identical vectors rank their cells near-identically,
    so probing >1 cell covers pairs that straddle a cell boundary.
    Candidate volume is Σ |cell|²·nprobe²/|C| versus the hyperplane
    route's band-bucket volume — prefer IVF when embeddings cluster
    (cells equalize bucket sizes), hyperplanes when they're isotropic.
    ``max_cell_size`` drops degenerate mega-cells with the same
    coverage accounting as the LSH/MinHash caps (never silent —
    callers surface the dropped count)."""
    from opengauss_tools_datachecker_performance_spark.operators.similarity import (
        _qz,
        dot,
        ivf_assign,
        ivf_centroids,
        norm,
    )

    # cached: v feeds the assignment pass and both re-score joins
    v = cached(
        embeddings.select(
            F.col(id_col).cast("long").alias("vid"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        ).withColumn("nrm", norm(F.col("vec")))
    )
    cent = ivf_centroids(v, "vid", "vec", n_cells, quantize_scale)
    assigned = ivf_assign(
        v.select("vid", F.col("vec")).withColumn(
            "vi", _qz(F.col("vec"), quantize_scale)
        ),
        cent,
        "vid",
        nprobe,
    ).select("vid", "cell")

    sized = _with_group_size(assigned, ["cell"], "cell_n")
    if coverage_out is not None:
        coverage_out["ivf_dropped_cell_entries"] = sized.filter(
            F.col("cell_n") > max_cell_size
        )
    kept = sized.filter(F.col("cell_n") <= max_cell_size)
    a = kept.select("cell", F.col("vid").alias("id_a"))
    b = kept.select("cell", F.col("vid").alias("id_b"))
    cand = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    va = v.withColumnsRenamed({"vid": "id_a", "vec": "vec_a", "nrm": "nrm_a"})
    vb = v.withColumnsRenamed({"vid": "id_b", "vec": "vec_b", "nrm": "nrm_b"})
    scored = cand.join(va, "id_a").join(vb, "id_b")
    # try_divide: zero-norm vectors score NULL and drop at the
    # threshold, instead of an ANSI DIVIDE_BY_ZERO abort
    return scored.select(
        "id_a",
        "id_b",
        F.try_divide(
            dot(F.col("vec_a"), F.col("vec_b")),
            F.col("nrm_a") * F.col("nrm_b"),
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


def dedup_rate_by_group(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group exact-duplicate rate → (group, n_docs, n_dup_docs,
    n_groups_with_dups, dup_rate): the headline numbers of a dedup
    report (which source is flooding the corpus with copies?).

    ``n_dup_docs`` counts REMOVABLE copies (group size - 1 summed over
    the group's duplicate fingerprints WITHIN that group).  Fingerprint
    counting is a two-level aggregate — (group, fingerprint) partial
    first — so a boilerplate fingerprint hot across the corpus never
    concentrates in one task."""
    fp = df.select(
        F.col(group_col).alias("group"),
        F.col(id_col).cast("string").alias("doc_id"),
        fingerprint(F.col(text_col)).alias("fingerprint"),
    )
    per_fp = fp.groupBy(
        "group", F.coalesce("fingerprint", F.lit("\x00null")).alias("_fpk")
    ).agg(F.count(F.lit(1)).alias("_n"))
    return (
        per_fp.groupBy("group")
        .agg(
            F.sum("_n").alias("n_docs"),
            F.sum(F.col("_n") - 1).alias("n_dup_docs"),
            F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)).alias(
                "n_groups_with_dups"
            ),
        )
        .select(
            "group",
            "n_docs",
            "n_dup_docs",
            "n_groups_with_dups",
            F.round(F.col("n_dup_docs") / F.col("n_docs"), 6)
            .cast("decimal(10,6)")
            .cast("string")
            .alias("dup_rate"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm) → (doc_id, pos, fp): from each
    sliding window of ``window`` consecutive k-gram hashes, keep the
    MINIMUM hash (rightmost on ties — "robust winnowing"), emitting
    each selected position once.

    The guarantee that makes this the rolling-hash fingerprint of
    choice: any shared substring of at least window+k-1 tokens yields
    at least one IDENTICAL (hash) fingerprint in both documents, while
    the stored set is ~1/window of the k-gram stream — position-robust
    (unlike MinHash bands, a match pins a location) and
    deletion-robust.

    Scale shape: the positional k-gram stream is corpus-token-sized
    (same as every shingle pipeline here); the window min runs
    PARTITIONED per doc over a ``window``-row frame; the distinct
    collapses map-side.  One doc-keyed shuffle end to end."""
    rows = shingle_rows(df, id_col, text_col, shingle_k, keep_pos=True)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(window - 1), 0)
    )
    # min over (hash, -pos): minimal hash, ties to the RIGHTMOST
    # position — one struct-min per full window, inside codegen
    sel = F.min(F.struct(F.col("sh"), (-F.col("pos")).alias("np"))).over(w)
    picked = (
        rows.withColumn("_sel", sel)
        .filter(F.col("pos") >= window - 1)  # full windows only
        .select(
            "doc_id",
            (-F.col("_sel.np")).cast("int").alias("pos"),
            F.col("_sel.sh").alias("fp"),
        )
        .dropDuplicates(["doc_id", "pos", "fp"])
    )
    return picked


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    max_sources_per_fp: int = 64,
    coverage_out: dict | None = None,
) -> DataFrame:
    """Pairwise EXACT-content overlap between sources →
    ``(source_a, source_b, n_a, n_b, n_shared, jaccard, frac_a_in_b,
    frac_b_in_a)`` for every source pair sharing ≥ 1 content
    fingerprint — the curation question "how much of source B is
    already in source A" (dedup_rate_by_group answers the WITHIN-
    source dual; this is the ACROSS-source matrix that decides which
    feed to drop from a mixture).

    ``n_a``/``n_b`` count DISTINCT fingerprints per source (document
    multiplicity within a source is the other report's business);
    ``jaccard`` = |A∩B| / |A∪B|; ``frac_a_in_b`` = |A∩B| / |A| (the
    share of A's distinct content that also appears in B).  Ratios
    render as 6-dp decimal strings (driver-hash-stable, exact same
    IEEE expression on both engines).

    Scale (10^12 docs): one fingerprint projection; ``distinct`` on
    (source, fp) collapses map-side before its exchange; the pair
    self-join is keyed on fp where each key carries at most
    ``max_sources_per_fp`` rows — near-universal boilerplate
    fingerprints (present in more sources than the cap) are dropped
    with the same coverage-ledger accounting as the LSH bucket caps
    (``coverage_out['overlap_dropped_fps']``), never silently, so the
    worst join fan-out per key is capped at S² with S ≤ the cap.  The
    bounded per-source size frame joins through
    :func:`operators.skew.small_side` (this module pins no
    broadcasts — plan-audit gate).  Output is at most one row per
    co-occurring source pair."""
    fps = (
        df.select(
            F.col(source_col).cast("string").alias("source"),
            fingerprint(F.col(text_col)).alias("fp"),
        )
        .filter(F.col("fp").isNotNull() & F.col("source").isNotNull())
        .distinct()
    )
    sized = _with_group_size(fps, ["fp"], "_s_n")
    if coverage_out is not None:
        coverage_out["overlap_dropped_fps"] = (
            sized.filter(F.col("_s_n") > max_sources_per_fp)
            .select("fp")
            .distinct()
        )
    # cached: the (source, fp) frame feeds the size aggregate AND both
    # sides of the pair self-join — without it each consumer re-runs
    # the full corpus fingerprint scan (3 scans instead of 1 at 100 TB)
    kept = cached(
        sized.filter(F.col("_s_n") <= max_sources_per_fp).select("source", "fp")
    )
    sizes = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = kept.withColumnRenamed("source", "source_a")
    b = kept.withColumnRenamed("source", "source_b")
    shared = (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = small_side(sizes.withColumnsRenamed({"source": "source_a", "n": "n_a"}))
    sb = small_side(sizes.withColumnsRenamed({"source": "source_b", "n": "n_b"}))
    ratio = lambda c: F.round(c, 6).cast("decimal(10,6)").cast("string")  # noqa: E731
    union_n = F.col("n_a") + F.col("n_b") - F.col("n_shared")
    return (
        shared.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_shared",
            ratio(F.col("n_shared") / union_n).alias("jaccard"),
            ratio(F.col("n_shared") / F.col("n_a")).alias("frac_a_in_b"),
            ratio(F.col("n_shared") / F.col("n_b")).alias("frac_b_in_a"),
        )
    )
