"""Distribution-shape checks: Benford first-digit profile, categorical
chi-square drift, and robust (median/MAD) outlier detection.

Complements checks/drift.py (numeric quantile-profile drift) with the
categorical and fraud-detection-shaped families.  All outputs round
through fixed-scale decimals so DuckDB oracles hash identically.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dec(c, scale: int = 6):
    return F.round(c, scale).cast(f"decimal(18,{scale})").cast("string")


def benford_profile(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit profile vs Benford's law →
    (digit, n, observed_p, expected_p, abs_dev), digits 1-9.

    The digit is extracted integer-side (round(x*100) → leading digit
    of the cents string) so both engines derive it from identical
    integer strings — no float-format or log10-boundary dependence.
    Values < 0.01 or NULL are excluded.  One partial aggregate to 9
    rows; the share window runs over that aggregate (bounded)."""
    cents = F.round(F.abs(F.col(col)) * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(F.col(col).isNotNull() & (F.abs(F.col(col)) >= 0.01))
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.lit(0))
    obs = F.col("n") / F.sum("n").over(w)
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return counts.select(
        "digit",
        "n",
        _dec(obs).alias("observed_p"),
        _dec(exp).alias("expected_p"),
        _dec(F.abs(obs - exp)).alias("abs_dev"),
    )


def categorical_drift_chi2(
    src: DataFrame, sink: DataFrame, col: str
) -> DataFrame:
    """Categorical distribution drift between two table versions →
    (category, n_src, n_sink, p_src, p_sink, chi2_term): per-category
    counts, shares, and the chi-square contribution
    (p_sink - p_src)² / p_src computed on shares (0 when the category
    is absent from the source — a NEW category is reported with
    chi2_term NULL so it can't silently average away).

    Two partial aggregates (one per side, map-side combined) full-outer
    joined on the category — the category cardinality is the only
    shuffled row count."""
    a = src.groupBy(F.col(col).alias("category")).agg(
        F.count(F.lit(1)).alias("n_src")
    )
    b = sink.groupBy(F.col(col).alias("category")).agg(
        F.count(F.lit(1)).alias("n_sink")
    )
    j = a.join(b, "category", "full_outer").select(
        "category",
        F.coalesce("n_src", F.lit(0)).alias("n_src"),
        F.coalesce("n_sink", F.lit(0)).alias("n_sink"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.lit(0))
    p_src = F.col("n_src") / F.sum("n_src").over(w)
    p_sink = F.col("n_sink") / F.sum("n_sink").over(w)
    chi2 = F.when(
        F.col("n_src") > 0, F.pow(p_sink - p_src, 2) / p_src
    )  # NULL for new categories
    return j.select(
        "category",
        "n_src",
        "n_sink",
        _dec(p_src).alias("p_src"),
        _dec(p_sink).alias("p_sink"),
        _dec(chi2, 8).alias("chi2_term"),
    )


def mad_outliers(
    df: DataFrame, key_col: str, col: str, k: float = 3.5
) -> DataFrame:
    """Robust outliers: |x - median| / (1.4826·MAD) > k →
    (key, value) rows.  Median and MAD are EXACT percentiles (two
    aggregation passes); the scores join back via a one-row broadcast.
    The 1.4826 factor makes MAD consistent with σ under normality
    (standard robust-statistics constant)."""
    x = F.col(col).cast("double")
    med_row = df.agg(F.expr(f"percentile({col}, 0.5)").alias("med"))
    med = med_row.collect()[0]["med"]
    if med is None:
        return df.sparkSession.createDataFrame([], "key string, value double")
    dev = df.agg(
        F.expr(f"percentile(abs({col} - {float(med)!r}), 0.5)").alias("mad")
    ).collect()[0]["mad"]
    scale = 1.4826 * float(dev)
    if scale == 0.0:
        scale = float("inf")  # degenerate: >half identical values -> no outliers
    return (
        df.filter(F.abs(x - F.lit(float(med))) / F.lit(scale) > F.lit(float(k)))
        .select(F.col(key_col).cast("string").alias("key"), x.alias("value"))
    )


def equiwidth_histogram(
    df: DataFrame, col: str, n_bins: int = 20
) -> DataFrame:
    """Equi-width histogram → (bin, bin_lo, bin_hi, n): ``n_bins``
    equal-width buckets spanning [min, max]; the max value lands in
    the last bin.  Empty bins are omitted (join against a bin spine if
    a dense axis is needed).  One min/max pass + one partial
    aggregate; bin edges emitted as 6-dp decimal strings so both
    engines hash identically.  Degenerate (all-equal or all-NULL)
    inputs produce a single bin / empty result."""
    x = F.col(col).cast("double")
    mm = df.agg(F.min(x).alias("lo"), F.max(x).alias("hi")).collect()[0]
    if mm["lo"] is None:
        return df.sparkSession.createDataFrame(
            [], "bin int, bin_lo string, bin_hi string, n long"
        )
    lo, hi = float(mm["lo"]), float(mm["hi"])
    if hi == lo:
        return df.filter(x.isNotNull()).agg(
            F.lit(0).alias("bin"),
            _dec(F.lit(lo)).alias("bin_lo"),
            _dec(F.lit(hi)).alias("bin_hi"),
            F.count(F.lit(1)).alias("n"),
        )
    width = (hi - lo) / n_bins
    b = F.least(F.lit(n_bins - 1), F.floor((x - F.lit(lo)) / F.lit(width)).cast("int"))
    return (
        df.filter(x.isNotNull())
        .select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            _dec(F.lit(lo) + F.col("bin") * F.lit(width)).alias("bin_lo"),
            _dec(F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("bin_hi"),
            "n",
        )
    )


def equidepth_histogram(
    df: DataFrame, col: str, tiebreak_cols: list[str], n_bins: int = 16
) -> DataFrame:
    """EXACT equi-depth histogram → (bin, n, v_lo, v_hi): bins hold
    (near-)equal ROW counts, so the bin edges are exact quantile
    boundaries — the profile that exposes heavy tails an equi-width
    histogram flattens into one bucket.

    bin = floor((rank-1) * n_bins / n) over the exact global rank by
    (value, tiebreak) — computed with operators.skew.global_rank's
    three bounded passes, never a single-task ``ROW_NUMBER() OVER
    (ORDER BY ...)`` window.  ``tiebreak_cols`` must make the order
    unique so both engines rank identically (the oracle runs the same
    formula over DuckDB's ROW_NUMBER).  Edges are per-bin min/max of
    the actual values, emitted as 6-dp decimal strings."""
    from opengauss_tools_datachecker_performance_spark.operators.skew import (
        global_rank,
    )

    x = F.col(col).cast("double")
    base = df.filter(x.isNotNull()).select(
        x.alias("_v"), *[F.col(c) for c in tiebreak_cols]
    )
    ranked = global_rank(base, ["_v", *tiebreak_cols], rank_name="_rn")
    # exact total via one scalar agg, carried by a one-row broadcast
    # cross join (same bounded shape as lm_surprisal's vocab scalar)
    n = base.agg(F.count(F.lit(1)).alias("_n"))
    b = F.floor((F.col("_rn") - 1) * n_bins / F.col("_n")).cast("int")
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(b.alias("bin"), "_v")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _dec(F.min("_v")).alias("v_lo"),
            _dec(F.max("_v")).alias("v_hi"),
        )
    )
