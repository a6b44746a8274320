"""Distribution-drift check (SURVEY.md A12) — new-engine capability.

Per-partition quantile profile of a metric (e.g. doc text length)
compared against a robust baseline with a KS-style statistic (max
relative quantile gap over the grid). One implementation, all
built-ins: :func:`quantile_profiles` computes ``percentile_approx``
per partition (a tiny frame, one row per partition, mergeable by
union across chunked waves) and :func:`drift_from_profiles` judges
any such profile frame. A profile from another sketch — e.g. the
native KLL ``kll_sketch_agg_double`` read out with
``kll_sketch_get_quantile_double`` (the ``drift_tdigest`` catalog
entry) — is judged by the same function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_PROBS = [0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95]


def quantile_profiles(
    metrics: DataFrame,
    group_col: str = "part",
    metric_col: str = "metric",
    probs: list[float] | None = None,
) -> DataFrame:
    """→ (part, q array): per-group quantile profile — the tiny,
    MERGEABLE-by-union drift artifact (one row per partition). Chunked
    runs persist these per wave and judge drift once over the union,
    so the baseline is run-global no matter how the table was waved."""
    probs = probs or DEFAULT_PROBS
    pa = F.percentile_approx(metric_col, probs, 10_000)
    return metrics.groupBy(group_col).agg(pa.alias("q"))


def drift_from_profiles(
    per_group: DataFrame,
    group_col: str = "part",
    threshold: float = 0.3,
) -> DataFrame:
    """Judge drift over a ``(group, q array)`` profile frame, e.g. from
    :func:`quantile_profiles` → (group, drift_score, drifted).
    Baseline: the per-prob *median across groups* (#groups rows —
    trivial), so one drifted partition can't pollute its own
    yardstick (a pooled-global baseline shifts with the outlier).
    drift_score = max relative quantile gap over the grid."""
    overall = (
        per_group.select(F.posexplode("q").alias("i", "qv"))
        .groupBy("i")
        .agg(F.expr("percentile(qv, 0.5)").alias("med"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "med"))), lambda s: s["med"]
            ).alias("q_global")
        )
    )
    joined = per_group.crossJoin(F.broadcast(overall))
    # max over the grid of |q - q_global| / max(|q_global|, 1)
    gap = F.aggregate(
        F.zip_with(
            "q", "q_global",
            lambda a, b: F.abs(a - b) / F.greatest(F.abs(b), F.lit(1.0)),
        ),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    return joined.select(
        F.col(group_col),
        gap.alias("drift_score"),
        (gap > threshold).alias("drifted"),
    )

