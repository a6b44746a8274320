"""Per-column statistics + the span-level null-text rule.

The reference only carries rowCount/avgRowLength from
information_schema (TableMetadata.java:55-63); full column profiling
is a new-engine capability (SURVEY.md A10). One pass over the scan,
all aggregates fused by Catalyst into a single shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.IntegerType, T.LongType, T.ShortType, T.ByteType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def column_stats(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Long-form profile: one row per column with count / nulls /
    approx distinct / min / max / avg(numeric).  approx_count_distinct
    (HLL) keeps this a single narrow aggregation at any scale."""
    fields = [f for f in df.schema.fields if cols is None or f.name in cols]
    aggs: list[Column] = []
    for f in fields:
        c = F.col(f.name)
        is_num = isinstance(f.dataType, _NUMERIC)
        aggs.append(
            F.struct(
                F.lit(f.name).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(c.isNull().cast("long")).alias("n_nulls"),
                F.approx_count_distinct(c).alias("approx_distinct"),
                F.min(c).cast("string").alias("min_value"),
                F.max(c).cast("string").alias("max_value"),
                (F.avg(c.cast("double")) if is_num else F.lit(None).cast("double")).alias("avg_value"),
            ).alias(f"s_{f.name}")
        )
    wide = df.agg(*aggs)
    stacked = wide.select(
        F.explode(F.array(*[F.col(f"s_{f.name}") for f in fields])).alias("s")
    )
    return stacked.select("s.*")


def span_null_text_violations(docs: DataFrame) -> DataFrame:
    """North-rule column rule over nested spans: kind='text' must have
    non-null text. Emits (key, constraint, span_idx) where span_idx is
    the position in offset order — all Catalyst (explode-free: filter
    + aggregate over the span array would also work, but explode keeps
    the per-span index trivially and Catalyst pushes the filter into
    the generate)."""
    from opengauss_tools_datachecker_performance_spark.digest import _sorted_spans

    carry = [c for c in ("part",) if c in docs.columns]
    with_idx = docs.select(
        F.col("doc_id").cast("string").alias("key"),
        *carry,
        F.posexplode(_sorted_spans(F.col("spans"))).alias("span_idx", "span"),
    )
    return with_idx.filter(
        (F.col("span.kind") == "text") & F.col("span.text").isNull()
    ).select("key", F.lit("null_text").alias("constraint"), "span_idx", *carry)


def group_quantile_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Per-group EXACT quantiles → (group, q50, q95, q99, n) — the
    SLA-profile shape (latency percentiles per endpoint, value
    percentiles per event type).  One hash aggregate: ``percentile``
    is an exact aggregate whose state is the group's value multiset —
    fine for bounded groups; at unbounded-group scale swap in
    ``percentile_approx`` (mergeable sketch, same call shape)."""
    agg_exprs = [
        F.expr(f"percentile({value_col}, {q!r})").alias(
            f"q{str(q).replace('0.', '')}"
        )
        for q in quantiles
    ]
    return df.groupBy(F.col(group_col).alias("group")).agg(
        *agg_exprs, F.count(F.lit(1)).alias("n")
    )
