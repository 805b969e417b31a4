"""Stats/profiling operators — the reference's analysis pipeline surface.

Reproduces every statistic in reference
scripts/generate_benchmark_reports.py (both the pandas 10k path :65-87 and
the DuckDB SQL path :119-219) as single-pass Spark aggregates. Each
returns a small DataFrame; report rendering (markdown/plots) happens
driver-side on the collected aggregate, never on raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def null_profile(df: DataFrame) -> DataFrame:
    """Per-column null counts in ONE pass over the table.

    Reference :232-239 loops per column on a materialized frame; here all
    columns aggregate in a single scan (map-side partial aggregation, one
    tiny shuffle).
    """
    aggs = [
        F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls")
        for c in df.columns
    ]
    return df.agg(*aggs)


def numeric_summary(df: DataFrame, col: str) -> DataFrame:
    """COUNT/AVG/MIN/MAX/STDDEV + null count — reference :163-189.

    DuckDB STDDEV is sample stddev, so stddev_samp here (SURVEY.md §2.4).
    """
    c = F.col(col)
    return df.agg(
        F.count(c).alias("cnt"),
        F.round(F.avg(c), 6).alias("avg_val"),
        F.round(F.min(c), 6).alias("min_val"),
        F.round(F.max(c), 6).alias("max_val"),
        F.round(F.stddev_samp(c), 6).alias("stddev_val"),
        (F.count(F.lit(1)) - F.count(c)).alias("null_cnt"),
    )


def group_share_topn(df: DataFrame, col: str, n: int = 10) -> DataFrame:
    """Group count + percent-of-total, top-N — reference :140-153.

    The reference's scalar subquery for the total becomes a broadcast of a
    1-row aggregate (no driver round-trip, no recompute per group).
    """
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    grouped = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .select(
            col,
            "cnt",
            F.round(F.col("cnt") * 100.0 / F.col("_total"), 2).alias("pct"),
        )
        .orderBy(F.desc("cnt"), F.asc(col))
        .limit(n)
    )


def text_length_stats(df: DataFrame, col: str) -> DataFrame:
    """AVG/MIN/MAX(LENGTH(col)) with IS NOT NULL — reference :192-217."""
    ln = F.length(F.col(col))
    return df.filter(F.col(col).isNotNull()).agg(
        F.round(F.avg(ln), 6).alias("avg_len"),
        F.min(ln).alias("min_len"),
        F.max(ln).alias("max_len"),
    )


def histogram(df: DataFrame, col: str, lo: float, hi: float, bins: int) -> DataFrame:
    """Fixed-range equi-width histogram — reference :287-301 (plt.hist).

    width_bucket-style binning as a groupBy; values outside [lo, hi) are
    clamped into the edge bins like matplotlib does.
    """
    c = F.col(col).cast("double")
    raw = F.floor((c - F.lit(lo)) / F.lit((hi - lo) / bins))
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("long")
    return (
        df.filter(c.isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bucket")
    )


def correlation(df: DataFrame, c1: str, c2: str) -> DataFrame:
    """Pearson correlation — reference :372-373."""
    return df.agg(F.round(F.corr(c1, c2), 6).alias("corr_val"))


def exact_median(df: DataFrame, col: str) -> DataFrame:
    """Exact interpolated median — reference :590 (pandas .median()).

    Exact ``percentile`` (sort-based) for oracle parity with DuckDB
    quantile_cont; swap to percentile_approx at 100 TB (SURVEY.md §2.4).
    """
    return df.agg(
        F.round(F.expr(f"percentile({col}, 0.5)"), 6).alias("median_val")
    )


def distinct_count(df: DataFrame, col: str, approx: bool = False) -> DataFrame:
    """COUNT(DISTINCT col); approx_count_distinct (HLL) is the 100 TB mode
    — reference sampling_analysis.json:9 (unique_categories)."""
    agg = (
        F.approx_count_distinct(col) if approx else F.countDistinct(col)
    ).alias("distinct_cnt")
    return df.agg(agg)
