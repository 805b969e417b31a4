"""Time-series autocorrelation over the hourly event grid — the
seasonality question (is there a daily cycle?) the anomaly detector's
EWMA baseline (operators/anomaly.py) deliberately ignores.

Integer-exact device: the sample ACF's mean-centering is replaced by
FLOOR-mean centering, u_t = s_t - (T div n) — off from the real mean
by < 1 count, so the statistic is within O(1/sd) of the textbook ACF,
and every term is int64:

    acf_ppm(k) = (sum_t u_t * u_{t+k}) * 1e6  div  (sum_t u_t^2)

No floating point anywhere (a 720-term double dot product is not
bit-stable across engines; the integer form is), negatives truncate
toward zero identically in Spark `div` and DuckDB `//`.

Shapes: the hourly series is CALENDAR-BOUNDED (one row per hour in the
observed range, gaps filled with 0 — absence of events is a real
zero, not a missing sample), so everything after the one corpus-sized
groupBy(hour) operates on a tiny frame. Lags come from an explode +
equi-join on the shifted hour index — no unpartitioned window, no
band join. Scalar stats (total, n, denominator) broadcast as 1-row
cross joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

US_PER_HOUR = 3_600_000_000


def hourly_acf(
    events: DataFrame,
    ts_us_col: str = "ts_us",
    max_lag: int = 24,
) -> DataFrame:
    """(lag, n_pairs, acf_ppm) for lag 1..max_lag over the gap-filled
    hourly event-count series."""
    # checkpointed at the FIRST calendar-bounded frame: bounds, the grid
    # join, and the stats aggregation all reference the hourly counts —
    # without it each reference replays the corpus scan. Both
    # checkpoints are lazy and belong to this call's frame, so no
    # CacheManager entry outlives the call.
    hours = (
        events.select(
            F.expr(f"{ts_us_col} div {US_PER_HOUR}").alias("_h")
        )
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    # dense calendar grid: missing hours are real zeros
    bounds = hours.agg(
        F.min("_h").alias("_lo"), F.max("_h").alias("_hi")
    )
    grid = bounds.select(
        F.explode(F.sequence("_lo", "_hi")).alias("_h")
    )
    series = (
        grid.join(hours, "_h", "left")
        .select("_h", F.coalesce("_c", F.lit(0)).alias("_c"))
    )
    # checkpointed: the centered series is referenced three times (the
    # denominator, both sides of the lag join) and each reference would
    # otherwise replay the corpus-sized hourly aggregation — the same
    # double-lineage trap the retention plan test caught; the frame is
    # calendar-bounded, so the checkpoint is tiny by contract
    stats = series.agg(
        F.sum("_c").alias("_t"), F.count(F.lit(1)).alias("_n")
    )
    u = series.crossJoin(F.broadcast(stats)).select(
        "_h", F.expr("_c - (_t div _n)").alias("_u")
    ).localCheckpoint(eager=False)
    den = u.agg(F.sum(F.col("_u") * F.col("_u")).alias("_den"))
    lagged = u.select(
        "_h", F.col("_u").alias("_ub")
    )
    pairs = (
        u.select(
            "_h", "_u", F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag")
        )
        .withColumn("_hb", F.col("_h") + F.col("lag"))
        .join(lagged.withColumnRenamed("_h", "_hb"), "_hb")
    )
    num = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("_u") * F.col("_ub")).alias("_num"),
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.expr("(_num * 1000000) div _den").cast("bigint").alias("acf_ppm"),
        )
        .orderBy("lag")
    )
