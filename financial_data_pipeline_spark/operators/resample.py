"""OHLCV timeframe resampling (SURVEY.md A1/A2 + J4) — the flagship agg.

Re-expresses ``TimeframeAggregator``
(``src/data_etl/processing/timeframe_aggregator.py:46-115``): per time
bucket and symbol — open = first-by-time, high = max, low = min,
close = last-by-time, volume = sum — then the pandas ``resample``
semantic trap (SURVEY.md §7.4): pandas emits EMPTY buckets for gaps and
ffills them column-wise, so the empty bucket gets the previous bucket's
open/high/low/close and volume = 0 (sum of an empty group is 0.0).
Spark's ``window``/``date_trunc`` grouping emits no empty buckets, so
``resample_ohlcv(fill_gaps=True)`` generates the bucket calendar with
``sequence()`` + ``explode`` per symbol and left-joins it (the one
engine-internal join, broadcast-free: it's keyed on (symbol, bucket)
and co-partitioned with the agg output).

Scale notes: the agg is a single shuffle on (symbol, bucket) with
map-side partial aggregation; ``min_by``/``max_by`` avoid a sort. The
calendar join adds rows proportional to the gap count only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# timeframe name → (mode, arg): fixed-duration buckets use epoch-aligned
# ``window()``; calendar buckets (week/month) use ``date_trunc``.
# Mirrors VALID_TIMEFRAMES (``timeframe_aggregator.py:11-27``).
TIMEFRAMES: dict[str, tuple[str, str]] = {
    "1m": ("duration", "1 minute"),
    "3m": ("duration", "3 minutes"),
    "5m": ("duration", "5 minutes"),
    "15m": ("duration", "15 minutes"),
    "30m": ("duration", "30 minutes"),
    "1h": ("duration", "1 hour"),
    "2h": ("duration", "2 hours"),
    "4h": ("duration", "4 hours"),
    "6h": ("duration", "6 hours"),
    "8h": ("duration", "8 hours"),
    "12h": ("duration", "12 hours"),
    "1d": ("duration", "1 day"),
    "3d": ("duration", "3 days"),
    "1w": ("trunc", "week"),
    "1M": ("trunc", "month"),
}


def validate_timeframe(timeframe: str) -> tuple[str, str]:
    """Validate a timeframe name (``timeframe_aggregator.py:29-44``)."""
    if timeframe not in TIMEFRAMES:
        raise ValueError(
            f"Invalid timeframe. Valid options are: {list(TIMEFRAMES.keys())}"
        )
    return TIMEFRAMES[timeframe]


def bucket_col(ts_col: str, timeframe: str) -> F.Column:
    """Bucket-start timestamp column for ``timeframe``."""
    mode, arg = validate_timeframe(timeframe)
    if mode == "duration":
        return F.window(F.col(ts_col), arg)["start"]
    return F.date_trunc(arg, F.col(ts_col))


def _interval_expr(timeframe: str) -> str:
    mode, arg = TIMEFRAMES[timeframe]
    return f"interval {arg}" if mode == "duration" else f"interval 1 {arg}"


def resample_ohlcv(
    df: DataFrame,
    timeframe: str,
    ts: str = "timestamp",
    by: list[str] = ("symbol",),
    fill_gaps: bool = True,
) -> DataFrame:
    """Aggregate OHLCV bars to ``timeframe`` buckets.

    Output columns: ``by* , bucket_ts, open, high, low, close, volume``
    with the pandas gap semantics described in the module docstring.
    """
    by = [c for c in by if c in df.columns]
    bucket = bucket_col(ts, timeframe).alias("bucket_ts")
    agged = df.groupBy(*by, bucket).agg(
        F.min_by("open", ts).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", ts).alias("close"),
        F.sum("volume").alias("volume"),
    )
    if not fill_gaps:
        return agged

    # Bucket calendar per group: sequence(min_bucket, max_bucket, step).
    step = F.expr(_interval_expr(timeframe))
    calendar = (
        agged.groupBy(*by)
        .agg(F.min("bucket_ts").alias("__lo"), F.max("bucket_ts").alias("__hi"))
        .select(
            *by,
            F.explode(F.sequence(F.col("__lo"), F.col("__hi"), step)).alias(
                "bucket_ts"
            ),
        )
    )
    filled = calendar.join(agged, on=[*by, "bucket_ts"], how="left")
    w = (
        Window.partitionBy(*by)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return filled.withColumns(
        {c: F.last(c, ignorenulls=True).over(w) for c in ("open", "high", "low", "close")}
        | {"volume": F.coalesce(F.col("volume"), F.lit(0.0))}
    )


def generate_multiple_timeframes(
    df: DataFrame, timeframes: list[str], **kwargs
) -> dict[str, DataFrame]:
    """Multi-timeframe fan-out (``timeframe_aggregator.py:97-115``).

    Returns a dict of *lazy* plans over one shared base; callers that
    materialize several of them should build them over a pin of the
    base, ``with plans.pipeline.pin(df) as base:``, rather than over
    ``df.cache()`` (RUNBOOK "Global settings").
    """
    return {tf: resample_ohlcv(df, tf, **kwargs) for tf in timeframes}


def volume_bars(
    df,
    threshold: float,
    by: str = "symbol",
    ts: str = "timestamp",
    volume_col: str = "volume",
):
    """Volume bars: bars close when cumulative traded volume crosses
    ``threshold`` — activity-clocked sampling (López de Prado's
    information-driven bars) instead of wall-clock buckets, so volatile
    sessions get more bars and quiet ones fewer. Assignment is
    deterministic: row r joins bar floor(cum_volume_before_r / T).

    Plan shape: one running-sum window per symbol (bounded state, no
    global order) + one (symbol, bar) aggregate with min_by/max_by
    open/close — the same two-stage shape as time resampling; at 100 TB
    the window partitions by symbol exactly like every indicator here.
    """
    w = Window.partitionBy(by).orderBy(ts)
    v = F.col(volume_col)
    # round(cum, 3) before the floor: cumulative window sums are
    # accumulation-ORDER-sensitive in the last ULPs (Spark sums
    # sequentially; other engines, incl. the DuckDB oracle, use
    # segment-tree aggregation), and a cum landing EXACTLY on a bar
    # boundary flips floor() across engines. Pinning to a 1e-3 grain
    # (ULP noise is ~1e-6 at realistic cums) makes bar assignment
    # deterministic for any input — fuzzed-table finding.
    cum_before = F.round(F.sum(v).over(w) - v, 3)
    order_key = F.unix_micros(F.col(ts))
    return (
        df.withColumn("__bar", F.floor(cum_before / F.lit(threshold)))
        .groupBy(by, F.col("__bar").alias("bar_id"))
        .agg(
            F.min(ts).alias("bar_start"),
            F.min_by("open", order_key).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", order_key).alias("close"),
            F.sum(v).alias("volume"),
            F.count(F.lit(1)).alias("n_src_bars"),
        )
    )


def dollar_bars(
    df,
    threshold: float,
    by: str = "symbol",
    ts: str = "timestamp",
    price_col: str = "close",
    volume_col: str = "volume",
):
    """Dollar bars: the value-clocked sibling of ``volume_bars`` — bars
    close when cumulative traded VALUE (price · volume) crosses
    ``threshold``, so the bar clock is invariant to price level (a
    10× price move doesn't decimate the per-bar sample size the way a
    volume clock does). Identical two-stage plan: one running-sum
    window per symbol, one (symbol, bar) aggregate."""
    w = Window.partitionBy(by).orderBy(ts)
    val = F.col(price_col) * F.col(volume_col)
    # grain-pinned like volume_bars (see comment there)
    cum_before = F.round(F.sum(val).over(w) - val, 3)
    order_key = F.unix_micros(F.col(ts))
    return (
        df.withColumn("__bar", F.floor(cum_before / F.lit(threshold)))
        .groupBy(by, F.col("__bar").alias("bar_id"))
        .agg(
            F.min(ts).alias("bar_start"),
            F.min_by("open", order_key).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", order_key).alias("close"),
            F.sum(val).alias("dollar_value"),
            F.sum(volume_col).alias("volume"),
            F.count(F.lit(1)).alias("n_src_bars"),
        )
    )
