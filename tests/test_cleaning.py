"""Cleaning-suite invariants + pandas differential checks
(reference test model: ``tests/units/test_data_processor.py``)."""

import numpy as np
import pyspark.sql.functions as F

from financial_data_pipeline_spark.operators import cleaning


def test_lowercase_and_require(spark):
    df = spark.createDataFrame([(1.0,)], ["CLOSE"])
    out = cleaning.lowercase_columns(df)
    assert out.columns == ["close"]


def test_dedup_keep_first_deterministic(spark):
    rows = [("A", 1, 10.0), ("A", 1, 20.0), ("A", 2, 30.0), ("B", 1, 40.0)]
    df = spark.createDataFrame(rows, ["symbol", "ts", "v"])
    out = cleaning.dedup_keep_first(df, keys=["symbol", "ts"], order_by=["ts", "v"])
    got = {(r.symbol, r.ts): r.v for r in out.collect()}
    # keep-first by (ts, v): the 10.0 row wins over 20.0
    assert got == {("A", 1): 10.0, ("A", 2): 30.0, ("B", 1): 40.0}


def test_clean_ohlcv_repair_removes_all_defects(spark, dirty_pdf):
    df = spark.createDataFrame(dirty_pdf)
    out = cleaning.clean_ohlcv(df, mode="repair", price_tolerance=0.0).toPandas()
    # no duplicate keys
    assert not out.duplicated(subset=["symbol", "timestamp"]).any()
    # no nulls in OHLCV after impute
    assert out[["open", "high", "low", "close", "volume"]].notna().all().all()
    # no negatives
    assert (out[["open", "high", "low", "close", "volume"]] >= 0).all().all()
    # OHLC consistency repaired
    assert (out.high >= out[["open", "close", "low"]].max(axis=1) - 1e-9).all()
    assert (out.low <= out[["open", "close", "high"]].min(axis=1) + 1e-9).all()
    # time features added with pandas dayofweek encoding
    assert (out.day_of_week == out.timestamp.dt.dayofweek).all()
    assert (out.hour == out.timestamp.dt.hour).all()


def test_clean_ohlcv_strict_drops(spark, dirty_pdf):
    df = spark.createDataFrame(dirty_pdf)
    out = cleaning.clean_ohlcv(df, mode="strict").toPandas()
    assert (out.high >= out.low).all()
    assert (out[["open", "high", "low", "close"]] > 0).all().all()
    assert (out.volume >= 0).all()


def test_clean_ohlcv_keeps_underscore_input_columns(spark, dirty_pdf):
    """A ``__``-prefixed input column (pandas-written parquet carries
    ``__index_level_0__``) passes through like any other column."""
    pdf = dirty_pdf.assign(__index_level_0__=np.arange(len(dirty_pdf)))
    df = spark.createDataFrame(pdf)
    for mode in ["repair", "strict"]:
        out = cleaning.clean_ohlcv(df, mode=mode)
        assert out.columns[-5:] == [
            "__index_level_0__", "hour", "day_of_week", "month", "year"
        ], mode
        assert out.filter(F.col("__index_level_0__").isNull()).count() == 0


def test_iqr_clip_leaves_null_symbol_rows_unclipped(spark):
    rows = [("A", float(v)) for v in [1, 2, 3, 4, 1000]] + [(None, 1000.0)]
    df = spark.createDataFrame(rows, "symbol string, close double")
    got = {
        (r.symbol, r.close)
        for r in cleaning.iqr_clip(df, cols=["close"]).collect()
    }
    # A: q1=2, q3=4 → upper fence 7; the null-symbol row has no quartiles
    assert got == {("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", 4.0), ("A", 7.0),
                   (None, 1000.0)}
    glob = cleaning.iqr_clip(df, cols=["close"], per_symbol=False)
    # all six rows: q1=2.25, q3=751 → upper fence 1874.125 clips nothing
    assert sorted(r.close for r in glob.collect()) == [1, 2, 3, 4, 1000, 1000]


def test_iqr_clip_matches_pandas(spark, ohlcv_pdf):
    pdf = ohlcv_pdf[ohlcv_pdf.symbol == "BTCUSDT"].copy()
    # inject outliers
    pdf.loc[pdf.index[:5], "close"] = 1e6
    df = spark.createDataFrame(pdf)
    got = (
        cleaning.iqr_clip(df, cols=["close"], factor=1.5)
        .orderBy("timestamp")
        .toPandas()["close"]
        .values
    )
    q1, q3 = pdf["close"].quantile(0.25), pdf["close"].quantile(0.75)
    iqr = q3 - q1
    want = pdf.sort_values("timestamp")["close"].clip(
        q1 - 1.5 * iqr, q3 + 1.5 * iqr
    ).values
    assert np.allclose(got, want, rtol=1e-12)


def test_interpolate_linear_matches_pandas(spark, ohlcv_pdf):
    """Time-weighted linear interpolation == pandas interpolate
    ('linear', limit_direction='both') on a regular grid, including
    head/tail constant extension."""
    import pandas as pd

    pdf = ohlcv_pdf[ohlcv_pdf.symbol == "BTCUSDT"].head(500).copy()
    idx = pdf.sample(60, random_state=9).index
    pdf.loc[idx, "close"] = np.nan
    pdf.loc[pdf.index[:3], "close"] = np.nan   # head run
    pdf.loc[pdf.index[-2:], "close"] = np.nan  # tail run
    df = spark.createDataFrame(pdf)
    got = (
        cleaning.interpolate_linear(df, cols=["close"])
        .orderBy("timestamp")
        .toPandas()["close"]
        .values
    )
    want = (
        pdf.sort_values("timestamp")["close"]
        .interpolate(method="linear", limit_direction="both")
        .values
    )
    assert np.allclose(got, want, rtol=1e-12, atol=0)


def test_interpolate_linear_time_weighted_on_gaps(spark):
    """Irregular spacing: the interpolant weights by TIME, not row
    position (row-weighted would give 6.0 here)."""
    import datetime as dt

    rows = [
        ("A", dt.datetime(2025, 1, 1, 0, 0), 0.0),
        ("A", dt.datetime(2025, 1, 1, 0, 1), None),
        ("A", dt.datetime(2025, 1, 1, 0, 9), None),
        ("A", dt.datetime(2025, 1, 1, 0, 10), 10.0),
    ]
    df = spark.createDataFrame(rows, ["symbol", "timestamp", "close"])
    got = (
        cleaning.interpolate_linear(df, cols=["close"])
        .orderBy("timestamp")
        .toPandas()["close"]
        .tolist()
    )
    assert got == [0.0, 1.0, 9.0, 10.0]


def test_impute_ffill_bfill(spark):
    rows = [
        ("A", 1, None), ("A", 2, 5.0), ("A", 3, None), ("A", 4, 7.0), ("A", 5, None),
    ]
    df = spark.createDataFrame(rows, ["symbol", "timestamp", "close"])
    out = (
        cleaning.impute_ffill_bfill(df, cols=["close"])
        .orderBy("timestamp")
        .toPandas()["close"]
        .tolist()
    )
    assert out == [5.0, 5.0, 5.0, 7.0, 7.0]


def test_coerce_numeric_junk_to_null(spark):
    df = spark.createDataFrame([("1.5",), ("junk",), ("2",)], ["close"])
    out = cleaning.coerce_numeric(df, ["close"]).toPandas()["close"]
    assert out[0] == 1.5 and np.isnan(out[1]) and out[2] == 2.0


def test_normalize_timestamp_epoch_and_iso(spark):
    df = spark.createDataFrame(
        [("1704067200",), ("2024-01-01 00:00:00",), ("garbage",)], ["timestamp"]
    )
    out = cleaning.normalize_timestamp(df, epoch_unit="s").toPandas()["timestamp"]
    assert str(out[0]) == "2024-01-01 00:00:00"
    assert str(out[1]) == "2024-01-01 00:00:00"
    assert out[2] is None or str(out[2]) == "NaT"


def test_core_operators_accept_empty_input(spark):
    """Every day-1 production incident: an empty partition / day / symbol
    slice flows through the pipeline. Core operators must return empty
    frames with the right schema — never raise, never produce rows."""
    from financial_data_pipeline_spark.operators import (
        cleaning as cl,
        indicators,
        normalize,
        resample,
        stats,
    )
    from financial_data_pipeline_spark.schema import OHLCV_SCHEMA

    empty = spark.createDataFrame([], OHLCV_SCHEMA)

    cleaned = cl.clean_ohlcv(empty, mode="repair")
    assert cleaned.count() == 0

    from financial_data_pipeline_spark.plans.report import validation_report

    rep = validation_report(empty)
    assert rep["total_records"] == 0 and rep["is_valid"] is False

    res = resample.resample_ohlcv(empty, "4h", fill_gaps=False)
    assert res.count() == 0

    ind = indicators.calculate_all(empty)
    assert ind.count() == 0

    norm = normalize.normalize(empty, ["close"], "zscore")
    assert norm.count() == 0

    st = stats.symbol_stats(empty)
    assert st.count() == 0


def test_greatest_per_group_latest_row(spark):
    """A13 latest-row-per-group: one surviving row per key, the one
    with the max order column (metadata_db.py:517-530 pattern)."""
    from financial_data_pipeline_spark.operators.stats import (
        greatest_per_group,
    )

    rows = [(1, 10, "a"), (1, 30, "b"), (2, 20, "c"), (2, 5, "d"), (3, 1, "e")]
    df = spark.createDataFrame(rows, ["k", "v", "tag"])
    got = {r["k"]: (r["v"], r["tag"])
           for r in greatest_per_group(df, ["k"], "v").collect()}
    assert got == {1: (30, "b"), 2: (20, "c"), 3: (1, "e")}


def test_mad_outlier_flags_robust_to_the_outlier(spark):
    """The planted spike is flagged, and (unlike mean/stddev z) its
    presence does not drag the scale enough to hide it; constant
    groups flag nothing."""
    from financial_data_pipeline_spark.operators.cleaning import (
        mad_outlier_flags,
    )

    rows = [("A", float(100 + (i % 7))) for i in range(50)] + [("A", 10_000.0)]
    rows += [("B", 5.0)] * 20  # constant group: MAD = 0
    df = spark.createDataFrame(rows, ["symbol", "close"])
    out = mad_outlier_flags(df, "close")
    flagged = {(r.symbol, r.close) for r in
               out.filter("close_is_outlier").collect()}
    assert flagged == {("A", 10_000.0)}
    b = out.filter("symbol = 'B'").select("close_mad_z").distinct().collect()
    assert [r.close_mad_z for r in b] == [None]


def test_hampel_flags_planted_spikes(spark):
    """Planted spikes flagged; level shift does NOT poison earlier
    rows (the rolling-vs-global-median distinction); constant runs
    abstain (zero MAD)."""
    import numpy as np
    import pandas as pd

    from financial_data_pipeline_spark.operators.cleaning import hampel_flags

    rng = np.random.default_rng(7)
    n = 300
    # stationary noise (a random walk's local trend inflates the
    # trailing detector's genuine false-positive rate)
    base = 100 + rng.normal(0, 0.5, n)
    x = base.copy()
    spikes = [50, 120, 250]
    for i in spikes:
        x[i] += 15.0
    x[200:] += 40.0  # level shift (not a spike)
    pdf = pd.DataFrame(
        {"symbol": "A", "timestamp": np.arange(n), "close": x}
    )
    out = (
        hampel_flags(spark.createDataFrame(pdf), "close", n=11, k=5.0)
        .orderBy("timestamp")
        .toPandas()
    )
    fl = out.close_hampel_outlier.fillna(False)
    for i in spikes:
        assert fl[i], i
    # the shift edge may flag a handful of rows while the window
    # catches up; interior stretches of each regime stay clean at the
    # conservative k=5 threshold (lower k trades false positives for
    # sensitivity - the knob, not a bug)
    assert not fl[60:110].any()
    assert not fl[220:240].any()
    # pandas differential on the rolling median
    want_med = pd.Series(x).rolling(11).median()
    got_med = out.close_rolling_median
    assert np.allclose(
        got_med.values, want_med.values, rtol=1e-12, equal_nan=True
    )
    # constant run: MAD = 0 -> abstain
    const = pd.DataFrame(
        {"symbol": "C", "timestamp": np.arange(30), "close": 5.0}
    )
    cout = hampel_flags(spark.createDataFrame(const), "close").toPandas()
    assert cout.close_hampel_outlier.isna().all()
