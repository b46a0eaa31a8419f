"""Validation-report parity (reference model:
``tests/units/test_data_processor.py:50-104`` counter expectations over
``data_cleaner.py:82-167``'s report dict).

The pandas mirror below replicates the engine's frozen stage order
(dedup → coerce → impute → drop-negatives → IQR clip → OHLC repair)
on a deterministically-dirty single-symbol frame, then asserts
counter-for-counter equality with ``plans.report.validation_report``.
"""

import numpy as np
import pandas as pd
import pytest

from financial_data_pipeline_spark.plans import report as rpt

COLS = ["open", "high", "low", "close", "volume"]


@pytest.fixture(scope="module")
def report_dirty_pdf():
    n = 200
    idx = pd.date_range("2025-03-01", periods=n, freq="1min")
    # Wide deterministic value spread so injected defects survive the
    # IQR clip (mod-7 close ladder spans 100..130 → wide bounds).
    pdf = pd.DataFrame(
        {
            "timestamp": idx,
            "symbol": "BTCUSDT",
            "open": 100.0 + np.arange(n) % 5,
            "high": 131.0 + np.arange(n) % 3,
            "low": 99.0 - np.arange(n) % 3,
            "close": 100.0 + (np.arange(n) % 7) * 5.0,
            "volume": 10.0 + np.arange(n) % 11,
        }
    )
    # exact-copy duplicates (keep-any yields identical values)
    pdf = pd.concat([pdf, pdf.iloc[[10, 20, 30]]], ignore_index=True)
    # nulls on non-duplicated rows
    pdf.loc[5, "close"] = np.nan
    pdf.loc[6, "open"] = np.nan
    # negative rows (dropped)
    pdf.loc[40, "volume"] = -5.0
    pdf.loc[41, "low"] = -1.0
    # outliers (clipped): far outside any IQR bound
    pdf.loc[50, "close"] = 1e6
    pdf.loc[51, "volume"] = 1e5
    # OHLC violations: high below everything (survives the clip)
    pdf.loc[[60, 61, 62], "high"] = 60.0
    # time gap: drop 6 consecutive minutes → one 7-minute interval
    pdf = pdf.drop(index=range(90, 96)).reset_index(drop=True)
    return pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)


def _pandas_report(pdf: pd.DataFrame, factor=1.5, tol=0.0, extreme=0.2) -> dict:
    d = pdf.copy()
    total = len(d)
    d = d.dropna(subset=["timestamp"])
    invalid_ts = total - len(d)
    before = len(d)
    d = (
        d.sort_values("timestamp")
        .drop_duplicates(["symbol", "timestamp"], keep="first")
        .reset_index(drop=True)
    )
    dups = before - len(d)
    initial_nans = int(d[COLS].isna().sum().sum())
    d[COLS] = d[COLS].ffill().bfill()
    neg_mask = (d[COLS] < 0).any(axis=1)
    negative_rows = int(neg_mask.sum())
    d = d[~neg_mask].reset_index(drop=True)
    outliers = {}
    for c in COLS:
        q1, q3 = d[c].quantile(0.25), d[c].quantile(0.75)
        iqr = q3 - q1
        lo, hi = q1 - factor * iqr, q3 + factor * iqr
        outliers[c] = int(((d[c] < lo) | (d[c] > hi)).sum())
        d[c] = d[c].clip(lo, hi)
    h, l, o, c = d.high, d.low, d.open, d.close
    consistent = (
        (h * (1 + tol) >= l)
        & (h * (1 + tol) >= o)
        & (h * (1 + tol) >= c)
        & (l * (1 - tol) <= o)
        & (l * (1 - tol) <= c)
    )
    invalid_ohlc = int((~consistent).sum())
    bad = ~consistent
    d.loc[bad, "high"] = d.loc[bad, ["open", "close", "high"]].max(axis=1)
    d.loc[bad, "low"] = d.loc[bad, ["open", "close", "low"]].min(axis=1)
    iv = d.timestamp.diff().dt.total_seconds()
    med = iv.median()
    chg = (d.close / d.close.shift(1) - 1.0).abs()
    ivd = iv.dropna()
    mode_iv = ivd.value_counts().sort_index().sort_values(
        kind="stable", ascending=False
    ).index[0]
    return {
        "total_records": total,
        "invalid_timestamps": invalid_ts,
        "duplicates_removed": dups,
        "initial_nans": initial_nans,
        "negative_rows": negative_rows,
        "outliers_detected": {k: v for k, v in outliers.items() if v > 0},
        "outliers_fixed": sum(outliers.values()),
        "invalid_ohlc": invalid_ohlc,
        "time_gaps": int((iv > 6 * med).sum()),
        "zero_price_rows": int(
            ((d[["open", "high", "low", "close"]] == 0).any(axis=1)).sum()
        ),
        "zero_volume_rows": int((d.volume == 0).sum()),
        "extreme_price_changes": int((chg > extreme).sum()),
        "most_common_interval_seconds": float(mode_iv),
        "irregular_intervals": int((ivd != mode_iv).sum()),
        "final_rows": len(d),
        "nans_after": int(d[COLS].isna().sum().sum()),
        "valid_records": len(d),
        "is_valid": len(d) > 0,
    }


def test_validation_report_matches_pandas(spark, report_dirty_pdf):
    df = spark.createDataFrame(report_dirty_pdf)
    got = rpt.validation_report(df, mode="repair", price_tolerance=0.0)
    want = _pandas_report(report_dirty_pdf)
    for k, v in want.items():
        assert got[k] == v, f"{k}: got {got[k]!r}, want {v!r}"
    assert got["time_features_added"] is True
    assert got["missing_cols"] == []
    assert got["duplicated_timestamps"] == 0


def _overflow_strings_pdf() -> pd.DataFrame:
    """String-typed OHLCV with one "-1e400" volume and one "1e400"
    close: both overflow double, so numeric coercion must turn them
    into nulls (pandas ``to_numeric`` parity), not ±Infinity — no
    negative row, two initial NaN cells."""
    n = 20
    pdf = pd.DataFrame(
        {
            "timestamp": pd.date_range("2025-01-01", periods=n, freq="1min"),
            "symbol": "S",
            "open": [str(10.0 + i % 3) for i in range(n)],
            "high": [str(12.0 + i % 3) for i in range(n)],
            "low": [str(9.0 + i % 3) for i in range(n)],
            "close": [str(11.0 + i % 3) for i in range(n)],
            "volume": [str(100.0 + i) for i in range(n)],
        }
    )
    pdf.loc[3, "volume"] = "-1e400"
    pdf.loc[7, "close"] = "1e400"
    return pdf


@pytest.fixture(params=["dirty", "overflow_strings"])
def consistency_case(request, report_dirty_pdf):
    if request.param == "dirty":
        return request.param, report_dirty_pdf
    return request.param, _overflow_strings_pdf()


def _assert_overflow_counters(rep):
    assert rep["initial_nans"] == 2
    assert rep["negative_rows"] == 0


def test_report_strict_mode_counts_drops(spark, consistency_case):
    """Strict mode: no clip/repair — positive-price, OHLC-consistency
    and null filters DROP rows instead. valid_records must equal the
    strict clean_ohlcv row count, and invalid_ohlc counts the
    pre-drop violations."""
    from financial_data_pipeline_spark.operators import cleaning

    case, pdf = consistency_case
    df = spark.createDataFrame(pdf)
    rep = rpt.validation_report(df, mode="strict", price_tolerance=0.0)
    cleaned_n = cleaning.clean_ohlcv(
        df, mode="strict", price_tolerance=0.0
    ).count()
    assert rep["valid_records"] == cleaned_n
    if case == "overflow_strings":
        _assert_overflow_counters(rep)
        return
    assert rep["final_rows"] < rep["total_records"]  # strict drops rows
    assert rep["invalid_ohlc"] >= 3  # the planted high<low rows, unclipped
    assert rep["duplicates_removed"] == 3
    assert rep["is_valid"]


def test_report_interpolate_mode_consistent_with_cleaning(spark, consistency_case):
    """impute_method='interpolate' flows through both clean_ohlcv and
    the report: valid_records equals the cleaned row count and the nan
    counters still close."""
    from financial_data_pipeline_spark.operators import cleaning

    case, pdf = consistency_case
    df = spark.createDataFrame(pdf)
    rep = rpt.validation_report(df, impute_method="interpolate")
    cleaned_n = cleaning.clean_ohlcv(df, impute_method="interpolate").count()
    assert rep["valid_records"] == cleaned_n
    if case == "overflow_strings":
        _assert_overflow_counters(rep)
        return
    assert rep["initial_nans"] == 2 and rep["nans_after"] == 0
    assert rep["duplicates_removed"] == 3


def test_report_survives_fully_invalid_input(spark):
    """Everything dropped (all volumes negative, strict) must still
    yield ONE report row with final_rows=0 / is_valid=False — not an
    empty frame."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "timestamp": pd.date_range("2025-01-01", periods=5, freq="1min"),
            "symbol": "X",
            "open": 1.0, "high": 2.0, "low": 0.5, "close": 1.5,
            "volume": -1.0,
        }
    )
    rep = rpt.validation_report(spark.createDataFrame(pdf), mode="strict")
    assert rep["total_records"] == 5
    assert rep["negative_rows"] == 5
    assert rep["final_rows"] == 0 and rep["valid_records"] == 0
    assert rep["is_valid"] is False
    assert rep["most_common_interval_seconds"] is None


def test_report_counters_defects_nonzero(spark, report_dirty_pdf):
    """The fixture must actually exercise every counter family."""
    got = rpt.validation_report(spark.createDataFrame(report_dirty_pdf))
    assert got["duplicates_removed"] == 3
    assert got["initial_nans"] == 2
    assert got["negative_rows"] == 2
    assert got["outliers_detected"]["close"] >= 1
    assert got["outliers_detected"]["volume"] >= 1
    # high=60 is itself an IQR outlier: the clip pulls it back inside
    # bounds, which re-validates some rows — only violations that
    # survive the clip count (reference order: outliers first,
    # data_cleaner.py:128,132).
    assert got["invalid_ohlc"] >= 1
    assert got["time_gaps"] == 1
    assert got["irregular_intervals"] >= 1
    assert got["is_valid"]
