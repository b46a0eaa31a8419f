"""Property-based differential fuzzer for the semantic-trap core.

SURVEY.md §7.4 pins the pandas-parity traps (dayofweek parity, resample
empty buckets, keep-first dedup, NaN heads, ewm recursion, to_numeric
coercion) — each originally tested on ONE dirty fixture. This tool
generates N seeded random corpora stacked with the dirty features that
break naive ports:

- irregular time gaps (random minute steps, multi-day holes)
- duplicate (symbol, timestamp) keys with conflicting payloads
- scattered nulls, leading null runs (NaN heads), all-null columns
- constant columns (RSI 0/0, stddev 0, zero-IQR winsorize)
- single-row symbols and all-duplicate frames
- epoch edge values (1970 boundary, far future, fractional seconds)
- negative prices/volumes, OHLC-inconsistent rows
- junk strings in numeric columns (to_numeric coercion tokens,
  including the double-overflow literal "1e400")

and runs every cleaning / resample / indicator / split operator
differentially against pandas (the reference engine's semantics,
``src/data_etl/processing/data_cleaner.py`` /
``technical_indicators.py`` / ``timeframe_aggregator.py``) at rtol
1e-9, equal_nan. Divergences found here become pinned regression
fixtures (the "1e400" overflow coercion was the first).

Usage::

    python tools/fuzz_oracle.py [n_seeds] [check ...]

Exits nonzero on any divergence. The pytest wrapper
(``tests/test_fuzz_differential.py``) runs the same checks over a
fixed seed range so every case is part of the suite.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd

sys.path.insert(0, ".")

OHLCV = ["open", "high", "low", "close", "volume"]


# ---------------------------------------------------------------------------
# Corpus generators
# ---------------------------------------------------------------------------


def make_corpus(seed: int, n_rows: int = 160) -> pd.DataFrame:
    """Typed dirty corpus: datetime timestamps, float OHLCV, plus an
    ``ingest_seq`` column that makes keep-first dedup deterministic."""
    rng = np.random.default_rng(seed)
    frames = []
    n_sym = int(rng.integers(1, 4))
    for s in range(n_sym):
        n = int(rng.integers(5, n_rows // n_sym + 5))
        # irregular grid: random minute steps with occasional multi-day
        # holes; one seed in four starts at the 1970 epoch boundary,
        # one in eight lives in the far future
        steps = rng.integers(1, 240, n).astype("int64")
        if rng.random() < 0.3:
            holes = rng.integers(0, n, max(1, n // 10))
            steps[holes] += int(rng.integers(3_000, 20_000))
        base = pd.Timestamp("2025-01-01")
        if rng.random() < 0.25:
            base = pd.Timestamp("1970-01-01 00:00:00")
        elif rng.random() < 0.125:
            base = pd.Timestamp("2200-06-15")
        ts = base + pd.to_timedelta(np.cumsum(steps), unit="m")
        close = rng.uniform(1.0, 1000.0, n)
        if rng.random() < 0.2:
            close[:] = close[0]  # constant column
        spread = rng.uniform(0.0, 5.0, n)
        pdf = pd.DataFrame(
            {
                "timestamp": ts,
                "symbol": f"S{s}",
                "open": close + rng.uniform(-2, 2, n),
                "high": close + spread,
                "low": close - spread,
                "close": close,
                "volume": rng.uniform(0.0, 1e4, n),
            }
        )
        # OHLC-inconsistent rows
        bad = rng.random(n) < 0.1
        pdf.loc[bad, "high"] = pdf.loc[bad, "low"] - rng.uniform(0, 3, int(bad.sum()))
        # negatives
        for c in OHLCV:
            neg = rng.random(n) < 0.05
            pdf.loc[neg, c] = -np.abs(pdf.loc[neg, c]) - 0.5
        # scattered nulls + a leading null run (NaN head)
        for c in OHLCV:
            nulls = rng.random(n) < 0.07
            pdf.loc[nulls, c] = np.nan
        if rng.random() < 0.3:
            head = int(rng.integers(1, max(2, n // 3)))
            pdf.loc[: head - 1, "close"] = np.nan
        if rng.random() < 0.1:
            pdf["volume"] = np.nan  # all-null column
        frames.append(pdf)
    # single-row symbol
    if rng.random() < 0.5:
        frames.append(
            pd.DataFrame(
                {
                    "timestamp": [pd.Timestamp("2025-03-03 03:03:03")],
                    "symbol": "LONE",
                    "open": [3.0],
                    "high": [4.0],
                    "low": [2.0],
                    "close": [3.5],
                    "volume": [10.0],
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    # duplicate keys with conflicting payloads (keep-first trap)
    n_dup = int(rng.integers(0, max(2, len(pdf) // 8)))
    if n_dup:
        dup = pdf.sample(n=n_dup, random_state=int(rng.integers(2**31)))
        dup = dup.assign(close=dup["close"] + 1.25, volume=999.0)
        pdf = pd.concat([pdf, dup], ignore_index=True)
    # all-duplicate frame: every row of one symbol at one timestamp
    if rng.random() < 0.15:
        pdf = pd.concat(
            [
                pdf,
                pd.DataFrame(
                    {
                        "timestamp": pd.Timestamp("2025-02-02"),
                        "symbol": "MASS",
                        "open": 1.0,
                        "high": 2.0,
                        "low": 0.5,
                        "close": 1.5,
                        "volume": 7.0,
                        "row": range(6),
                    }
                ).drop(columns="row"),
            ],
            ignore_index=True,
        )
    pdf = pdf.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    pdf["ingest_seq"] = np.arange(len(pdf), dtype="int64")
    return pdf


#: to_numeric coercion token classes — mixed into raw string corpora
COERCE_TOKENS = [
    "3.14", " 42 ", "1e3", "abc", "", "inf", "-inf", "Infinity", "nan",
    "NaN", "0x10", "1_000", "+5", "5.", "-.5", "1d0", "2,000", None,
    "1e400", "-1e400", "  ", "7\n", "1e-320",
]


def make_raw_corpus(seed: int, n_rows: int = 80) -> pd.DataFrame:
    """Raw-typed corpus: OHLCV as strings mixing numerics and junk,
    timestamps as epoch-second floats with edge values."""
    rng = np.random.default_rng(seed + 10_000)
    n = n_rows
    epochs = rng.uniform(-1e8, 4e9, n).round(3)
    edge = rng.random(n) < 0.2
    epochs[edge] = rng.choice(
        [0.0, -1.0, 1.0, 86400.0, 2**31 - 1, 4e9, 0.5], size=int(edge.sum())
    )

    def col():
        vals = rng.uniform(0, 100, n).round(6).astype(str).astype(object)
        junk = rng.random(n) < 0.3
        vals[junk] = rng.choice(
            np.array(COERCE_TOKENS, dtype=object), size=int(junk.sum())
        )
        return vals

    return pd.DataFrame(
        {
            "timestamp": epochs,
            "symbol": [f"S{i % 3}" for i in range(n)],
            "open": col(),
            "high": col(),
            "low": col(),
            "close": col(),
            "volume": col(),
        }
    )


# ---------------------------------------------------------------------------
# Frame comparison
# ---------------------------------------------------------------------------


def diff_frames(
    got: pd.DataFrame,
    want: pd.DataFrame,
    sort_by: list[str],
    rtol: float = 1e-9,
    label: str = "",
) -> list[str]:
    """Order-insensitive frame compare: sort by ``sort_by``, align
    columns by name, numeric at rtol with equal_nan, rest exact."""
    errs = []
    if sorted(got.columns) != sorted(want.columns):
        return [f"{label}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{label}: rows {len(got)} != {len(want)}"]
    g = got.sort_values(sort_by, kind="mergesort").reset_index(drop=True)
    w = want.sort_values(sort_by, kind="mergesort").reset_index(drop=True)
    for c in sorted(got.columns):
        gv, wv = g[c], w[c]
        if pd.api.types.is_float_dtype(wv) or pd.api.types.is_float_dtype(gv):
            a = pd.to_numeric(gv, errors="coerce").to_numpy(dtype="float64")
            b = pd.to_numeric(wv, errors="coerce").to_numpy(dtype="float64")
            ok = np.isclose(a, b, rtol=rtol, atol=1e-12, equal_nan=True)
            # inf with matching sign is equal; isclose(inf, inf) is True
            if not ok.all():
                i = int(np.argmin(ok))
                errs.append(
                    f"{label}.{c}: row {i} {a[i]!r} != {b[i]!r} "
                    f"({int((~ok).sum())} mismatches)"
                )
        else:
            a = gv.astype(object).where(pd.notna(gv), None)
            b = wv.astype(object).where(pd.notna(wv), None)
            bad = a.to_numpy() != b.to_numpy()
            if bad.any():
                i = int(np.argmax(bad))
                errs.append(
                    f"{label}.{c}: row {i} {a.iloc[i]!r} != {b.iloc[i]!r} "
                    f"({int(bad.sum())} mismatches)"
                )
    return errs


def _spark_df(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf)


def _clean_base(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deduped, no-NaN, strictly-increasing-per-symbol base for the
    operators whose contracts assume cleaned input (resample,
    indicators, splits): pandas keep-first dedup then drop-NaN."""
    p = (
        pdf.sort_values("ingest_seq", kind="mergesort")
        .drop_duplicates(subset=["symbol", "timestamp"], keep="first")
        .dropna(subset=OHLCV)
        .sort_values(["symbol", "timestamp"], kind="mergesort")
        .reset_index(drop=True)
    )
    return p


# ---------------------------------------------------------------------------
# Checks — each: (spark, seed) -> list[str] divergences
# ---------------------------------------------------------------------------


def check_dedup_keep_first(spark, seed):
    from financial_data_pipeline_spark.operators.cleaning import dedup_keep_first

    pdf = make_corpus(seed)
    got = (
        dedup_keep_first(
            _spark_df(spark, pdf),
            keys=["symbol", "timestamp"],
            order_by=["ingest_seq"],
        )
        .toPandas()
    )
    want = (
        pdf.sort_values("ingest_seq", kind="mergesort")
        .drop_duplicates(subset=["symbol", "timestamp"], keep="first")
        .reset_index(drop=True)
    )
    return diff_frames(got, want, ["symbol", "timestamp"], label="dedup")


def check_impute_ffill_bfill(spark, seed):
    from financial_data_pipeline_spark.operators.cleaning import impute_ffill_bfill

    pdf = make_corpus(seed)
    pdf = (
        pdf.sort_values("ingest_seq", kind="mergesort")
        .drop_duplicates(subset=["symbol", "timestamp"], keep="first")
        .reset_index(drop=True)
    )
    got = impute_ffill_bfill(_spark_df(spark, pdf)).toPandas()
    want = pdf.sort_values(["symbol", "timestamp"], kind="mergesort").copy()
    want[OHLCV] = want.groupby("symbol")[OHLCV].transform(
        lambda g: g.ffill().bfill()
    )
    return diff_frames(got, want, ["symbol", "timestamp"], label="impute")


def check_interpolate_linear(spark, seed):
    from financial_data_pipeline_spark.operators.cleaning import interpolate_linear

    pdf = make_corpus(seed)
    pdf = (
        pdf.sort_values("ingest_seq", kind="mergesort")
        .drop_duplicates(subset=["symbol", "timestamp"], keep="first")
        .reset_index(drop=True)
    )
    got = interpolate_linear(_spark_df(spark, pdf)).toPandas()
    want = pdf.sort_values(["symbol", "timestamp"], kind="mergesort").copy()

    def interp(g):
        g = g.set_index("timestamp")
        g[OHLCV] = g[OHLCV].interpolate(method="time", limit_direction="both")
        return g.reset_index()

    want = (
        want.groupby("symbol", group_keys=False)[want.columns]
        .apply(interp)
        .reset_index(drop=True)
    )
    return diff_frames(got, want, ["symbol", "timestamp"], label="interp")


def check_iqr_clip(spark, seed):
    from financial_data_pipeline_spark.operators.cleaning import iqr_clip

    pdf = make_corpus(seed)
    got = iqr_clip(_spark_df(spark, pdf)).toPandas()
    want = pdf.copy()
    for c in OHLCV:
        q1 = pdf.groupby("symbol")[c].transform(lambda s: s.quantile(0.25))
        q3 = pdf.groupby("symbol")[c].transform(lambda s: s.quantile(0.75))
        iqr = q3 - q1
        want[c] = pdf[c].clip(lower=q1 - 1.5 * iqr, upper=q3 + 1.5 * iqr)
    return diff_frames(
        got, want, ["symbol", "timestamp", "ingest_seq"], label="iqr"
    )


def check_ohlc_repair_and_filter(spark, seed):
    from financial_data_pipeline_spark.operators.cleaning import (
        filter_valid_ohlc,
        repair_ohlc,
    )

    pdf = make_corpus(seed).dropna(subset=OHLCV).reset_index(drop=True)
    sdf = _spark_df(spark, pdf)
    got_r = repair_ohlc(sdf).toPandas()
    ok = (
        (pdf.high >= pdf.low)
        & (pdf.high >= pdf.open)
        & (pdf.high >= pdf.close)
        & (pdf.low <= pdf.open)
        & (pdf.low <= pdf.close)
    )
    want_r = pdf.copy()
    bad = ~ok
    want_r.loc[bad, "high"] = pdf.loc[bad, ["open", "close", "high"]].max(axis=1)
    want_r.loc[bad, "low"] = pdf.loc[bad, ["open", "close", "low"]].min(axis=1)
    errs = diff_frames(
        got_r, want_r, ["symbol", "timestamp", "ingest_seq"], label="repair"
    )
    got_f = filter_valid_ohlc(sdf).toPandas()
    want_f = pdf[ok].reset_index(drop=True)
    errs += diff_frames(
        got_f, want_f, ["symbol", "timestamp", "ingest_seq"], label="filter"
    )
    return errs


def check_negatives(spark, seed):
    from financial_data_pipeline_spark.operators.cleaning import (
        drop_negative_rows,
        nullify_negatives,
    )

    pdf = make_corpus(seed)
    sdf = _spark_df(spark, pdf)
    keep = np.ones(len(pdf), dtype=bool)
    for c in OHLCV:
        keep &= pdf[c].isna() | (pdf[c] >= 0)
    errs = diff_frames(
        drop_negative_rows(sdf).toPandas(),
        pdf[keep].reset_index(drop=True),
        ["symbol", "timestamp", "ingest_seq"],
        label="dropneg",
    )
    want = pdf.copy()
    for c in OHLCV:
        want.loc[want[c] < 0, c] = np.nan
    errs += diff_frames(
        nullify_negatives(sdf).toPandas(),
        want,
        ["symbol", "timestamp", "ingest_seq"],
        label="nullneg",
    )
    return errs


def check_coerce_numeric(spark, seed):
    from financial_data_pipeline_spark.operators.cleaning import coerce_numeric

    pdf = make_raw_corpus(seed)
    sdf = spark.createDataFrame(pdf.astype({"timestamp": "float64"}))
    got = coerce_numeric(sdf, OHLCV).toPandas()
    want = pdf.copy()
    for c in OHLCV:
        want[c] = pd.to_numeric(want[c], errors="coerce")
    want["timestamp"] = want["timestamp"].astype("float64")
    return diff_frames(got, want, ["symbol", "timestamp"], label="coerce")


def check_normalize_timestamp(spark, seed):
    from financial_data_pipeline_spark.operators.cleaning import normalize_timestamp

    pdf = make_raw_corpus(seed)[["timestamp", "symbol"]].copy()
    pdf["k"] = np.arange(len(pdf), dtype="int64")
    sdf = spark.createDataFrame(pdf.astype({"timestamp": "float64"}))
    got = normalize_timestamp(sdf, epoch_unit="s").toPandas()
    want = pdf.copy()
    # pandas ns-datetime bounds (1677..2262) vs Spark's wider range:
    # compare on epoch microseconds instead of datetime64
    want["timestamp"] = (want["timestamp"] * 1e6).round()
    got["timestamp"] = got["timestamp"].map(
        lambda t: np.nan if pd.isna(t) else round(t.timestamp() * 1e6)
    )
    return diff_frames(got, want, ["k"], label="normts")


def check_resample(spark, seed):
    from financial_data_pipeline_spark.operators.resample import resample_ohlcv

    pdf = _clean_base(make_corpus(seed)).drop(columns="ingest_seq")
    if pdf.empty:
        return []
    sdf = _spark_df(spark, pdf)
    freq_map = {"1h": "1h", "4h": "4h", "1d": "1D"}
    tf = ["1h", "4h", "1d"][seed % 3]
    errs = []

    def pandas_resample(g):
        g = g.set_index("timestamp").resample(freq_map[tf]).agg(
            open=("open", "first"),
            high=("high", "max"),
            low=("low", "min"),
            close=("close", "last"),
            volume=("volume", "sum"),
        )
        return g.reset_index()

    want_full = (
        pdf.groupby("symbol", group_keys=True)[pdf.columns]
        .apply(pandas_resample, include_groups=False)
        .reset_index(level=0)
        .reset_index(drop=True)
        .rename(columns={"timestamp": "bucket_ts"})
    )
    # fill_gaps=False: only buckets with data
    got = resample_ohlcv(sdf, tf, fill_gaps=False).toPandas()
    want = want_full.dropna(subset=["open", "high", "low", "close"], how="all")
    want = want.reset_index(drop=True)
    errs += diff_frames(got, want, ["symbol", "bucket_ts"], label=f"resample[{tf}]")
    # fill_gaps=True: pandas emits empty buckets (volume 0.0) and the
    # reference ffills OHLC column-wise
    got_f = resample_ohlcv(sdf, tf, fill_gaps=True).toPandas()
    want_f = want_full.copy()
    want_f[["open", "high", "low", "close"]] = want_f.groupby("symbol")[
        ["open", "high", "low", "close"]
    ].ffill()
    errs += diff_frames(
        got_f, want_f, ["symbol", "bucket_ts"], label=f"resample_fill[{tf}]"
    )
    return errs


def check_time_features(spark, seed):
    from financial_data_pipeline_spark.functions.timefeatures import (
        with_time_features,
    )

    pdf = _clean_base(make_corpus(seed))
    if pdf.empty:
        return []
    got = with_time_features(_spark_df(spark, pdf)).toPandas()
    want = pdf.copy()
    t = want["timestamp"]
    want["hour"] = t.dt.hour.astype("int32")
    want["day_of_week"] = t.dt.dayofweek.astype("int32")  # Mon=0 parity
    want["month"] = t.dt.month.astype("int32")
    want["year"] = t.dt.year.astype("int32")
    return diff_frames(
        got, want, ["symbol", "timestamp"], label="timefeat"
    )


def check_indicators(spark, seed):
    from financial_data_pipeline_spark.operators.indicators import (
        atr,
        bollinger,
        pct_change,
        rsi,
        sma,
    )

    pdf = _clean_base(make_corpus(seed))
    if pdf.empty:
        return []
    n = [3, 5, 14][seed % 3]
    sdf = _spark_df(spark, pdf)
    bb = bollinger("close", n=n, num_std=2.0)
    got = sdf.withColumns(
        {
            "sma_n": sma("close", n),
            "rsi_n": rsi("close", n),
            "atr_n": atr(n),
            "pct": pct_change("close"),
            **bb,
        }
    ).toPandas()
    want = pdf.copy()

    def per_sym(g):
        c = g["close"]
        g = g.copy()
        g["sma_n"] = c.rolling(n).mean()
        delta = c.diff()
        gain = delta.where(delta > 0, 0.0).rolling(n).mean()
        loss = (-delta.where(delta < 0, 0.0)).rolling(n).mean()
        rs = gain / loss
        r = 100.0 - 100.0 / (1.0 + rs)
        r = r.where(~((loss == 0) & (gain > 0)), 100.0)
        r = r.where(~((loss == 0) & (gain == 0)), np.nan)
        g["rsi_n"] = r
        hl = g.high - g.low
        hc = (g.high - c.shift()).abs()
        lc = (g.low - c.shift()).abs()
        tr = pd.concat([hl, hc, lc], axis=1).max(axis=1)
        g["atr_n"] = tr.rolling(n).mean()
        g["pct"] = c.pct_change()
        mid = c.rolling(n).mean()
        sd = c.rolling(n).std()
        g["bb_middle"] = mid
        g["bb_upper"] = mid + 2.0 * sd
        g["bb_lower"] = mid - 2.0 * sd
        return g

    want = (
        want.groupby("symbol", group_keys=False)[want.columns]
        .apply(per_sym)
        .reset_index(drop=True)
    )
    return diff_frames(got, want, ["symbol", "timestamp"], label=f"ind[{n}]")


def check_ema(spark, seed):
    from financial_data_pipeline_spark.operators.indicators import with_ema

    pdf = _clean_base(make_corpus(seed))
    if pdf.empty:
        return []
    spans = [2, 9, 26]
    got = with_ema(_spark_df(spark, pdf), spans=spans).toPandas()
    want = pdf.copy()
    for s in spans:
        want[f"ema_{s}"] = want.groupby("symbol")["close"].transform(
            lambda g, s=s: g.ewm(span=s, adjust=False).mean()
        )
    return diff_frames(got, want, ["symbol", "timestamp"], label="ema")


def check_split_by_time(spark, seed):
    from financial_data_pipeline_spark.operators.splitter import split_by_time

    pdf = _clean_base(make_corpus(seed))
    if len(pdf) < 3:
        return []
    ts = pdf["timestamp"].sort_values().reset_index(drop=True)
    t1 = str(ts.iloc[len(ts) // 3])
    t2 = str(ts.iloc[2 * len(ts) // 3])
    if t2 <= t1:
        return []
    parts = split_by_time(_spark_df(spark, pdf), t1, t2)
    got = [p.toPandas() for p in parts]
    c = pdf["timestamp"]
    want = [
        pdf[c <= t1].reset_index(drop=True),
        pdf[(c > t1) & (c <= t2)].reset_index(drop=True),
        pdf[c > t2].reset_index(drop=True),
    ]
    errs = []
    for i, (g, w) in enumerate(zip(got, want)):
        errs += diff_frames(
            g, w, ["symbol", "timestamp"], label=f"split[{i}]"
        )
    if sum(len(g) for g in got) != len(pdf):
        errs.append("split: parts do not partition the corpus")
    return errs


CHECKS = {
    "dedup_keep_first": check_dedup_keep_first,
    "impute_ffill_bfill": check_impute_ffill_bfill,
    "interpolate_linear": check_interpolate_linear,
    "iqr_clip": check_iqr_clip,
    "ohlc_repair_filter": check_ohlc_repair_and_filter,
    "negatives": check_negatives,
    "coerce_numeric": check_coerce_numeric,
    "normalize_timestamp": check_normalize_timestamp,
    "resample": check_resample,
    "time_features": check_time_features,
    "indicators": check_indicators,
    "ema": check_ema,
    "split_by_time": check_split_by_time,
}


def run_seed(spark, seed: int, names=None) -> dict[str, list[str]]:
    out = {}
    for name, fn in CHECKS.items():
        if names and name not in names:
            continue
        try:
            out[name] = fn(spark, seed)
        except Exception as e:  # a crash is a finding too
            out[name] = [f"{name}: EXCEPTION {type(e).__name__}: {e}"]
    return out


def main(argv):
    from financial_data_pipeline_spark import get_spark

    n_seeds = int(argv[0]) if argv and argv[0].isdigit() else 20
    names = [a for a in argv if not a.isdigit()] or None
    spark = get_spark(app_name="fuzz-oracle", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    n_cases = n_fail = 0
    for seed in range(n_seeds):
        for name, errs in run_seed(spark, seed, names).items():
            n_cases += 1
            if errs:
                n_fail += 1
                print(f"[DIVERGE] seed={seed} {name}")
                for e in errs[:5]:
                    print(f"    {e}")
            else:
                print(f"[ok] seed={seed} {name}")
    print(f"{n_cases} cases, {n_fail} divergent")
    return 1 if n_fail else 0



def check_zscore_outlier_clean(spark, seed):
    from financial_data_pipeline_spark.operators.cleaning import (
        zscore_outlier_clean,
    )

    pdf = make_corpus(seed)
    pdf = (
        pdf.sort_values("ingest_seq", kind="mergesort")
        .drop_duplicates(subset=["symbol", "timestamp"], keep="first")
        .reset_index(drop=True)
    )
    got = zscore_outlier_clean(_spark_df(spark, pdf)).toPandas()
    want = pdf.sort_values(["symbol", "timestamp"], kind="mergesort").copy()
    prices = ["open", "high", "low", "close"]

    def per_sym(g):
        g = g.copy()
        for c in prices + ["volume"]:
            mu, sd = g[c].mean(), g[c].std(ddof=1)
            if pd.notna(sd) and sd != 0:
                out = (g[c] - mu).abs() / sd > 3.0
            else:  # sd null/0 → nothing flagged
                out = pd.Series(False, index=g.index)
            if c == "volume":
                g.loc[out, c] = g[c].median()
            else:
                g.loc[out, c] = np.nan
        g[prices] = g[prices].ffill()
        return g

    want = (
        want.groupby("symbol", group_keys=False)[want.columns]
        .apply(per_sym)
        .reset_index(drop=True)
    )
    return diff_frames(got, want, ["symbol", "timestamp"], label="zscore")


def check_clean_ohlcv_end_to_end(spark, seed):
    """The frozen 13-step pipeline end-to-end, both modes, against a
    faithful pandas replay, plus the validation report over the same
    input: it aggregates the same staged frame, so its valid_records
    must equal the cleaned row count and its dedup / negative counters
    the replay's. Duplicate keys are payload-identical here
    (clean_ohlcv's dedup orders by timestamp only, so conflicting
    payloads would make the keep-first winner engine-arbitrary)."""
    from financial_data_pipeline_spark.operators.cleaning import clean_ohlcv
    from financial_data_pipeline_spark.plans.report import validation_report

    pdf = make_corpus(seed)
    # collapse conflicting duplicate payloads onto the first occurrence
    first = pdf.sort_values("ingest_seq", kind="mergesort").drop_duplicates(
        subset=["symbol", "timestamp"], keep="first"
    )[["symbol", "timestamp"] + OHLCV]
    pdf = pdf[["symbol", "timestamp", "ingest_seq"]].merge(
        first, on=["symbol", "timestamp"], how="left"
    )
    pdf = pdf.drop(columns="ingest_seq")
    sdf = _spark_df(spark, pdf)

    base = (
        pdf.drop_duplicates(subset=["symbol", "timestamp"], keep="first")
        .sort_values(["symbol", "timestamp"], kind="mergesort")
        .reset_index(drop=True)
    )
    base[OHLCV] = base.groupby("symbol")[OHLCV].transform(
        lambda g: g.ffill().bfill()
    )
    keep = pd.Series(True, index=base.index)
    for c in OHLCV:
        keep &= base[c].isna() | (base[c] >= 0)
    want_counters = {
        "duplicates_removed": len(pdf) - len(base),
        "negative_rows": int((~keep).sum()),
    }
    base = base[keep].reset_index(drop=True)

    def report_errs(mode, n_cleaned):
        rep = validation_report(sdf, mode=mode)
        want = want_counters | {"valid_records": n_cleaned}
        return [
            f"report_{mode}: {k} got {rep[k]} want {v}"
            for k, v in want.items()
            if rep[k] != v
        ]

    def timefeat(p):
        p = p.copy()
        t = p["timestamp"]
        p["hour"] = t.dt.hour.astype("int32")
        p["day_of_week"] = t.dt.dayofweek.astype("int32")
        p["month"] = t.dt.month.astype("int32")
        p["year"] = t.dt.year.astype("int32")
        return p

    errs = []
    # strict mode: positive prices, consistent OHLC, no nulls
    got_s = clean_ohlcv(sdf, mode="strict").toPandas()
    ok = (
        (base.volume >= 0)
        & (base.open > 0) & (base.high > 0)
        & (base.low > 0) & (base.close > 0)
        & (base.high >= base.low) & (base.high >= base.open)
        & (base.high >= base.close) & (base.low <= base.open)
        & (base.low <= base.close)
    )
    want_s = timefeat(base[ok.fillna(False)].dropna(subset=OHLCV))
    errs += diff_frames(
        got_s,
        want_s.reset_index(drop=True),
        ["symbol", "timestamp"],
        label="clean_strict",
    )
    errs += report_errs("strict", len(got_s))
    # repair mode: IQR winsorize then OHLC repair, nulls retained
    got_r = clean_ohlcv(sdf, mode="repair").toPandas()
    want_r = base.copy()
    for c in OHLCV:
        q1 = base.groupby("symbol")[c].transform(lambda s: s.quantile(0.25))
        q3 = base.groupby("symbol")[c].transform(lambda s: s.quantile(0.75))
        iqr = q3 - q1
        want_r[c] = base[c].clip(lower=q1 - 1.5 * iqr, upper=q3 + 1.5 * iqr)
    bad = ~(
        (want_r.high >= want_r.low)
        & (want_r.high >= want_r.open) & (want_r.high >= want_r.close)
        & (want_r.low <= want_r.open) & (want_r.low <= want_r.close)
    ).fillna(False)
    hi = want_r[["open", "close", "high"]].max(axis=1)
    lo = want_r[["open", "close", "low"]].min(axis=1)
    want_r.loc[bad, "high"] = hi[bad]
    want_r.loc[bad, "low"] = lo[bad]
    errs += diff_frames(
        got_r,
        timefeat(want_r).reset_index(drop=True),
        ["symbol", "timestamp"],
        label="clean_repair",
    )
    errs += report_errs("repair", len(got_r))
    return errs


CHECKS["zscore_outlier_clean"] = check_zscore_outlier_clean
CHECKS["clean_ohlcv_end_to_end"] = check_clean_ohlcv_end_to_end

if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
