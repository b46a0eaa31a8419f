"""Normalizer round-trips and split invariants
(reference model: ``tests/units/test_processing.py:28-70``,
``tests/units/test_data_splitter.py``)."""

from functools import reduce

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame

from financial_data_pipeline_spark.operators import normalize, splitter


def test_zscore_mean0_std1(spark, ohlcv_df):
    out = normalize.normalize(ohlcv_df, ["close"], "zscore")
    agg = out.groupBy("symbol").agg(
        F.avg("close").alias("mu"), F.stddev_samp("close").alias("sd")
    )
    for r in agg.collect():
        assert abs(r.mu) < 1e-9
        assert abs(r.sd - 1.0) < 1e-9


def test_minmax_in_unit_interval(spark, ohlcv_df):
    out = normalize.normalize(ohlcv_df, ["close"], "minmax")
    r = out.agg(F.min("close"), F.max("close")).first()
    assert r[0] == 0.0 and r[1] == 1.0


@pytest.mark.parametrize("method", ["zscore", "minmax", "log"])
def test_roundtrip_denormalize(spark, ohlcv_df, method):
    scalers = normalize.fit_scalers(ohlcv_df, ["close", "volume"], method)
    nz = normalize.normalize(
        ohlcv_df, ["close", "volume"], method, scalers=scalers
    )
    back = normalize.denormalize(nz, ["close", "volume"], scalers, method)
    a = ohlcv_df.orderBy("symbol", "timestamp").toPandas()
    b = back.orderBy("symbol", "timestamp").toPandas()
    assert np.allclose(a["close"], b["close"], rtol=1e-10)
    assert np.allclose(a["volume"], b["volume"], rtol=1e-10)


def test_chronological_split_sizes_and_order(spark, ohlcv_df):
    train, test = splitter.chronological_split(ohlcv_df, test_size=0.25)
    n, ntr, nte = ohlcv_df.count(), train.count(), test.count()
    assert ntr + nte == n
    assert ntr == int(n * 0.75)
    assert train.agg(F.max("timestamp")).first()[0] <= test.agg(
        F.min("timestamp")
    ).first()[0]


def test_split_time_series_three_way(spark, ohlcv_df):
    tr, va, te = splitter.split_time_series(ohlcv_df, 0.7, 0.15)
    n = ohlcv_df.count()
    assert tr.count() + va.count() + te.count() == n
    assert tr.count() == int(n * 0.7)


def _last_job(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def test_chronological_splits_build_without_jobs(spark, ohlcv_df):
    """The cut is counted inside the rank window, so building a split
    starts no Spark job (the driver-side count is gone)."""
    before = _last_job(spark)
    splitter.chronological_split(ohlcv_df, test_size=0.25)
    splitter.split_time_series(ohlcv_df, 0.7, 0.15)
    assert _last_job(spark) == before


_TEST_SIZES = (0.1, 0.2, 0.25, 0.3, 1 / 3)


def test_split_cut_equals_python_int(spark):
    """The in-plan cut CAST(n * f AS BIGINT) equals int(n * f) for
    every n in 1..200 and every fraction the two splitters cut at."""
    fracs = [1 - t for t in _TEST_SIZES] + [(1 - t) + t / 2 for t in _TEST_SIZES]
    rows = (
        spark.range(1, 201)
        .select(
            F.col("id").alias("__n"),
            *[splitter._cut(f).alias(f"c{i}") for i, f in enumerate(fracs)],
        )
        .collect()
    )
    assert len(rows) == 200
    for r in rows:
        for i, f in enumerate(fracs):
            assert r[f"c{i}"] == int(r["__n"] * f), (r["__n"], f)


@pytest.mark.parametrize("n", [1, 2, 3, 7, 10, 29, 30, 199, 200])
def test_split_rows_match_pandas_cut(spark, n):
    """Train (and val) rows of both chronological splitters equal a
    pandas reference cut at int(n * (1 - t)) in (timestamp, other
    columns) order, timestamp ties included, for every test size t."""
    pdf = pd.DataFrame({"id": range(n)})
    pdf["timestamp"] = pd.to_datetime(pdf["id"] // 3 * 60, unit="s")
    df = spark.createDataFrame(pdf.sample(frac=1.0, random_state=n))
    ids = pdf.sort_values(["timestamp", "id"])["id"].tolist()

    def labelled(frames):
        return {
            (r.t, r.part, r.id)
            for r in reduce(DataFrame.unionByName, frames).collect()
        }

    chrono, three_way, want_chrono, want_three = [], [], set(), set()
    for i, t in enumerate(_TEST_SIZES):
        train, _ = splitter.chronological_split(df, test_size=t)
        chrono.append(train.select(F.lit(i).alias("t"), F.lit("train").alias("part"), "id"))
        tr, va, _ = splitter.split_time_series(df, 1 - t, t / 2)
        three_way += [
            tr.select(F.lit(i).alias("t"), F.lit("train").alias("part"), "id"),
            va.select(F.lit(i).alias("t"), F.lit("val").alias("part"), "id"),
        ]
        n_train, n_val = int(n * (1 - t)), int(n * ((1 - t) + t / 2))
        want_chrono |= {(i, "train", x) for x in ids[:n_train]}
        want_three |= {(i, "train", x) for x in ids[:n_train]}
        want_three |= {(i, "val", x) for x in ids[n_train:n_val]}
    assert labelled(chrono) == want_chrono
    assert labelled(three_way) == want_three


def test_random_split_properties(spark, ohlcv_df):
    tr, te = splitter.random_split(ohlcv_df, test_size=0.2, seed=42)
    n, ntr, nte = ohlcv_df.count(), tr.count(), te.count()
    assert ntr + nte == n
    assert abs(nte / n - 0.2) < 0.05  # size tolerance, not membership (SP2)


def test_split_by_time_inclusive_bounds(spark, ohlcv_df):
    tr, va, te = splitter.split_by_time(
        ohlcv_df, "2025-01-01 12:00:00", "2025-01-02 00:00:00"
    )
    assert tr.count() + va.count() + te.count() == ohlcv_df.count()
    assert tr.agg(F.max("timestamp")).first()[0].isoformat() <= "2025-01-01T12:00:00"
    assert va.filter(F.col("timestamp") <= "2025-01-01 12:00:00").count() == 0


def test_sliding_windows_shapes(spark, ohlcv_df):
    df = ohlcv_df.filter("symbol = 'BTCUSDT'").limit(100)
    out = splitter.sliding_windows(
        df, ["close", "volume"], window_size=10, target_size=2, stride=3
    ).toPandas()
    n = 100
    expected = len([i for i in range(0, n - 12 + 1) if i % 3 == 0])
    assert len(out) == expected
    assert all(len(x) == 10 for x in out["x"])
    assert all(len(y) == 2 for y in out["y"])


def test_chronological_split_by_quantile_scale_path(spark, ohlcv_df):
    """The documented 100 TB path for SP1: cut at the timestamp
    quantile — proportions approximate the exact split, both sides are
    time-disjoint, and the plan has NO single-partition exchange (the
    thing the exact global-order split cannot avoid)."""
    from financial_data_pipeline_spark.operators.splitter import (
        chronological_split_by_quantile,
    )

    train, test = chronological_split_by_quantile(ohlcv_df, test_size=0.2)
    n, n_test = ohlcv_df.count(), test.count()
    assert train.count() + n_test == n  # partition of the input
    assert abs(n_test / n - 0.2) < 0.05  # approx quantile ≈ exact cut
    t_max = train.agg(F.max("timestamp")).first()[0]
    s_min = test.agg(F.min("timestamp")).first()[0]
    assert t_max < s_min  # strictly time-disjoint
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan  # no global sort


def test_psi_zero_for_identical_and_large_for_shifted(spark, ohlcv_df):
    """PSI sanity: a dataset vs itself is ~0 (only smoothing noise);
    a mean-shifted copy crosses the 0.25 retrain threshold."""
    from financial_data_pipeline_spark.operators.drift import psi

    base = ohlcv_df.filter("symbol = 'BTCUSDT'")
    same = psi(base, base, "close", bins=10).first()
    assert abs(same["psi"]) < 1e-9
    assert same["n_ref"] == same["n_new"] == base.count()
    shifted = base.withColumn("close", F.col("close") + 1500.0)
    moved = psi(base, shifted, "close", bins=10).first()
    assert moved["psi"] > 0.25


def test_chronological_split_distributed_exact_equivalence(spark, ohlcv_df):
    """The EXACT distributed SP1 path (range-partition +
    per-partition offsets) must return the identical train/test row
    SETS as the single-partition-window parity operator, with no
    Exchange SinglePartition in its plan."""
    from financial_data_pipeline_spark.operators.splitter import (
        chronological_split_distributed,
    )

    key = ["symbol", "timestamp"]
    # The cache-empty invariant below is about THIS operator; other test
    # modules' fixtures legitimately .cache() shared frames in the same
    # session, so start from a clean cache to make it deterministic
    # under any suite order (they recompute transparently).
    spark.catalog.clearCache()
    tr0, te0 = splitter.chronological_split(ohlcv_df, test_size=0.25)
    tr1, te1 = chronological_split_distributed(
        ohlcv_df, test_size=0.25, partitions=7
    )
    want_tr = {tuple(r) for r in tr0.select(*key).collect()}
    want_te = {tuple(r) for r in te0.select(*key).collect()}
    got_tr = {tuple(r) for r in tr1.select(*key).collect()}
    got_te = {tuple(r) for r in te1.select(*key).collect()}
    assert got_tr == want_tr
    assert got_te == want_te
    plan = tr1._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    # r10: global_row_index pins the range-partitioned frame with a
    # localCheckpoint (not persist — a builder-lifetime persist leaked
    # into later queries via CacheManager plan substitution), so the
    # range exchange runs inside the checkpoint job and the downstream
    # plan reads the materialized RDD. The ranked scan must be the
    # checkpoint, and the session cache must stay EMPTY.
    assert "Scan ExistingRDD" in plan
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_kfold_split_partitions_deterministically(spark):
    from financial_data_pipeline_spark.operators.splitter import kfold_split

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    k = 5
    folded = kfold_split(df, k=k, id_col="doc_id")
    sizes = {r.fold: r.n for r in folded.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # exhaustive + disjoint: one fold per row, all folds present
    assert sum(sizes.values()) == 1000
    assert set(sizes) == set(range(k))
    # ~uniform in expectation (loose bound: 3x spread)
    assert min(sizes.values()) > 100 and max(sizes.values()) < 300
    # stable under repartitioning (no RNG / partition dependence)
    a = {(r.doc_id, r.fold) for r in folded.collect()}
    b = {
        (r.doc_id, r.fold)
        for r in kfold_split(df.repartition(17), k=k, id_col="doc_id").collect()
    }
    assert a == b


def test_walk_forward_folds_are_contiguous_time_blocks(spark, ohlcv_df):
    from financial_data_pipeline_spark.operators.splitter import (
        walk_forward_folds,
    )

    n = 5
    out = (
        walk_forward_folds(ohlcv_df, n_folds=n)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("timestamp").alias("lo"),
            F.max("timestamp").alias("hi"),
        )
        .orderBy("fold")
        .collect()
    )
    assert [r.fold for r in out] == list(range(n))
    total = sum(r.cnt for r in out)
    assert total == ohlcv_df.count()
    # contiguous, non-overlapping, ordered blocks
    for a, b in zip(out, out[1:]):
        assert a.hi <= b.lo
    # roughly balanced (quantile cuts)
    assert max(r.cnt for r in out) < 1.5 * total / n


def test_purged_walk_forward_embargo_semantics(spark):
    import datetime as dt

    from financial_data_pipeline_spark.operators.splitter import (
        purged_walk_forward,
        walk_forward_folds,
    )

    rows = [
        ("A", dt.datetime(2025, 1, 1) + dt.timedelta(minutes=10 * i), float(i))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["symbol", "timestamp", "close"])
    out = purged_walk_forward(df, n_folds=4, embargo_seconds=1800)
    # fold assignment matches the unpurged operator
    base = walk_forward_folds(df, n_folds=4)
    a = sorted((r.timestamp, r.fold) for r in out.collect())
    b = sorted((r.timestamp, r.fold) for r in base.collect())
    assert a == b
    # exactly the 3 rows in the 30-min band below each of 3 boundaries
    purged = out.filter("purged_before").collect()
    assert len(purged) == 9
    assert {r.fold for r in purged} == {0, 1, 2}  # never the last fold
    # purged rows hug their boundary: each is within embargo of the
    # earliest row of the NEXT fold
    nxt = {
        f: min(r.timestamp for r in out.filter(f"fold = {f}").collect())
        for f in (1, 2, 3)
    }
    for r in purged:
        gap = (nxt[r.fold + 1] - r.timestamp).total_seconds()
        assert 0 < gap <= 1800


def test_ks_two_sample_matches_numpy(spark):
    """drift.ks_two_sample ≡ the sorted-ECDF numpy closed form
    (D exact, p via the same Kolmogorov series), incl. tie handling."""
    from financial_data_pipeline_spark.operators.drift import ks_two_sample

    rng = np.random.default_rng(11)
    a = np.round(rng.normal(0, 1, 500), 1)   # rounding plants ties
    b = np.round(rng.normal(0.25, 1.1, 400), 1)
    pdf = pd.DataFrame(
        {"grp": ["a"] * len(a) + ["b"] * len(b), "x": np.concatenate([a, b])}
    )
    got = (
        ks_two_sample(spark.createDataFrame(pdf), "grp", "x", "a", "b")
        .toPandas()
        .iloc[0]
    )
    allv = np.sort(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), allv, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), allv, side="right") / len(b)
    d = np.abs(fa - fb).max()
    en = len(a) * len(b) / (len(a) + len(b))
    lam = (np.sqrt(en) + 0.12 + 0.11 / np.sqrt(en)) * d
    j = np.arange(1, 101)
    if lam < 1.18:  # dual-series split, same as the operator
        j3 = np.arange(1, 4)
        p = 1.0 - (np.sqrt(2 * np.pi) / lam) * np.sum(
            np.exp(-((2 * j3 - 1) ** 2) * np.pi**2 / (8 * lam * lam))
        )
    else:
        p = 2 * np.sum((-1.0) ** (j - 1) * np.exp(-2 * j * j * lam * lam))
    p = min(1.0, max(0.0, p))
    assert got.n_a == len(a) and got.n_b == len(b)
    assert abs(got.ks_d - d) < 1e-12
    assert abs(got.ks_pvalue - p) < 1e-12


def test_ks_identical_samples_zero_d(spark):
    from financial_data_pipeline_spark.operators.drift import ks_two_sample

    vals = [float(v) for v in range(50)]
    pdf = pd.DataFrame({"grp": ["a"] * 50 + ["b"] * 50, "x": vals + vals})
    got = (
        ks_two_sample(spark.createDataFrame(pdf), "grp", "x", "a", "b")
        .toPandas()
        .iloc[0]
    )
    assert got.ks_d == 0.0
    assert got.ks_pvalue == 1.0


def test_mann_whitney_matches_numpy(spark):
    from financial_data_pipeline_spark.operators.stats import mann_whitney_u

    rng = np.random.default_rng(5)
    a = np.round(rng.normal(0, 1, 300), 1)
    b = np.round(rng.normal(0.4, 1, 250), 1)
    pdf = pd.DataFrame(
        {"g": ["a"] * len(a) + ["b"] * len(b), "x": np.concatenate([a, b])}
    )
    got = (
        mann_whitney_u(spark.createDataFrame(pdf), "g", "x", "a", "b")
        .toPandas()
        .iloc[0]
    )
    # numpy reference with average ranks + tie-corrected variance
    pooled = np.concatenate([a, b])
    order = pooled.argsort(kind="mergesort")
    ranks = np.empty(len(pooled))
    sorted_v = pooled[order]
    i = 0
    rk = np.empty(len(pooled))
    while i < len(sorted_v):
        j = i
        while j < len(sorted_v) and sorted_v[j] == sorted_v[i]:
            j += 1
        rk[i:j] = (i + j + 1) / 2.0  # average of 1-based ranks i+1..j
        i = j
    ranks[order] = rk
    ra = ranks[: len(a)].sum()
    na, nb = len(a), len(b)
    u_a = ra - na * (na + 1) / 2
    mu = na * nb / 2
    _, t = np.unique(pooled, return_counts=True)
    n = na + nb
    var = na * nb / 12 * ((n + 1) - (t**3 - t).sum() / (n * (n - 1)))
    z = (u_a - mu - (0.5 if u_a > mu else -0.5 if u_a < mu else 0)) / np.sqrt(var)
    az = abs(z) / np.sqrt(2)
    tt = 1 / (1 + 0.3275911 * az)
    p = tt * (0.254829592 + tt * (-0.284496736 + tt * (1.421413741
         + tt * (-1.453152027 + tt * 1.061405429)))) * np.exp(-az * az)
    assert got.n_a == na and got.n_b == nb
    assert abs(got.u_a - u_a) < 1e-9
    assert abs(got.z - z) < 1e-12
    assert abs(got.p_value - min(1.0, p)) < 1e-12


def test_benford_detects_uniform_digits(spark):
    """Benford-conforming magnitudes pass (p high); uniform first
    digits fail hard (chi2 huge, p ~ 0); absent digits contribute
    their expected mass."""
    from financial_data_pipeline_spark.operators.stats import benford_digit_test

    rng = np.random.default_rng(9)
    # log-uniform across 5 decades => Benford-distributed first digits
    benford = 10 ** rng.uniform(0, 5, 4000)
    uniform = rng.uniform(1, 10, 4000) * 10 ** rng.integers(0, 5, 4000)
    pdf = pd.DataFrame(
        {
            "g": ["ok"] * len(benford) + ["bad"] * len(uniform),
            "x": np.concatenate([benford, uniform]),
        }
    )
    got = (
        benford_digit_test(spark.createDataFrame(pdf), "x", by=["g"])
        .toPandas()
        .set_index("g")
    )
    assert got.loc["ok", "p_value"] > 0.01
    assert got.loc["bad", "chi2"] > 100
    assert got.loc["bad", "p_value"] < 1e-6
    # single-digit sample: present digit 1 deviates, digits 2..9 absent
    one = spark.createDataFrame(pd.DataFrame({"g": ["x"] * 50, "x": [1.5] * 50}))
    row = benford_digit_test(one, "x", by=["g"]).toPandas().iloc[0]
    p1 = np.log10(2)
    want_chi2 = 50 * ((1 - p1) ** 2 / p1 + (1 - p1))
    assert abs(row.chi2 - want_chi2) < 1e-6


def test_spearman_matches_pandas(spark, ohlcv_pdf):
    from financial_data_pipeline_spark.operators.indicators import (
        spearman_return_correlation,
    )

    df = spark.createDataFrame(ohlcv_pdf)
    got = spearman_return_correlation(df).toPandas().iloc[0]
    piv = ohlcv_pdf.pivot(index="timestamp", columns="symbol", values="close")
    r = np.log(piv / piv.shift()).dropna()
    want = r.corr(method="spearman").iloc[0, 1]
    assert abs(got.spearman_r - want) < 1e-9


def test_hurst_regimes(spark):
    """Random walk => H ~ 0.5; strong OU mean reversion => H well
    below; both recovered from the aggregated-variance closed form."""
    from financial_data_pipeline_spark.operators.indicators import hurst_exponent

    rng = np.random.default_rng(21)
    n = 4000
    walk = np.exp(np.cumsum(rng.normal(0, 0.01, n)))
    ou = np.empty(n)
    ou[0] = 0.0
    for i in range(1, n):  # theta=0.5 strongly mean-reverting
        ou[i] = ou[i - 1] - 0.5 * ou[i - 1] + rng.normal(0, 0.01)
    rows = [("walk", i, float(walk[i])) for i in range(n)] + [
        ("ou", i, float(np.exp(ou[i]))) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "symbol string, timestamp long, close double")
    got = hurst_exponent(df).toPandas().set_index("symbol")
    assert abs(got.loc["walk", "hurst"] - 0.5) < 0.1
    assert got.loc["ou", "hurst"] < 0.35


def test_pivot_points_hand_example(spark):
    from financial_data_pipeline_spark.operators.indicators import pivot_points

    rows = [
        ("A", "2025-01-01 01:00:00", 0.0, 10.0, 2.0, 5.0, 1.0),
        ("A", "2025-01-01 13:00:00", 0.0, 8.0, 4.0, 6.0, 1.0),
        ("A", "2025-01-02 05:00:00", 0.0, 7.0, 5.0, 6.5, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "symbol string, ts_s string, open double, high double, low double, close double, volume double"
    ).withColumn("timestamp", F.to_timestamp("ts_s"))
    got = pivot_points(df).orderBy("day").toPandas()
    # day 1: H=10, L=2, C=6 (last bar) -> P=6, R1=10, S1=2, R2=14, S2=-2
    d2 = got.iloc[1]
    assert d2.pivot == 6.0 and d2.r1 == 10.0 and d2.s1 == 2.0
    assert d2.r2 == 14.0 and d2.s2 == -2.0
    assert pd.isna(got.iloc[0].pivot)  # no previous day


def test_js_divergence_bounded_and_symmetric(spark):
    from financial_data_pipeline_spark.operators.drift import js_divergence

    rng = np.random.default_rng(13)
    a = pd.DataFrame({"x": rng.normal(0, 1, 2000)})
    b = pd.DataFrame({"x": rng.normal(3, 1, 2000)})
    da, db = spark.createDataFrame(a), spark.createDataFrame(b)
    ab = js_divergence(da, db, "x").toPandas().iloc[0]
    same = js_divergence(da, da, "x").toPandas().iloc[0]
    assert 0 <= ab.js_divergence <= np.log(2) + 1e-12
    assert ab.js_divergence > 0.2          # clearly shifted
    assert same.js_divergence < 1e-12      # identical => 0
    # bins come from the REF side, so swapping sides changes the
    # binning; symmetry holds for the same support
    ba = js_divergence(db, da, "x").toPandas().iloc[0]
    assert ba.js_divergence > 0.2


def test_value_at_risk_matches_numpy(spark):
    from financial_data_pipeline_spark.operators.stats import value_at_risk

    rng = np.random.default_rng(17)
    r = rng.standard_t(4, 3000) * 0.01
    pdf = pd.DataFrame({"symbol": "X", "r": r})
    got = value_at_risk(spark.createDataFrame(pdf), "r").toPandas().iloc[0]
    q95 = np.quantile(r, 0.05)  # numpy linear interpolation == percentile
    q99 = np.quantile(r, 0.01)
    assert abs(got.var_95 - (-q95)) < 1e-12
    assert abs(got.var_99 - (-q99)) < 1e-12
    assert abs(got.cvar_95 - (-r[r <= q95].mean())) < 1e-12
    assert abs(got.cvar_99 - (-r[r <= q99].mean())) < 1e-12
    assert got.cvar_95 >= got.var_95 and got.cvar_99 >= got.var_99


def test_cuped_matches_numpy_and_reduces_variance(spark):
    from financial_data_pipeline_spark.operators.stats import cuped_adjustment

    rng = np.random.default_rng(23)
    x = rng.normal(10, 2, 2000)
    y = 0.8 * x + rng.normal(0, 1, 2000)  # strongly covariate-explained
    pdf = pd.DataFrame({"y": y, "x": x})
    got = cuped_adjustment(spark.createDataFrame(pdf), "y", "x").toPandas().iloc[0]
    theta = np.cov(x, y, ddof=1)[0, 1] / np.var(x, ddof=1)
    adj = y - theta * (x - x.mean())
    assert abs(got.theta - theta) < 1e-9
    assert abs(got.var_raw - np.var(y, ddof=1)) < 1e-9
    # closed form var_adj == empirical variance of the adjusted metric
    assert abs(got.var_adj - np.var(adj, ddof=1)) < 1e-6
    assert got.variance_reduction > 0.5  # most variance explained
    # adjustment preserves the mean (x centered at its own mean)
    assert abs(adj.mean() - y.mean()) < 1e-12


def test_kaplan_meier_textbook_example(spark):
    from financial_data_pipeline_spark.operators.stats import kaplan_meier

    # classic: durations (event=1 death, 0 censored)
    obs = [(6, 1), (6, 1), (6, 1), (6, 0), (7, 1), (9, 0), (10, 1), (10, 0),
           (11, 0), (13, 1)]
    df = spark.createDataFrame(obs, "t int, ev int")
    got = kaplan_meier(df, "t", "ev").orderBy("t").toPandas()
    # t=6: n=10, d=3 -> S=0.7; t=7: n=6, d=1 -> 0.7*(5/6)
    s6 = 1 - 3 / 10
    s7 = s6 * (1 - 1 / 6)
    s10 = s7 * (1 - 1 / 4)
    s13 = s10 * (1 - 1 / 1)
    want = {6: s6, 7: s7, 9: s7, 10: s10, 11: s10, 13: s13}
    for _, r in got.iterrows():
        assert abs(r.survival - want[r.t]) < 1e-12, r.t
    assert got.set_index("t").n_risk.to_dict() == {
        6: 10, 7: 6, 9: 5, 10: 4, 11: 2, 13: 1
    }


def test_gini_known_cases(spark):
    from financial_data_pipeline_spark.operators.stats import gini_coefficient

    n = 100
    equal = spark.createDataFrame([(1.0,)] * n, "x double")
    assert abs(gini_coefficient(equal, "x").first().gini) < 1e-12
    onehas = spark.createDataFrame(
        [(0.0,)] * (n - 1) + [(100.0,)], "x double"
    )
    assert abs(gini_coefficient(onehas, "x").first().gini - (n - 1) / n) < 1e-12
    # invariant under repartition (tie-order independence)
    rng = np.random.default_rng(3)
    vals = [(float(v),) for v in np.round(rng.pareto(2, 500), 1)]
    df = spark.createDataFrame(vals, "x double")
    g1 = gini_coefficient(df, "x").first().gini
    g2 = gini_coefficient(df.repartition(17), "x").first().gini
    assert abs(g1 - g2) < 1e-12


def test_chi2_independence_regimes(spark):
    """Independent columns accept; planted dependence rejects; the
    closed-form survival matches a numpy series evaluation; dof=2
    (2x3) hits the guarded bare-term branch."""
    import math

    from financial_data_pipeline_spark.operators.stats import chi2_independence

    rng = np.random.default_rng(29)
    n = 6000
    a = rng.integers(0, 4, n)
    b_ind = rng.integers(0, 7, n)
    b_dep = (a + rng.integers(0, 2, n)) % 7  # strongly dependent
    ind = spark.createDataFrame(
        pd.DataFrame({"a": a.astype(str), "b": b_ind.astype(str)})
    )
    dep = spark.createDataFrame(
        pd.DataFrame({"a": a.astype(str), "b": b_dep.astype(str)})
    )
    gi = chi2_independence(ind, "a", "b").toPandas().iloc[0]
    gd = chi2_independence(dep, "a", "b").toPandas().iloc[0]
    assert gi.dof == 18 and gi.p_value > 0.01
    assert gd.p_value < 1e-9

    # numpy check of the even-df survival at the observed statistic
    h = gi.chi2 / 2
    want = math.exp(-h) * sum(h**j / math.factorial(j) for j in range(9))
    assert abs(gi.p_value - min(1.0, want)) < 1e-9

    # dof=2: 2x3 table, bare j=0 term
    small = spark.createDataFrame(
        pd.DataFrame(
            {"a": (a % 2).astype(str), "b": (b_ind % 3).astype(str)}
        )
    )
    gs = chi2_independence(small, "a", "b").toPandas().iloc[0]
    assert gs.dof == 2
    assert abs(gs.p_value - min(1.0, math.exp(-gs.chi2 / 2))) < 1e-12


def test_binary_auc_known_cases(spark):
    from financial_data_pipeline_spark.operators.stats import binary_auc

    # perfect separation -> 1.0; reversed -> 0.0; random ~ 0.5
    pos = [(1, float(s)) for s in range(100, 200)]
    neg = [(0, float(s)) for s in range(0, 100)]
    perfect = spark.createDataFrame(pos + neg, "y int, s double")
    assert abs(binary_auc(perfect, "s", "y").first().auc - 1.0) < 1e-12
    flipped = spark.createDataFrame(
        [(1 - y, s) for y, s in pos + neg], "y int, s double"
    )
    assert abs(binary_auc(flipped, "s", "y").first().auc - 0.0) < 1e-12
    # all-tied scores -> AUC exactly 0.5 (half credit)
    tied = spark.createDataFrame(
        [(y, 7.0) for y, _ in pos + neg], "y int, s double"
    )
    assert abs(binary_auc(tied, "s", "y").first().auc - 0.5) < 1e-12
    # numpy differential with ties
    rng = np.random.default_rng(43)
    y = rng.integers(0, 2, 1000)
    s = np.round(rng.normal(0, 1, 1000) + 0.8 * y, 1)
    df = spark.createDataFrame(
        pd.DataFrame({"y": y, "s": s})
    )
    got = binary_auc(df, "s", "y").first().auc
    # pairwise-comparison definition with half-credit ties
    sp, sn = s[y == 1], s[y == 0]
    wins = (sp[:, None] > sn[None, :]).sum() + 0.5 * (
        sp[:, None] == sn[None, :]
    ).sum()
    assert abs(got - wins / (len(sp) * len(sn))) < 1e-12


def test_categorical_psi_detects_new_category(spark):
    from financial_data_pipeline_spark.operators.drift import categorical_psi

    ref = spark.createDataFrame(
        [("a",)] * 500 + [("b",)] * 300 + [("c",)] * 200, "cat string"
    )
    same = categorical_psi(ref, ref, "cat").first()
    assert abs(same["psi"]) < 1e-12
    # mass moves into a category the reference never saw -> __other__
    shifted = spark.createDataFrame(
        [("a",)] * 300 + [("b",)] * 200 + [("zz",)] * 500, "cat string"
    )
    drift = categorical_psi(ref, shifted, "cat").first()
    assert drift["psi"] > 0.25


def test_wilcoxon_signed_rank_matches_numpy(spark):
    """Numpy replication (average ranks on |d|, tie-corrected sigma,
    continuity) and regime sanity: symmetric-zero-median accepts,
    shifted pairs reject."""
    from financial_data_pipeline_spark.operators.stats import (
        wilcoxon_signed_rank,
    )

    rng = np.random.default_rng(67)
    n = 400
    base = rng.normal(10, 2, n)
    same = np.round(base + rng.normal(0, 1, n), 1)
    shifted = np.round(base + 0.8 + rng.normal(0, 1, n), 1)
    for name, b_vals, expect_reject in (
        ("same", same, False),
        ("shifted", shifted, True),
    ):
        pdf = pd.DataFrame({"a": np.round(base, 1), "b": b_vals})
        got = (
            wilcoxon_signed_rank(spark.createDataFrame(pdf), "a", "b")
            .toPandas()
            .iloc[0]
        )
        d = pdf.a.values - pdf.b.values
        d = d[d != 0]
        order = np.argsort(np.abs(d), kind="mergesort")
        ranks = np.empty(len(d))
        sa = np.abs(d)[order]
        i = 0
        rk = np.empty(len(d))
        while i < len(sa):
            j = i
            while j < len(sa) and sa[j] == sa[i]:
                j += 1
            rk[i:j] = (i + j + 1) / 2.0
            i = j
        ranks[order] = rk
        w_plus = ranks[d > 0].sum()
        nn = len(d)
        _, t = np.unique(np.abs(d), return_counts=True)
        mu = nn * (nn + 1) / 4
        var = nn * (nn + 1) * (2 * nn + 1) / 24 - (t**3 - t).sum() / 48
        z = (w_plus - mu - (0.5 if w_plus > mu else -0.5 if w_plus < mu else 0)) / np.sqrt(var)
        assert got.n_pairs == nn, name
        assert abs(got.w_plus - w_plus) < 1e-9, name
        assert abs(got.z - z) < 1e-12, name
        if expect_reject:
            assert got.p_value < 1e-6
        else:
            assert got.p_value > 0.01


def test_triple_barrier_and_frac_diff(spark):
    """Triple-barrier: monotone up-path labels +1, down-path -1, flat
    path 0 with the timeout return; trailing incomplete events abstain.
    Frac-diff: d=1 reduces to the first difference; d=0.4 output
    matches a numpy dot-product replay."""
    import pandas as pd

    from financial_data_pipeline_spark.operators.normalize import (
        frac_diff,
        frac_diff_weights,
    )
    from financial_data_pipeline_spark.operators.splitter import (
        triple_barrier_labels,
    )

    rng = np.random.default_rng(71)
    n = 300
    noise = rng.normal(0, 0.3, n)
    up = 100 + np.arange(n) * 1.0 + noise          # strong uptrend
    dn = 100 - np.arange(n) * 0.5 + noise * 0.1    # downtrend
    flat = 100 + noise * 0.01                      # inside barriers
    rows = []
    for sym, px in (("up", up), ("dn", dn), ("flat", flat)):
        rows += [(sym, i, float(px[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "symbol string, timestamp long, close double")
    out = (
        triple_barrier_labels(df, horizon=24, vol_window=60)
        .orderBy("symbol", "timestamp")
        .toPandas()
    )
    mid = out[(out.timestamp > 80) & (out.timestamp < 200)]
    assert (mid[mid.symbol == "up"].tb_label == 1).all()
    assert (mid[mid.symbol == "dn"].tb_label == -1).all()
    # barriers scale with each series' OWN vol, so "flat" still trips
    # them at 2 sigma; the timeout branch needs wide barriers
    wide = (
        triple_barrier_labels(
            df, horizon=24, vol_window=60, up_mult=50.0, down_mult=50.0
        )
        .orderBy("symbol", "timestamp")
        .toPandas()
    )
    flat_mid = wide[
        (wide.symbol == "flat") & (wide.timestamp > 80) & (wide.timestamp < 200)
    ]
    assert (flat_mid.tb_label == 0).all()
    assert flat_mid.tb_timeout_return.notna().all()
    # last `horizon` rows abstain (incomplete forward path)
    tail = out[out.symbol == "up"].tail(24)
    assert tail.tb_label.isna().all()

    # frac diff d=1 == first difference
    pdf = pd.DataFrame({"symbol": "x", "timestamp": range(n), "v": up})
    sdf = spark.createDataFrame(pdf)
    d1 = (
        sdf.select("timestamp", frac_diff("v", d=1.0, threshold=0.5).alias("fd"))
        .orderBy("timestamp")
        .toPandas()
    )
    want = pd.Series(up).diff()
    assert np.allclose(
        d1.fd.values[1:], want.values[1:], rtol=1e-12, equal_nan=True
    )
    # d=0.4 matches numpy dot product of the same truncated weights
    w = np.array(frac_diff_weights(0.4, 5e-3))
    d04 = (
        sdf.select("timestamp", frac_diff("v", d=0.4, threshold=5e-3).alias("fd"))
        .orderBy("timestamp")
        .toPandas()
    )
    k = len(w)
    for t in (k - 1, 100, n - 1):
        want_v = float(np.dot(w, up[t - k + 1 : t + 1][::-1]))
        assert abs(d04.fd[t] - want_v) < 1e-9


def test_hist_chi2_drift_accepts_null_and_rejects_shift(spark, ohlcv_df):
    """Chi-square drift gate: identical distributions give chi2 ~ 0
    with p ~ 1; a mean shift rejects at any sane alpha; dof counts the
    occupied bins minus one; scipy-free Wilson-Hilferty p matches a
    reference chi2 survival to ~1e-3."""
    import math

    from financial_data_pipeline_spark.operators.drift import hist_chi2_drift

    base = ohlcv_df.filter("symbol = 'BTCUSDT'")
    same = hist_chi2_drift(base, base, "close", bins=10).first()
    assert same["chi2"] < 1e-9 and same["p_value"] > 0.999
    assert same["dof"] <= 9
    shifted = base.withColumn("close", F.col("close") + 1500.0)
    moved = hist_chi2_drift(base, shifted, "close", bins=10).first()
    assert moved["p_value"] < 0.001 and moved["chi2"] > 50.0

    # Wilson-Hilferty accuracy spot check at dof=9 against the exact
    # odd-dof chi2 survival (computed via the regularized gamma series)
    def chi2_sf_exact(x, k):
        # series for lower incomplete gamma P(k/2, x/2)
        a, half = k / 2.0, x / 2.0
        term = math.exp(-half + a * math.log(half) - math.lgamma(a + 1))
        s, j = term, 0
        while term > 1e-16 and j < 10000:
            j += 1
            term *= half / (a + j)
            s += term
        return 1.0 - s

    small = hist_chi2_drift(
        base, base.withColumn("close", F.col("close") + 30.0), "close"
    ).first()
    exact = chi2_sf_exact(small["chi2"], small["dof"])
    assert abs(small["p_value"] - exact) < 2e-3


def test_drift_degenerate_inputs_yield_null_not_nan(spark):
    """Guard rails on the drift family: a single-bin distribution
    (dof 0) or an empty comparison side must emit a NULL p_value —
    never NaN (NaN passes least/greatest clamps and poisons alert
    comparisons) and never a divide-by-zero; and null feature values
    count in the side totals but not in any bin (a null is missing
    data, not lowest-bin mass)."""
    import pyspark.sql.functions as F

    from financial_data_pipeline_spark.operators.drift import (
        hist_chi2_drift,
        psi_features,
    )

    const = spark.range(50).select(F.lit(3.0).alias("x"))
    row = hist_chi2_drift(const, const, "x").first()
    assert row["dof"] == 0 and row["p_value"] is None

    empty = spark.createDataFrame([], "x double")
    varied = spark.range(100).select((F.col("id") % 10).cast("double").alias("x"))
    row2 = hist_chi2_drift(varied, empty, "x").first()
    assert row2["n_new"] == 0 and row2["p_value"] is None
    assert row2["chi2"] == row2["chi2"]  # finite, not NaN

    with_null = varied.unionByName(
        spark.createDataFrame([(None,), (None,)], "x double")
    )
    r = psi_features(with_null, varied, ["x"]).first()
    assert r["n_ref"] == 102  # totals count every row (oracle count(*))
    same = psi_features(varied, varied, ["x"]).first()
    assert abs(r["psi"] - same["psi"]) < 0.05  # nulls don't fake drift mass


def test_pacf_recovers_ar1_structure(spark):
    """On an AR(1) price path, PACF lag 1 ~ phi while lags 2-3 are
    ~0 (inside +-3/sqrt(n)) — the cutoff property that makes PACF the
    AR-order pick; also numpy parity for the rho estimates."""
    import numpy as np

    from financial_data_pipeline_spark.operators.indicators import pacf

    rng = np.random.default_rng(11)
    n, phi = 4000, 0.6
    r = np.zeros(n)
    for t in range(1, n):
        r[t] = phi * r[t - 1] + rng.normal(0, 0.01)
    close = 100.0 * np.exp(np.cumsum(r))
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "symbol": "A",
            "timestamp": pd.date_range("2024-01-01", periods=n, freq="h"),
            "close": close,
        }
    )
    out = pacf(spark.createDataFrame(pdf)).first()
    band = 3.0 / np.sqrt(n)
    assert abs(out["pacf_1"] - phi) < 5 * band
    assert abs(out["pacf_2"]) < band and abs(out["pacf_3"]) < band
    # numpy parity on rho1 (same biased pairwise-about-full-mean form)
    rr = np.diff(np.log(close))
    mu = rr.mean()
    c0 = ((rr - mu) ** 2).sum()
    c1 = ((rr[1:] - mu) * (rr[:-1] - mu)).sum()
    assert abs(out["acf_1"] - c1 / c0) < 1e-9


def test_information_coefficient_detects_perfect_signal(spark):
    """A signal equal to the forward return ranks identically ->
    IC = 1 every day, huge t-stat; an anti-signal gives IC = -1."""
    import numpy as np
    import pandas as pd

    from financial_data_pipeline_spark.operators.indicators import (
        information_coefficient,
    )

    rng = np.random.default_rng(5)
    n = 24 * 10
    close = 100.0 * np.exp(np.cumsum(rng.normal(0, 0.01, n)))
    fwd = np.append(np.diff(np.log(close)), np.nan)
    pdf = pd.DataFrame(
        {
            "symbol": "A",
            "timestamp": pd.date_range("2024-01-01", periods=n, freq="h"),
            "close": close,
            "volume": fwd,  # the "signal" IS the future return
        }
    ).dropna()
    out = information_coefficient(spark.createDataFrame(pdf)).first()
    assert out["mean_ic"] > 0.999 and out["n_days"] >= 9
    anti = pdf.assign(volume=-pdf.volume)
    out2 = information_coefficient(spark.createDataFrame(anti)).first()
    assert out2["mean_ic"] < -0.999


def test_bh_fdr_matches_reference_stepup(spark):
    """BH step-up on a crafted p battery vs the textbook procedure:
    adjusted p's, ranks, and the discovery cut all agree; an all-null
    battery yields zero discoveries."""
    import numpy as np
    import pandas as pd

    from financial_data_pipeline_spark.operators.stats import bh_fdr

    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205, 0.212, 0.216]
    pdf = pd.DataFrame({"hyp": [f"h{i}" for i in range(len(ps))], "p": ps})
    out = (
        bh_fdr(spark.createDataFrame(pdf), p_col="p", q=0.05, tie_cols=["hyp"])
        .orderBy("bh_rank")
        .toPandas()
    )
    m = len(ps)
    raw = np.minimum(1.0, np.array(ps) * m / (np.arange(m) + 1))
    want_adj = np.minimum.accumulate(raw[::-1])[::-1]
    assert np.allclose(out.p_adj.to_numpy(), want_adj, atol=1e-12)
    # classic example: k* = 5 at q=0.05 (p_(5)=0.042 <= 0.025? no —
    # recompute: largest i with p_i <= 0.005*i)
    thresh = 0.05 * (np.arange(m) + 1) / m
    passes = np.where(np.array(ps) <= thresh)[0]
    kstar = passes.max() + 1 if len(passes) else 0
    want_disc = (np.arange(m) + 1) <= kstar
    assert (out.discovery.to_numpy() == want_disc).all()
    # no-discovery battery: every p above its threshold
    quiet = pd.DataFrame(
        {"hyp": ["a", "b", "c"], "p": [0.5, 0.7, 0.9]}
    )
    out2 = bh_fdr(spark.createDataFrame(quiet), p_col="p", q=0.05,
                  tie_cols=["hyp"]).toPandas()
    assert not out2.discovery.any()


def test_theil_sen_robust_to_outliers(spark):
    """Sen's slope recovers a planted trend despite corrupted days
    (where OLS would be dragged), and Mann-Kendall calls the trend."""
    import numpy as np
    import pandas as pd

    from financial_data_pipeline_spark.operators.indicators import (
        theil_sen_mann_kendall,
    )

    rng = np.random.default_rng(73)
    n = 30
    x = 100.0 + 0.8 * np.arange(n) + rng.normal(0, 0.3, n)
    x[[5, 17]] += 40.0  # gross outliers
    pdf = pd.DataFrame(
        {
            "symbol": "A",
            "day": pd.date_range("2024-01-01", periods=n),
            "close": x,
        }
    )
    out = theil_sen_mann_kendall(
        spark.createDataFrame(pdf), col="close", ts="day"
    ).toPandas()
    row = out.iloc[0]
    # numpy replay of the median pairwise slope
    i, j = np.triu_indices(n, k=1)
    slopes = (x[j] - x[i]) / (j - i)
    assert abs(row.sen_slope - np.median(slopes)) < 1e-10
    assert abs(row.sen_slope - 0.8) < 0.1  # outliers didn't drag it
    assert row.trend == "up" and row.mk_z > 1.96
    # reversed series trends down
    pdf2 = pdf.assign(close=x[::-1])
    out2 = theil_sen_mann_kendall(
        spark.createDataFrame(pdf2), col="close", ts="day"
    ).toPandas()
    assert out2.iloc[0].trend == "down"


def test_ses_eval_matches_pandas_and_beats_naive_on_reversion(spark):
    """SES state replays pandas ewm(alpha, adjust=False); on a
    mean-reverting series the smoothed forecast beats the random-walk
    naive (MASE < 1)."""
    import numpy as np
    import pandas as pd

    from financial_data_pipeline_spark.operators.indicators import ses_eval

    rng = np.random.default_rng(79)
    n = 120
    x = 100.0 + rng.normal(0, 1.0, n)  # iid around a level
    pdf = pd.DataFrame(
        {
            "symbol": "A",
            "day": pd.date_range("2024-01-01", periods=n),
            "close": x,
        }
    )
    out = ses_eval(spark.createDataFrame(pdf), alpha=0.3, ts="day").toPandas()
    row = out.iloc[0]
    s = pd.Series(x).ewm(alpha=0.3, adjust=False).mean()
    err = x[1:] - s.to_numpy()[:-1]
    nerr = np.diff(x)
    assert row.n_eval == n - 1
    assert abs(row.mae - np.abs(err).mean()) < 1e-10
    assert abs(row.rmse - np.sqrt((err**2).mean())) < 1e-10
    assert abs(row.mase - np.abs(err).mean() / np.abs(nerr).mean()) < 1e-10
    assert row.mase < 1.0
