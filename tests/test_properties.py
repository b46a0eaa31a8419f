"""Property-based invariants (hypothesis) + skew utilities.

The reference's tests assert properties, not golden files
(SURVEY.md §5.1); these push the same invariants over generated inputs:
resample OHLC algebra, volume conservation, normalize round-trip,
dedup determinism, salted-join equivalence.
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    # a fixed example sequence per test, so every run draws the same
    # inputs (found failures stay pinned below as @example)
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _frame(spark, values, n_sym=2):
    n = len(values)
    pdf = pd.DataFrame(
        {
            "timestamp": pd.to_datetime(
                [pd.Timestamp("2025-01-01") + pd.Timedelta(minutes=7 * i) for i in range(n)]
            ),
            "symbol": [f"S{i % n_sym}" for i in range(n)],
            # per-row OHLC-consistent: low ≤ open, close ≤ high
            "open": values,
            "high": [v + 1.0 for v in values],
            "low": [v - 1.0 for v in values],
            "close": [v + 0.5 for v in values],
            "volume": [abs(v) + 0.5 for v in values],
        }
    )
    return spark.createDataFrame(pdf)


values_st = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
    min_size=4,
    max_size=40,
)


@settings(**SETTINGS)
@given(values=values_st)
def test_resample_ohlc_algebra_and_volume_conservation(spark, values):
    from financial_data_pipeline_spark.operators.resample import resample_ohlcv

    df = _frame(spark, values)
    out = resample_ohlcv(df, "1h", fill_gaps=False).toPandas()
    # bucket high is the max of everything in the bucket; low the min
    assert (out["high"] >= out[["open", "close", "low"]].max(axis=1) - 1e-9).all()
    assert (out["low"] <= out[["open", "close", "high"]].min(axis=1) + 1e-9).all()
    # volume is conserved exactly across re-bucketing
    assert out["volume"].sum() == pytest.approx(
        sum(abs(v) + 0.5 for v in values), rel=1e-12
    )
    # gap-filling only ADDS buckets, never changes aggregated ones
    filled = resample_ohlcv(df, "1h", fill_gaps=True).toPandas()
    assert len(filled) >= len(out)
    assert filled["volume"].sum() == pytest.approx(out["volume"].sum(), rel=1e-12)


@settings(**SETTINGS)
@given(
    values=st.lists(
        st.floats(min_value=0.125, max_value=1e5, allow_nan=False, width=32),
        min_size=5,
        max_size=30,
    ),
    method=st.sampled_from(["zscore", "minmax", "log"]),
)
def test_normalize_round_trip(spark, values, method):
    from financial_data_pipeline_spark.operators.normalize import (
        denormalize,
        fit_scalers,
        normalize,
    )

    if len(set(values)) < 3:
        return  # degenerate: zero variance/range makes the inverse undefined
    df = _frame(spark, values, n_sym=1)
    scalers = fit_scalers(df, ["close"], method)
    normed = normalize(df, ["close"], method, scalers=scalers)
    back = denormalize(normed, ["close"], scalers, method).toPandas()
    orig = df.toPandas()
    merged = orig.merge(back, on="timestamp", suffixes=("", "_rt"))
    np.testing.assert_allclose(
        merged["close_rt"], merged["close"], rtol=1e-7, atol=1e-9
    )


@settings(**SETTINGS)
@given(values=values_st, dup_every=st.integers(min_value=2, max_value=5))
def test_dedup_keep_first_deterministic(spark, values, dup_every):
    from financial_data_pipeline_spark.operators.cleaning import dedup_keep_first

    df = _frame(spark, values)
    dup = df.union(df.limit(len(values) // dup_every))
    out = dedup_keep_first(dup, keys=["symbol", "timestamp"], order_by=["timestamp"])
    # exactly one row per key, and rows are a subset of the input
    assert out.count() == df.select("symbol", "timestamp").distinct().count()
    assert out.exceptAll(df).count() == 0
    # running twice yields the identical result (determinism, P10)
    again = dedup_keep_first(dup, keys=["symbol", "timestamp"], order_by=["timestamp"])
    assert out.exceptAll(again).count() == 0


def test_salted_join_matches_plain_join(spark):
    from financial_data_pipeline_spark.operators.scale import salted_join

    # skewed fact: 90% of rows share one key
    fact = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    plain = fact.join(dim, on=["k"]).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("v") + F.col("w")).alias("s")
    )
    salted = salted_join(fact, dim, on=["k"], buckets=8).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("v") + F.col("w")).alias("s")
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_bucketed_write_removes_exchange(spark, tmp_path):
    from financial_data_pipeline_spark.operators.scale import bucketed_write

    df = spark.range(1000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v")
    )
    spark.sql("DROP TABLE IF EXISTS bt")
    bucketed_write(df, "bt", ["k"], num_buckets=8, path=str(tmp_path / "bt"))
    agg = spark.table("bt").groupBy("k").agg(F.sum("v").alias("s"))
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # bucketing pre-shuffled
    assert agg.count() == 50


# ---------------------------------------------------------------------------
# As-of join ≡ pandas merge_asof on arbitrary inputs
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(
    l_offsets=st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=25),
    r_offsets=st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=25),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
)
def test_asof_join_matches_pandas_merge_asof(spark, l_offsets, r_offsets, direction):
    from financial_data_pipeline_spark.operators.asof import asof_join

    base = pd.Timestamp("2025-01-01")
    lp = pd.DataFrame(
        {
            "symbol": [f"S{i % 2}" for i in range(len(l_offsets))],
            "timestamp": [base + pd.Timedelta(seconds=o) for o in l_offsets],
            "left_id": range(len(l_offsets)),
        }
    )
    # right side must be unique per (symbol, ts) for determinism
    rp = pd.DataFrame(
        {
            "symbol": [f"S{i % 2}" for i in range(len(r_offsets))],
            "timestamp": [base + pd.Timedelta(seconds=o) for o in r_offsets],
        }
    ).drop_duplicates(["symbol", "timestamp"])
    rp["px"] = rp["timestamp"].astype("int64").astype("float64") % 1e6

    got = (
        asof_join(
            spark.createDataFrame(lp),
            spark.createDataFrame(rp),
            on="timestamp",
            by="symbol",
            direction=direction,
        )
        .toPandas()
        .sort_values(["symbol", "timestamp", "left_id"])
        .reset_index(drop=True)
    )
    exp = (
        pd.merge_asof(
            lp.sort_values("timestamp", kind="stable"),
            rp.sort_values("timestamp", kind="stable"),
            on="timestamp",
            by="symbol",
            direction=direction,
        )
        .sort_values(["symbol", "timestamp", "left_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[exp.columns.tolist()], exp, check_dtype=False)


# ---------------------------------------------------------------------------
# SCD2 merge vs a sequential python reference
# ---------------------------------------------------------------------------


def _scd2_reference(snapshots, t0, times):
    """Oracle model: dict key -> list of [value, valid_from, valid_to,
    is_current], applying each snapshot sequentially."""
    state: dict[int, list] = {}
    for k, v in snapshots[0].items():
        state[k] = [[v, t0, None, True]]
    for snap, ts in zip(snapshots[1:], times):
        for k, v in snap.items():
            if k not in state:
                state[k] = [[v, ts, None, True]]
            else:
                cur = state[k][-1]
                if cur[0] != v:
                    cur[2], cur[3] = ts, False
                    state[k].append([v, ts, None, True])
    return state


@settings(**SETTINGS)
@given(
    snaps=st.lists(
        st.dictionaries(
            st.integers(min_value=1, max_value=6),
            st.sampled_from(["A", "B", "C"]),
            min_size=1,
            max_size=6,
        ),
        min_size=2,
        max_size=4,
    )
)
def test_scd2_merge_matches_sequential_reference(spark, snaps):
    import datetime as dt

    from financial_data_pipeline_spark.operators.scd import (
        scd2_init,
        scd2_merge,
    )

    t0 = dt.datetime(2025, 1, 1)
    times = [t0 + dt.timedelta(days=i + 1) for i in range(len(snaps) - 1)]

    cur = scd2_init(
        spark.createDataFrame(
            sorted(snaps[0].items()), ["k", "v"]
        ),
        t0,
    )
    for snap, ts in zip(snaps[1:], times):
        upd = spark.createDataFrame(sorted(snap.items()), ["k", "v"])
        cur = scd2_merge(cur, upd, ["k"], ["v"], ts)

    got = {
        (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in cur.collect()
    }
    ref_state = _scd2_reference(snaps, t0, times)
    want = {
        (k, v, vf, vt, cur_flag)
        for k, rows in ref_state.items()
        for v, vf, vt, cur_flag in rows
    }
    assert got == want


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=1400,
        ),
        min_size=1,
        max_size=8,
    ),
    size=st.integers(min_value=8, max_value=600),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
def test_chunking_covers_every_position(spark, texts, size, overlap_frac):
    """Chunk invariants over generated docs and window geometries:
    full coverage (concatenating chunks at their offsets rebuilds the
    text), consecutive-chunk overlap, and the size bound."""
    from financial_data_pipeline_spark.operators.curation import (
        chunk_documents,
    )

    overlap = int(size * overlap_frac)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    chunks = chunk_documents(df, size=size, overlap=overlap).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        if not t:
            assert i not in by_doc  # empty docs produce no chunks
            continue
        rows = sorted(by_doc[i], key=lambda r: r["chunk_off"])
        stride = size - overlap
        # offsets are the exact arithmetic progression
        assert [r["chunk_off"] for r in rows] == list(
            range(0, max(len(t) - overlap, 1), stride)
        )
        rebuilt = {}
        for r in rows:
            assert 1 <= r["chunk_len"] <= size
            assert r["chunk_text"] == t[r["chunk_off"]:r["chunk_off"] + size]
            for pos in range(r["chunk_off"], r["chunk_off"] + r["chunk_len"]):
                rebuilt[pos] = t[pos]
        assert len(rebuilt) == len(t)  # every position covered


@settings(**SETTINGS)
@given(
    point_mins=st.lists(
        st.integers(min_value=0, max_value=5000), min_size=1, max_size=60
    ),
    spans=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5000),
            st.integers(min_value=0, max_value=500),
        ),
        min_size=1,
        max_size=10,
    ),
    bucket_min=st.sampled_from([7, 60, 1440]),
)
def test_interval_join_equals_theta_join_property(
    spark, point_mins, spans, bucket_min
):
    """Bucketized range join == naive theta join for arbitrary point
    sets, interval sets (any overlap pattern), and bucket quanta."""
    import datetime as dt

    from financial_data_pipeline_spark.operators.rangejoin import (
        interval_join,
    )

    t0 = dt.datetime(2025, 1, 1)
    points = spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=m)) for i, m in enumerate(point_mins)],
        ["pid", "ts"],
    )
    intervals = spark.createDataFrame(
        [
            (j, t0 + dt.timedelta(minutes=s), t0 + dt.timedelta(minutes=s + d))
            for j, (s, d) in enumerate(spans)
        ],
        ["iid", "w_start", "w_end"],
    )
    got = {
        (r.pid, r.iid)
        for r in interval_join(
            points, intervals, "ts", "w_start", "w_end",
            bucket_seconds=bucket_min * 60,
        ).collect()
    }
    want = {
        (r.pid, r.iid)
        for r in points.crossJoin(intervals)
        .filter(
            (F.col("ts") >= F.col("w_start")) & (F.col("ts") <= F.col("w_end"))
        )
        .collect()
    }
    assert got == want


@settings(**SETTINGS)
@given(
    values=st.lists(
        st.one_of(
            st.none(),
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        ),
        min_size=2,
        max_size=40,
    )
)
def test_interpolate_linear_invariants(spark, values):
    """Interpolation invariants for arbitrary null patterns: known
    values untouched, all nulls filled iff any value is known, interior
    fills bounded by their bracketing knowns."""
    import datetime as dt

    from financial_data_pipeline_spark.operators.cleaning import (
        interpolate_linear,
    )

    t0 = dt.datetime(2025, 2, 1)
    rows = [
        ("A", t0 + dt.timedelta(minutes=i), None if v is None else float(v))
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows, "symbol string, timestamp timestamp, close double"
    )
    out = (
        interpolate_linear(df, cols=["close"])
        .orderBy("timestamp")
        .toPandas()["close"]
        .tolist()
    )
    def isnull(x):
        return x is None or (isinstance(x, float) and np.isnan(x))

    known = [(i, v) for i, v in enumerate(values) if v is not None]
    if not known:
        assert all(isnull(v) for v in out)
        return
    assert not any(isnull(v) for v in out)
    for i, v in known:
        assert out[i] == pytest.approx(float(v), rel=1e-9, abs=1e-9)
    for i, v in enumerate(values):
        if v is not None:
            continue
        before = [kv for kv in known if kv[0] < i]
        after = [kv for kv in known if kv[0] > i]
        if before and after:
            lo = min(before[-1][1], after[0][1])
            hi = max(before[-1][1], after[0][1])
            assert lo - 1e-6 <= out[i] <= hi + 1e-6
        elif before:
            assert out[i] == pytest.approx(float(before[-1][1]), rel=1e-9, abs=1e-9)
        else:
            assert out[i] == pytest.approx(float(after[0][1]), rel=1e-9, abs=1e-9)


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(
                ["shared one", "shared two", "uniq", "", "  ", "tail line"]
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_line_dedup_invariants(spark, docs):
    """For arbitrary line layouts: every surviving non-blank line value
    appears EXACTLY once corpus-wide (at its globally-first position),
    blank lines survive verbatim, per-doc line order is preserved, and
    output lines are a subsequence of the input's."""
    from financial_data_pipeline_spark.operators.dedup import line_dedup

    texts = ["\n".join(lines) for lines in docs]
    # make per-doc 'uniq' lines actually unique so they must all survive
    texts = [
        t.replace("uniq", f"uniq{i}") for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {r.doc_id: r.text for r in line_dedup(df).collect()}
    assert set(got) == set(range(len(texts)))

    # sequential reference model: first occurrence (by doc, then line
    # position) wins; blank lines always survive
    seen: set[str] = set()
    for i, t in enumerate(texts):
        kept = []
        for line in t.split("\n"):
            if line.strip() == "":
                kept.append(line)
            elif line not in seen:
                seen.add(line)
                kept.append(line)
        assert got[i] == "\n".join(kept), f"doc {i}"


def test_zorder_layout_prunes_on_both_columns(spark, tmp_path):
    """Z-ordered files each cover a narrow range of EVERY z-column, so
    parquet min/max stats skip most files for a point filter on either
    column; a (a, b) lexicographic sort only achieves that for ``a``."""
    from financial_data_pipeline_spark.operators import scale
    from financial_data_pipeline_spark.sources.adapters import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    n_files = 16
    zpath = str(tmp_path / "zorder")
    scale.zorder_write(li, zpath, ["l_partkey", "l_suppkey"], num_files=n_files)

    lexpath = str(tmp_path / "lex")
    li.repartitionByRange(n_files, "l_partkey", "l_suppkey").sortWithinPartitions(
        "l_partkey", "l_suppkey"
    ).write.mode("overwrite").parquet(lexpath)

    import glob

    import pyarrow.parquet as pq

    def containing_fraction(path, col, values):
        files = sorted(glob.glob(f"{path}/part-*.parquet"))
        assert len(files) >= n_files // 2  # range partitioner may fuse a few
        hits = 0
        for v in values:
            for f in files:
                md = pq.ParquetFile(f).metadata
                rg0 = md.row_group(0)
                idx = [
                    rg0.column(i).path_in_schema
                    for i in range(rg0.num_columns)
                ].index(col)
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st.min <= v <= st.max:
                        hits += 1
                        break
        return hits / (len(values) * len(files))

    part_probes = [10, 50, 100, 150, 199]  # l_partkey spans 0..199
    supp_probes = [1, 3, 5, 7, 9]  # l_suppkey spans 0..9
    # partkey prunes under BOTH layouts (it leads the lex sort)
    z_part = containing_fraction(zpath, "l_partkey", part_probes)
    lex_part = containing_fraction(lexpath, "l_partkey", part_probes)
    assert z_part < 0.75 and lex_part < 0.5
    # suppkey prunes ONLY under the z-order layout: the lex sort leaves
    # every file spanning ~the full suppkey range
    z_supp = containing_fraction(zpath, "l_suppkey", supp_probes)
    lex_supp = containing_fraction(lexpath, "l_suppkey", supp_probes)
    assert lex_supp > 0.9
    assert z_supp < 0.75
    assert z_supp < lex_supp - 0.2


@settings(deadline=None, max_examples=15)
@given(
    st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
                min_size=1,
                max_size=6,
            ),
            st.booleans(),
        ),
        min_size=2,
        max_size=12,
    ).filter(
        lambda rows: any(y for _, y in rows) and any(not y for _, y in rows)
    )
)
def test_nb_class_scores_matches_pure_python_reference(spark, rows):
    """Differential: the one-pass Spark NB scorer equals a direct
    Python computation of the Laplace-smoothed multinomial log-odds on
    arbitrary tiny corpora (both classes nonempty by construction)."""
    import math
    from collections import Counter

    from financial_data_pipeline_spark.operators.text import nb_class_scores

    docs = [(i, " ".join(toks), y) for i, (toks, y) in enumerate(rows)]
    df = spark.createDataFrame(docs, ["doc_id", "text", "y"])
    got = {
        r.doc_id: (r.n_tokens, r.avg_log_odds)
        for r in nb_class_scores(df, F.col("y")).collect()
    }

    cpos, cneg = Counter(), Counter()
    for _, text, y in docs:
        (cpos if y else cneg).update(text.split())
    vocab = set(cpos) | set(cneg)
    tpos, tneg, v = sum(cpos.values()), sum(cneg.values()), len(vocab)

    def w(tok):
        return math.log((cpos[tok] + 1) / (tpos + v)) - math.log(
            (cneg[tok] + 1) / (tneg + v)
        )

    for i, text, _ in docs:
        toks = text.split()
        exp = sum(w(t) for t in toks) / len(toks)
        n, score = got[i]
        assert n == len(toks)
        assert abs(score - round(exp, 4)) <= 1e-4


def test_runtime_bloom_filter_injected(spark):
    """Scale contract: a selective dim-side filter on a SHUFFLE join
    injects a Bloom semi-join filter (`might_contain`) onto the fact
    scan, killing non-matching rows before the exchange. Gated in prod
    by a 10 GB fact-scan threshold; lowered to 0 here to observe the
    plan. Result equality vs the unfiltered plan is asserted too."""
    from financial_data_pipeline_spark.operators import scale
    from financial_data_pipeline_spark.sources.adapters import load_table

    sf = "/root/testdata/sf0.001"
    before = {
        "bcast": spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "gate": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        scale.enable_runtime_bloom_filters(
            spark, application_side_scan_threshold="0"
        )
        o = load_table(spark, sf, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized
        with_bloom = j.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before["bcast"])
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            before["gate"],
        )
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf, "lineitem")
    plain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(map(tuple, with_bloom)) == sorted(map(tuple, plain))


def test_aqe_splits_planted_skew_join(spark):
    """Scale contract: AQE splits a skewed shuffle-join partition at
    runtime (`skew=true` in the final plan) — the built-in defense
    `scale.salted_join` complements when the small side can't
    replicate. Thresholds lowered to observe at fixture scale; result
    equality is asserted against the exact expected match count."""
    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    before = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        left = (
            spark.range(200_000)
            .withColumn(
                "k",
                F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id")),
            )
            .withColumn(
                "payload",
                F.concat(F.lit("x" * 64), F.col("id").cast("string")),
            )
        )
        right = (
            spark.range(10_000)
            .withColumnRenamed("id", "k")
            .withColumn("v", F.col("k") * 2)
        )
        j = left.join(right, on="k").groupBy().agg(
            F.count(F.lit(1)).alias("n")
        )
        # 190,000 rows on hot key 0 + 500 distinct keys (id%20==0 < 10k)
        assert j.collect()[0].n == 190_500
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


@settings(**SETTINGS)
@given(
    ref_vals=st.lists(
        st.one_of(
            st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, width=32),
            st.none(),
        ),
        min_size=2,
        max_size=40,
    ),
    new_vals=st.lists(
        st.one_of(
            st.floats(min_value=-2e4, max_value=2e4, allow_nan=False, width=32),
            st.none(),
        ),
        min_size=0,
        max_size=40,
    ),
)
# a reference range one float32 subnormal wide: the bin quotient of 1.0
# saturates floor() at Long.MaxValue, which an int cast before the
# clamp wrapped to -1 (bin 0 instead of bin 9)
@example(ref_vals=[0.0, 2.0**-149], new_vals=[0.0, 1.0])
def test_hist_compact_psi_matches_bruteforce(spark, ref_vals, new_vals):
    """The compact drift histogram (map of occupied bins + sequence
    fold) must agree with a brute-force Python replay of the PSI
    contract on arbitrary inputs: reference-range equal-width bins,
    edge clamping, +0.5 smoothing, nulls counted in totals but never
    binned, the whole sum folded in dense bin order."""
    import math

    from financial_data_pipeline_spark.operators.drift import psi_features

    bins = 10
    ref = spark.createDataFrame([(v,) for v in ref_vals], "x double")
    new = spark.createDataFrame(
        [(v,) for v in new_vals], "x double"
    )
    row = psi_features(ref, new, ["x"], bins=bins).first()

    # brute force
    rv = [v for v in ref_vals if v is not None]
    nv = [v for v in new_vals if v is not None]
    lo, hi = (min(rv), max(rv)) if rv else (None, None)
    counts = {0: [0] * bins, 1: [0] * bins}
    for side, vals in ((0, rv), (1, nv)):
        for v in vals:
            if lo is None:
                continue
            width = (hi - lo) / bins
            if width == 0:
                b = 0  # (v-lo)/0 is NaN/inf; clamp path pins to 0 or 9
                b = min(bins - 1, max(0, b))
            else:
                b = min(bins - 1, max(0, int(math.floor((v - lo) / width))))
            counts[side][b] += 1
    t_ref, t_new = len(ref_vals), len(new_vals)
    assert row["n_ref"] == t_ref and row["n_new"] == t_new
    psi = 0.0
    for b in range(bins):
        p = (counts[0][b] + 0.5) / (t_ref + 0.5 * bins)
        q = (counts[1][b] + 0.5) / (t_new + 0.5 * bins)
        psi += (p - q) * math.log(p / q)
    if rv and min(rv) < max(rv):
        assert row["psi"] == pytest.approx(psi, rel=1e-9, abs=1e-12)
    # identical sides => zero drift, always
    same = psi_features(ref, ref, ["x"], bins=bins).first()
    assert abs(same["psi"]) < 1e-12
