"""Footer-stats fast path (r10): ``_collect_stats`` reads per-file
row/null counts and min/max from parquet footers — no Spark job — for
footer-exact stat column types, and MUST produce byte-identical
manifests to the Spark aggregation it replaces (range pruning compares
the stored ISO strings, so even a formatting drift mis-prunes)."""

import datetime
import time

import pytest
from pyspark.sql import functions as F

from financial_data_pipeline_spark.sources.laketable import (
    LakeTable,
    _collect_stats,
    _footer_stats,
)


def _canon(stats_list):
    return sorted(
        (fs.path, fs.rows, sorted(fs.stats.items())) for fs in stats_list
    )


def _write(spark, tmp_path, df, name):
    out = str(tmp_path / name)
    df.write.parquet(out)
    import os

    return [
        os.path.join(out, p) for p in os.listdir(out) if p.endswith(".parquet")
    ]


@pytest.fixture
def driver_tz(monkeypatch):
    """Switch the driver process timezone (TZ + tzset); restored after."""

    def set_tz(tz):
        monkeypatch.setenv("TZ", tz)
        time.tzset()

    yield set_tz
    monkeypatch.undo()
    time.tzset()


def test_footer_stats_match_spark_job(spark, tmp_path, driver_tz):
    """int + date + timestamp stat cols, nulls included, several files:
    the footer path and the Spark job must emit IDENTICAL FileStats,
    on a UTC and on a non-UTC driver (collect returns driver-local
    naive timestamps; both paths must store naive UTC)."""
    df = (
        spark.range(0, 1000)
        .select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 7 != 0, F.col("id") % 30).alias("nullable_k"),
            F.to_date(
                F.timestamp_micros(
                    (F.lit(1704067200000000) + F.col("id") * 86400000000).cast(
                        "long"
                    )
                )
            ).alias("day"),
            F.timestamp_micros(
                (F.lit(1704067200000000) + F.col("id") * 61000000).cast("long")
            ).alias("ts"),
        )
        .repartition(3)
    )
    files = _write(spark, tmp_path, df, "t1")
    cols = ["k", "nullable_k", "day", "ts"]
    for tz in ["UTC", "America/New_York"]:
        driver_tz(tz)
        fast = _footer_stats(files, cols)
        assert fast is not None, "footer path must engage for exact types"
        slow = _collect_stats(spark, files, cols, bloom_cols=["k"])
        # bloom_cols forces the Spark job; drop the bloom entry to compare
        for fs in slow:
            fs.stats.pop("__bloom_k", None)
        assert _canon(fast) == _canon(slow), tz
        # the timestamp strings must be NAIVE-UTC ISO whatever the
        # driver's zone (string-order pruning at equal boundaries
        # depends on the exact format)
        ts_min = min(dict(fs.stats)["ts"][0] for fs in fast)
        assert ts_min == "2024-01-01T00:00:00", tz


@pytest.mark.parametrize("bloom", [False, True], ids=["footer", "spark_job"])
def test_timestamp_merge_and_pruned_read_on_non_utc_driver(
    spark, tmp_path, driver_tz, bloom
):
    """Round trip on a New York driver: a pruned range read given UTC
    bounds keeps the file holding 20:00Z-22:00Z rows, and a merge on a
    key inside a file spanning the DST fall-back hour (05:50Z-06:10Z
    reads 01:50-01:10 local) rewrites that file instead of leaving a
    duplicate key."""
    driver_tz("America/New_York")
    t = LakeTable(
        spark,
        str(tmp_path / "tbl"),
        stat_cols=["ts"],
        bloom_cols=["ts"] if bloom else None,
    )

    def rows(*stamps):
        # parsed by Spark in the (UTC) session zone, not by the driver
        return spark.createDataFrame(list(stamps), "s string, v long").select(
            F.col("s").cast("timestamp").alias("ts"), "v"
        )

    # one commit per file
    for part in [
        [("2024-01-01 02:00:00", 1), ("2024-01-01 04:00:00", 2)],
        [("2024-01-01 20:00:00", 3), ("2024-01-01 22:00:00", 4)],
        [
            ("2024-11-03 05:50:00", 5),
            ("2024-11-03 05:55:00", 6),
            ("2024-11-03 06:10:00", 7),
        ],
    ]:
        t.commit(rows(*part).coalesce(1))
    assert len(t.pruned_files()) == 3
    lo, hi = "2024-01-01T20:00:00", "2024-01-01T23:00:00"
    assert len(t.pruned_files(pred_col="ts", lo=lo, hi=hi)) == 1
    window = t.read(pred_col="ts", lo=lo, hi=hi).filter(
        F.col("ts").between(F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp"))
    )
    assert sorted(r.v for r in window.collect()) == [3, 4]
    t.merge(rows(("2024-11-03 05:55:00", 60)), ["ts"])
    assert sorted(r.v for r in t.read().collect()) == [1, 2, 3, 4, 5, 7, 60]


def test_footer_stats_fall_back_on_strings_and_doubles(spark, tmp_path):
    """String stats may be truncated and double stats drop NaN — both
    types must refuse the footer path (the caller then runs the exact
    Spark job, pre-r10 behavior)."""
    df = spark.range(0, 10).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
        (F.col("id") * 1.5).alias("d"),
    )
    files = _write(spark, tmp_path, df, "t2")
    assert _footer_stats(files, ["s"]) is None
    assert _footer_stats(files, ["d"]) is None
    assert _footer_stats(files, ["missing_col"]) is None
    assert _footer_stats(files, ["k"]) is not None


def test_footer_stats_all_null_and_zero_row_files(spark, tmp_path):
    """All-null stat columns must record [None, None] + full null count,
    exactly like the Spark job's min/max-skip-nulls semantics."""
    df = spark.range(0, 8).select(
        F.col("id").alias("k"),
        F.lit(None).cast("int").alias("allnull"),
    )
    files = _write(spark, tmp_path, df, "t3")
    fast = _footer_stats(files, ["k", "allnull"])
    assert fast is not None
    slow = _collect_stats(spark, files, ["k", "allnull"], bloom_cols=["k"])
    for fs in slow:
        fs.stats.pop("__bloom_k", None)
    assert _canon(fast) == _canon(slow)


def test_commit_via_footer_path_prunes_identically(spark, tmp_path):
    """End-to-end: a table committed through the fast path must range-
    prune reads exactly as before (supersets stay supersets) and keep
    keyed rewrites (merge/delete) correct on boundary keys."""
    t = LakeTable(spark, str(tmp_path / "tbl"), stat_cols=["day"])
    batch = spark.range(0, 200).select(
        (F.col("id") / 100).cast("int").alias("day"),
        F.col("id").alias("value"),
    )
    t.commit(batch.repartitionByRange(2, "day"))
    pruned = t.pruned_files(pred_col="day", lo=1, hi=1)
    assert 0 < len(pruned) < len(t._load_snapshot(t.head_version()).files) + 1
    rows = t.read(pred_col="day", lo=1, hi=1).filter(F.col("day") == 1)
    assert rows.count() == 100
    # delete a boundary key through the footer-stats manifests
    t.delete(spark.createDataFrame([(1,)], "day int"), ["day"])
    assert t.read().filter(F.col("day") == 1).count() == 0
    assert t.read().count() == 100


def test_footer_scalar_normalizes_tz():
    from financial_data_pipeline_spark.sources.laketable import _footer_scalar

    aware = datetime.datetime(
        2024, 1, 1, 12, 0, 0, tzinfo=datetime.timezone.utc
    )
    assert _footer_scalar(aware) == datetime.datetime(2024, 1, 1, 12, 0, 0)
    naive = datetime.datetime(2024, 1, 1, 12, 0, 0)
    assert _footer_scalar(naive) is naive
