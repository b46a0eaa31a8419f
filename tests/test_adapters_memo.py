"""Adapters after the r10 construction-cost work: the SQL-text form of
``events_as_ohlcv`` must resolve to the SAME plan as the Column-API
form it replaced, and the loaded-relation memo must be metadata-only
(same object per (session, file-stat) key, invalidated by a rewrite,
never substituting stale data)."""

import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from financial_data_pipeline_spark.sources.adapters import (  # noqa: E402
    events_as_ohlcv,
    load_table,
)

SF = "/root/testdata/sf0.001"


def _column_api_bars(spark, sf_dir, timeframe_minutes=60):
    """The pre-r10 Column-API construction, kept verbatim as the
    semantic reference for the F.expr rewrite."""
    ev = load_table(spark, sf_dir, "events")
    secs = timeframe_minutes * 60
    bucket_us = F.floor(F.unix_micros("ts") / F.lit(secs * 1_000_000)) * F.lit(
        secs * 1_000_000
    )
    bucket = F.timestamp_micros(bucket_us)
    order_key = (F.unix_micros("ts") - bucket_us) * F.lit(1024 * 1024) + F.col(
        "event_id"
    )
    return (
        ev.groupBy(F.col("event_type").alias("symbol"), bucket.alias("timestamp"))
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.sum("value").alias("volume"),
        )
    )


def test_events_as_ohlcv_expr_semantics(spark):
    new = events_as_ohlcv(spark, SF)
    old = _column_api_bars(spark, SF)
    # sameSemantics == identical canonicalized analyzed plans: the SQL
    # text parses to the exact expressions the Column API built.
    assert new.sameSemantics(old)
    assert new.schema == old.schema


def test_load_table_memo_shares_relation_and_invalidates_on_rewrite(
    spark, tmp_path
):
    # same (session, path, stat) -> the very same DataFrame object
    assert load_table(spark, SF, "events") is load_table(spark, SF, "events")
    # a rewritten file (different stat) must re-resolve, not serve the
    # old relation
    p = tmp_path / "t"
    p.mkdir()
    shutil.copy(f"{SF}/nation.parquet", p / "x.parquet")
    df1 = load_table(spark, str(p), "x")
    n1 = df1.count()
    shutil.copy(f"{SF}/region.parquet", p / "x.parquet")
    df2 = load_table(spark, str(p), "x")
    assert df2 is not df1
    assert set(df2.columns) != set(df1.columns) or df2.count() != n1


def test_load_table_memo_is_metadata_only(spark):
    # nothing lands in the SQL cache manager, and two consumers build
    # independent downstream plans over the shared relation
    spark.catalog.clearCache()
    base = load_table(spark, SF, "events")
    a = base.groupBy("event_type").count()
    b = base.agg(F.max("value"))
    assert a.count() > 0 and b.first() is not None
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture(scope="module")
def spark():
    from financial_data_pipeline_spark import get_spark

    s = get_spark(shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    return s


def test_lake_file_schema_memo_is_bounded(spark, tmp_path):
    """The lake's file-schema memo forgets the files snapshot expiry
    deletes, and clear_table_memo() empties it."""
    from financial_data_pipeline_spark.sources import laketable
    from financial_data_pipeline_spark.sources.adapters import clear_table_memo

    t = laketable.LakeTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.commit(spark.range(0, 10).withColumnRenamed("id", "k"))
    first = {fs.path for fs in t._load_snapshot(t.head_version()).files}
    t.commit(spark.range(10, 20).withColumnRenamed("id", "k"), mode="overwrite")
    assert first and first <= set(laketable._FILE_SCHEMA_MEMO)
    t.expire_snapshots(keep_last=1)
    assert not first & set(laketable._FILE_SCHEMA_MEMO)
    assert laketable._FILE_SCHEMA_MEMO
    clear_table_memo()
    assert not laketable._FILE_SCHEMA_MEMO
