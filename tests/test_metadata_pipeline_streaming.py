"""Metadata store (S17/S18), E1 orchestrator, and the Structured
Streaming continuous-aggregate analog (§2.10)."""

import json

import pytest

from pyspark.sql import functions as F

from financial_data_pipeline_spark.metadata import (
    DatasetMetadata,
    MetadataStore,
    compute_metadata,
    metadata_table,
    sha256_file,
)
from financial_data_pipeline_spark.operators import cleaning
from financial_data_pipeline_spark.operators.resample import resample_ohlcv
from financial_data_pipeline_spark.plans.pipeline import (
    PipelineConfig,
    pin,
    run_pipeline,
    run_pipeline_single,
)
from financial_data_pipeline_spark.sources import synthetic
from financial_data_pipeline_spark.streaming.continuous_aggregate import (
    continuous_ohlcv,
    read_bar_stream,
    run_available_now,
)


# ---------------------------------------------------------------------------
# Metadata
# ---------------------------------------------------------------------------


def test_compute_metadata_single_pass(spark, ohlcv_df):
    md = compute_metadata(ohlcv_df, "BTCUSDT", "1m", data_source="fixture")
    assert md.num_records == ohlcv_df.count()
    assert md.start_date.startswith("2025-01-01")
    assert md.missing_pct == 0.0 and md.quality_score == 100.0
    assert md.columns == ohlcv_df.columns

    with_nulls = ohlcv_df.withColumn(
        "close", F.when(F.col("volume") > 50, None).otherwise(F.col("close"))
    )
    md2 = compute_metadata(with_nulls, "BTCUSDT", "1m")
    assert md2.missing_pct > 0 and md2.quality_score < 100.0


def test_metadata_store_round_trip(tmp_path):
    store = MetadataStore(str(tmp_path))
    md = DatasetMetadata(symbol="BTCUSDT", interval="1h", num_records=42)
    path = store.save(md)
    assert json.load(open(path))["num_records"] == 42
    got = store.load("BTCUSDT", "1h")
    assert got == md
    assert store.list_keys() == ["BTCUSDT_1h"]
    # index is re-derivable from the files alone
    (tmp_path / "index.json").unlink()
    assert "BTCUSDT_1h" in store.rebuild_index()
    # file hashing (F13) is stable
    assert sha256_file(path) == sha256_file(path)


def test_metadata_table_relational_twin(spark):
    mds = [
        DatasetMetadata("BTCUSDT", "1h", num_records=10, extra_fields={"a": 1}),
        DatasetMetadata("ETHUSDT", "4h", num_records=20),
    ]
    df = metadata_table(spark, mds)
    assert df.count() == 2
    row = df.filter(F.col("symbol") == "BTCUSDT").first()
    assert json.loads(row["extra_fields"]) == {"a": 1}


# ---------------------------------------------------------------------------
# E1 orchestrator
# ---------------------------------------------------------------------------


def test_run_pipeline_single_e2e(spark, tmp_path):
    source = synthetic.synthetic_ohlcv(
        spark, ["BTCUSDT"], "2025-01-01", "2025-01-05", 60, seed=11
    ).drop("hour", "day_of_week", "month", "year")
    cfg = PipelineConfig(
        resample_to=["4h"],
        output_dir=str(tmp_path),
        output_formats=["parquet", "csv"],
    )
    res = run_pipeline_single(spark, cfg, source, "BTCUSDT")
    d = res["datasets"]
    # split conserves rows (reference test_data_splitter.py:13-50)
    assert d["train"] + d["test"] == d["full"]
    assert d["train"] == int(d["full"] * 0.8)
    assert d["resampled_4h"] > 0
    # sinks actually wrote
    assert spark.read.parquet(str(tmp_path / "BTCUSDT" / "full.parquet")).count() == d["full"]
    assert (tmp_path / "BTCUSDT" / "train.csv").exists()
    # metadata manifest saved
    store = MetadataStore(str(tmp_path / "_metadata"))
    assert store.load("BTCUSDT", "1h").num_records == d["full"]
    # validation report rides along (crypto_pipeline.py:480-489)
    rep = res["validation_report"]
    assert rep["is_valid"] and rep["valid_records"] == d["full"]
    assert rep["duplicates_removed"] == 0 and rep["negative_rows"] == 0
    # status summary over the written archive + manifest
    # (pipeline_status_report.py:176-216)
    from financial_data_pipeline_spark.metadata import pipeline_status

    status = pipeline_status(spark, str(tmp_path), store)
    assert status["total_files"] >= 4  # full/train/test/resampled_4h
    assert status["manifest_records"] == d["full"]
    assert status["total_records"] >= d["full"] * 2  # full + splits
    assert "coverage_pct" in status


def test_run_pipeline_from_json_config(spark, tmp_path):
    """E1 from a reference-shaped JSON config file
    (``config/pipeline_config.json:1-30`` → ``config_manager.py:17-89``
    merge order: defaults → env → file)."""
    import json

    from financial_data_pipeline_spark.plans.config import ConfigManager
    from financial_data_pipeline_spark.plans.pipeline import PipelineConfig

    cfg_file = tmp_path / "pipeline_config.json"
    cfg_file.write_text(
        json.dumps(
            {
                "pipeline": "crypto",
                "data_dir": str(tmp_path / "out"),
                "pipeline_config": {
                    "provider": "bybit",
                    "assets": [{"symbol": "ETHUSDT", "timeframe": "1h"}],
                    "save_files": True,
                    "splits": {
                        "train_test_split": {
                            "test_size": 0.25,
                            "method": "chronological",
                        }
                    },
                },
            }
        )
    )
    cfg = PipelineConfig.from_file(str(cfg_file), save_metadata=False)
    assert cfg.symbols == ["ETHUSDT"]
    assert cfg.test_size == 0.25
    assert cfg.output_dir == str(tmp_path / "out")
    source = synthetic.synthetic_ohlcv(
        spark, ["ETHUSDT"], "2025-01-01", "2025-01-03", 60, seed=5
    )
    res = run_pipeline(spark, cfg, {"ETHUSDT": source})["ETHUSDT"]
    d = res["datasets"]
    assert d["train"] == int(d["full"] * 0.75)
    assert d["train"] + d["test"] == d["full"]
    assert (tmp_path / "out" / "ETHUSDT" / "full.parquet").exists()

    # dict manager parity: dot access + deep merge (file wins)
    mgr = ConfigManager(str(cfg_file))
    assert mgr.get("pipeline_config.splits.train_test_split.test_size") == 0.25
    assert mgr.get("storage_config.file_format") == "parquet"  # default kept
    assert mgr.validate_config()["is_valid"]


def test_run_pipeline_fanout_isolates_failures(spark):
    good = synthetic.synthetic_ohlcv(
        spark, ["ETHUSDT"], "2025-01-01", "2025-01-02", 60
    )
    bad = good.drop("close")  # fails require_columns
    cfg = PipelineConfig(save_metadata=False)
    res = run_pipeline(spark, cfg, {"ETHUSDT": good, "BROKEN": bad})
    assert "error" in res["BROKEN"]
    assert res["ETHUSDT"]["datasets"]["full"] > 0


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_failed_symbol_releases_its_persisted_frames(spark, tmp_path):
    """A symbol that fails mid-run (the report has materialized the
    staged frame, then the sinks fail: the output dir is a regular
    file) and one with a bad config (rejected before any Spark work)
    leave the session cache empty and no persistent RDD behind."""
    good = synthetic.synthetic_ohlcv(
        spark, ["ETHUSDT"], "2025-01-01", "2025-01-02", 60
    )
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")
    spark.catalog.clearCache()
    before = _persistent_rdds(spark)
    for cfg in (
        PipelineConfig(output_dir=str(blocker), save_metadata=False),
        PipelineConfig(output_dir=str(tmp_path), output_formats=["xml"]),
    ):
        res = run_pipeline(spark, cfg, {"ETHUSDT": good})
        assert "error" in res["ETHUSDT"]
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        assert _persistent_rdds(spark) <= before


def _root_executions(spark, after: int = -1) -> list:
    """(id, physical plan text) of the session's top-level SQL
    executions with an id above ``after`` (one per action)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > after and e.executionId() == e.rootExecutionId():
            out.append((e.executionId(), e.physicalPlanDescription()))
    return out


_SPLIT_CASES = {
    "chronological": {},
    "random": {"split_method": "random"},
    "by_time": {
        "split_method": "by_time",
        "split_train_end": "2025-01-02 00:00:00",
        "split_val_end": "2025-01-02 12:00:00",
    },
}


@pytest.mark.parametrize("split", sorted(_SPLIT_CASES))
def test_observed_counts_are_exact(spark, tmp_path, split):
    """Written datasets' counts are observed on one write each and equal
    what reading the written files back counts; without sinks the
    counts are the same and the symbol runs no more actions than the
    report plus one count per dataset the split arithmetic cannot give."""
    source = synthetic.synthetic_ohlcv(
        spark, ["BTCUSDT"], "2025-01-01", "2025-01-03", 60, seed=7
    ).drop("hour", "day_of_week", "month", "year")
    cfg = PipelineConfig(
        resample_to=["4h", "1d"],
        output_dir=str(tmp_path),
        output_formats=["parquet", "csv"],
        **_SPLIT_CASES[split],
    )
    mark = max((i for i, _ in _root_executions(spark)), default=-1)
    res = run_pipeline_single(spark, cfg, source, "BTCUSDT")
    plans = [p for _, p in _root_executions(spark, mark)]
    d = res["datasets"]
    want = ["full", "resampled_4h", "resampled_1d", "train"]
    want += ["val", "test"] if split == "by_time" else ["test"]
    assert list(d) == want
    for name, n in d.items():
        path = str(tmp_path / "BTCUSDT" / f"{name}.parquet")
        assert spark.read.parquet(path).count() == n, name
    assert d["full"] > 0 and sum(d[n] for n in want[3:]) == d["full"]
    assert sum("CollectMetrics" in p for p in plans) == len(want)

    mark = max((i for i, _ in _root_executions(spark)), default=-1)
    bare = run_pipeline_single(
        spark, cfg.with_overrides(output_dir=None), source, "BTCUSDT"
    )
    assert bare["datasets"] == d and bare["paths"] == {}
    # the parent's actions: the report, one count per resample, plus the
    # split counts (chronological: none, random: one, by_time: two), and
    # the two pins (the staged and the cleaned frame), whose shuffle
    # stages run at pin time under AQE as one root execution each
    split_counts = {"chronological": 0, "random": 1, "by_time": 2}[split]
    assert len(_root_executions(spark, mark)) <= 1 + 2 + split_counts + 2


def test_symbol_wave_reads_pins_not_the_cache(spark, tmp_path):
    """A successful symbol plans its report, datasets and metadata
    over released local checkpoints: no root execution scans the
    session cache, the CacheManager stays empty and the persistent-RDD
    set is back at its baseline when the call returns."""
    source = synthetic.synthetic_ohlcv(
        spark, ["BTCUSDT"], "2025-01-01", "2025-01-02", 60, seed=5
    ).drop("hour", "day_of_week", "month", "year")
    cfg = PipelineConfig(
        normalize_method="zscore",
        resample_to=["4h"],
        output_dir=str(tmp_path),
    )
    spark.catalog.clearCache()
    before = _persistent_rdds(spark)
    mark = max((i for i, _ in _root_executions(spark)), default=-1)
    res = run_pipeline_single(spark, cfg, source, "BTCUSDT")
    plans = [p for _, p in _root_executions(spark, mark)]
    assert res["datasets"]["full"] > 0 and "metadata" in res
    assert plans and not any("InMemoryTableScan" in p for p in plans)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _persistent_rdds(spark) == before


def test_pin_keeps_the_partitions_a_persist_keeps(spark, tmp_path):
    """``randomSplit`` seeds each partition by its index, so a pin keeps
    the partitions a ``persist()`` keeps (AQE coalesces the final stage
    of neither) and both split the same rows."""
    synthetic.synthetic_ohlcv(
        spark, ["BTCUSDT"], "2025-01-01", "2025-01-03", 60, seed=9
    ).write.parquet(str(tmp_path / "bars"))

    def staged():
        # a fresh plan per call (a planned frame keeps its partitions);
        # read back, the symbol is no literal, so the windows shuffle
        return cleaning.stage_ohlcv(spark.read.parquet(str(tmp_path / "bars")))

    def first_half(frame):
        half = frame.randomSplit([0.5, 0.5], seed=3)[0]
        return sorted(r.timestamp for r in half.select("timestamp").collect())

    cached = staged().persist()
    try:
        want, parts = first_half(cached), cached.rdd.getNumPartitions()
    finally:
        cached.unpersist()
    with pin(staged()) as pinned:
        assert pinned.rdd.getNumPartitions() == parts > 1
        assert first_half(pinned) == want


def test_observed_counts_of_a_fully_dirty_input_are_zero(spark, tmp_path):
    """Strict mode drops every row whose high is half its low: every
    observed count, like the report's final rows, is 0."""
    source = synthetic.synthetic_ohlcv(
        spark, ["BTCUSDT"], "2025-01-01", "2025-01-02", 60, seed=3
    ).withColumn("high", F.col("low") / 2)
    cfg = PipelineConfig(
        clean_mode="strict",
        resample_to=["4h"],
        output_dir=str(tmp_path),
        output_formats=["parquet", "csv"],
    )
    res = run_pipeline_single(spark, cfg, source, "BTCUSDT")
    assert res["validation_report"]["final_rows"] == 0
    assert res["datasets"] == {
        "full": 0, "resampled_4h": 0, "train": 0, "test": 0
    }
    for name in res["datasets"]:
        path = str(tmp_path / "BTCUSDT" / f"{name}.parquet")
        assert spark.read.parquet(path).count() == 0


# ---------------------------------------------------------------------------
# Streaming continuous aggregate
# ---------------------------------------------------------------------------


def test_streaming_matches_batch_resample(spark, tmp_path):
    bars = synthetic.synthetic_ohlcv(
        spark, ["BTCUSDT", "ETHUSDT"], "2025-01-01", "2025-01-03", 15, seed=5
    ).select("timestamp", "symbol", "open", "high", "low", "close", "volume")
    src = tmp_path / "stream_in"
    # two file drops = two micro-batches
    bars.filter(F.col("timestamp") < "2025-01-02").write.parquet(
        str(src / "batch1")
    )
    bars.filter(F.col("timestamp") >= "2025-01-02").write.parquet(
        str(src / "batch2")
    )

    stream = read_bar_stream(spark, str(src / "*"))
    result = continuous_ohlcv(stream, "1 hour", watermark="3 hours")
    run_available_now(result, "cagg", str(tmp_path / "ckpt"))
    got = spark.table("cagg")

    expected = resample_ohlcv(bars, "1h", fill_gaps=False)
    merged = got.alias("g").join(
        expected.alias("e"), on=["symbol", "bucket_ts"], how="full"
    )
    assert merged.count() == got.count() == expected.count()
    diffs = merged.filter(
        (F.abs(F.col("g.close") - F.col("e.close")) > 1e-9)
        | (F.abs(F.col("g.volume") - F.col("e.volume")) > 1e-9)
        | (F.abs(F.col("g.open") - F.col("e.open")) > 1e-9)
    )
    assert diffs.count() == 0


def test_streaming_quality_monitor_matches_batch(spark, tmp_path):
    """The live quality-counter stream must equal the batch twin on
    identical input — planted defects (nulls, zeros, negatives, OHLC
    violations) land in the right windows with the right counts."""
    from financial_data_pipeline_spark.streaming.quality_monitor import (
        quality_counters_batch,
        quality_monitor,
    )

    bars = synthetic.synthetic_ohlcv(
        spark, ["BTCUSDT", "ETHUSDT"], "2025-01-01", "2025-01-02", 15, seed=8
    ).select("timestamp", "symbol", "open", "high", "low", "close", "volume")
    mins = F.minute("timestamp")
    dirty = bars.withColumns(
        {
            "close": F.when(mins == 15, F.lit(None).cast("double")).otherwise(
                F.col("close")
            ),
            "volume": F.when(mins == 30, F.lit(0.0))
            .when(mins == 45, F.lit(-2.0))
            .otherwise(F.col("volume")),
            "high": F.when(
                F.hour("timestamp") % 5 == 2, F.col("low") * 0.5
            ).otherwise(F.col("high")),
        }
    )
    src = tmp_path / "qm_in"
    dirty.filter(F.col("timestamp") < "2025-01-01 12:00:00").write.parquet(
        str(src / "b1")
    )
    dirty.filter(F.col("timestamp") >= "2025-01-01 12:00:00").write.parquet(
        str(src / "b2")
    )
    stream = read_bar_stream(spark, str(src / "*"))
    run_available_now(
        quality_monitor(stream, "1 hour"), "qmon", str(tmp_path / "qm_ckpt")
    )
    got = spark.table("qmon")
    want = quality_counters_batch(dirty, "1 hour")
    key = ["symbol", "bucket_ts"]
    merged = got.alias("g").join(want.alias("e"), on=key, how="full")
    assert merged.count() == got.count() == want.count()
    mismatch = merged.filter(
        (F.col("g.rows") != F.col("e.rows"))
        | (F.col("g.nan_cells") != F.col("e.nan_cells"))
        | (F.col("g.zero_volume_rows") != F.col("e.zero_volume_rows"))
        | (F.col("g.negative_rows") != F.col("e.negative_rows"))
        | (F.col("g.invalid_ohlc") != F.col("e.invalid_ohlc"))
    )
    assert mismatch.count() == 0
    # the planted defects actually registered
    totals = got.agg(
        F.sum("nan_cells"), F.sum("zero_volume_rows"),
        F.sum("negative_rows"), F.sum("invalid_ohlc"),
    ).first()
    assert all(v and v > 0 for v in totals)


def test_streaming_ema_matches_batch_kernel(spark, tmp_path):
    from financial_data_pipeline_spark.operators.indicators import with_ema
    from financial_data_pipeline_spark.streaming.continuous_aggregate import (
        OHLCV_EVENT_SCHEMA,
    )
    from financial_data_pipeline_spark.streaming.stateful import streaming_ema

    bars = synthetic.synthetic_ohlcv(
        spark, ["BTCUSDT", "ETHUSDT"], "2025-01-01", "2025-01-04", 60, seed=9
    ).select("timestamp", "symbol", "open", "high", "low", "close", "volume")
    src = tmp_path / "ema_in"
    # two chronological file drops = state must carry across micro-batches
    bars.filter(F.col("timestamp") < "2025-01-02").coalesce(1).write.parquet(
        str(src / "b1")
    )
    bars.filter(F.col("timestamp") >= "2025-01-02").coalesce(1).write.parquet(
        str(src / "b2")
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(OHLCV_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force one file per micro-batch
        .load(str(src / "*"))
    )
    q = (
        streaming_ema(stream)
        .writeStream.format("memory")
        .queryName("sema")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ema_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("sema")

    expected = with_ema(bars).select("symbol", "timestamp", "ema_12", "ema_26")
    merged = got.alias("g").join(expected.alias("e"), on=["symbol", "timestamp"])
    assert merged.count() == bars.count() == got.count()
    diffs = merged.filter(
        (F.abs(F.col("g.ema_12") - F.col("e.ema_12")) > 1e-9)
        | (F.abs(F.col("g.ema_26") - F.col("e.ema_26")) > 1e-9)
    )
    assert diffs.count() == 0


def test_incremental_append_cursor(spark, tmp_path):
    from financial_data_pipeline_spark.sources.incremental import (
        incremental_append,
        latest_cursors,
    )

    lake = str(tmp_path / "lake")
    bars = synthetic.synthetic_ohlcv(
        spark, ["BTCUSDT"], "2025-01-01", "2025-01-03", 60, seed=2
    )
    day1 = bars.filter(F.col("timestamp") < "2025-01-02")
    assert incremental_append(spark, lake, day1) == day1.count()
    # replaying the same page is a no-op (idempotent ingest)
    assert incremental_append(spark, lake, day1) == 0
    # overlapping batch: only strictly-newer rows land
    n_before = spark.read.parquet(lake).count()
    assert (
        incremental_append(spark, lake, bars)
        == bars.count() - day1.count()
    )
    assert spark.read.parquet(lake).count() == n_before + bars.count() - day1.count()
    # no duplicate (symbol, timestamp) keys after all appends
    lk = spark.read.parquet(lake)
    assert lk.count() == lk.select("symbol", "timestamp").distinct().count()
    # a brand-new symbol has no cursor and passes whole
    eth = synthetic.synthetic_ohlcv(
        spark, ["ETHUSDT"], "2025-01-01", "2025-01-02", 60, seed=3
    )
    assert incremental_append(spark, lake, eth) == eth.count()
    cur = {r["symbol"]: r["__cursor"] for r in latest_cursors(spark, lake).collect()}
    assert str(cur["BTCUSDT"]).startswith("2025-01-03")


# ---------------------------------------------------------------------------
# Streaming dedup (north-star ingest path)
# ---------------------------------------------------------------------------


def test_dedup_stream_drops_exact_dups_across_microbatches(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import types as T

    from financial_data_pipeline_spark.streaming.dedup_stream import dedup_stream

    schema = T.StructType(
        [
            T.StructField("event_time", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows1 = [
        (t0, 1, "alpha beta gamma"),
        (t0 + dt.timedelta(minutes=1), 2, "delta epsilon"),
        (t0 + dt.timedelta(minutes=2), 3, "alpha beta gamma"),  # in-batch dup
    ]
    rows2 = [
        (t0 + dt.timedelta(minutes=3), 4, "delta epsilon"),  # cross-batch dup
        (t0 + dt.timedelta(minutes=4), 5, "zeta eta theta"),
    ]
    src = tmp_path / "docs_in"
    spark.createDataFrame(rows1, schema).write.parquet(str(src / "b1"))
    spark.createDataFrame(rows2, schema).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    result = dedup_stream(stream, watermark="10 minutes")
    (
        result.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.table("dedup_out")
    # one survivor per distinct content, all within the watermark horizon
    assert got.count() == 3
    assert got.select("content_hash").distinct().count() == 3
    surviving_texts = {r.text for r in got.collect()}
    assert surviving_texts == {"alpha beta gamma", "delta epsilon", "zeta eta theta"}


def test_dedup_against_history_anti_join(spark):
    from financial_data_pipeline_spark.operators.dedup import exact_dedup
    from financial_data_pipeline_spark.streaming.dedup_stream import (
        dedup_against_history,
    )

    history_docs = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], ["doc_id", "text"]
    )
    history = exact_dedup(history_docs).select("content_hash")
    batch = spark.createDataFrame(
        [
            (10, "seen before"),   # dup vs history -> dropped
            (11, "brand new"),
            (12, "brand new"),     # in-batch dup -> keep lowest id
            (13, "also seen"),     # dup vs history -> dropped
        ],
        ["doc_id", "text"],
    )
    out = dedup_against_history(batch, history)
    assert {r.doc_id for r in out.collect()} == {11}
    # keep-lowest-id within batch: 11 survives, 12 dropped


def test_tws_ema_matches_classic_and_batch(spark, tmp_path):
    """API-migration proof: the transformWithStateInPandas EMA equals
    the classic applyInPandasWithState operator AND the batch kernel,
    with state carried across micro-batches.

    The TWS Python protocol needs protobuf at runtime (an environment
    dependency, same class of seam as psycopg2 for the JDBC sinks);
    without it the operator module still imports and plans — only
    execution requires the package."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState Python protocol requires protobuf",
    )
    from financial_data_pipeline_spark.operators.indicators import with_ema
    from financial_data_pipeline_spark.streaming.continuous_aggregate import (
        OHLCV_EVENT_SCHEMA,
    )
    from financial_data_pipeline_spark.streaming.tws_ema import (
        streaming_ema_tws,
    )

    bars = synthetic.synthetic_ohlcv(
        spark, ["BTCUSDT", "ETHUSDT"], "2025-01-01", "2025-01-03", 60, seed=4
    ).select("timestamp", "symbol", "open", "high", "low", "close", "volume")
    src = tmp_path / "tws_in"
    bars.filter(F.col("timestamp") < "2025-01-02").coalesce(1).write.parquet(
        str(src / "b1")
    )
    bars.filter(F.col("timestamp") >= "2025-01-02").coalesce(1).write.parquet(
        str(src / "b2")
    )
    # transformWithState requires the RocksDB state store provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(OHLCV_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(str(src / "*"))
    )
    q = (
        streaming_ema_tws(stream)
        .writeStream.format("memory")
        .queryName("tws_ema")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    got = spark.table("tws_ema")

    expected = with_ema(bars).select("symbol", "timestamp", "ema_12", "ema_26")
    merged = got.alias("g").join(expected.alias("e"), on=["symbol", "timestamp"])
    assert merged.count() == bars.count() == got.count()
    diffs = merged.filter(
        (F.abs(F.col("g.ema_12") - F.col("e.ema_12")) > 1e-9)
        | (F.abs(F.col("g.ema_26") - F.col("e.ema_26")) > 1e-9)
    )
    assert diffs.count() == 0


def test_cli_runs_pipeline_end_to_end(spark, tmp_path):
    """`python -m financial_data_pipeline_spark` — the reference's
    run_pipeline_cli surface, wired to the real orchestrator. Run
    in-process with an explicit output dir; the printed JSON is the
    library's result dict."""
    import json as _json

    from financial_data_pipeline_spark.__main__ import main

    out_dir = str(tmp_path / "out")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main([
            "--symbol", "BTCUSDT",
            "--days-back", "2",
            "--output-dir", out_dir,
            "--format", "parquet",
        ])
    assert rc == 0
    result = _json.loads(buf.getvalue().strip().splitlines()[-1])
    r = result["BTCUSDT"]
    assert r["datasets"]["full"] == r["datasets"]["train"] + r["datasets"]["test"]
    assert r["validation_report"]["is_valid"] is True
    full = spark.read.parquet(r["paths"]["full"][0])
    assert full.count() == r["datasets"]["full"]
