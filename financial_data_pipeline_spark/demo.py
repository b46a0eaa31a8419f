"""Worked end-to-end demo: synthetic → clean → validate → resample →
indicators → split → archive → lake → query.

The Spark analog of the reference's ``notebooks/exodus_demo.ipynb``
(generate/sample data → download/extract → validate → store → split →
indicators → summary), rendered as a plain runnable script so it can
execute in CI fashion (exit 0 = every stage worked). Run it with::

    python -m financial_data_pipeline_spark --demo

or ``python -m financial_data_pipeline_spark.demo``. Everything is
deterministic (seeded generator, no network) and writes only under a
temp directory. ``DEMO.md`` at the repo root is this script's captured
transcript with commentary.
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import ExitStack

from pyspark.sql import functions as F


def _banner(step: str) -> None:
    print(f"\n=== {step} " + "=" * max(0, 64 - len(step)))


def main() -> int:
    from financial_data_pipeline_spark import get_spark
    from financial_data_pipeline_spark.operators.cleaning import (
        cleaned_from_staged,
        stage_ohlcv,
    )
    from financial_data_pipeline_spark.operators.indicators import calculate_all
    from financial_data_pipeline_spark.operators.resample import resample_ohlcv
    from financial_data_pipeline_spark.operators.splitter import (
        chronological_split,
    )
    from financial_data_pipeline_spark.operators.stats import quality_score
    from financial_data_pipeline_spark.plans.pipeline import pin
    from financial_data_pipeline_spark.plans.report import staged_report
    from financial_data_pipeline_spark.sources.laketable import LakeTable
    from financial_data_pipeline_spark.sources.readers import read_archive
    from financial_data_pipeline_spark.sources.sinks import write_archive
    from financial_data_pipeline_spark.sources.synthetic import synthetic_ohlcv

    spark = get_spark(app_name="fdp-demo", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    workdir = tempfile.mkdtemp(prefix="fdp_demo_")
    pins = ExitStack()
    try:
        # 1. Extract — deterministic synthetic OHLCV (no network; the
        # REST providers in sources/providers.py are the live path)
        _banner("1. extract: synthetic OHLCV (2 symbols x 14 days x 1h)")
        raw = synthetic_ohlcv(
            spark,
            ["BTCUSDT", "ETHUSDT"],
            start="2024-01-01",
            end="2024-01-14",
            interval_minutes=60,
            seed=7,
        )
        # make the cleaning stage earn its keep: duplicate bars, a
        # negative price, an inconsistent OHLC row
        dirt = raw.limit(3).unionByName(
            raw.limit(1)
            .withColumn("low", F.lit(-5.0))
            .withColumn("high", F.col("low") - 1)
        )
        raw = raw.unionByName(dirt)
        n_raw = raw.count()
        print(f"rows (with injected dirt): {n_raw}")
        raw.select("symbol", "timestamp", "open", "high", "low", "close", "volume").show(3)

        # 2. Clean — the reference's 13-step validate_and_clean as ONE
        # lazy staged frame (dedup, coerce, impute, IQR clip, OHLC
        # repair), pinned as a local checkpoint: the cleaned rows and
        # the report both read its stored rows, and the pin is released
        # when the demo ends
        _banner("2. clean: 13-step pipeline, one staged frame")
        staged = pins.enter_context(pin(stage_ohlcv(raw, mode="repair")))
        clean = cleaned_from_staged(staged)
        n_clean = clean.count()
        print(f"rows after clean: {n_clean} (removed {n_raw - n_clean})")

        # 3. Validate — counter report + weighted quality score
        _banner("3. validate: counters + weighted quality score")
        report = staged_report(staged)
        print(
            {
                k: report[k]
                for k in sorted(report)
                if not isinstance(report[k], dict)
            }
        )
        quality_score(clean, expected_interval_seconds=3600).show()

        # 4. Resample — 1h bars to 4h buckets (empty buckets ffilled)
        _banner("4. resample: 1h -> 4h with gap fill")
        bars4h = resample_ohlcv(clean, "4h")
        print(f"4h bars: {bars4h.count()}")
        bars4h.orderBy("symbol", "bucket_ts").show(3)

        # 5. Features — all 13 indicator columns in one pass
        _banner("5. indicators: calculate_all (13 columns)")
        feats = calculate_all(clean)
        feats.select(
            "symbol", "timestamp", "sma_20", "rsi", "macd", "bb_upper", "atr"
        ).orderBy(F.desc("timestamp")).show(3)

        # 6. Split — chronological 80/20 (no leakage across the cut)
        _banner("6. split: chronological 80/20")
        train, test = chronological_split(feats, test_size=0.2)
        n_train, n_test = train.count(), test.count()
        print(f"train={n_train} test={n_test}")
        t_max = train.agg(F.max("timestamp")).first()[0]
        t_min = test.agg(F.min("timestamp")).first()[0]
        assert t_max <= t_min, "chronological split must not leak"
        print(f"train ends {t_max} <= test starts {t_min}")

        # 7. Archive — Hive-partitioned parquet + pruned read-back
        _banner("7. archive: partitioned write + pruned read")
        archive_root = f"{workdir}/archive"
        write_archive(clean, archive_root)
        back = read_archive(
            spark, archive_root, symbol="BTCUSDT", start="2024-01-05"
        )
        print(f"pruned archive read (BTCUSDT, >=Jan 5): {back.count()} rows")

        # 8. Lake — versioned commits, merge, time travel, stats skip
        _banner("8. lake table: commit / merge / time travel")
        lake = LakeTable(
            spark, f"{workdir}/lake", stat_cols=["timestamp", "close"]
        )
        # range-cluster each commit on timestamp so every file carries a
        # TIGHT [min, max] — that is what makes stats skipping bite
        v1 = lake.commit(
            clean.filter(F.col("symbol") == "BTCUSDT").repartitionByRange(
                4, "timestamp"
            )
        )
        v2 = lake.commit(
            clean.filter(F.col("symbol") == "ETHUSDT").repartitionByRange(
                4, "timestamp"
            )
        )
        print(
            f"v{v1}: {lake.read(version=v1).count()} rows; "
            f"v{v2}: {lake.read(version=v2).count()} rows (time travel keeps v1)"
        )
        pruned = lake.pruned_files(
            pred_col="timestamp", lo="2024-01-10", hi="2024-01-11"
        )
        print(
            f"stats-pruned files for a 1-day window: {len(pruned)} of "
            f"{len(lake.pruned_files())}"
        )
        # write-audit-publish + a durable named ref: the stage lands a
        # real constraint-checked snapshot invisible to readers, the
        # audit reads those exact bytes, publish is the O(1) HEAD move
        # (OCC-checked against commits racing into the window), and the
        # tag survives retention
        lake.tag("demo-baseline")
        staged = lake.stage(
            clean.filter(F.col("symbol") == "BTCUSDT")
            .limit(24)
            .repartitionByRange(2, "timestamp")
        )
        audited = lake.read(version=staged).count()
        lake.publish(staged)
        print(
            f"WAP: staged v{staged} audited at {audited} rows, published; "
            f"tag demo-baseline -> v{lake.resolve_ref('demo-baseline')} "
            f"({lake.read(ref='demo-baseline').count()} rows)"
        )

        # 9. Continuous aggregate — the Timescale-parity materialized
        # rollup: first refresh = full build, then a late-data commit
        # invalidates ONE day and only that bucket recomputes (the CDF
        # between watermark and HEAD is the invalidation log)
        _banner("9. continuous aggregate: incremental rollup refresh")
        from financial_data_pipeline_spark.sources.rollup import (
            refresh_rollup,
        )

        daily = LakeTable(spark, f"{workdir}/daily", stat_cols=["day"])

        def key_of(df):
            return df.withColumn("day", F.to_date("timestamp"))

        def agg(df):
            # range-cluster the rollup on its bucket key so each file
            # carries a tight [min, max] day — that is what lets the
            # incremental refresh CARRY the untouched files
            return (
                df.groupBy("day", "symbol")
                .agg(
                    F.count(F.lit(1)).alias("bars"),
                    F.round(F.avg("close"), 2).alias("avg_close"),
                    F.round(F.sum("volume"), 1).alias("volume"),
                )
                .repartitionByRange(4, "day")
            )

        refresh_rollup(lake, daily, key_of, agg, ["day", "symbol"])
        built = daily.read().count()
        lake.commit(  # late bars into one already-rolled-up day
            clean.filter(F.col("symbol") == "ETHUSDT")
            .limit(6)
            .repartitionByRange(1, "timestamp")
        )
        files_before = set(daily.pruned_files())
        refresh_rollup(lake, daily, key_of, agg, ["day", "symbol"])
        carried = len(files_before & set(daily.pruned_files()))
        print(
            f"rollup: {built} day-symbol rows built, late commit "
            f"refreshed incrementally ({carried} of {len(files_before)} "
            f"target files carried untouched)"
        )

        # 10. Crash recovery — kill a writer between its manifest dump
        # and the HEAD move (the one window where a commit is real but
        # HEAD doesn't name it), show the table still reads cleanly,
        # then repair with recover_head: it walks the base chain and
        # promotes the orphaned-but-committed snapshot
        _banner("10. durability: writer killed mid-commit -> recover_head")

        class _Died(RuntimeError):
            pass

        def die_pre_head(point):
            if point == "advance:pre_head":
                raise _Died(point)

        head_before = lake.head_version()
        rows_before = lake.read().count()
        lake.fault_hook = die_pre_head
        try:
            lake.commit(
                clean.filter(F.col("symbol") == "BTCUSDT")
                .limit(8)
                .repartitionByRange(1, "timestamp")
            )
            raise AssertionError("fault hook should have killed the commit")
        except _Died:
            pass
        finally:
            lake.fault_hook = None
        assert lake.head_version() == head_before
        assert lake.read().count() == rows_before  # readers unaffected
        repaired = lake.recover_head()
        print(
            f"writer died post-dump/pre-HEAD at v{head_before}; reads "
            f"stayed on v{head_before} ({rows_before} rows); recover_head "
            f"promoted the committed orphan -> v{repaired} "
            f"({lake.read().count()} rows), next commit is unblocked"
        )
        assert repaired > head_before
        lake.commit(  # the table is not wedged
            clean.filter(F.col("symbol") == "ETHUSDT")
            .limit(4)
            .repartitionByRange(1, "timestamp")
        )

        # 11. Query — the flagship aggregate over the rollup itself
        _banner("11. query: per-symbol summary over the daily rollup")
        daily.read().groupBy("symbol").agg(
            F.sum("bars").alias("bars"),
            F.round(F.avg("avg_close"), 2).alias("avg_close"),
            F.round(F.sum("volume"), 1).alias("volume"),
        ).orderBy("symbol").show()

        _banner("done: every stage exited cleanly")
        return 0
    finally:
        pins.close()
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
