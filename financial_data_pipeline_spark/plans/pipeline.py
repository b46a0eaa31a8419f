"""Config-driven pipeline orchestration (SURVEY.md §3 E1).

Reproduces ``CryptoPipeline.run_pipeline_single``
(``crypto_pipeline.py:160-265,352-370``) as ONE lazy plan per dataset:
source → clean → [normalize] → [resample] → split → sinks. The
reference materializes a pandas frame between every stage; here nothing
executes until the sinks (or the caller) force an action, so Catalyst
optimizes across stage boundaries (e.g. a sink's column pruning reaches
the source scan).

Config mirrors ``PipelineConfig`` defaults + file + overrides
(``pipelines/config_manager.py:17-89``): the typed dataclass below is
the run contract; :mod:`financial_data_pipeline_spark.plans.config`
provides the defaults → env → JSON deep-merge front door
(``PipelineConfig.from_file``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession

from financial_data_pipeline_spark.metadata import (
    MetadataStore,
    compute_metadata,
)
from financial_data_pipeline_spark.operators import cleaning, normalize as norm
from financial_data_pipeline_spark.operators import resample as rs
from financial_data_pipeline_spark.operators import splitter
from financial_data_pipeline_spark.plans.report import staged_report
from financial_data_pipeline_spark.sources import sinks


@dataclass
class PipelineConfig:
    """Knobs of ``run_pipeline_single`` (subset with real effect —
    the reference's dead DB paths are documented in SURVEY.md §2.12)."""

    symbols: list[str] = field(default_factory=lambda: ["BTCUSDT"])
    interval: str = "1h"
    clean_mode: str = "repair"  # "repair" | "strict"
    impute_method: str = "ffill"  # "ffill" | "interpolate" (handle_missing)
    price_tolerance: float = 0.05
    normalize_method: str | None = None  # None | zscore | minmax | log
    normalize_cols: list[str] = field(
        default_factory=lambda: ["open", "high", "low", "close", "volume"]
    )
    resample_to: list[str] = field(default_factory=list)  # e.g. ["4h","1d"]
    split_method: str = "chronological"  # chronological | random | by_time
    test_size: float = 0.2
    split_train_end: str | None = None  # for by_time
    split_val_end: str | None = None
    output_dir: str | None = None
    output_formats: list[str] = field(default_factory=lambda: ["parquet"])
    save_metadata: bool = True
    include_report: bool = True  # validate_and_clean's report dict (§1.3)

    def with_overrides(self, **kwargs) -> "PipelineConfig":
        return replace(self, **kwargs)

    @classmethod
    def from_file(cls, config_file: str | None = None, **overrides) -> "PipelineConfig":
        """defaults → env → JSON file → overrides (the reference's
        ``config_manager.py:17-28`` merge order; see plans.config)."""
        from financial_data_pipeline_spark.plans.config import (
            pipeline_config_from_file,
        )

        return pipeline_config_from_file(config_file, **overrides)

    @classmethod
    def from_env(cls, **overrides) -> "PipelineConfig":
        """Env-aware defaults only (no file)."""
        return cls.from_file(None, **overrides)


def run_pipeline_single(
    spark: SparkSession,
    config: PipelineConfig,
    source: DataFrame,
    symbol: str,
) -> dict:
    """E1 stages 4–9 for one symbol's source DataFrame.

    Returns the reference's result dict shape
    (``crypto_pipeline.py:480-489``): dataset names → row counts, plus
    written paths. Everything up to the sinks is one lazy plan.
    """
    # ONE staged frame (every cleaning stage's flags and values, one
    # row per input row), persisted once: the full dataset, the splits,
    # the resamples, the metadata and the report all derive from it.
    staged = cleaning.stage_ohlcv(
        source,
        mode=config.clean_mode,
        price_tolerance=config.price_tolerance,
        impute_method=config.impute_method,
    ).cache()
    cleaned = cleaning.cleaned_from_staged(staged)
    if config.normalize_method:
        cleaned = norm.normalize(
            cleaned, config.normalize_cols, method=config.normalize_method
        )
    result: dict = {"symbol": symbol, "datasets": {}, "paths": {}}
    # One count of the cleaned rows (the report's final_rows when it is
    # asked for); split sizes derive from it below instead of one count
    # job per split dataset (the splits partition the input, so the
    # arithmetic is exact).
    if config.include_report:
        result["validation_report"] = staged_report(staged)
        n_full = result["validation_report"]["final_rows"]
    else:
        n_full = cleaned.count()
    datasets: dict[str, DataFrame] = {"full": cleaned}
    counts: dict[str, int] = {"full": n_full}
    for tf in config.resample_to:
        datasets[f"resampled_{tf}"] = rs.resample_ohlcv(cleaned, tf)

    if config.split_method == "chronological":
        train, test = splitter.chronological_split(
            cleaned, config.test_size, total=n_full
        )
        n_train = int(n_full * (1 - config.test_size))
        datasets |= {"train": train, "test": test}
        counts |= {"train": n_train, "test": n_full - n_train}
    elif config.split_method == "random":
        train, test = splitter.random_split(cleaned, config.test_size)
        datasets |= {"train": train, "test": test}
        n_test = test.count()  # randomSplit partitions exactly; train = rest
        counts |= {"train": n_full - n_test, "test": n_test}
    elif config.split_method == "by_time":
        train, val, test = splitter.split_by_time(
            cleaned, config.split_train_end, config.split_val_end
        )
        datasets |= {"train": train, "val": val, "test": test}
        n_train, n_val = train.count(), val.count()
        counts |= {
            "train": n_train,
            "val": n_val,
            "test": n_full - n_train - n_val,
        }
    else:
        raise ValueError(f"unknown split_method {config.split_method!r}")

    for name, df in datasets.items():
        result["datasets"][name] = (
            counts[name] if name in counts else df.count()
        )
        if config.output_dir:
            for fmt in config.output_formats:
                path = os.path.join(
                    config.output_dir, symbol, f"{name}.{fmt}"
                )
                if fmt == "parquet":
                    sinks.write_parquet(df, path)
                elif fmt == "csv":
                    sinks.write_csv(df, path)
                elif fmt == "json":
                    sinks.write_json(df, path)
                else:
                    raise ValueError(f"unknown output format {fmt!r}")
                result["paths"].setdefault(name, []).append(path)

    if config.save_metadata and config.output_dir:
        store = MetadataStore(os.path.join(config.output_dir, "_metadata"))
        md = compute_metadata(
            cleaned, symbol, config.interval, data_source="pipeline"
        )
        md.num_records = result["datasets"]["full"]
        store.save(md)
        result["metadata"] = md.key
    staged.unpersist()
    return result


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    sources: dict[str, DataFrame],
) -> dict[str, dict]:
    """Per-asset fan-out (``crypto_pipeline.py:352-370``): one
    ``run_pipeline_single`` per symbol; failures are captured per
    symbol, not fatal to the batch."""
    results: dict[str, dict] = {}
    for symbol, source in sources.items():
        try:
            results[symbol] = run_pipeline_single(spark, config, source, symbol)
        except Exception as exc:  # noqa: BLE001 - per-asset isolation
            results[symbol] = {"symbol": symbol, "error": str(exc)}
    return results
