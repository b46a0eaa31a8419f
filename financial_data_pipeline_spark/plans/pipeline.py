"""Config-driven pipeline orchestration (SURVEY.md §3 E1).

Reproduces ``CryptoPipeline.run_pipeline_single``
(``crypto_pipeline.py:160-265,352-370``), where the reference
materializes a pandas frame between every stage. Here each symbol is
one wave: the staged cleaning frame and the cleaned (and normalized)
frame are pinned as lazy local checkpoints, every dataset is built as a
lazy plan over the cleaned pin ([resample] → split), and then every
action of the symbol — the validation report, each sink write, the
metadata aggregate — is submitted at once and runs concurrently. The
pins are released when the wave ends. Each action's plan starts from a
pin's one ``LogicalRDD`` leaf, so no action re-optimizes the cleaning
lineage and nothing enters the session CacheManager. The row counts of
the result ride on the writes as observed metrics instead of separate
count jobs.

Config mirrors ``PipelineConfig`` defaults + file + overrides
(``pipelines/config_manager.py:17-89``): the typed dataclass below is
the run contract; :mod:`financial_data_pipeline_spark.plans.config`
provides the defaults → env → JSON deep-merge front door
(``PipelineConfig.from_file``).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field, replace
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from financial_data_pipeline_spark import metadata
from financial_data_pipeline_spark.observability import PipelineMetrics
from financial_data_pipeline_spark.operators import cleaning, normalize as norm
from financial_data_pipeline_spark.operators import resample as rs
from financial_data_pipeline_spark.operators import splitter
from financial_data_pipeline_spark.plans.report import staged_report
from financial_data_pipeline_spark.sources import sinks

#: split method -> its dataset names, in the order the splitter returns them
_SPLITS = {
    "chronological": ("train", "test"),
    "random": ("train", "test"),
    "by_time": ("train", "val", "test"),
}
#: output format -> its writer in ``sources.sinks``, looked up per call
_WRITERS = {"parquet": "write_parquet", "csv": "write_csv", "json": "write_json"}


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
    written paths. The staged and the cleaned frame are pinned as lazy
    local checkpoints and every dataset is built as a lazy plan over the
    cleaned pin; then the report, the sink writes and the metadata
    aggregate run as one concurrent wave, whose first action stores each
    pin's rows for the rest. A written dataset's count is observed on
    its first write; without sinks, each count the split arithmetic
    cannot give is one count job. Both pins are released when the wave
    ends, also when it fails.
    """
    if config.split_method not in _SPLITS:
        raise ValueError(f"unknown split_method {config.split_method!r}")
    for fmt in config.output_formats:
        if fmt not in _WRITERS:
            raise ValueError(f"unknown output format {fmt!r}")
    with ExitStack() as pins:
        # ONE staged frame (every cleaning stage's flags and values, one
        # row per input row) feeds the report and the cleaned frame; the
        # cleaned (and normalized) frame feeds every dataset and the
        # metadata, so the normalize aggregate runs once per symbol.
        staged = pins.enter_context(
            pin(
                cleaning.stage_ohlcv(
                    source,
                    mode=config.clean_mode,
                    price_tolerance=config.price_tolerance,
                    impute_method=config.impute_method,
                )
            )
        )
        cleaned = cleaning.cleaned_from_staged(staged)
        if config.normalize_method:
            cleaned = norm.normalize(
                cleaned, config.normalize_cols, method=config.normalize_method
            )
        cleaned = pins.enter_context(pin(cleaned))
        datasets = _datasets(cleaned, config)

        result: dict = {"symbol": symbol, "datasets": {}, "paths": {}}
        actions: dict[str, Callable] = {}
        if config.include_report:
            actions["validation_report"] = partial(staged_report, staged)
        split_names = _SPLITS[config.split_method]
        if config.output_dir and config.output_formats:
            rows = PipelineMetrics()
            for name, df in datasets.items():
                paths = [
                    os.path.join(config.output_dir, symbol, f"{name}.{fmt}")
                    for fmt in config.output_formats
                ]
                result["paths"][name] = paths
                frames = [rows.observe(df, name)] + [df] * (len(paths) - 1)
                actions[name] = partial(
                    _write, rows, name, frames, config.output_formats, paths
                )
        else:
            # No write to observe: count only what arithmetic cannot give.
            # Full comes from the report, a chronological train from the
            # cut, and the last split is the rest of full.
            derived = {split_names[-1]}
            if config.include_report:
                derived.add("full")
            if config.split_method == "chronological":
                derived.add("train")
            for name, df in datasets.items():
                if name not in derived:
                    actions[name] = df.count
        if config.save_metadata and config.output_dir:
            store = metadata.MetadataStore(
                os.path.join(config.output_dir, "_metadata")
            )
            actions["metadata"] = partial(
                _save_metadata, store, cleaned, symbol, config.interval
            )

        done = _wave(spark, actions)

    if config.include_report:
        result["validation_report"] = done["validation_report"]
    counts = {name: done[name] for name in datasets if name in done}
    if "full" not in counts:
        counts["full"] = done["validation_report"]["final_rows"]
    if config.split_method == "chronological":
        counts.setdefault("train", int(counts["full"] * (1 - config.test_size)))
    counts.setdefault(
        split_names[-1],
        counts["full"] - sum(counts[n] for n in split_names[:-1]),
    )
    result["datasets"] = {name: counts[name] for name in datasets}
    if "metadata" in done:
        result["metadata"] = done["metadata"]
    return result


@contextmanager
def pin(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` as a lazy local checkpoint for the ``with`` block, released
    when the block exits, also on an exception. A plan over the pin
    starts from one ``LogicalRDD`` leaf: no action re-optimizes the
    lineage behind it, and the first action stores its rows for the
    others. Unlike ``persist()``, nothing enters the session
    CacheManager. Under AQE the lineage's shuffle stages run on entry.

    The pin is planned as the CacheManager plans a cached frame: in a
    session clone without AQE's final-stage shuffle optimizations, so
    it keeps the partitions a ``persist()`` keeps, and with them every
    partition-dependent result (``randomSplit`` seeds each partition by
    its index). The pin must not be read after the block."""
    spark = df.sparkSession
    planner = spark._jsparkSession.cloneSession()
    planner.conf().set(
        "spark.sql.adaptive.applyFinalStageShuffleOptimizations", "false"
    )
    of_rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    # ``source``'s plan owns the SQL metrics that the tasks computing the
    # pin report to; it stays referenced until the release, so that no
    # concurrent action reports to a metric the JVM has already collected
    source = of_rows(planner, df._jdf.logicalPlan())
    pinned = of_rows(
        spark._jsparkSession, source.localCheckpoint(False).logicalPlan()
    )
    try:
        yield DataFrame(pinned, spark)
    finally:
        # drop the stored blocks now, not when the ContextCleaner
        # collects the RDD after a driver GC
        pinned.queryExecution().logical().rdd().unpersist(False)


def _datasets(cleaned: DataFrame, config: PipelineConfig) -> dict[str, DataFrame]:
    """full, resampled_<tf> per target, then the splits — lazy plans."""
    datasets = {"full": cleaned}
    for tf in config.resample_to:
        datasets[f"resampled_{tf}"] = rs.resample_ohlcv(cleaned, tf)
    if config.split_method == "chronological":
        splits = splitter.chronological_split(cleaned, config.test_size)
    elif config.split_method == "random":
        splits = splitter.random_split(cleaned, config.test_size)
    else:
        splits = splitter.split_by_time(
            cleaned, config.split_train_end, config.split_val_end
        )
    return datasets | dict(zip(_SPLITS[config.split_method], splits))


def _wave(spark: SparkSession, actions: dict[str, Callable]) -> dict:
    """Run every action at once, one thread each (carrying the caller's
    local properties and tags); wait for all of them, then return their
    results or raise the first failure."""
    if not actions:
        return {}
    with ThreadPoolExecutor(len(actions)) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(fn))
            for name, fn in actions.items()
        }
    return {name: f.result() for name, f in futures.items()}


def _write(
    rows: PipelineMetrics,
    name: str,
    frames: list[DataFrame],
    formats: list[str],
    paths: list[str],
) -> int:
    """One write per format; the first frame carries the row-count
    observation ``name``, whose value is returned."""
    for df, fmt, path in zip(frames, formats, paths):
        getattr(sinks, _WRITERS[fmt])(df, path)
    return rows.get(name)["rows"]


def _save_metadata(
    store: metadata.MetadataStore, cleaned: DataFrame, symbol: str, interval: str
) -> str:
    md = metadata.compute_metadata(cleaned, symbol, interval, data_source="pipeline")
    store.save(md)
    return md.key


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
