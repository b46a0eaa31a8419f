"""Config-drift contract: which session confs are LOAD-BEARING.

The engine↔oracle parity contract assumes ``spark.sql.ansi.enabled``
is FALSE (pandas-coerce semantics: junk casts → NULL, x/0 → NULL,
``size(NULL)`` = -1) and the session timezone is UTC (every oracle
compares epoch-anchored timestamps). A cluster operator flipping either
— e.g. adopting Spark 4's ANSI default — would silently break ~360
oracle parities, not just raise errors (FUZZ.md finding 13).

This file (r8 verdict item 4) pins the contract twice over:

1. the factory really does set the keys (a refactor dropping one of
   the ``_DEFAULTS`` entries fails here, not three rounds later in a
   fuzz sweep);
2. the failure mode is the EXPECTED one — the same cast/division
   expressions evaluated under ``ansi=true`` throw where the contract
   needs NULL, demonstrated live so the divergence class is documented
   by execution, not comment.

RUNBOOK's "Global settings" section tells operators these keys must
ship as-is; this is the enforcement.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException  # noqa: F401 (doc import)

from financial_data_pipeline_spark.session import _DEFAULTS

# The confs the oracle-parity contract depends on, with the pinned
# values. Everything else in _DEFAULTS is performance/IO shaping.
_LOAD_BEARING = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def test_factory_pins_load_bearing_confs():
    for key, want in _LOAD_BEARING.items():
        assert _DEFAULTS.get(key) == want, (
            f"{key} must be pinned to {want!r} in session._DEFAULTS — "
            "the DuckDB oracle parity contract depends on it"
        )


def test_session_carries_load_bearing_confs(spark):
    for key, want in _LOAD_BEARING.items():
        assert spark.conf.get(key) == want


@pytest.fixture()
def ansi_on(spark):
    """Temporarily flip ANSI on (runtime conf) and restore."""
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def _one(spark, expr: str):
    return spark.sql(f"SELECT {expr} AS v").collect()[0]["v"]


def test_junk_cast_contract_and_ansi_divergence(spark, ansi_on):
    """F1 numeric coercion: junk string → NULL under the contract;
    ANSI throws CAST_INVALID_INPUT instead. The coercion path
    (cleaning.coerce_numeric) and every oracle depend on the NULL."""
    expr = "CAST('12bad' AS DOUBLE)"
    with pytest.raises(Exception, match="CAST_INVALID_INPUT|invalid input"):
        _one(ansi_on, expr)
    ansi_on.conf.set("spark.sql.ansi.enabled", "false")
    assert _one(ansi_on, expr) is None


def test_division_by_zero_contract_and_ansi_divergence(spark, ansi_on):
    """x/0 → NULL under the contract (matches DuckDB's x/0 → inf only
    in float paths; the oracles guard denominators, but intermediate
    integer divisions rely on NULL, e.g. ratio columns on empty docs);
    ANSI throws DIVIDE_BY_ZERO."""
    expr = "1 % 0"
    with pytest.raises(
        Exception, match="REMAINDER_BY_ZERO|DIVIDE_BY_ZERO|by zero"
    ):
        _one(ansi_on, expr)
    ansi_on.conf.set("spark.sql.ansi.enabled", "false")
    assert _one(ansi_on, expr) is None


def test_size_null_contract(spark):
    """size(NULL) = -1 under the contract (legacy sizeOfNull rides the
    non-ANSI default) — the exact trap the r8 NULL-text ADVICE finding
    exploited; the registry now coalesces at every token site, but the
    -1 behavior itself is part of the pinned semantics."""
    row = spark.sql(
        "SELECT size(CAST(NULL AS ARRAY<STRING>)) AS s"
    ).collect()[0]
    assert row["s"] == -1


def test_sum_long_wraps_under_contract(spark):
    """Non-ANSI long sums WRAP silently on int64 overflow — why
    events_props_json sums through decimal(38,0) (r8 ADVICE). If this
    ever starts raising/ promoting, the decimal pin is obsolete and
    the comment there must be revisited."""
    near = 9_223_372_036_854_775_000
    df = spark.createDataFrame([(near,), (near,)], "k long")
    assert df.agg(F.sum("k").alias("s")).collect()[0]["s"] < 0


_CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


def test_factory_sizes_the_codegen_cache(spark):
    """The generated-class cache (a static conf) holds a pipeline
    symbol's working set; the live session carries the factory value."""
    assert int(_DEFAULTS[_CODEGEN_CACHE]) >= 1000
    assert spark.conf.get(_CODEGEN_CACHE) == _DEFAULTS[_CODEGEN_CACHE]


def test_repeated_symbol_reuses_compiled_code(spark, tmp_path):
    """The benchmark's pipeline config run twice on the same input: the
    second pass finds its generated classes in the cache. With Spark's
    100-entry default the symbol's ~125 classes evict each other and
    the second pass recompiles about as many as the first."""
    from financial_data_pipeline_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline_single,
    )
    from datetime import datetime

    from financial_data_pipeline_spark.sources import synthetic

    source = synthetic.synthetic_ohlcv(  # 360 one-minute bars
        spark, ["BTCUSDT"], datetime(2025, 1, 1), datetime(2025, 1, 1, 5, 59), 1
    ).drop("hour", "day_of_week", "month", "year")
    cfg = PipelineConfig(
        interval="1m",
        normalize_method="zscore",
        resample_to=["15m", "1h", "1d"],
        split_method="chronological",
        output_dir=str(tmp_path),
        output_formats=["parquet"],
        include_report=True,
    )
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    passes = []
    for _ in range(2):
        before = compiles.getCount()
        run_pipeline_single(spark, cfg, source, "BTCUSDT")
        passes.append(compiles.getCount() - before)
    assert passes[1] <= passes[0] / 4, passes
