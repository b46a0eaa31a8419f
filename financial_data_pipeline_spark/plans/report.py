"""Validation report (SURVEY.md §1.3) — the reference's most
user-visible output, as one-row aggregates over the staged frame.

``EnhancedDataValidator.validate_and_clean``
(``src/data_etl/processing/data_cleaner.py:82-167``) interleaves
cleaning with counter collection and returns ``(cleaned_df, report)``.
Here :func:`financial_data_pipeline_spark.operators.cleaning.stage_ohlcv`
builds ONE staged frame — one row per input row, each cleaning stage's
flags and values as columns — and this module only aggregates it.
``clean_ohlcv`` is the same frame filtered to its surviving rows, so
the report cannot drift from the cleaning it describes, and a caller
that wants both (``plans.pipeline``) pins the staged frame once and
derives both from it (:func:`staged_report`).

Counter → staged column (see ``stage_ohlcv`` for the columns):

- ``total_records`` / ``invalid_timestamps`` — every row / null
  ``timestamp`` (``data_cleaner.py:89,663-688``)
- ``duplicates_removed`` — ``__dup`` (``data_cleaner.py:104-112``)
- ``initial_nans`` — null ``__c_<col>`` cells of ``__kept`` rows
  (``data_cleaner.py:120``)
- ``negative_rows`` — ``__kept`` but not ``__kept2``
  (``data_cleaner.py:207-216``)
- ``outliers_<col>`` / ``outliers_fixed`` — ``__o_<col>`` over the
  ``__kept2`` rows (``data_cleaner.py:218-236``)
- ``invalid_ohlc`` — ``__bad`` over the ``__kept2`` rows: after the
  clip, before repair or drop (``data_cleaner.py:238-269``)
- ``time_gaps`` (> 6 × median interval), ``most_common_interval_seconds``
  / ``irregular_intervals``, ``zero_price_rows``,
  ``extreme_price_changes``, ``zero_volume_rows``, ``final_rows`` /
  ``nans_after`` / ``valid_records`` / ``is_valid`` — the ``__final``
  rows (``data_cleaner.py:271-285,294-398,161-166``)

Passes over the staged frame: one aggregate for every stage counter,
one lag window (by ``symbol``) over the final rows with its per-symbol
median interval broadcast back, and the interval-mode rollup. The
reference makes ~10 eager pandas passes for the same counters.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financial_data_pipeline_spark.operators import cleaning
from financial_data_pipeline_spark.schema import (
    OHLCV_COLUMNS,
    PRICE_COLUMNS,
)

def _counters(
    staged: DataFrame,
    extreme_change_threshold: float = 0.2,
    add_time_features: bool = True,
) -> DataFrame:
    cols = OHLCV_COLUMNS
    # stage counters in one aggregate (exprs as SQL text: one py4j
    # round trip each; values pinned by the driver oracle and the
    # pandas differential in tests/test_report.py). Outliers and OHLC
    # violations count over ALL survivors of the negative filter, also
    # the rows strict mode is about to drop (data_cleaner.py:241-249
    # counts BEFORE acting).
    nan_cells = " + ".join(
        f"sum(CAST((__kept AND __c_{c} IS NULL) AS LONG))" for c in cols
    )
    stage = staged.agg(
        F.expr("count(1) AS total_records"),
        F.expr("sum(CAST((timestamp IS NULL) AS LONG)) AS invalid_timestamps"),
        F.expr("sum(CAST(__dup AS LONG)) AS duplicates_removed"),
        F.expr(f"{nan_cells} AS initial_nans"),
        F.expr("sum(CAST((__kept AND NOT __kept2) AS LONG)) AS negative_rows"),
        *[
            F.expr(
                f"sum(CASE WHEN __kept2 THEN CAST(__o_{c} AS LONG) END) "
                f"AS outliers_{c}"
            )
            for c in cols
        ],
        F.expr("sum(CASE WHEN __kept2 THEN CAST(__bad AS LONG) END) AS invalid_ohlc"),
    )

    wf = "OVER (PARTITION BY symbol ORDER BY timestamp)"
    fin = staged.filter("__final").withColumns(
        {
            "__iv": F.expr(
                f"(unix_micros(timestamp) - "
                f"unix_micros(lag(timestamp) {wf})) / 1.0E6"
            ),
            "__chg": F.expr(f"abs(close / lag(close) {wf} - 1.0D)"),
        }
    )
    med = fin.groupBy("symbol").agg(F.median("__iv").alias("__med_iv"))
    fin = fin.join(F.broadcast(med), on="symbol", how="left")
    zero_price = " OR ".join(f"{x} = 0" for x in PRICE_COLUMNS)
    nans_after = " + ".join(f"sum(CAST(({c} IS NULL) AS LONG))" for c in cols)
    final = fin.agg(
        F.expr(f"sum(CAST(({zero_price}) AS LONG)) AS zero_price_rows"),
        F.expr("sum(CAST((volume = 0) AS LONG)) AS zero_volume_rows"),
        F.expr(
            f"sum(CAST((__chg > {float(extreme_change_threshold)!r}D) "
            "AS LONG)) AS extreme_price_changes"
        ),
        F.expr("sum(CAST((__iv > 6 * __med_iv) AS LONG)) AS time_gaps"),
        F.expr("count(1) AS final_rows"),
        F.expr(f"{nans_after} AS nans_after"),
    )

    # global interval mode over the (tiny) distinct-interval counts, as
    # ONE aggregate (max_by with a (count, −iv) key == the (count desc,
    # iv asc) rank) — no global window, and an aggregate always yields
    # exactly one row, so an EMPTY final frame (fully dirty strict
    # input) still produces a report row instead of the crossJoin
    # erasing it.
    counts = fin.filter(F.col("__iv").isNotNull()).groupBy("__iv").count()
    mode_key = F.struct(F.col("count"), (-F.col("__iv")).alias("neg"))
    interval_mode = counts.agg(
        F.max_by("__iv", mode_key).alias("most_common_interval_seconds"),
        (
            F.coalesce(F.sum("count"), F.lit(0))
            - F.coalesce(F.max(mode_key).getField("count"), F.lit(0))
        ).alias("irregular_intervals"),
    )

    row = stage.crossJoin(final).crossJoin(interval_mode)
    outliers_total = reduce(
        lambda a, b: a + b,
        [F.coalesce(F.col(f"outliers_{c}"), F.lit(0)) for c in cols],
    )
    return row.select(
        "total_records",
        "invalid_timestamps",
        "duplicates_removed",
        "initial_nans",
        "negative_rows",
        *[f"outliers_{c}" for c in cols],
        outliers_total.alias("outliers_fixed"),
        "invalid_ohlc",
        "zero_price_rows",
        "zero_volume_rows",
        "extreme_price_changes",
        "time_gaps",
        "most_common_interval_seconds",
        "irregular_intervals",
        "final_rows",
        "nans_after",
        F.col("final_rows").alias("valid_records"),
        (F.col("final_rows") > 0).alias("is_valid"),
        F.lit(bool(add_time_features)).alias("time_features_added"),
    )


def report_counters(
    df: DataFrame,
    mode: str = "repair",
    epoch_unit: str = "s",
    iqr_factor: float = 1.5,
    price_tolerance: float = 0.0,
    extreme_change_threshold: float = 0.2,
    add_time_features: bool = True,
    impute_method: str = "ffill",
) -> DataFrame:
    """The full validation report as ONE one-row DataFrame.

    Lazy twin of ``validate_and_clean``'s report dict
    (``data_cleaner.py:82-167``): the counters of ``clean_ohlcv``'s
    staged frame over ``df`` (same arguments). See the module docstring
    for the counter → stage map; semantics are pinned by the driver
    oracle and the pandas differential in ``tests/test_report.py``."""
    staged = cleaning.stage_ohlcv(
        df, mode, epoch_unit, iqr_factor, price_tolerance, impute_method
    )
    # Lazy localCheckpoint (guide §5): the counters read the staged
    # frame in three subtrees (stage counters, final-frame counters,
    # interval mode), and each would re-run its window sorts. Pinning
    # computes the frame once; eager=False keeps this function
    # action-free (the frame materializes on the caller's first
    # action), and the ContextCleaner releases the checkpoint once the
    # frame is unreferenced.
    return _counters(
        staged.localCheckpoint(eager=False),
        extreme_change_threshold,
        add_time_features,
    )


def validation_report(
    df: DataFrame,
    mode: str = "repair",
    epoch_unit: str = "s",
    iqr_factor: float = 1.5,
    price_tolerance: float = 0.0,
    extreme_change_threshold: float = 0.2,
    add_time_features: bool = True,
    impute_method: str = "ffill",
) -> dict:
    """Eager collector returning the reference's report-dict shape
    (``data_cleaner.py:82-167``, consumed at
    ``crypto_pipeline.py:480-489``): nested ``outliers_detected``
    per-column map, top-level counters, ``is_valid`` flag."""
    return _as_dict(
        report_counters(
            df,
            mode,
            epoch_unit,
            iqr_factor,
            price_tolerance,
            extreme_change_threshold,
            add_time_features,
            impute_method,
        ).first()
    )


def staged_report(staged: DataFrame) -> dict:
    """:func:`validation_report`, with its default report arguments, of
    a ``cleaning.stage_ohlcv`` frame the caller already built (and
    pinned); the cleaning arguments are those it was staged with."""
    return _as_dict(_counters(staged).first())


def _as_dict(row) -> dict:
    d = row.asDict()
    outliers = {c: int(d[f"outliers_{c}"] or 0) for c in OHLCV_COLUMNS}
    return {
        "missing_cols": [],
        "total_records": int(d["total_records"]),
        "invalid_timestamps": int(d["invalid_timestamps"] or 0),
        "duplicates_removed": int(d["duplicates_removed"] or 0),
        "initial_nans": int(d["initial_nans"] or 0),
        "negative_rows": int(d["negative_rows"] or 0),
        "outliers_detected": {c: n for c, n in outliers.items() if n > 0},
        "outliers_fixed": int(d["outliers_fixed"] or 0),
        "invalid_ohlc": int(d["invalid_ohlc"] or 0),
        "time_gaps": int(d["time_gaps"] or 0),
        "time_features_added": bool(d["time_features_added"]),
        "duplicated_timestamps": 0,  # post-dedup frame, by construction
        "most_common_interval_seconds": (
            float(d["most_common_interval_seconds"])
            if d["most_common_interval_seconds"] is not None
            else None
        ),
        "irregular_intervals": int(d["irregular_intervals"] or 0),
        "zero_price_rows": int(d["zero_price_rows"] or 0),
        "extreme_price_changes": int(d["extreme_price_changes"] or 0),
        "zero_volume_rows": int(d["zero_volume_rows"] or 0),
        "final_rows": int(d["final_rows"]),
        "nans_after": int(d["nans_after"] or 0),
        "valid_records": int(d["valid_records"]),
        "is_valid": bool(d["is_valid"]),
    }
