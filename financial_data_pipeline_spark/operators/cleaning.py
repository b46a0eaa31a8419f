"""Cleaning / validation transforms (SURVEY.md §2.2–§2.4).

Re-expresses the reference's fixed 13-step ``validate_and_clean``
sequence (``src/data_etl/processing/data_cleaner.py:56-173``) and the
three validator variants (``validation/{simple_validator,
data_validator,data_processor}.py``) with a strictness knob:

- ``mode="strict"``  → invalid rows are dropped (simple_validator
  semantics, ``simple_validator.py:74-91``)
- ``mode="repair"``  → invalid rows are repaired/clipped
  (EnhancedDataValidator semantics, ``data_cleaner.py:218-269``)

The reference returns the cleaned frame and its report from one pass.
Here ONE staged frame (:func:`stage_ohlcv`) runs the whole sequence and
keeps one row per input row, with every stage's flags and values as
columns. :func:`clean_ohlcv` filters it to the surviving rows; the
validation report (:mod:`financial_data_pipeline_spark.plans.report`)
aggregates the same frame, so the rule chain exists once and a caller
that wants both (``plans.pipeline``) persists the staged frame once.

Stage ORDER IS SEMANTICALLY SIGNIFICANT (SURVEY.md §4.2): ts-convert →
dedup → coerce → impute → drop-negatives → IQR-clip → OHLC-repair;
e.g. quantiles are computed after negative-row removal.

Each row rule is SQL text written once (``_*_sql``); the staged frame
and the Column-form building blocks (``drop_negative_rows``,
``iqr_clip``, ``repair_ohlc``, …) both build from it. Every transform
is ``DataFrame -> DataFrame``, lazy, and partitions all window work by
``symbol``: no global shuffles (every cleaning rule is per-symbol or
per-row).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from financial_data_pipeline_spark.functions.timefeatures import (
    epoch_to_timestamp,
    with_time_features,
)
from financial_data_pipeline_spark.schema import (
    OHLCV_COLUMNS,
    PRICE_COLUMNS,
    REQUIRED_COLUMNS,
)

# ---------------------------------------------------------------------------
# Projections / renames (P1, P2)
# ---------------------------------------------------------------------------


def lowercase_columns(df: DataFrame) -> DataFrame:
    """Case-normalize column names at ingest (``data_cleaner.py:92``)."""
    return df.toDF(*[c.lower() for c in df.columns])


def require_columns(df: DataFrame, required: list[str] | None = None) -> DataFrame:
    """Raise on missing required columns (``data_cleaner.py:95-102``)."""
    required = required or REQUIRED_COLUMNS
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise ValueError(f"missing required columns: {missing}")
    return df


# ---------------------------------------------------------------------------
# Deterministic keep-first dedup (P10) — custom component #2 (SURVEY §4.3)
# ---------------------------------------------------------------------------


def dedup_keep_first(
    df: DataFrame,
    keys: list[str] | None = None,
    order_by: list[str] | None = None,
) -> DataFrame:
    """Drop duplicate keys keeping the FIRST row in ``order_by`` order.

    The reference relies on pandas ``drop_duplicates(keep="first")``
    after a sort (``data_cleaner.py:104-112,313-322``); Spark's
    ``dropDuplicates`` keeps an *arbitrary* row, so determinism needs an
    explicit ``row_number`` window. Scales: the window shuffles once on
    the dedup keys — the same shuffle an aggregation would need.
    """
    keys = keys or ["symbol", "timestamp"]
    order_by = order_by or ["timestamp"]
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Row rules as SQL text. Each rule is written once: the Column-form
# operators below and the staged frame of ``stage_ohlcv`` both build
# from these strings (one ``F.expr`` is one py4j round trip; the Column
# API pays one per expression node).
# ---------------------------------------------------------------------------

_INF_TOKENS = "'inf', '+inf', '-inf', 'infinity', '+infinity', '-infinity'"


def _q(c: str) -> str:
    return f"`{c}`"


def _coerce_sql(c: str, is_string: bool) -> str:
    cast = f"CAST({c} AS DOUBLE)"
    if not is_string:
        return cast
    return (
        f"CASE WHEN abs({cast}) = CAST('Infinity' AS DOUBLE) THEN "
        f"CASE WHEN lower(trim({c})) IN ({_INF_TOKENS}) THEN {cast} END "
        f"ELSE {cast} END"
    )


def _nonneg_sql(cols: list[str]) -> str:
    return " AND ".join(f"({c} IS NULL OR {c} >= 0)" for c in cols)


def _positive_sql(o: str, h: str, l: str, c: str, v: str) -> str:
    return f"({v} >= 0 AND {o} > 0 AND {h} > 0 AND {l} > 0 AND {c} > 0)"


def _consistent_sql(o: str, h: str, l: str, c: str, tolerance: float) -> str:
    hi = f"({h} * {float(1.0 + tolerance)!r}D)"
    lo = f"({l} * {float(1.0 - tolerance)!r}D)"
    return (
        f"({hi} >= {l} AND {hi} >= {o} AND {hi} >= {c} "
        f"AND {lo} <= {o} AND {lo} <= {c})"
    )


def _repair_sql(o: str, h: str, l: str, c: str, tolerance: float) -> dict:
    bad = f"NOT {_consistent_sql(o, h, l, c, tolerance)}"
    return {
        "high": f"CASE WHEN {bad} THEN greatest({o}, {c}, {h}) ELSE {h} END",
        "low": f"CASE WHEN {bad} THEN least({o}, {c}, {l}) ELSE {l} END",
    }


def _iqr_fence_sql(q1: str, q3: str, factor: float) -> tuple[str, str]:
    f = f"{float(factor)!r}D"
    return f"({q1} - {f} * ({q3} - {q1}))", f"({q3} + {f} * ({q3} - {q1}))"


def _clip_sql(v: str, q1: str, q3: str, factor: float) -> str:
    lo, hi = _iqr_fence_sql(q1, q3, factor)
    return f"CASE WHEN {v} IS NOT NULL THEN greatest({lo}, least({hi}, {v})) END"


def _quartiles_sql(v: str, by: str | None) -> dict:
    """Exact Q1 / Q3 of ``v`` (linear interpolation, as pandas
    ``quantile`` and DuckDB ``quantile_cont``) as whole-partition window
    aggregates over ``by`` (all rows when None): no aggregate joined
    back, so a frame already partitioned by ``by`` is not shuffled
    again. Rows without a ``by`` key get none, so the clip leaves them
    as they are."""
    out = {}
    for k, q in (("q1", 0.25), ("q3", 0.75)):
        e = f"percentile({v}, {q}D) OVER ({f'PARTITION BY {by}' if by else ''})"
        out[k] = f"CASE WHEN {by} IS NOT NULL THEN {e} END" if by else e
    return out


def _over(partition_by: list[str], order: str, frame_end: str) -> str:
    part = f"PARTITION BY {', '.join(partition_by)} " if partition_by else ""
    return (
        f"OVER ({part}ORDER BY {order} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND {frame_end})"
    )


def _fill_sql(v: str, mask: str, partition_by: list[str], order: str) -> str:
    """Last non-null ``v`` of a ``mask`` row at or before this one in
    ``order``: a forward fill for an ascending order, a backward fill
    for a descending one. Backward fills run over the REVERSED sort
    with a preceding frame: Spark evaluates unbounded-FOLLOWING
    aggregate frames by re-scanning the tail for every row (O(n²) per
    partition), the preceding frame in one incremental pass."""
    return f"last(CASE WHEN {mask} THEN {v} END, true) " + _over(
        partition_by, order, "CURRENT ROW"
    )


def _interpolate_sql(v: str, mask: str, partition_by: list[str], ts: str) -> str:
    t = f"CAST(unix_micros({ts}) AS DOUBLE)"
    mv = f"CASE WHEN {mask} THEN {v} END"
    mt = f"CASE WHEN {mask} AND {v} IS NOT NULL THEN {t} END"
    # strictly-after lookups over the reversed sort (see _fill_sql)
    wp = _over(partition_by, ts, "1 PRECEDING")
    wn = _over(partition_by, f"{ts} DESC", "1 PRECEDING")
    pv, pt = f"last({mv}, true) {wp}", f"last({mt}, true) {wp}"
    nv, nt = f"last({mv}, true) {wn}", f"last({mt}, true) {wn}"
    return (
        f"CASE WHEN {v} IS NOT NULL THEN {v} "
        f"WHEN {pv} IS NULL THEN {nv} "  # head run → backfill
        f"WHEN {nv} IS NULL THEN {pv} "  # tail run → forward-fill
        f"ELSE {pv} + ({nv} - {pv}) * ({t} - {pt}) / ({nt} - {pt}) END"
    )


# ---------------------------------------------------------------------------
# Type coercion / timestamp normalization (F1, F2, P9)
# ---------------------------------------------------------------------------


def coerce_numeric(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """``pd.to_numeric(errors="coerce")`` analog: junk → null
    (``data_cleaner.py:117-118``).

    Overflow parity (found by ``tools/fuzz_oracle.py``): pandas treats
    a finite literal that overflows double ("1e400") as a COERCE
    failure → NaN, while Spark's cast saturates to ±Infinity. Only an
    EXPLICIT infinity token may stay infinite, so a string column's
    cast is post-filtered: ±inf results whose source text isn't an
    infinity literal become null."""
    cols = cols or [c for c in OHLCV_COLUMNS if c in df.columns]
    dtypes = dict(df.dtypes)
    return df.withColumns(
        {c: F.expr(_coerce_sql(_q(c), dtypes.get(c) == "string")) for c in cols}
    )


def normalize_timestamp(
    df: DataFrame, ts: str = "timestamp", epoch_unit: str = "s"
) -> DataFrame:
    """Normalize ``ts`` to a UTC timestamp column (``data_cleaner.py:175-189``).

    Numeric / numeric-string input is treated as epoch in ``epoch_unit``;
    other strings parse as datetime literals; invalid → null.
    """
    dtype = dict(df.dtypes)[ts]
    col = F.col(ts)
    if dtype.startswith("timestamp"):
        out = col
    elif dtype in ("bigint", "int", "double", "float", "decimal"):
        out = epoch_to_timestamp(col, epoch_unit)
    else:
        # String: epoch-looking strings use the configured unit, else ISO parse.
        out = F.when(
            col.rlike(r"^\s*\d+(\.\d+)?\s*$"), epoch_to_timestamp(col, epoch_unit)
        ).otherwise(F.to_timestamp(col))
    return df.withColumn(ts, out)


# ---------------------------------------------------------------------------
# Imputation (F4): ffill then bfill per symbol in time order
# ---------------------------------------------------------------------------


def _order_cols(order_by) -> list:
    return [order_by] if isinstance(order_by, str) else list(order_by)


def _impute(
    df: DataFrame, cols: dict, method: str, mask: str, partition_by: list[str], ts: str
) -> DataFrame:
    """Set each output column of ``cols`` (output name → source SQL) to
    its source imputed from the ``mask`` rows: ``"ffill"`` = ffill then
    bfill (F4), ``"interpolate"`` = time-weighted interpolation."""
    if method == "interpolate":
        return df.withColumns(
            {
                o: F.expr(_interpolate_sql(v, mask, partition_by, ts))
                for o, v in cols.items()
            }
        )
    df = df.withColumns(
        {o: F.expr(_fill_sql(v, mask, partition_by, ts)) for o, v in cols.items()}
    )
    return df.withColumns(
        {o: F.expr(_fill_sql(_q(o), mask, partition_by, f"{ts} DESC")) for o in cols}
    )


def ffill(
    df: DataFrame,
    cols: list[str],
    partition_by: list[str] = ("symbol",),
    order_by="timestamp",
) -> DataFrame:
    """Forward-fill nulls (``fillna(method="ffill")``, ``data_cleaner.py:191-205``)."""
    part = [_q(p) for p in partition_by]
    order = ", ".join(_q(o) for o in _order_cols(order_by))
    return df.withColumns(
        {c: F.expr(_fill_sql(_q(c), "true", part, order)) for c in cols}
    )


def impute_ffill_bfill(
    df: DataFrame, cols: list[str] | None = None, partition_by: list[str] = ("symbol",)
) -> DataFrame:
    """ffill → bfill per numeric column in time order
    (``data_cleaner.py:191-205``)."""
    cols = cols or [c for c in OHLCV_COLUMNS if c in df.columns]
    part = [_q(p) for p in partition_by]
    return _impute(df, {c: _q(c) for c in cols}, "ffill", "true", part, "`timestamp`")


def interpolate_linear(
    df: DataFrame,
    cols: list[str] | None = None,
    partition_by: list[str] = ("symbol",),
    ts: str = "timestamp",
) -> DataFrame:
    """Time-weighted linear interpolation of null runs
    (``config_manager.py:49`` names ``handle_missing: "interpolate"``
    but the reference only ever ffills — this is the option a user
    switching engines would expect to work).

    Interior nulls get ``v_prev + (v_next − v_prev)·(t − t_prev)/
    (t_next − t_prev)`` (time-weighted, not row-weighted — equals
    pandas ``interpolate("linear")`` on regular grids and is the
    physically right answer across gaps on irregular ones). Head runs
    backfill, tail runs forward-fill (pandas ``limit_direction=
    "both"``). Four window aggregates per column over ONE partition
    ordering — a single shuffle for any number of columns.
    """
    cols = cols or [c for c in OHLCV_COLUMNS if c in df.columns]
    part = [_q(p) for p in partition_by]
    return _impute(df, {c: _q(c) for c in cols}, "interpolate", "true", part, _q(ts))


# ---------------------------------------------------------------------------
# Predicates / filters (P3–P8)
# ---------------------------------------------------------------------------


def drop_negative_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Drop rows with any negative numeric value (``data_cleaner.py:207-216``)."""
    cols = cols or [c for c in OHLCV_COLUMNS if c in df.columns]
    return df.filter(F.expr(_nonneg_sql([_q(c) for c in cols])))


def nullify_negatives(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Nullify (not drop) negatives — ``data_validator.py:73-79`` variant."""
    cols = cols or [c for c in OHLCV_COLUMNS if c in df.columns]
    return df.withColumns(
        {c: F.when(F.col(c) >= 0, F.col(c)) for c in cols}
    )


def ohlc_consistent(tolerance: float = 0.0) -> Column:
    """OHLC consistency predicate (P5/P6).

    Strict (``simple_validator.py:83-91``): high >= low/open/close and
    low <= open/close. With ``tolerance`` t (``data_cleaner.py:238-269``,
    default 5% there): high*(1+t) >= x and low*(1-t) <= x.
    """
    return F.expr(_consistent_sql("open", "high", "low", "close", tolerance))


def filter_valid_ohlc(df: DataFrame, tolerance: float = 0.0) -> DataFrame:
    """Drop OHLC-inconsistent rows (strict-mode path)."""
    return df.filter(ohlc_consistent(tolerance))


def filter_positive_prices(df: DataFrame) -> DataFrame:
    """Positive prices, non-negative volume (``simple_validator.py:74-81``)."""
    return df.filter(F.expr(_positive_sql("open", "high", "low", "close", "volume")))


def repair_ohlc(df: DataFrame, tolerance: float = 0.0) -> DataFrame:
    """Repair inconsistent rows: ``high := max(open,close,high)``,
    ``low := min(open,close,low)`` (``data_cleaner.py:251-263``)."""
    fixed = _repair_sql("open", "high", "low", "close", tolerance)
    return df.withColumns({c: F.expr(e) for c, e in fixed.items()})


# ---------------------------------------------------------------------------
# IQR clip (F5 + A6)
# ---------------------------------------------------------------------------


def iqr_clip(
    df: DataFrame,
    cols: list[str] | None = None,
    factor: float = 1.5,
    per_symbol: bool = True,
) -> DataFrame:
    """Winsorize outliers to ``[Q1 - f*IQR, Q3 + f*IQR]``
    (``data_cleaner.py:218-236``), quartiles per symbol
    (:func:`_quartiles_sql`)."""
    cols = cols or [c for c in OHLCV_COLUMNS if c in df.columns]
    by = "symbol" if per_symbol and "symbol" in df.columns else None
    out = df.withColumns(
        {
            f"__{k}_{c}": F.expr(e)
            for c in cols
            for k, e in _quartiles_sql(_q(c), by).items()
        }
    )
    out = out.withColumns(
        {
            c: F.expr(_clip_sql(_q(c), _q(f"__q1_{c}"), _q(f"__q3_{c}"), factor))
            for c in cols
        }
    )
    return out.drop(*[f"__{q}_{c}" for c in cols for q in ("q1", "q3")])


def zscore_outlier_clean(
    df: DataFrame,
    price_cols: list[str] | None = None,
    volume_col: str = "volume",
    threshold: float = 3.0,
) -> DataFrame:
    """Z-score variant (``validation/data_processor.py:86-123``): price
    outliers → null then ffill; volume outliers → per-symbol median."""
    price_cols = price_cols or [c for c in PRICE_COLUMNS if c in df.columns]
    keys = ["symbol"] if "symbol" in df.columns else []
    aggs = []
    for c in price_cols + [volume_col]:
        aggs += [
            F.avg(c).alias(f"__mu_{c}"),
            F.stddev_samp(c).alias(f"__sd_{c}"),
        ]
    aggs.append(F.median(volume_col).alias("__med_vol"))
    stats = df.groupBy(*keys).agg(*aggs)
    joined = (
        df.join(F.broadcast(stats), on=keys, how="left")
        if keys
        else df.crossJoin(F.broadcast(stats))
    )

    def is_outlier(c: str) -> Column:
        sd = F.col(f"__sd_{c}")
        z = F.abs((F.col(c) - F.col(f"__mu_{c}")) / sd)
        return sd.isNotNull() & (sd != 0) & (z > threshold)

    joined = joined.withColumns(
        {c: F.when(~is_outlier(c), F.col(c)) for c in price_cols}
        | {
            # when(is_outlier, med).otherwise(col) — NOT the negated
            # form: a NULL volume makes is_outlier NULL, and
            # when(~NULL, col).otherwise(med) would smear the median
            # over missing values (pandas comparison-with-NaN is False,
            # so the reference leaves NaN untouched; found by
            # tools/fuzz_oracle.py seed sweep)
            volume_col: F.when(
                is_outlier(volume_col), F.col("__med_vol")
            ).otherwise(F.col(volume_col))
        }
    )
    joined = ffill(joined, price_cols, keys)
    drop = [f"__mu_{c}" for c in price_cols + [volume_col]]
    drop += [f"__sd_{c}" for c in price_cols + [volume_col]]
    return joined.drop(*drop, "__med_vol")


# ---------------------------------------------------------------------------
# The staged frame and the full cleaning pipeline (E1 step 4) — frozen
# stage order
# ---------------------------------------------------------------------------


def stage_ohlcv(
    df: DataFrame,
    mode: str = "repair",
    epoch_unit: str = "s",
    iqr_factor: float = 1.5,
    price_tolerance: float = 0.0,
    impute_method: str = "ffill",
) -> DataFrame:
    """The 13-step ``validate_and_clean`` sequence
    (``data_cleaner.py:56-173``) as ONE lazy frame with one row per
    input row, each stage's effect carried as per-row columns.

    lowercase → require → ts-normalize → keep-first dedup → numeric
    coerce → impute → drop negatives → IQR clip → OHLC repair (repair
    mode) or drop (strict mode). The input's columns come first
    (lowercased, ``symbol`` added if missing, ``timestamp`` normalized,
    OHLCV holding the FINAL cleaned values), then:

    - ``__dup``: a later row of a (symbol, timestamp) tie;
      ``__kept``: valid timestamp and not a dup
    - ``__c_<col>``: coerced value
    - ``__kept2``: kept and no imputed value negative (imputation
      reads the kept rows only, through masked windows: the dropped
      rows stay in the frame but never feed a fill)
    - ``__o_<col>``: imputed value outside the IQR fence of the
      ``__kept2`` rows
    - ``__bad``: OHLC-inconsistent after the clip, before repair
    - ``__final``: the row survives cleaning

    Every window, the quartiles included, partitions by ``symbol``:
    one shuffle for the whole frame. :func:`clean_ohlcv` is
    this frame filtered to ``__final``, and
    :mod:`financial_data_pipeline_spark.plans.report` aggregates it
    into the validation report, so the rules exist once.
    """
    if mode not in ("repair", "strict"):
        raise ValueError(f"mode must be 'repair' or 'strict', got {mode!r}")
    if impute_method not in ("ffill", "interpolate"):
        raise ValueError(
            f"impute_method must be 'ffill' or 'interpolate', got {impute_method!r}"
        )
    df = require_columns(lowercase_columns(df))
    if "symbol" not in df.columns:
        df = df.withColumn("symbol", F.lit("UNKNOWN"))
    df = normalize_timestamp(df, epoch_unit=epoch_unit)
    # clean_ohlcv's column order: repair mode leads with symbol (where
    # the quartile join USING symbol of earlier releases put it), strict
    # mode keeps the input order
    base = df.columns
    if mode == "repair":
        base = ["symbol", *[c for c in base if c != "symbol"]]
    strings = {c for c, t in df.dtypes if t == "string"}
    cols, part = OHLCV_COLUMNS, ["symbol"]

    lag = "lag(timestamp) OVER (PARTITION BY symbol ORDER BY timestamp)"
    out = df.withColumns(
        {"__dup": F.expr(f"coalesce(timestamp = {lag}, false)")}
        | {f"__c_{c}": F.expr(_coerce_sql(c, c in strings)) for c in cols}
    ).withColumn("__kept", F.expr("timestamp IS NOT NULL AND NOT __dup"))
    # "ffill" = reference parity (ffill→bfill, data_cleaner.py:191-205);
    # "interpolate" = the config option the reference names but never
    # implements (config_manager.py:49)
    imputed = {f"__i_{c}": f"__c_{c}" for c in cols}
    out = _impute(out, imputed, impute_method, "__kept", part, "timestamp")
    nonneg = _nonneg_sql([f"__i_{c}" for c in cols])
    out = out.withColumn("__kept2", F.expr(f"__kept AND {nonneg}"))

    # quartiles of the __kept2 rows, over the symbol partitioning the
    # windows above already have (an aggregate joined back would
    # recompute those windows in a second branch)
    out = out.withColumns(
        {
            f"__{k}_{c}": F.expr(e)
            for c in cols
            for k, e in _quartiles_sql(
                f"CASE WHEN __kept2 THEN __i_{c} END", "symbol"
            ).items()
        }
    )
    fences = {c: _iqr_fence_sql(f"__q1_{c}", f"__q3_{c}", iqr_factor) for c in cols}
    out = out.withColumns(
        {
            f"__o_{c}": F.expr(f"__i_{c} < {lo} OR __i_{c} > {hi}")
            for c, (lo, hi) in fences.items()
        }
        | {
            f"__f_{c}": F.expr(
                _clip_sql(f"__i_{c}", f"__q1_{c}", f"__q3_{c}", iqr_factor)
                if mode == "repair"
                else f"__i_{c}"
            )
            for c in cols
        }
    )
    o, h, l, c_ = (f"__f_{x}" for x in ("open", "high", "low", "close"))
    consistent = _consistent_sql(o, h, l, c_, price_tolerance)
    final = {"__bad": F.expr(f"NOT {consistent}")}
    if mode == "repair":
        fixed = _repair_sql(o, h, l, c_, price_tolerance)
        final |= {f"__f_{x}": F.expr(e) for x, e in fixed.items()}
        final["__final"] = F.col("__kept2")
    else:
        # strict: drop positive-price failures, OHLC violations and
        # remaining nulls instead of clipping and repairing
        positive = _positive_sql(o, h, l, c_, "__f_volume")
        no_null = " AND ".join(f"__f_{x} IS NOT NULL" for x in cols)
        final["__final"] = F.expr(
            f"__kept2 AND coalesce({positive} AND {consistent} AND {no_null}, false)"
        )
    out = out.withColumns(final)
    return out.select(
        *[F.expr(f"__f_{x} AS {x}") if x in cols else x for x in base],
        "__dup",
        "__kept",
        *[f"__c_{c}" for c in cols],
        "__kept2",
        *[f"__o_{c}" for c in cols],
        "__bad",
        "__final",
    )


def cleaned_from_staged(staged: DataFrame, add_time_features: bool = True) -> DataFrame:
    """The surviving rows of a :func:`stage_ohlcv` frame, projected to
    the input's columns (+ hour / day_of_week / month / year)."""
    out = staged.filter("__final").select(
        *staged.columns[: staged.columns.index("__dup")]
    )
    return with_time_features(out) if add_time_features else out


def clean_ohlcv(
    df: DataFrame,
    mode: str = "repair",
    epoch_unit: str = "s",
    iqr_factor: float = 1.5,
    price_tolerance: float = 0.0,
    add_time_features: bool = True,
    impute_method: str = "ffill",
) -> DataFrame:
    """The cleaned frame of the 13-step ``validate_and_clean`` sequence
    (``data_cleaner.py:56-173``) as one lazy plan: the staged frame of
    :func:`stage_ohlcv` filtered to its surviving rows. The validation
    report over the same input aggregates that same staged frame
    (:mod:`financial_data_pipeline_spark.plans.report`)."""
    staged = stage_ohlcv(
        df, mode, epoch_unit, iqr_factor, price_tolerance, impute_method
    )
    return cleaned_from_staged(staged, add_time_features)


def mad_outlier_flags(
    df: DataFrame,
    col: str,
    by: str = "symbol",
    threshold: float = 3.5,
) -> DataFrame:
    """Robust outlier flag via the modified z-score (Iglewicz & Hoaglin):
    0.6745·(x − median)/MAD with MAD = median(|x − median|) — the
    median-based sibling of the IQR clip and the z-score clean, immune
    to the outliers it hunts (mean/stddev are not).

    Two exact per-group median aggregates (Spark ``median`` ≡ DuckDB
    ``median``, the same parity the IQR path pins) with broadcast
    joins back; flags ride as ``{col}_mad_z`` / ``{col}_is_outlier``.
    A zero-MAD group (constant values) flags nothing — deviation from
    a constant is caught by the range checks, not robust z."""
    med = df.groupBy(by).agg(F.median(col).alias("__med"))
    with_med = df.join(F.broadcast(med), by)
    mad = (
        with_med.select(by, F.abs(F.col(col) - F.col("__med")).alias("__ad"))
        .groupBy(by)
        .agg(F.median("__ad").alias("__mad"))
    )
    z = F.when(
        F.col("__mad") > 0,
        0.6745 * (F.col(col) - F.col("__med")) / F.col("__mad"),
    )
    out = with_med.join(F.broadcast(mad), by)
    return out.select(
        *df.columns,
        z.alias(f"{col}_mad_z"),
        (F.abs(z) > threshold).alias(f"{col}_is_outlier"),
    )


def hampel_flags(
    df: DataFrame,
    col: str,
    n: int = 11,
    k: float = 3.0,
    by: str = "symbol",
    ts: str = "timestamp",
) -> DataFrame:
    """ROLLING Hampel filter: flag x_t when
    |x_t − med_t| > k·1.4826·MAD_t over the trailing n-bar window —
    the windowed sibling of :func:`mad_outlier_flags` (whose median is
    per-GROUP): a level shift later in the series does not poison
    earlier flags, which is what a spike detector on trending prices
    needs.

    Rolling median AND rolling MAD both need order statistics of the
    current window — not a two-stacked-windows composition — so both
    come from ONE bounded ``collect_list`` + ``array_sort`` per row
    (the ``cci`` device): per-row O(n log n), all codegen, no Python,
    no extra shuffle. Even-length windows average the two middle
    elements (the standard median). Warmup rows (fewer than n values)
    and zero-MAD windows (constant run) abstain — null flag column
    semantics match ``mad_outlier_flags``.
    """
    x = F.col(col).cast("double")
    w = (
        Window.partitionBy(by)
        .orderBy(ts)
        .rowsBetween(-(n - 1), 0)
    )
    arr = F.array_sort(F.collect_list(x).over(w))
    sz = F.size(arr)
    mid = (sz + 1) / 2
    med = (
        F.element_at(arr, F.floor(mid).cast("int"))
        + F.element_at(arr, F.ceil(mid).cast("int"))
    ) / 2.0
    dev = F.array_sort(F.transform(arr, lambda v: F.abs(v - med)))
    mad = (
        F.element_at(dev, F.floor(mid).cast("int"))
        + F.element_at(dev, F.ceil(mid).cast("int"))
    ) / 2.0
    flag = F.when(
        (sz >= n) & (mad > 0),
        F.abs(x - med) > F.lit(k) * F.lit(1.4826) * mad,
    )
    return df.withColumns(
        {
            f"{col}_rolling_median": F.when(sz >= n, med),
            f"{col}_hampel_outlier": flag,
        }
    )
