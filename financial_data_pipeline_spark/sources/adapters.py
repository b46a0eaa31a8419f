"""Adapters mapping the driver testdata onto the engine's data model.

FIXTURES.md T6: the ``events`` table (event_id, ts, user_id, event_type,
value, props) is the timestamped fact standing in for the OHLCV stream —
``event_type`` plays the ``symbol`` role and ``value`` the price role.
``events_as_ohlcv`` derives an honest OHLCV bar table from it by
bucketing events per type (exactly how real trade ticks become candles),
so every downstream OHLCV operator (cleaning, indicators, resample,
splits) runs on driver-provided data rather than synthesized input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Timestamp columns per driver table (TESTDATA.md): stored as INT64
# TIMESTAMP(NANOS) parquet, surfaced as long under ``nanosAsLong`` and
# converted here to microsecond timestamps (matching DuckDB's read).
TS_COLUMNS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


# Schema memo (r9, guide §6.2 — declared schema beats re-inference):
# ``spark.read.parquet`` runs a one-task schema-inference job per call
# (~0.15-0.25 s warm); with 1-3 ``load_table`` calls in nearly every
# registered query, that fixed cost dominated the sub-second bench
# tail. The memo holds ONLY the inferred StructType — pure metadata,
# the stand-in for a real deployment's catalog/metastore entry; every
# query still builds a fresh plan and scans the parquet (no data, no
# results, nothing persisted across processes). Keyed by the file's
# (mtime, size) so a rewritten path (fuzz harnesses) re-infers.
_SCHEMA_MEMO: dict[tuple, "object"] = {}


def _parquet_with_schema(spark: SparkSession, path: str) -> DataFrame:
    import os

    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        # non-local / unstat-able path: fall back to plain inference
        return spark.read.parquet(path)
    sch = _SCHEMA_MEMO.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_MEMO[key] = sch
    return spark.read.schema(sch).parquet(path)


# Loaded-relation memo (r10, guide §6/§7.3 — the catalog pattern): a
# warm ``load_table`` still cost ~60 py4j round trips + a JVM
# DataSource resolution (~60 ms) PER CALL, and with 1-3 calls in nearly
# every registered query that chatter was a large slice of the
# sub-second bench floor. DataFrames are immutable, so the resolved
# base relation (file index + schema + the ts conversion projection —
# pure METADATA, exactly what a metastore catalog holds) is shared
# per (session, path, mtime, size); every consumer still builds its own
# downstream plan and every action scans the parquet fresh — no data,
# no results, nothing persisted across processes. WeakKeyDictionary on
# the session: entries die with it, and a rewritten file (fuzz
# harnesses) changes (mtime, size) and re-resolves. Caveat (r9 ADVICE,
# documented trade): flipping a schema-affecting read conf (e.g.
# ``nanosAsLong``) inside ONE session will not re-resolve — call
# ``clear_table_memo()`` in such a harness.
import weakref

_TABLE_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def clear_table_memo() -> None:
    """Drop all memoized relations/schemas, the lake's file schemas
    included (for harnesses that rewrite files in place or flip
    schema-affecting read configs mid-session)."""
    from financial_data_pipeline_spark.sources import laketable

    _TABLE_MEMO.clear()
    _SCHEMA_MEMO.clear()
    laketable._FILE_SCHEMA_MEMO.clear()


def _load_table_fresh(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = _parquet_with_schema(spark, f"{sf_dir}/{name}.parquet")
    for c in TS_COLUMNS.get(name, []):
        if c not in df.columns:
            continue
        dtype = dict(df.dtypes)[c]
        if dtype == "bigint":
            # Integer `div`, not `/`: nanos ≈ 1.7e18 exceeds double's 2^53
            # mantissa, so float division would be off by ±1 µs.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtype == "timestamp_ntz":
            # µs-precision files read as NTZ; session TZ is UTC so the
            # cast is a wall-clock identity, and downstream unix_micros
            # (which rejects NTZ) works uniformly.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return _load_table_fresh(spark, sf_dir, name)
    per_session = _TABLE_MEMO.setdefault(spark, {})
    df = per_session.get(key)
    if df is None:
        df = _load_table_fresh(spark, sf_dir, name)
        per_session[key] = df
    return df


def events_as_ohlcv(
    spark: SparkSession, sf_dir: str, timeframe_minutes: int = 60
) -> DataFrame:
    """Bucket events into per-type OHLCV bars.

    open = value of the earliest event in the bucket (ties broken by
    event_id — deterministic), close = latest, high/low = max/min,
    volume = sum(value). Epoch-aligned fixed buckets; identical
    semantics are expressible in the DuckDB oracle with
    ``time_bucket`` + ``arg_min``/``arg_max`` on the same tiebreaker.
    """
    ev = load_table(spark, sf_dir, "events")
    secs_us = timeframe_minutes * 60 * 1_000_000
    # Expressions as SQL text, ONE py4j round trip each (r10, guide
    # §7.3 applied one level earlier: this builder runs under ~150
    # registered queries and the per-operator py4j chatter of the
    # Column-API form cost ~110 ms per construction on this box's
    # ~0.6 ms round trips). Parse results are the identical resolved
    # expressions (pinned by test_events_as_ohlcv_expr_semantics).
    bucket_us = f"floor(unix_micros(ts) / {secs_us}) * {secs_us}"
    # Deterministic first/last: order by (offset-within-bucket, event_id)
    # encoded as one sortable int64 (offset < timeframe ≤ 2^42 µs, so
    # offset·2^20 + event_id fits with headroom).
    order_key = f"(unix_micros(ts) - {bucket_us}) * 1048576 + event_id"
    return ev.groupBy(
        F.expr("event_type AS symbol"),
        F.expr(f"timestamp_micros({bucket_us}) AS timestamp"),
    ).agg(
        F.expr(f"min_by(value, {order_key}) AS open"),
        F.expr("max(value) AS high"),
        F.expr("min(value) AS low"),
        F.expr(f"max_by(value, {order_key}) AS close"),
        F.expr("sum(value) AS volume"),
    )


EVENTS_AS_OHLCV_SQL = """
SELECT
  event_type AS symbol,
  make_timestamp((epoch_us(ts) // {secs_us}) * {secs_us}) AS timestamp,
  arg_min(value, (epoch_us(ts) - (epoch_us(ts) // {secs_us}) * {secs_us}) * 1048576 + event_id) AS open,
  max(value) AS high,
  min(value) AS low,
  arg_max(value, (epoch_us(ts) - (epoch_us(ts) // {secs_us}) * {secs_us}) * 1048576 + event_id) AS close,
  sum(value) AS volume
FROM events
GROUP BY 1, 2
"""


def events_as_ohlcv_sql(timeframe_minutes: int = 60) -> str:
    """DuckDB twin of :func:`events_as_ohlcv` (oracle building block)."""
    return EVENTS_AS_OHLCV_SQL.format(secs_us=timeframe_minutes * 60 * 1_000_000)
