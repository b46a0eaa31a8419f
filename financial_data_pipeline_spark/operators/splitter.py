"""Train/val/test splits + ML sliding windows (SURVEY.md §2.8 SP1–SP5, W9).

Re-expresses ``DataSplitter`` (``src/data_etl/processing/data_splitter.py``).

Scale note (SURVEY.md §7.4 item 4): chronological splits need a global
row order. At fixture scale a global ``row_number`` window (single
reduce partition) is fine; ``chronological_split`` therefore computes
the per-row rank and the row count in that one window, lazily, and the
caller gets two filtered plans off one ranked base. The 100 TB path is
a timestamp-quantile cutoff (``approx_percentile`` on the timestamp) —
provided as ``chronological_split_by_quantile`` — which needs no global
sort at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _ranked(df: DataFrame, ts: str) -> DataFrame:
    """``df`` + its 1-based global rank ``__rn`` in (ts, other columns)
    order + the row count ``__n``, both from one single-partition
    window, so a cut needs no driver-side count."""
    w = Window.orderBy(F.col(ts).asc(), *[F.col(c) for c in df.columns if c != ts])
    everything = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return df.withColumns(
        {"__rn": F.row_number().over(w), "__n": F.count(F.lit(1)).over(everything)}
    )


def _cut(frac: float):
    """``int(n * frac)`` on the window's count: a double product cast to
    BIGINT truncates exactly as Python's ``int`` does."""
    return (F.col("__n") * F.lit(float(frac))).cast("bigint")


def chronological_split(
    df: DataFrame,
    test_size: float = 0.2,
    ts: str = "timestamp",
) -> tuple[DataFrame, DataFrame]:
    """SP1 (``data_splitter.py:32-64``): sort by ts; first
    ``floor(n*(1-test_size))`` rows train, rest test. Lazy: the count
    comes from the same window as the rank, so building starts no job."""
    ranked = _ranked(df, ts)
    in_train = F.col("__rn") <= _cut(1 - test_size)
    return (
        ranked.filter(in_train).drop("__rn", "__n"),
        ranked.filter(~in_train).drop("__rn", "__n"),
    )


def split_time_series(
    df: DataFrame,
    train_ratio: float = 0.7,
    val_ratio: float = 0.15,
    ts: str = "timestamp",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """SP3 (``data_splitter.py:158-189``): chronological 3-way by row fraction."""
    ranked = _ranked(df, ts)
    rn = F.col("__rn")
    n_train, n_val = _cut(train_ratio), _cut(train_ratio + val_ratio)
    return tuple(
        ranked.filter(cond).drop("__rn", "__n")
        for cond in (rn <= n_train, (rn > n_train) & (rn <= n_val), rn > n_val)
    )


def random_split(
    df: DataFrame,
    test_size: float = 0.2,
    val_ratio: float = 0.0,
    seed: int = 42,
) -> tuple[DataFrame, ...]:
    """SP2 (``data_splitter.py:66-72,112-156``).

    The reference delegates to sklearn's shuffled split; Spark's
    ``randomSplit`` is a different RNG, so parity is on the split
    PROPERTIES (sizes within tolerance, disjointness, union = input) —
    exactly what the reference's own tests assert. ``val_ratio`` follows
    the reference's renormalization ``val/(1-test)``.
    """
    if val_ratio:
        train_frac = (1 - test_size) * (1 - val_ratio)
        val_frac = (1 - test_size) * val_ratio
        return tuple(df.randomSplit([train_frac, val_frac, test_size], seed=seed))
    return tuple(df.randomSplit([1 - test_size, test_size], seed=seed))


def split_by_date(
    df: DataFrame, split_date: str, ts: str = "timestamp"
) -> tuple[DataFrame, DataFrame]:
    """U2 (``data_splitter.py:82-110``): before/after a date; the
    before-part is inclusive of the cutoff."""
    c = F.col(ts)
    return df.filter(c <= F.lit(split_date)), df.filter(c > F.lit(split_date))


def split_by_time(
    df: DataFrame, train_end: str, val_end: str, ts: str = "timestamp"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """SP4 (``data_splitter.py:191-228``): date-cutoff 3-way, ends inclusive."""
    c = F.col(ts)
    return (
        df.filter(c <= F.lit(train_end)),
        df.filter((c > F.lit(train_end)) & (c <= F.lit(val_end))),
        df.filter(c > F.lit(val_end)),
    )


def chronological_split_by_quantile(
    df: DataFrame, test_size: float = 0.2, ts: str = "timestamp", accuracy: int = 10000
) -> tuple[DataFrame, DataFrame]:
    """Scale path for SP1: cut at the (1−test_size) timestamp quantile —
    no global sort, one approx-percentile pass + two pushed-down filters."""
    cutoff = df.select(
        F.approx_percentile(F.unix_micros(F.col(ts)), F.lit(1 - test_size), F.lit(accuracy))
    ).first()[0]
    c = F.unix_micros(F.col(ts))
    return df.filter(c <= cutoff), df.filter(c > cutoff)


def global_row_index(
    df: DataFrame, order_by: list[str], partitions: int | None = None
) -> DataFrame:
    """Exact 1-based global rank in ``order_by`` order WITHOUT a
    single-partition window — the distributed form of the reference's
    ``reset_index`` rank (risk register SURVEY.md §7.4 item 4).

    Range-partition on the sort key, count rows per partition (tiny
    collect — one row per partition), then local ``row_number`` +
    partition offset. Every partition ranks independently: the plan has
    one range exchange + one hash exchange on the partition id, never
    an ``Exchange SinglePartition``. Returns ``(df + __rn, total)``.
    """
    cols = [F.col(c) for c in order_by]
    rp = df.repartitionByRange(
        partitions or df.sparkSession.sparkContext.defaultParallelism, *cols
    ).withColumn("__pid", F.spark_partition_id())
    # THE PIN IS CORRECTNESS, not an optimization: repartitionByRange
    # samples its boundaries per materialization, so without pinning
    # the exchange, the size-count job and the caller's downstream
    # actions could see DIFFERENT partitionings and the offsets would
    # be stale. (RDD.zipWithIndex relies on the same materialize-then-
    # count contract.) localCheckpoint, NOT persist (r10, VERDICT r9
    # #5): a persist registers the subtree with the session
    # CacheManager and — since the returned frame references it, it
    # can never be unpersisted inside this builder — Spark substituted
    # the cached plan into every LATER query sharing the canonical
    # subtree (the 49a248f leak class). The checkpoint materializes
    # once (same partition-stability guarantee), is invisible to plan
    # substitution, and is reclaimed by the ContextCleaner when the
    # frame goes unreferenced.
    rp = rp.localCheckpoint()
    sizes = dict(
        rp.groupBy("__pid").count().collect()
    )  # |partitions| rows — driver-side cumsum is O(partitions)
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    ranked = rp.withColumn(
        "__rn", F.row_number().over(w) + off[F.col("__pid")]
    ).drop("__pid")
    return ranked, acc


def chronological_split_distributed(
    df: DataFrame,
    test_size: float = 0.2,
    ts: str = "timestamp",
    partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """EXACT SP1 semantics (row-count split in global time order) with
    no global-sort bottleneck: ``global_row_index`` ranks via
    range-partition + per-partition offsets, then the same
    ``floor(n·(1−test_size))`` cut as ``chronological_split``.

    Same result as the parity operator (asserted in tests); use this
    when the frame is too large for a one-partition window and the
    approximate timestamp-quantile cut (``chronological_split_by_
    quantile``) is not acceptable because of heavy timestamp ties or a
    strict row-count contract.
    """
    order_by = [ts, *[c for c in df.columns if c != ts]]
    ranked, total = global_row_index(df, order_by, partitions)
    n_train = int(total * (1 - test_size))
    return (
        ranked.filter(F.col("__rn") <= n_train).drop("__rn"),
        ranked.filter(F.col("__rn") > n_train).drop("__rn"),
    )


def sliding_windows(
    df: DataFrame,
    feature_cols: list[str],
    window_size: int,
    target_size: int = 1,
    stride: int = 1,
    by: list[str] = (),
    ts: str = "timestamp",
) -> DataFrame:
    """W9 / SP5 (``data_splitter.py:230-263``): strided (X, y) windows.

    Output: one row per window start with ``x`` =
    array of the next ``window_size`` feature-structs and ``y`` = the
    following ``target_size`` structs. Distributed form: a forward
    ``collect_list`` window + size filter + stride filter on the row
    rank — no driver-side numpy striding.
    """
    by = list(by)
    w = Window.partitionBy(*by).orderBy(ts) if by else Window.orderBy(ts)
    span = window_size + target_size
    fwd = w.rowsBetween(0, span - 1)
    feat = F.struct(*[F.col(c) for c in feature_cols])
    out = (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__span", F.collect_list(feat).over(fwd))
        .filter(F.size("__span") == span)
        .filter(((F.col("__rn") - 1) % stride) == 0)
        .select(
            *by,
            F.col(ts).alias("window_start"),
            F.slice("__span", 1, window_size).alias("x"),
            F.slice("__span", window_size + 1, target_size).alias("y"),
        )
    )
    return out


def kfold_split(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    fold_col: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment (cross-validation twin of SP2).

    Fold = portable md5-prefix hash of the id mod ``k`` — the same
    engine- and partitioning-independent recipe as
    ``curation.stratified_sample``, so folds are reproducible across
    runs, clusters, AND engines (the DuckDB oracle recomputes exact
    membership). Map-only: no shuffle, no RNG state; each fold's
    train/test views are two filters off one scan. Folds partition the
    input exactly (disjoint, exhaustive) and are ~uniform in
    expectation; unlike ``randomSplit`` there is no per-partition
    sampling drift.
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return df.withColumn(fold_col, (h % k).cast("int"))


def walk_forward_folds(
    df: DataFrame,
    n_folds: int = 5,
    ts: str = "timestamp",
    fold_col: str = "fold",
) -> DataFrame:
    """Walk-forward (rolling-origin) fold assignment — the time-series
    CV counterpart of :func:`kfold_split`: folds are CONTIGUOUS time
    blocks (fold i trains on folds < i, tests on fold i), never random,
    so no future leakage. Boundaries are exact interpolated quantiles
    of the timestamp (one distributed aggregate — the
    ``chronological_split_by_quantile`` recipe), fold id = count of
    boundaries at or below ts via a broadcast join — no global sort, no
    single-partition window.
    """
    fracs = [i / n_folds for i in range(1, n_folds)]
    t_us = F.unix_micros(F.col(ts))
    cuts_row = df.select(
        F.percentile(t_us, F.array(*[F.lit(f) for f in fracs])).alias("__cuts")
    )
    return (
        df.crossJoin(F.broadcast(cuts_row))
        .withColumn(
            fold_col,
            F.aggregate(
                "__cuts",
                F.lit(0),
                lambda acc, c: acc + F.when(t_us > c, 1).otherwise(0),
            ),
        )
        .drop("__cuts")
    )


def purged_walk_forward(
    df: DataFrame,
    n_folds: int = 5,
    embargo_seconds: float = 3600.0,
    ts: str = "timestamp",
) -> DataFrame:
    """Purged walk-forward assignment (López de Prado's purged CV,
    rendered on the contiguous-fold layout): for test fold i, training
    rows inside ``embargo`` of the fold's boundaries are EXCLUDED —
    labels computed from windows that straddle a boundary would
    otherwise leak test information into training.

    Emits ``fold`` (the row's own time block, from
    :func:`walk_forward_folds`) plus ``purged_before`` — true when the
    row sits within ``embargo_seconds`` BELOW its next fold boundary (i.e. it
    must be dropped from training when testing fold+1). Train set for
    testing fold i = rows with fold < i, minus rows where
    ``purged_before`` and fold == i−1 near the shared boundary; the
    flag is computed against the SAME broadcast quantile cuts — no
    extra pass, no join against the test fold.
    """
    from pyspark.sql import functions as F

    fracs = [i / n_folds for i in range(1, n_folds)]
    t_us = F.unix_micros(F.col(ts))
    emb_us = F.lit(int(embargo_seconds * 1_000_000))
    cuts_row = df.select(
        F.percentile(t_us, F.array(*[F.lit(f) for f in fracs])).alias("__cuts")
    )
    with_cuts = df.crossJoin(F.broadcast(cuts_row))
    fold = F.aggregate(
        "__cuts",
        F.lit(0),
        lambda acc, c: acc + F.when(t_us > c, 1).otherwise(0),
    )
    near_next = F.exists(
        "__cuts", lambda c: (t_us <= c) & (t_us > c - emb_us)
    )
    return with_cuts.select(
        *df.columns, fold.alias("fold"), near_next.alias("purged_before")
    )


def triple_barrier_labels(
    df: DataFrame,
    horizon: int = 24,
    up_mult: float = 2.0,
    down_mult: float = 2.0,
    vol_window: int = 60,
    by: str = "symbol",
    ts: str = "timestamp",
) -> DataFrame:
    """Triple-barrier event labels (López de Prado, AFML ch.3) — the
    standard supervised-learning target for financial ML, replacing
    naive fixed-horizon returns: for each bar, look FORWARD up to
    ``horizon`` bars and label +1 / −1 / 0 by which barrier the path
    touches first — upper (entry·(1 + mult·σ)), lower
    (entry·(1 − mult·σ)), or the vertical timeout (label 0, with the
    timeout return's sign available downstream).

    Distributed form: σ is the trailing realized vol (a window), the
    forward path is ONE bounded ``collect_list`` over the FOLLOWING
    window, and the first-touch scan is an ``aggregate`` fold with an
    early-exit flag in the accumulator — per-row O(horizon), pure
    codegen, no Python, no self-join, no point-in-time leakage (the
    path excludes the entry bar itself). Rows whose remaining series
    is shorter than ``horizon`` abstain (null label — an incomplete
    event, AFML's purge rule).
    """
    w = Window.partitionBy(by).orderBy(ts)
    ret = F.col("close") / F.lag("close").over(w) - 1.0
    vw = w.rowsBetween(-(vol_window - 1), 0)
    sigma = F.when(
        F.count(F.lit(1)).over(vw) >= vol_window, F.stddev_samp(ret).over(vw)
    )
    fwd = w.rowsBetween(1, horizon)
    path = F.collect_list("close").over(fwd)
    d = df.withColumns(
        {"__sigma": sigma, "__path": path}
    )
    entry = F.col("close")
    up = entry * (1.0 + F.lit(up_mult) * F.col("__sigma"))
    dn = entry * (1.0 - F.lit(down_mult) * F.col("__sigma"))
    # fold state: 0 = undecided, 1 = upper hit first, -1 = lower
    label_fold = F.aggregate(
        F.col("__path"),
        F.lit(0),
        lambda acc, x: F.when(acc != 0, acc)
        .when(x >= up, F.lit(1))
        .when(x <= dn, F.lit(-1))
        .otherwise(F.lit(0)),
    )
    complete = (F.size(F.col("__path")) >= horizon) & F.col(
        "__sigma"
    ).isNotNull()
    timeout_ret = F.element_at(F.col("__path"), horizon) / entry - 1.0
    return d.withColumns(
        {
            "tb_label": F.when(complete, label_fold),
            "tb_timeout_return": F.when(
                complete & (label_fold == 0), timeout_ret
            ),
        }
    ).drop("__path")
