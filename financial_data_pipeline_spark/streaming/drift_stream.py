"""Streaming feature-drift monitor: windowed PSI against a frozen
reference (the serving-time companion to ``operators/drift.py``).

The batch PSI compares two static frames. In production the question
is continuous: *is the feature stream drifting away from the training
distribution right now?* The Spark rendering:

- the REFERENCE side is frozen at deploy time: (lo, hi, per-bin
  counts) — ``bins`` numbers collected once driver-side and baked
  into the streaming plan as literals (a broadcast of constants; the
  reference never re-scans);
- the stream buckets each row into the reference's equal-width bins
  (same clamp-to-edge rule) and runs ONE windowed aggregate with a
  conditional-sum column per bin — a single stateful operator, so
  append mode + watermark close windows exactly like
  ``continuous_aggregate`` (no chained-aggregate restriction);
- PSI folds over the bin columns in a stateless projection on top —
  per closed window: one row ``(window_start, window_end, psi,
  n_new)``, identical arithmetic to ``drift.psi`` (+0.5 smoothing on
  both sides).

State is O(windows · bins) counters; late rows merge into their
window until the watermark passes, exactly once per window in the
sink.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financial_data_pipeline_spark.operators.drift import clamped_bin


def freeze_reference(ref: DataFrame, col: str, bins: int = 10) -> dict:
    """Snapshot the reference distribution: ``{lo, hi, bins, counts}``.
    One two-pass histogram (min/max aggregate, then bin counts) —
    ``bins`` longs on the driver, the whole deploy artifact."""
    lo, hi = ref.agg(F.min(col), F.max(col)).first()
    width = (hi - lo) / bins if hi != lo else 1.0
    bucket = clamped_bin(F.col(col), F.lit(lo), F.lit(width), bins)
    rows = ref.select(bucket.alias("bin")).groupBy("bin").count().collect()
    counts = [0] * bins
    for r in rows:
        counts[r["bin"]] = r["count"]
    return {"lo": float(lo), "hi": float(hi), "bins": bins, "counts": counts}


def streaming_psi(
    stream: DataFrame,
    reference: dict,
    col: str,
    ts: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window PSI vs the frozen reference. Append-mode-safe (one
    stateful aggregate); emit rows once the watermark closes each
    window."""
    bins = reference["bins"]
    lo, hi = reference["lo"], reference["hi"]
    width = (hi - lo) / bins if hi != lo else 1.0
    bucket = clamped_bin(F.col(col), F.lit(lo), F.lit(width), bins)
    counts = [
        F.sum((bucket == i).cast("long")).alias(f"__n_{i}") for i in range(bins)
    ]
    win = (
        stream.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window).alias("w"))
        .agg(*counts, F.count(F.lit(1)).alias("n_new"))
    )
    t_ref = float(sum(reference["counts"]))
    denom_ref = t_ref + 0.5 * bins
    denom_new = F.col("n_new") + F.lit(0.5 * bins)
    terms = []
    for i in range(bins):
        p = (reference["counts"][i] + 0.5) / denom_ref
        q = (F.col(f"__n_{i}") + F.lit(0.5)) / denom_new
        terms.append((F.lit(p) - q) * (F.lit(math.log(p)) - F.log(q)))
    psi_expr = terms[0]
    for t in terms[1:]:
        psi_expr = psi_expr + t
    return win.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        psi_expr.alias("psi"),
        "n_new",
    )


def streaming_js(
    stream: DataFrame,
    reference: dict,
    col: str,
    ts: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window Jensen–Shannon divergence vs the frozen reference —
    the BOUNDED drift monitor (0..ln2; see ``drift.js_divergence``):
    an alert threshold on it can never blow up on an empty window bin,
    which is exactly the failure mode a pager-wired PSI alert has.

    Identical plan shape to :func:`streaming_psi` (same frozen
    reference, same one stateful windowed aggregate, append-safe);
    only the stateless combine differs — and since only q is a column
    (p is a deploy-time literal), KL(p‖m) folds with a per-bin
    ``p·ln p`` precomputed driver-side.
    """
    bins = reference["bins"]
    lo, hi = reference["lo"], reference["hi"]
    width = (hi - lo) / bins if hi != lo else 1.0
    bucket = clamped_bin(F.col(col), F.lit(lo), F.lit(width), bins)
    counts = [
        F.sum((bucket == i).cast("long")).alias(f"__n_{i}") for i in range(bins)
    ]
    win = (
        stream.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window).alias("w"))
        .agg(*counts, F.count(F.lit(1)).alias("n_new"))
    )
    t_ref = float(sum(reference["counts"]))
    denom_ref = t_ref + 0.5 * bins
    denom_new = F.col("n_new") + F.lit(0.5 * bins)
    terms = []
    for i in range(bins):
        p = (reference["counts"][i] + 0.5) / denom_ref
        q = (F.col(f"__n_{i}") + F.lit(0.5)) / denom_new
        m = (F.lit(p) + q) / 2.0
        terms.append(
            0.5 * (F.lit(p) * (F.lit(math.log(p)) - F.log(m)))
            + 0.5 * (q * (F.log(q) - F.log(m)))
        )
    js = terms[0]
    for t in terms[1:]:
        js = js + t
    return win.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        js.alias("js_divergence"),
        "n_new",
    )


def streaming_chi2(
    stream: DataFrame,
    reference: dict,
    col: str,
    ts: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window two-sample chi-square homogeneity TEST vs the frozen
    reference (the streaming form of ``drift.hist_chi2_drift``): PSI
    and JS report distance, this reports a p-value — a small serving
    window that merely LOOKS different does not page anyone unless the
    move beats sampling noise at its own window size, which is the
    property an alert on thin night-hours traffic needs.

    Same single stateful windowed aggregate as :func:`streaming_psi`
    (append-safe); the statistic is a stateless projection. Per bin:
    O_ref is a deploy-time literal, O_new a window column, expecteds
    split the bin's row total by the side totals; bins with zero row
    total drop out of both the sum and the dof (same treatment as the
    batch operator). p-value via the Wilson–Hilferty normal
    approximation through the shared A-S erf polynomial."""
    from financial_data_pipeline_spark.operators.indicators import _norm_cdf

    bins = reference["bins"]
    lo, hi = reference["lo"], reference["hi"]
    width = (hi - lo) / bins if hi != lo else 1.0
    bucket = clamped_bin(F.col(col), F.lit(lo), F.lit(width), bins)
    counts = [
        F.sum((bucket == i).cast("long")).alias(f"__n_{i}") for i in range(bins)
    ]
    win = (
        stream.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window).alias("w"))
        .agg(*counts, F.count(F.lit(1)).alias("n_new"))
    )
    t_ref = float(sum(reference["counts"]))
    gt = F.lit(t_ref) + F.col("n_new").cast("double")
    chi2 = F.lit(0.0)
    dof = F.lit(-1)
    for i in range(bins):
        o_ref = F.lit(float(reference["counts"][i]))
        o_new = F.col(f"__n_{i}").cast("double")
        rt = o_ref + o_new
        e_ref = rt * F.lit(t_ref) / gt
        e_new = rt * F.col("n_new").cast("double") / gt
        chi2 = chi2 + F.when(
            rt > 0,
            F.pow(o_ref - e_ref, F.lit(2.0)) / e_ref
            + F.pow(o_new - e_new, F.lit(2.0)) / e_new,
        ).otherwise(F.lit(0.0))
        dof = dof + (rt > 0).cast("int")
    d = dof.cast("double")
    z = (
        F.pow(chi2 / d, F.lit(1.0) / 3.0) - (1.0 - 2.0 / (9.0 * d))
    ) / F.sqrt(2.0 / (9.0 * d))
    pval = F.least(F.lit(1.0), F.greatest(F.lit(0.0), 1.0 - _norm_cdf(z)))
    return win.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        chi2.alias("chi2"),
        dof.alias("dof"),
        pval.alias("p_value"),
        "n_new",
    )


def streaming_benford(
    stream: DataFrame,
    col: str,
    ts: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window Benford first-digit screen — the streaming twin of
    ``stats.benford_digit_test`` (fabricated-numbers monitor on a live
    feed: order amounts, reported volumes, invoice totals).

    Unlike PSI/JS there is no frozen reference to snapshot: the
    expected distribution IS Benford's law, nine literals. One
    stateful windowed aggregate counts the nine digits (same
    append-safe single-operator shape as ``streaming_psi``); χ² with
    the absent-digit mass folded in closed form and the exact
    even-df(8) survival are a stateless projection on top —
    bit-identical per window to the batch operator, asserted in tests.
    """
    x = F.abs(F.col(col))
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("int")
    counts = [
        F.sum(((digit == d) & (x > 0)).cast("long")).alias(f"__d{d}")
        for d in range(1, 10)
    ]
    win = (
        stream.withWatermark(ts, watermark)
        .filter(x > 0)
        .groupBy(F.window(F.col(ts), window).alias("w"))
        .agg(*counts, F.count(F.lit(1)).alias("n"))
    )
    n = F.col("n").cast("double")
    dev = F.lit(0.0)
    pmass = F.lit(0.0)
    for d in range(1, 10):
        p = math.log10(1.0 + 1.0 / d)
        c = F.col(f"__d{d}")
        # only digits PRESENT in the window contribute to dev; absent
        # ones owe their expected mass (1 - Σ_present p), identical to
        # the batch closed form
        dev = dev + F.when(c > 0, F.pow(c / n - F.lit(p), 2) / F.lit(p)).otherwise(F.lit(0.0))
        pmass = pmass + F.when(c > 0, F.lit(p)).otherwise(F.lit(0.0))
    chi2 = n * (dev + (1.0 - pmass))
    h = chi2 / 2.0
    sf = F.exp(-h) * (1.0 + h + h * h / 2.0 + h * h * h / 6.0)
    return win.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("n"),
        chi2.alias("chi2"),
        F.least(F.lit(1.0), sf).alias("p_value"),
    )
