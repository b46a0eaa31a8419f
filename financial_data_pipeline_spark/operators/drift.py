"""Dataset drift metrics (beyond-reference scope).

Population Stability Index between a reference dataset (e.g. the
training split) and a comparison dataset (e.g. the serving window):
``PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)``. The standard gate for
"did the feature distribution move" in ML pipelines — <0.1 stable,
0.1–0.25 drifting, >0.25 retrain.

Spark design: equal-width bins derived from the REFERENCE side's
(min, max) — a one-row aggregate broadcast to both sides (the same
two-pass histogram shape as ``indicators.volume_profile``, and unlike
quantile bins it is bit-reproducible in any engine). Each side then
bucket-counts with one groupBy; the tiny per-bin frames join on bin id.
Laplace-style smoothing (+0.5 per bin) keeps empty bins finite and is
applied identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _melt(df: DataFrame, cols: list[str]) -> DataFrame:
    """(feature, __v) long form of the given numeric columns — one
    pruned scan covers every feature at once (the scan reads only
    ``cols``), so histogramming F features costs the same two passes
    as histogramming one. The single-feature case skips the explode
    (a plain projection — measurably cheaper on fact-sized input)."""
    if len(cols) == 1:
        return df.select(
            F.lit(cols[0]).alias("feature"),
            F.col(cols[0]).cast("double").alias("__v"),
        )
    return df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("feature"),
                        F.col(c).cast("double").alias("__v"),
                    )
                    for c in cols
                ]
            )
        ).alias("fv")
    ).select("fv.feature", "fv.__v")


def clamped_bin(v, lo, width, bins: int) -> "F.Column":
    """Equal-width bin index ``floor((v - lo) / width)`` clamped into
    ``0..bins-1``: values outside the reference range land in the edge
    bins, and a null quotient (``width`` 0, or ``v`` null) in bin 0.
    The clamp runs on ``floor``'s long result and the int cast comes
    after it: ``floor`` saturates a huge quotient (a reference range a
    few subnormals wide) to ``Long.MaxValue``, which an int cast with
    ANSI off wraps to -1. Callers pick ``width`` for degenerate
    ranges."""
    return F.least(
        F.lit(bins - 1), F.greatest(F.lit(0), F.floor((v - lo) / width))
    ).cast("int")


def _ordered_bin_fold(key_col: str, term) -> "F.Column":
    """Order-deterministic Σ term: left-fold over the bin-sorted list
    so Spark and any SQL oracle (``list_reduce(list(x ORDER BY bin))``)
    produce the bit-identical double — an unordered float sum rounded
    at 6dp is a coin flip whenever the value lands near a rounding
    boundary. The list is |bins| elements, so cost is nil."""
    return F.aggregate(
        F.array_sort(
            F.collect_list(F.struct(F.col(key_col), term.alias("__term")))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x["__term"],
    )


def _hist_compact(
    ref: DataFrame, new: DataFrame, cols: list[str], bins: int
) -> DataFrame:
    """ONE row per feature: ``(feature, __t_ref, __t_new, __m)`` where
    ``__m`` maps occupied bin → (n_ref, n_new) — the whole drift
    histogram as a compact per-feature value, zero driver actions:

    - per-feature (min, max) is one aggregate over the melted
      reference, broadcast back to both sides (no ``.first()``);
    - both sides union with a side tag and bucket-count in a single
      groupBy(feature, bin);
    - one more groupBy(feature) folds the ≤ bins+1 count rows into the
      map and the side totals.

    At 100 TB this is two passes over the reference and ONE over the
    comparison side, covering ALL features, and exactly THREE
    exchanges total (stats agg, (feature, bin) agg, feature agg — the
    last two on already-reduced rows); consumers densify the map with
    array expressions instead of a dense-grid join, so no further
    shuffle ever touches the data. NULL feature values keep a null
    bucket through the count (``__t_*`` totals count every row, like
    an oracle ``count(*)``) and drop at the map build — a null is
    missing data, not lowest-bin mass."""
    mref, mnew = _melt(ref, cols), _melt(new, cols)
    stats = mref.groupBy("feature").agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    u = mref.withColumn("__side", F.lit(0)).unionByName(
        mnew.withColumn("__side", F.lit(1))
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(bins)
    bucket = F.when(
        F.col("__v").isNotNull(),
        clamped_bin(F.col("__v"), F.col("__lo"), width, bins),
    )
    binned = (
        u.join(F.broadcast(stats), "feature")
        .select("feature", bucket.alias("bin"), "__side")
        .groupBy("feature", "bin")
        .agg(
            F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).alias("n_new"),
        )
    )
    return binned.groupBy("feature").agg(
        F.sum("n_ref").alias("__t_ref"),
        F.sum("n_new").alias("__t_new"),
        F.map_from_entries(
            # null-bin rows (null feature values) yield a null struct,
            # which collect_list drops — counted in totals, not binned
            F.collect_list(
                F.when(
                    F.col("bin").isNotNull(),
                    F.struct(
                        F.col("bin"),
                        F.struct(F.col("n_ref"), F.col("n_new")),
                    ),
                )
            )
        ).alias("__m"),
    )


def _bin_counts(b):
    """(n_ref, n_new) for dense bin ``b`` out of the compact map —
    absent (empty) bins read as 0/0."""
    e = F.try_element_at(F.col("__m"), b)
    return (
        F.coalesce(e["n_ref"], F.lit(0)),
        F.coalesce(e["n_new"], F.lit(0)),
    )


def _dense_bin_fold(bins: int, term_of_bin) -> "F.Column":
    """Order-deterministic Σ over the dense bin range 0..bins−1: a
    left-fold over ``sequence(0, bins-1)`` seeded with 0.0 — the same
    term order as a SQL ``list_reduce(list(x ORDER BY bin))`` twin, so
    the folded double is bit-identical across engines. ``term_of_bin``
    maps the bin-index column to that bin's term."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bins - 1)),
        F.lit(0.0),
        lambda acc, b: acc + term_of_bin(b),
    )


def psi_features(
    ref: DataFrame, new: DataFrame, cols: list[str], bins: int = 10
) -> DataFrame:
    """PSI per feature: ``(feature, psi, n_ref, n_new)``, one row per
    column, computed as ONE job chain with zero driver actions and
    three exchanges total (see :func:`_hist_compact`). Values outside
    the reference range clamp into the edge bins (out-of-range mass
    counts as extreme-bin drift rather than vanishing); +0.5 Laplace
    smoothing keeps empty bins finite. The 10-term sum folds in dense
    bin order so the result is bit-reproducible across engines."""
    h = _hist_compact(ref, new, cols, bins)

    def term(b):
        n_ref, n_new = _bin_counts(b)
        p = (n_ref + 0.5) / (F.col("__t_ref") + F.lit(0.5 * bins))
        q = (n_new + 0.5) / (F.col("__t_new") + F.lit(0.5 * bins))
        return (p - q) * F.log(p / q)

    return h.select(
        "feature",
        _dense_bin_fold(bins, term).alias("psi"),
        F.col("__t_ref").cast("bigint").alias("n_ref"),
        F.col("__t_new").cast("bigint").alias("n_new"),
    )


def psi(
    ref: DataFrame,
    new: DataFrame,
    col: str,
    bins: int = 10,
) -> DataFrame:
    """One-row frame: ``(feature, psi, n_ref, n_new)`` for ``col`` —
    the single-feature view of :func:`psi_features`."""
    return psi_features(ref, new, [col], bins)


def hist_chi2_drift(
    ref: DataFrame,
    new: DataFrame,
    col: str,
    bins: int = 10,
) -> DataFrame:
    """Two-sample chi-square homogeneity TEST over the same
    reference-range equal-width bins as :func:`psi` — the drift metric
    with an actual p-value: under H0 (same distribution) the statistic
    Σ_cells (O−E)²/E over the 2×bins table is χ²(bins−1), where
    E[side, bin] = row_total(bin)·side_total/grand_total. PSI/JS say
    "how far"; this says "is the move explainable by sampling noise" —
    the gate a small serving window needs before alarming.

    Empty bins (row total 0) contribute nothing and shed a degree of
    freedom, the standard treatment; a cell whose EXPECTED count is 0
    (one side entirely empty) is skipped rather than divided by — and
    the p-value is null (not NaN) whenever the test is degenerate:
    dof < 1 (all mass in one bin) or an empty side. The p-value uses
    the Wilson–Hilferty cube-root normal approximation (χ²/d ≈ normal
    — |ε| < 1e-3 for d ≥ 3, monotone), through the same A-S erf
    polynomial as ``indicators.vpin``, so both engines compute the
    identical closed form. Same compact histogram plan as :func:`psi`:
    zero driver actions, three exchanges, dense bin-ordered fold.
    """
    from financial_data_pipeline_spark.operators.indicators import _norm_cdf

    h = _hist_compact(ref, new, [col], bins)
    gt = F.col("__t_ref") + F.col("__t_new")

    def term(b):
        n_ref, n_new = _bin_counts(b)
        rt = n_ref + n_new  # per-bin row total
        e_ref = rt * F.col("__t_ref") / gt
        e_new = rt * F.col("__t_new") / gt
        side = lambda n, e: F.when(  # noqa: E731 — tiny cell guard
            e > 0, F.pow(n - e, F.lit(2.0)) / e
        ).otherwise(F.lit(0.0))
        return F.when(rt > 0, side(n_ref, e_ref) + side(n_new, e_new)).otherwise(
            F.lit(0.0)
        )

    agg = h.select(
        "feature",
        _dense_bin_fold(bins, term).alias("chi2"),
        # every map entry is a non-empty (rt > 0) in-range bin
        (F.size("__m").cast("long") - F.lit(1)).alias("dof"),
        F.col("__t_ref").cast("bigint").alias("n_ref"),
        F.col("__t_new").cast("bigint").alias("n_new"),
    )
    d = F.col("dof").cast("double")
    z = (
        F.pow(F.col("chi2") / d, F.lit(1.0) / 3.0)
        - (1.0 - 2.0 / (9.0 * d))
    ) / F.sqrt(2.0 / (9.0 * d))
    pval = F.when(
        (F.col("dof") >= 1) & (F.col("n_ref") > 0) & (F.col("n_new") > 0),
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), 1.0 - _norm_cdf(z))),
    )  # degenerate test → null, never NaN
    return agg.select(
        "feature",
        "chi2",
        "dof",
        pval.alias("p_value"),
        "n_ref",
        "n_new",
    )


def cusum_flags(
    df,
    value_col: str,
    by: str = "symbol",
    ts: str = "timestamp",
    drift: float = 0.0,
    threshold: float = 5.0,
    ref_stats: "DataFrame | None" = None,
) -> "DataFrame":
    """Two-sided CUSUM change-point detector per key (Page 1954) —
    running upward/downward cumulative sums of the deviation from the
    key's mean, alarm when either exceeds ``threshold`` (in units of
    the key's own stddev; ``drift`` is the slack k, also in sigmas).

    Scale design — the recursion ``s_t = max(0, s_{t-1} + y_t)`` is NOT
    window-expressible directly, but has the exact closed form
    ``s_t = P_t - min(P_0..P_t)`` with ``P`` the prefix sum of ``y``:
    two cumulative windows per side, all partitioned by key — no
    sequential scan, no Python stage, one fact shuffle shared by all
    four windows (and the per-key mean/stddev ride in via a broadcast
    aggregate join, the standard scalar-distribution shape).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if ref_stats is not None:
        # frozen standardization (columns: by, mu, sd) — the streaming
        # form must standardize against a FROZEN reference (state can't
        # see the future mean); passing the same frame here makes batch
        # and streaming bit-comparable
        stats = ref_stats.select(
            by, F.col("mu").alias("__mu"), F.col("sd").alias("__sd")
        )
    else:
        stats = df.groupBy(by).agg(
            F.avg(value_col).alias("__mu"), F.stddev_samp(value_col).alias("__sd")
        )
    z = (F.col(value_col) - F.col("__mu")) / F.col("__sd")
    w = (
        Window.partitionBy(by)
        .orderBy(ts)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        df.join(F.broadcast(stats), by)
        # windows can't nest, so the prefix sums materialize as columns
        # before the running min reads them (same exchange either way)
        .withColumn("__pu", F.sum(z - F.lit(drift)).over(w))
        .withColumn("__pd", F.sum(-z - F.lit(drift)).over(w))
        .withColumn(
            "cusum_up",
            F.col("__pu") - F.least(F.min("__pu").over(w), F.lit(0.0)),
        )
        .withColumn(
            "cusum_down",
            F.col("__pd") - F.least(F.min("__pd").over(w), F.lit(0.0)),
        )
        .drop("__mu", "__sd", "__pu", "__pd")
    )
    return out.withColumn(
        "changepoint",
        (F.col("cusum_up") > threshold) | (F.col("cusum_down") > threshold),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    by: list[str] = (),
    n_terms: int = 100,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between ``group_a`` and
    ``group_b`` rows of ``value_col``, optionally per ``by`` key —
    the nonparametric companion of :func:`psi` (no binning choice,
    sensitive to any distributional difference, the classic
    training-vs-serving drift gate).

    Distributed closed form, no sort-to-driver and no per-row Python:

    1. ``groupBy(by, value)`` → per-distinct-value counts for each
       side (ties collapse here, which is exactly how the empirical
       CDF treats them);
    2. one per-key window ordered by value → cumulative counts, i.e.
       both ECDFs evaluated at every jump point;
    3. ``D = max |F_a − F_b|`` per key in one aggregate.

    Two key-hashed shuffles total ((by, value) then by), each on
    already-reduced rows. The p-value is the asymptotic Kolmogorov
    survival at λ = (√en + 0.12 + 0.11/√en)·D (Stephens' small-sample
    correction), via the standard dual-series split: the alternating
    series 2·Σ (−1)^{j−1}·exp(−2·j²·λ²) only converges fast for
    λ ≳ 1.18; below that its theta-function transform
    1 − (√(2π)/λ)·Σ_j exp(−(2j−1)²·π²/(8λ²)) is used (3 terms are
    already exact to double precision there). Both fold over a literal
    ``sequence`` so the whole statistic stays codegen.
    """
    import math

    from pyspark.sql import Window

    by = list(by)
    g = F.col(group_col)
    counted = (
        df.filter(g.isin([group_a, group_b]))
        .groupBy(*by, F.col(value_col).alias("__v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("__ca"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("__cb"),
        )
    )
    w = (
        Window.partitionBy(*by)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy(*by)
    ecdf = counted.select(
        *by,
        (F.sum("__ca").over(w) / F.sum("__ca").over(tot)).alias("__fa"),
        (F.sum("__cb").over(w) / F.sum("__cb").over(tot)).alias("__fb"),
        F.sum("__ca").over(tot).alias("__na"),
        F.sum("__cb").over(tot).alias("__nb"),
    )
    agg = ecdf.groupBy(*by).agg(
        F.max(F.abs(F.col("__fa") - F.col("__fb"))).alias("ks_d"),
        F.first("__na").alias("n_a"),
        F.first("__nb").alias("n_b"),
    )
    en = F.col("n_a") * F.col("n_b") / (F.col("n_a") + F.col("n_b"))
    lam = (F.sqrt(en) + 0.12 + 0.11 / F.sqrt(en)) * F.col("ks_d")
    alt_series = 2.0 * F.aggregate(
        F.sequence(F.lit(1), F.lit(n_terms)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.pow(F.lit(-1.0), (j - 1).cast("double"))
        * F.exp(-2.0 * (j * j).cast("double") * lam * lam),
    )
    theta_series = 1.0 - (
        math.sqrt(2.0 * math.pi) / lam
    ) * F.aggregate(
        F.sequence(F.lit(1), F.lit(3)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.exp(
            -((2.0 * j.cast("double") - 1.0) * (2.0 * j.cast("double") - 1.0))
            * (math.pi * math.pi)
            / (8.0 * lam * lam)
        ),
    )
    pval = (
        F.when(lam == 0.0, F.lit(1.0))
        .when(lam < 1.18, theta_series)
        .otherwise(alt_series)
    )
    return agg.select(
        *by,
        "n_a",
        "n_b",
        "ks_d",
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), pval)).alias("ks_pvalue"),
    )


def js_divergence(
    ref: DataFrame,
    new: DataFrame,
    col: str,
    bins: int = 10,
) -> DataFrame:
    """Jensen–Shannon divergence between ``ref`` and ``new`` over the
    same reference-range equal-width bins as :func:`psi` — the BOUNDED
    drift metric (0 ≤ JS ≤ ln 2, symmetric, never infinite), preferred
    when the comparison feeds an alert threshold that must not blow up
    on an empty bin. Same compact histogram plan (three exchanges) and
    Laplace smoothing; only the combine differs:
    JS = ½·KL(p‖m) + ½·KL(q‖m), m = (p+q)/2 — folded per bin as
    ½·(p·ln(p/m) + q·ln(q/m)) in dense bin order (bit-reproducible).
    """
    h = _hist_compact(ref, new, [col], bins)

    def term(b):
        n_ref, n_new = _bin_counts(b)
        p = (n_ref + 0.5) / (F.col("__t_ref") + F.lit(0.5 * bins))
        q = (n_new + 0.5) / (F.col("__t_new") + F.lit(0.5 * bins))
        m = (p + q) / 2.0
        return F.lit(0.5) * (p * F.log(p / m) + q * F.log(q / m))

    return h.select(
        "feature",
        _dense_bin_fold(bins, term).alias("js_divergence"),
        F.col("__t_ref").cast("bigint").alias("n_ref"),
        F.col("__t_new").cast("bigint").alias("n_new"),
    )


def categorical_psi(
    ref: DataFrame,
    new: DataFrame,
    col: str,
    max_categories: int = 100,
) -> DataFrame:
    """PSI over a CATEGORICAL column (segment, source, country…) —
    the frequency-table counterpart of the numeric :func:`psi`.

    The category domain is the REFERENCE side's top ``max_categories``
    values (deterministic count-desc, value-asc order); everything
    else — including categories the stream invents later — collapses
    into ``__other__``, so new-category drift registers as mass moving
    into the other-bucket instead of silently changing the domain
    between runs. Same +0.5 Laplace smoothing and Σ(p−q)ln(p/q)
    combine as the numeric form; two groupBys on already-tiny
    per-category frames, the domain broadcast to the new side.
    """
    cats = (
        ref.groupBy(F.col(col).alias("__cat"))
        .count()
        .orderBy(F.desc("count"), F.asc("__cat"))
        .limit(max_categories)
        .select("__cat")
    )
    domain = [r["__cat"] for r in cats.collect()]
    bucket = F.when(
        F.col(col).isin(domain), F.col(col).cast("string")
    ).otherwise(F.lit("__other__"))

    def counts(df, name):
        return (
            df.select(bucket.alias("__cat"))
            .groupBy("__cat")
            .agg(F.count(F.lit(1)).alias(name))
        )

    cat_rows = ref.sparkSession.createDataFrame(
        [(c,) for c in [*map(str, domain), "__other__"]], ["__cat"]
    )
    grid = (
        cat_rows.join(counts(ref, "n_ref"), on="__cat", how="left")
        .join(counts(new, "n_new"), on="__cat", how="left")
        .na.fill({"n_ref": 0, "n_new": 0})
    )
    # totals stay in the plan (one-row crossJoin, the scalar-
    # distribution shape) — no driver action
    tot = grid.agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_new").alias("__tn")
    )
    grid = grid.crossJoin(F.broadcast(tot))
    k = len(domain) + 1
    p = (F.col("n_ref") + 0.5) / (F.col("__tr") + F.lit(0.5 * k))
    q = (F.col("n_new") + 0.5) / (F.col("__tn") + F.lit(0.5 * k))
    term = (p - q) * F.log(p / q)
    return grid.agg(
        F.lit(col).alias("feature"),
        _ordered_bin_fold("__cat", term).alias("psi"),
        F.first("__tr").cast("bigint").alias("n_ref"),
        F.first("__tn").cast("bigint").alias("n_new"),
    )
