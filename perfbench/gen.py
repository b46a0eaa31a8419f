"""Seeded input generators for the benchmark.

Each generator is a pure function of its ``seed`` (numpy PCG64). The
runner writes the tables as plain parquet, so the program under test
sees only files and never the seed. Each generator also returns the
ground truth the output checks compare against: planted anomaly
counts, or the late corrections of each lake batch.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
MINUTE_US = 60 * 1_000_000
UTC_US = pa.timestamp("us", tz="UTC")

# -- OHLCV bars with planted anomalies (ohlcv_etl) ---------------------------

PER_KIND = 3  # planted anomalies of each kind per symbol
GAP_BARS = 10  # bars removed per planted time gap: a 660 s hole > 6 x 60 s
SLOT = 20  # anomaly slots are 20 bars apart, so no two anomalies interact
KINDS = ("gap", "dup", "nan", "neg", "bad")


def ohlcv_bars(
    seed: int, n_symbols: int, n_bars: int
) -> tuple[pa.Table, dict[str, dict[str, int]]]:
    """1-minute bars for ``n_symbols`` symbols with ``PER_KIND`` planted
    anomalies of each kind per symbol: time gaps, duplicate rows, single
    NaN cells, negative values and OHLC violations.

    Prices trend linearly from ``b`` to ``1.5 b``, so the cleaner's
    1.5 x IQR fences sit outside every clean and every planted value:
    no planted row is clipped back into consistency and no clean row is
    clipped out of it. Anomalies sit on disjoint 20-bar slots, so no
    forward fill of a NaN reaches a negative row.

    Returns the table and, per symbol, the counter values the
    validation report must produce plus the expected row counts.
    """
    rng = np.random.default_rng(seed)
    n_slots = n_bars // SLOT - 2
    if n_slots < len(KINDS) * PER_KIND:
        raise ValueError("too few bars for the planted anomalies")
    parts, truth = [], {}
    for s in range(n_symbols):
        sym = f"SYM{s:02d}"
        base = float(rng.uniform(50, 500))
        t = np.arange(n_bars)
        mid = base * (1 + 0.5 * t / n_bars) * (1 + 0.001 * np.sin(t / 7.0))
        mid = mid * (1 + rng.normal(0, 2e-4, n_bars))
        close = np.round(mid, 4)
        open_ = np.round(np.concatenate([[mid[0]], mid[:-1]]), 4)
        high = np.round(np.maximum(open_, close) * (1 + rng.uniform(0, 1e-3, n_bars)), 4)
        low = np.round(np.minimum(open_, close) * (1 - rng.uniform(0, 1e-3, n_bars)), 4)
        volume = np.round(rng.uniform(100, 200, n_bars), 3)
        cols = {"open": open_, "high": high, "low": low, "close": close, "volume": volume}
        names = list(cols)
        null = {c: np.zeros(n_bars, bool) for c in cols}

        slots = (rng.permutation(n_slots)[: len(KINDS) * PER_KIND] + 1) * SLOT
        gap_s, dup_s, nan_s, neg_s, bad_s = slots.reshape(len(KINDS), PER_KIND) + 10
        for j in nan_s:
            null[names[rng.integers(0, 5)]][j] = True
        for j in neg_s:
            c = names[rng.integers(0, 5)]
            cols[c][j] = -cols[c][j]
        for j in bad_s:
            high[j] = np.round(0.85 * min(open_[j], close[j], low[j]), 4)
        keep = np.ones(n_bars, bool)
        for j in gap_s:
            keep[j - 5 : j - 5 + GAP_BARS] = False
        idx = np.sort(np.concatenate([np.flatnonzero(keep), dup_s]), kind="stable")
        arrays = {"timestamp": pa.array(EPOCH_2024_US + idx * MINUTE_US, UTC_US)}
        for c, v in cols.items():
            arrays[c] = pa.array(v[idx], mask=null[c][idx])
        arrays["symbol"] = pa.array([sym] * len(idx))
        parts.append(pa.table(arrays))
        truth[sym] = {
            "duplicates_removed": PER_KIND,
            "initial_nans": PER_KIND,
            "negative_rows": PER_KIND,
            "invalid_ohlc": PER_KIND,
            "time_gaps": PER_KIND,
            "rows": len(idx),
            "full": len(idx) - 2 * PER_KIND,  # minus duplicates and negatives
        }
    return pa.concat_tables(parts), truth


# -- lake batch sequence with late corrections (lake_upsert) ----------------

LATE_FRAC = 0.1  # share of each batch that re-sends keys already written
LATE_WINDOW = 60  # late corrections reach back at most this many minutes


def _bars(rng: np.random.Generator, minutes: np.ndarray, symbols: np.ndarray) -> pa.Table:
    close = np.round(rng.uniform(90, 110, len(minutes)), 4)
    return pa.table({
        "timestamp": pa.array(EPOCH_2024_US + minutes * MINUTE_US, UTC_US),
        "symbol": pa.array(symbols, pa.string()),
        "open": np.round(close * rng.uniform(0.999, 1.001, len(close)), 4),
        "high": np.round(close * 1.002, 4),
        "low": np.round(close * 0.998, 4),
        "close": close,
        "volume": np.round(rng.uniform(1, 100, len(close)), 3),
    })


def lake_batches(
    seed: int, n_symbols: int, history_bars: int, batch_bars: int, n_batches: int
) -> tuple[pa.Table, list[pa.Table], list[int]]:
    """A bulk history of 1-minute bars keyed on (timestamp, symbol),
    then ``n_batches`` micro-batches. Each batch holds the next
    ``batch_bars`` minutes for every symbol plus ``LATE_FRAC`` of that
    again in late corrections: distinct keys from the last
    ``LATE_WINDOW`` minutes already written, re-sent with new prices.
    Returns (history, batches, late rows per batch)."""
    rng = np.random.default_rng(seed)
    syms = np.array([f"SYM{s:02d}" for s in range(n_symbols)])

    def grid(start: int, n: int) -> pa.Table:
        minutes = np.repeat(np.arange(start, start + n), n_symbols)
        return _bars(rng, minutes, np.tile(syms, n))

    history = grid(0, history_bars)
    batches, late = [], []
    end = history_bars
    for _ in range(n_batches):
        n_late = max(int(batch_bars * n_symbols * LATE_FRAC), 1)
        back = min(LATE_WINDOW, end)
        picks = rng.choice(back * n_symbols, n_late, replace=False)
        minutes = end - back + picks // n_symbols
        corr = _bars(rng, minutes, syms[picks % n_symbols])
        batches.append(pa.concat_tables([grid(end, batch_bars), corr]))
        late.append(n_late)
        end += batch_bars
    return history, batches, late
