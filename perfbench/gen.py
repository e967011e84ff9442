"""Seeded load-series generator: writes the `events` table the time-series
pipeline reads (columns ts, event_type, value; event_type is the series).

Each series has a level, a linear drift, daily and weekly seasonality,
heavy-tailed AR(1) noise, unlabelled natural load events (multi-hour surges
and dips, outages, single-hour glitches), per-reading noise, and missing
data: single missing hours at `gap_rate` and whole missing days at
`day_gap_rate`, so the week-walk fill has real gaps to fill. Levels and
noise scales are stratified across series and event counts are fixed per
series, so corpora from different seeds are equally hard. Values are
unquantized doubles, so the r4 rounding of hourly means never sits on a
half-boundary that two engines could round differently. The same arguments
always give the same file.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
HOUR_US = 3600 * 1_000_000
EVENT_DAY_RATE = 0.6
GLITCH_RATE = 0.03
OUTAGE_DAY_RATE = 0.15


def strata(rng, n):
    """n draws in [0, 1), one from each of n equal strata, in random order:
    every corpus gets the same spread of series properties."""
    return rng.permutation((np.arange(n) + rng.random(n)) / n)


def day_starts(rng, days, rate, min_len, max_len):
    """(start hour, length) of round(rate * days) events on distinct days."""
    ds = rng.choice(days, size=int(round(rate * days)), replace=False)
    return zip(ds * 24 + rng.integers(0, 24, ds.size), rng.integers(min_len, max_len + 1, ds.size))


def hourly_profile(rng, hours, level, sigma):
    """Hourly load curve for one series (len = hours)."""
    h = np.arange(hours)
    drift = rng.normal(0.0, 0.15)
    day_amp = rng.uniform(0.15, 0.35)
    week_amp = rng.uniform(0.05, 0.15)
    shift = rng.uniform(-2.0, 2.0)
    hod = (h + shift) % 24
    # two daily humps (morning and evening peaks), weekend dip
    daily = 0.6 * np.sin(2 * np.pi * (hod - 7) / 24) + 0.4 * np.sin(4 * np.pi * (hod - 5) / 24)
    weekend = ((h // 24) % 7 >= 5).astype(float)
    trend = 1.0 + drift * h / max(hours - 1, 1)
    ar = np.empty(hours)
    e = sigma * rng.standard_t(3, hours) / np.sqrt(3.0)
    ar[0] = e[0]
    for i in range(1, hours):
        ar[i] = 0.7 * ar[i - 1] + e[i]
    # natural load events, unlabelled but anomaly-like: on EVENT_DAY_RATE of
    # the days a 1-6 hour surge or dip of 20-80% (weather, holidays), on
    # OUTAGE_DAY_RATE a 2-8 hour outage reading near zero, and single-hour
    # meter glitches on GLITCH_RATE of the hours
    days = hours // 24
    ev = np.ones(hours)
    for start, n in day_starts(rng, days, EVENT_DAY_RATE, 1, 6):
        ev[start:start + n] *= 1.0 + rng.choice([-1.0, 1.0]) * rng.uniform(0.2, 0.8)
    for start, n in day_starts(rng, days, OUTAGE_DAY_RATE, 2, 8):
        ev[start:start + n] *= rng.uniform(0.0, 0.05)
    glitch = rng.choice(hours, size=int(round(GLITCH_RATE * hours)), replace=False)
    ev[glitch] *= rng.uniform(0.2, 4.0, glitch.size)
    return level * trend * (1.0 + day_amp * daily - week_amp * weekend + ar) * ev


def observed_hours(rng, hours, gap_rate, day_gap_rate):
    """Boolean mask of hours that carry readings."""
    keep = rng.random(hours) >= gap_rate
    days = hours // 24
    for d in rng.choice(days, size=int(round(day_gap_rate * days)), replace=False):
        keep[d * 24:(d + 1) * 24] = False
    # the first and last hour always exist so every series spans the grid
    keep[0] = keep[-1] = True
    return keep


def series_batches(series, days, per_hour, gap_rate, day_gap_rate, seed):
    """One record batch per series, in series order (events are not sorted
    by time: the pipeline aggregates by hour and never relies on order)."""
    hours = days * 24
    names = pa.array([f"s{i:04d}" for i in range(series)])
    rng0 = np.random.default_rng([seed])
    levels = 60.0 + 80.0 * strata(rng0, series)
    sigmas = 0.08 + 0.08 * strata(rng0, series)
    for i in range(series):
        rng = np.random.default_rng([seed, i])
        y = hourly_profile(rng, hours, levels[i], sigmas[i])
        hrs = np.nonzero(observed_hours(rng, hours, gap_rate, day_gap_rate))[0]
        n = hrs.size * per_hour
        hr = np.repeat(hrs, per_hour)
        ts = BASE_US + hr * HOUR_US + rng.integers(0, HOUR_US, n)
        val = y[hr]
        if per_hour > 1:
            val = val + rng.normal(0.0, 0.05 * levels[i], n)
        yield pa.record_batch({
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "event_type": pa.DictionaryArray.from_arrays(
                pa.array(np.full(n, i, dtype=np.int32)), names),
            "value": pa.array(val, type=pa.float64()),
        })


def write(out_dir, series, days, per_hour, gap_rate, day_gap_rate, seed):
    """Write `out_dir/events.parquet`; returns the number of events."""
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, "events.parquet.tmp")
    rows = 0
    writer = None
    for b in series_batches(series, days, per_hour, gap_rate, day_gap_rate, seed):
        if writer is None:
            writer = pq.ParquetWriter(tmp, b.schema)
        writer.write_batch(b, row_group_size=1 << 20)
        rows += b.num_rows
    writer.close()
    os.replace(tmp, os.path.join(out_dir, "events.parquet"))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--series", type=int, required=True)
    ap.add_argument("--days", type=int, default=30)
    ap.add_argument("--per-hour", type=int, default=1)
    ap.add_argument("--gap-rate", type=float, default=0.03)
    ap.add_argument("--day-gap-rate", type=float, default=0.03)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    n = write(a.out_dir, a.series, a.days, a.per_hour, a.gap_rate, a.day_gap_rate, a.seed)
    print(f"{n} events -> {a.out_dir}/events.parquet")


if __name__ == "__main__":
    main()
