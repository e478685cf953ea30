"""Seeded generator for the `etl` workload and the answers it implies.

Writes the reference job's two inputs:

- twelve monthly Citi-Bike-shaped trip CSVs (2020), with zipf-skewed
  station popularity, ~5% same-station trips, trips under 300 s, a
  nullable birth year, a few NULL bike ids and a few exact duplicate
  lines;
- one GHCN-Daily-shaped weather CSV: several stations per date, empty
  measures, one-hot WT flags (some padded with spaces).

`Expected` is computed here in plain Python from the generated rows, with
no Spark involved: the row counts the warehouse must write, the outcome of
every quality gate, and the answers to the README questions. The
benchmark compares the engine's results against it.
"""

from __future__ import annotations

import calendar
import datetime as dt
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np

YEAR = 2020
TRIP_HEADER = (
    '"tripduration","starttime","stoptime","start station id","start station name",'
    '"start station latitude","start station longitude","end station id",'
    '"end station name","end station latitude","end station longitude","bikeid",'
    '"usertype","birth year","gender"'
)
WEATHER_MEASURES = ["PRCP", "SNOW", "SNWD", "TAVG", "TMAX", "TMIN"]
#: the WT flag columns the warehouse decodes (builders.WT_FLAG_COLS)
WT_FLAGS = ["WT01", "WT02", "WT03", "WT04", "WT05", "WT06", "WT08", "WT09", "WT11"]
#: per station-day probability of each flag
WT_RATES = [0.12, 0.03, 0.04, 0.01, 0.005, 0.005, 0.06, 0.005, 0.02]
WEATHER_HEADER = ["STATION", "NAME", "DATE", "AWND", *WEATHER_MEASURES, "TOBS", *WT_FLAGS]
#: ids of the 21-row weather_type lookup (builders.WEATHER_TYPES)
WEATHER_TYPE_IDS = [*range(1, 20), 21, 22]
SAME_STATION_SHARE = 0.05
BAD_TRIP_SECONDS = 300


@dataclass
class Expected:
    """What the warehouse must contain after one pass over the inputs."""

    table_rows: dict[str, int]
    #: (table, gate) -> passed
    gates: dict[tuple[str, str], bool]
    busiest_month: tuple[int, int]
    trips_by_gender: dict[int, int]
    duration_seconds: int
    trips_by_weather_type: dict[int, int]
    csv_bytes: int


def _fmt_ts(seconds: np.ndarray, frac: np.ndarray) -> list[str]:
    """'YYYY-MM-DD HH:MM:SS.ffff' for seconds since the start of YEAR."""
    t = np.datetime64(f"{YEAR}-01-01T00:00:00") + seconds.astype("timedelta64[s]")
    text = np.datetime_as_string(t, unit="s")
    return [f"{d[:10]} {d[11:]}.{f:04d}" for d, f in zip(text.tolist(), frac.tolist())]


def generate(out_dir: str, seed: int, trips_per_month: int, n_stations: int = 400,
             n_weather_stations: int = 24) -> Expected:
    """Write `trips/*.csv` and `weather.csv` under `out_dir`; return what a
    correct pass over them produces."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out_dir, "trips"), exist_ok=True)

    station_ids = np.sort(rng.choice(np.arange(72, 4000), n_stations, replace=False))
    lat = np.round(rng.uniform(40.60, 40.90, n_stations), 6)
    lon = np.round(rng.uniform(-74.05, -73.90, n_stations), 6)
    popularity = 1.0 / np.arange(1, n_stations + 1) ** 1.1
    popularity = rng.permutation(popularity / popularity.sum())
    stations = [(int(i), f"Station {i}", float(a), float(o))
                for i, a, o in zip(station_ids, lat, lon)]

    year_start = dt.datetime(YEAR, 1, 1)
    kept: set[tuple] = set()
    for month in range(1, 13):
        n = trips_per_month
        days = calendar.monthrange(YEAR, month)[1]
        month_start = int((dt.datetime(YEAR, month, 1) - year_start).total_seconds())
        start_s = month_start + rng.integers(0, days * 86400, n)
        frac = rng.integers(0, 10000, n)
        s_idx = rng.choice(n_stations, n, p=popularity)
        e_idx = rng.choice(n_stations, n, p=popularity)
        same = rng.random(n) < SAME_STATION_SHARE
        e_idx = np.where(same, s_idx, e_idx)
        # lognormal trip lengths (median ~11 min) plus a short-trip tail
        dur = np.clip(rng.lognormal(6.5, 0.8, n), 61, 30000).astype(np.int64)
        short = rng.random(n) < 0.08
        dur = np.where(short, rng.integers(61, BAD_TRIP_SECONDS, n), dur)
        bike = rng.integers(14000, 50000, n)
        bike_null = rng.random(n) < 0.002
        subscriber = rng.random(n) < 0.8
        birth = rng.integers(1940, 2005, n)
        birth_null = rng.random(n) < 0.1
        gender = rng.choice(3, n, p=[0.1, 0.6, 0.3])

        starts = _fmt_ts(start_s, frac)
        stops = _fmt_ts(start_s + dur, frac)
        lines = [
            (
                d, t0, t1,
                stations[si][0], stations[si][1], stations[si][2], stations[si][3],
                stations[ei][0], stations[ei][1], stations[ei][2], stations[ei][3],
                None if bn else b, "Subscriber" if sub else "Customer",
                None if yn else y, g,
            )
            for d, t0, t1, si, ei, b, bn, sub, y, yn, g in zip(
                dur.tolist(), starts, stops, s_idx.tolist(), e_idx.tolist(),
                bike.tolist(), bike_null.tolist(), subscriber.tolist(),
                birth.tolist(), birth_null.tolist(), gender.tolist())
        ]
        # exact duplicate lines: `subtract` (EXCEPT DISTINCT) removes them
        for j in rng.choice(n, max(1, n // 200), replace=False):
            lines.append(lines[j])
        path = os.path.join(out_dir, "trips", f"{YEAR}{month:02d}-citibike-tripdata.csv")
        with open(path, "w") as f:
            f.write(TRIP_HEADER + "\n")
            f.writelines(_trip_line(r) for r in lines)
        # clean_trips: drop same-station trips under 300 s, then EXCEPT DISTINCT
        kept.update(r for r in lines if not (r[3] == r[7] and r[0] < BAD_TRIP_SECONDS))

    weather_rows = _write_weather(os.path.join(out_dir, "weather.csv"), rng, n_weather_stations)
    csv_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(out_dir) for f in files if f.endswith(".csv")
    )
    return _expected(kept, weather_rows, csv_bytes)


def _trip_line(r: tuple) -> str:
    bike = "" if r[11] is None else r[11]
    birth = "" if r[13] is None else r[13]
    return (f'{r[0]},"{r[1]}","{r[2]}",{r[3]},"{r[4]}",{r[5]},{r[6]},'
            f'{r[7]},"{r[8]}",{r[9]},{r[10]},{bike},"{r[12]}",{birth},{r[14]}\n')


def _write_weather(path: str, rng: np.random.Generator, n_stations: int) -> list[dict]:
    days = 366
    dates = [(dt.date(YEAR, 1, 1) + dt.timedelta(days=d)).isoformat() for d in range(days)]

    def measure(values: np.ndarray, fmt: str, empty_share: float) -> list[str]:
        empty = rng.random(days) < empty_share
        return ["" if e else fmt % v for v, e in zip(values.tolist(), empty.tolist())]

    def sometimes(share: float, high: float) -> np.ndarray:
        return np.where(rng.random(days) < share, rng.uniform(0, high, days), 0.0)

    rows = []
    for k in range(n_stations):
        station = f"US1NY{k:06d}" if k % 3 else f"USC00{30000 + k:06d}"
        tmax = rng.integers(20, 95, days)
        cols = {
            "PRCP": measure(sometimes(0.25, 2.0), "%.2f", 0.03),
            "SNOW": measure(sometimes(0.3, 8.0), "%.1f", 0.3),
            "SNWD": measure(sometimes(0.5, 12.0), "%.1f", 0.4),
            # like the real file: almost no station reports TAVG
            "TAVG": [str(t - 8) if k < 2 else "" for t in tmax.tolist()],
            "TMAX": measure(tmax, "%d", 0.02),
            "TMIN": [str(v) for v in (tmax - rng.integers(5, 25, days)).tolist()],
        }
        for wt, rate in zip(WT_FLAGS, WT_RATES):
            on = rng.random(days) < rate
            padded = rng.random(days) < 0.2
            cols[wt] = [(" 1 " if p else "1") if o else "" for o, p in zip(on.tolist(), padded.tolist())]
        for d in range(days):
            row = {"STATION": station, "NAME": f"STATION {k}, NY US", "DATE": dates[d],
                   "AWND": "", "TOBS": ""}
            row.update({c: v[d] for c, v in cols.items()})
            rows.append(row)
    with open(path, "w") as f:
        f.write(",".join(WEATHER_HEADER) + "\n")
        for r in rows:
            vals = [f'"{r[c]}"' if c == "NAME" else r[c] for c in WEATHER_HEADER]
            f.write(",".join(vals) + "\n")
    return rows


def _num(s: str):
    return float(s) if s.strip() else None


def _expected(kept: set[tuple], weather_rows: list[dict], csv_bytes: int) -> Expected:
    fact = [r for r in kept if r[11] is not None]
    stations = {(r[3], r[4], r[6], r[5]) for r in kept} | {(r[7], r[8], r[10], r[9]) for r in kept}
    natural_keys = {(r[1], r[2], r[11], r[3]) for r in fact}
    weather_fact = {(r["DATE"], *(_num(r[m]) for m in WEATHER_MEASURES)) for r in weather_rows}
    weather_dates = {r["DATE"] for r in weather_rows}
    bridge = {(r["DATE"], int(wt[2:])) for r in weather_rows for wt in WT_FLAGS if r[wt].strip() == "1"}

    months = Counter(int(r[1][5:7]) for r in fact)
    busiest = max(months.items(), key=lambda kv: (kv[1], -kv[0]))
    trips_per_day = Counter(r[1][:10] for r in fact)
    by_type: Counter = Counter()
    for date, wt in bridge:
        by_type[wt] += trips_per_day.get(date, 0)
    by_type = Counter({wt: n for wt, n in by_type.items() if n})

    gates = {
        ("trip_fact", "non_empty"): len(fact) > 0,
        ("trip_fact", "no_null_pk"): True,
        ("trip_fact", "unique_pk"): len(natural_keys) == len(fact),
        ("trip_fact", "fk_integrity"): True,
        ("weather_fact", "non_empty"): len(weather_fact) > 0,
        ("weather_fact", "no_null_pk"): True,
        # the reference drops the station before dedup, so several rows
        # per date survive: its own declared daily PK fails by design
        ("weather_fact", "unique_pk"): len(weather_fact) == len(weather_dates),
        ("dim_station", "non_empty"): len(stations) > 0,
        ("dim_datetime", "unique_pk"): True,
        ("date_with_weather_type", "fk_integrity"): all(
            wt in WEATHER_TYPE_IDS for _, wt in bridge),
    }
    return Expected(
        table_rows={
            "trip_fact": len(fact),
            "dim_station": len(stations),
            "dim_datetime": 365 * 24,
            "weather_fact": len(weather_fact),
            "weather_type": len(WEATHER_TYPE_IDS),
            "date_with_weather_type": len(bridge),
        },
        gates=gates,
        busiest_month=busiest,
        trips_by_gender=dict(Counter(r[14] for r in fact)),
        duration_seconds=sum(r[0] for r in fact),
        trips_by_weather_type=dict(by_type),
        csv_bytes=csv_bytes,
    )
