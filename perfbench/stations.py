"""Seeded wview station generator for the station_archive workload.

Each station is one SQLite file holding the wview `archive` table, 288
samples per UTC day at the 5-minute cadence. Rows mix usUnits 0, 1 and
16, about 1% of sensor cells are NULL, and rain, rain rate, wind speed
and some temperatures are exactly 0.0, so the zero-skip of the unit
conversion is exercised. The same (seed, station, day) always gives the
same rows.

Command line (used by the benchmark JVM):

    python3 perfbench/stations.py create DIR SEED FIRST_DAY STATIONS DAYS
    python3 perfbench/stations.py append DIR SEED DAY [--omit STATION:INDEX]
    python3 perfbench/stations.py fill DIR SEED DAY STATION INDEX

`create` writes STATIONS files holding DAYS days from FIRST_DAY;
`append` adds one day to every station file in DIR; `--omit` leaves one
sample of one station out (a day that arrives one sample short). `fill`
inserts that held-back sample later.
"""
import datetime as dt
import os
import sqlite3
import sys

import numpy as np

SAMPLES_PER_DAY = 288
CADENCE_S = 300

SENSORS = [
    ("barometer", "pressure"), ("pressure", "pressure"),
    ("altimeter", "pressure"), ("inTemp", "temperature"),
    ("outTemp", "temperature"), ("inHumidity", "percent"),
    ("outHumidity", "percent"), ("windSpeed", "speed"),
    ("windDir", "direction"), ("windGust", "speed"),
    ("windGustDir", "direction"), ("rainRate", "rate"),
    ("rain", "amount"), ("dewpoint", "temperature"),
    ("windchill", "temperature"), ("heatindex", "temperature"),
]
SENSOR_NAMES = [s for s, _ in SENSORS]

CREATE = (
    "CREATE TABLE archive (dateTime INTEGER NOT NULL UNIQUE PRIMARY KEY, "
    "usUnits INTEGER NOT NULL, interval INTEGER NOT NULL, "
    + ", ".join(f"{s} REAL" for s in SENSOR_NAMES) + ")")
INSERT = ("INSERT INTO archive VALUES ("
          + ", ".join("?" * (3 + len(SENSOR_NAMES))) + ")")


def station_name(i):
    return f"st{i}"


def station_path(directory, i):
    return os.path.join(directory, f"{station_name(i)}.sdb")


def day_epoch(day):
    return int(dt.datetime(day.year, day.month, day.day,
                           tzinfo=dt.timezone.utc).timestamp())


def day_rows(seed, station, day):
    """The 288 rows of one station-day, as tuples in column order."""
    rng = np.random.default_rng([seed, station, day.toordinal()])
    n = SAMPLES_PER_DAY
    units = rng.choice(np.array([0, 1, 16]), size=n, p=[0.4, 0.4, 0.2])
    us = units != 0
    t = np.arange(n) / n
    diurnal = np.sin(2 * np.pi * (t - 0.25))
    cols = {}
    cols["barometer"] = np.where(us, 29.92, 1013.2) + rng.normal(0, 0.2, n)
    cols["pressure"] = cols["barometer"] - np.where(us, 0.8, 27.0)
    cols["altimeter"] = cols["barometer"] + np.where(us, 0.02, 0.7)
    out_c = 8 + 7 * diurnal + rng.normal(0, 0.5, n)
    cols["outTemp"] = np.where(us, out_c * 9 / 5 + 32, out_c)
    cols["inTemp"] = np.where(us, 68.0, 20.0) + rng.normal(0, 0.3, n)
    cols["inHumidity"] = 40 + rng.normal(0, 2, n)
    cols["outHumidity"] = np.clip(70 - 20 * diurnal + rng.normal(0, 5, n), 5, 100)
    wind = np.abs(rng.normal(0, 6, n))
    wind[rng.random(n) < 0.15] = 0.0
    cols["windSpeed"] = wind
    cols["windGust"] = wind * 1.4
    cols["windDir"] = rng.uniform(0, 360, n)
    cols["windGustDir"] = rng.uniform(0, 360, n)
    raining = rng.random(n) < 0.1
    cols["rainRate"] = np.where(raining, rng.exponential(0.2, n), 0.0)
    cols["rain"] = np.where(raining, rng.exponential(0.01, n), 0.0)
    cols["dewpoint"] = cols["outTemp"] - np.where(us, 9.0, 5.0)
    cols["windchill"] = cols["outTemp"] - wind * 0.1
    cols["heatindex"] = cols["outTemp"].copy()
    # exact zeros in a temperature column too: 0 °F must stay 0
    cols["outTemp"][rng.random(n) < 0.01] = 0.0
    values = np.stack([np.round(cols[s], 3) for s in SENSOR_NAMES], axis=1)
    nulls = rng.random(values.shape) < 0.01
    base = day_epoch(day)
    rows = []
    for j in range(n):
        rows.append((base + CADENCE_S * j, int(units[j]), 5) + tuple(
            None if nulls[j, k] else float(values[j, k])
            for k in range(len(SENSOR_NAMES))))
    return rows


def write_rows(path, rows):
    con = sqlite3.connect(path)
    try:
        if not _has_table(con):
            con.execute(CREATE)
        con.executemany(INSERT, rows)
        con.commit()
    finally:
        con.close()


def _has_table(con):
    return con.execute("SELECT count(*) FROM sqlite_master "
                       "WHERE type='table' AND name='archive'").fetchone()[0] > 0


def create(directory, seed, n_stations, first_day, n_days):
    os.makedirs(directory, exist_ok=True)
    for i in range(n_stations):
        rows = []
        for d in range(n_days):
            rows.extend(day_rows(seed, i, first_day + dt.timedelta(days=d)))
        write_rows(station_path(directory, i), rows)


def n_stations_in(directory):
    return len([f for f in os.listdir(directory) if f.endswith(".sdb")])


def append(directory, seed, day, omit=None):
    for i in range(n_stations_in(directory)):
        rows = day_rows(seed, i, day)
        if omit is not None and omit[0] == i:
            rows = rows[:omit[1]] + rows[omit[1] + 1:]
        write_rows(station_path(directory, i), rows)


def fill(directory, seed, day, station, index):
    write_rows(station_path(directory, station),
               [day_rows(seed, station, day)[index]])


def _day(s):
    return dt.date.fromisoformat(s)


def main(argv):
    cmd, directory, seed, day = argv[0], argv[1], int(argv[2]), _day(argv[3])
    if cmd == "create":
        create(directory, seed, int(argv[4]), day, int(argv[5]))
    elif cmd == "append":
        omit = None
        if len(argv) > 5 and argv[4] == "--omit":
            st, idx = argv[5].split(":")
            omit = (int(st), int(idx))
        append(directory, seed, day, omit)
    elif cmd == "fill":
        fill(directory, seed, day, int(argv[4]), int(argv[5]))
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main(sys.argv[1:])
