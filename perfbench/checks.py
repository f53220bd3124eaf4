"""Correctness checks, computed apart from the program.

Query workloads: every dumped result is compared with DuckDB running the
query's oracle SQL over the same parquet tables (sorted column names,
row by row; exact for ints and strings, 1e-9 for floats).
`q_approx_sketches` has no oracle: its sketches are checked against
DuckDB's exact distinct count and percentiles, within the sketch's
stated error.

station_archive: the expected archive is recomputed from the station
files themselves (read with Python's sqlite3, not the program's reader)
with the reference's conversions, and compared row by row; the gate,
watermark, replay and day-read facts are checked against the generator's
design.
"""
import datetime as dt
import glob
import os
import sqlite3
import threading

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import stations as gen


class Verdict:
    def __init__(self):
        self.failed = set()
        self.messages = []
        self.correct = True

    def fail(self, op, msg):
        self.failed.add(op)
        self.messages.append(f"{op}: {msg}")

    @property
    def failed_ops(self):
        return len(self.failed)


# ---- query workloads -------------------------------------------------

# an oracle that runs longer than this checks nothing
ORACLE_TIMEOUT_S = 30
# approx_count_distinct(rsd = 0.02): three standard deviations
SKETCH_DISTINCT_TOL = 3 * 0.02
# approx_percentile(accuracy = 10000): rank error at most 1/accuracy
SKETCH_RANK_ERR = 1.0 / 10000


def _frame_diff(spark_df, duck_df):
    spark_df = spark_df.reindex(sorted(spark_df.columns), axis=1)
    duck_df = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(spark_df.columns) != list(duck_df.columns):
        return f"columns {list(spark_df.columns)} != {list(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"rows {len(spark_df)} != {len(duck_df)}"
    for c in spark_df.columns:
        a, b = spark_df[c], duck_df[c]
        nulls = pd.isna(a).to_numpy() & pd.isna(b).to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            aa, bb = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            ok = np.isclose(aa, bb, rtol=0, atol=1e-9) | (np.isnan(aa) & np.isnan(bb)) | nulls
        else:
            aa, bb = a.astype(str).to_numpy(), b.astype(str).to_numpy()
            ok = (aa == bb) | nulls
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {aa[i]!r} != {bb[i]!r}"
    return None


def _sketch_diff(df, con):
    exact = con.execute(
        "SELECT l_returnflag, count(DISTINCT l_orderkey) AS n, "
        f"quantile_disc(l_extendedprice, 0.5 - {SKETCH_RANK_ERR}) AS p50_lo, "
        f"quantile_disc(l_extendedprice, 0.5 + {SKETCH_RANK_ERR}) AS p50_hi, "
        f"quantile_disc(l_extendedprice, 0.99 - {SKETCH_RANK_ERR}) AS p99_lo, "
        f"quantile_disc(l_extendedprice, least(1.0, 0.99 + {SKETCH_RANK_ERR})) AS p99_hi "
        "FROM lineitem GROUP BY 1 ORDER BY 1").fetchdf()
    if list(df["l_returnflag"]) != list(exact["l_returnflag"]):
        return f"groups {list(df['l_returnflag'])} != {list(exact['l_returnflag'])}"
    for (_, s), (_, e) in zip(df.iterrows(), exact.iterrows()):
        if abs(s["approx_orders"] - e["n"]) > SKETCH_DISTINCT_TOL * e["n"]:
            return f"{s['l_returnflag']}: distinct {s['approx_orders']} vs exact {e['n']}"
        for q in ("p50", "p99"):
            # the query rounds to 2 decimals
            lo, hi = round(e[f"{q}_lo"], 2) - 0.01, round(e[f"{q}_hi"], 2) + 0.01
            if not lo <= s[f"approx_{q}"] <= hi:
                return f"{s['l_returnflag']}: {q} {s[f'approx_{q}']} outside [{lo}, {hi}]"
    return None


def queries(facts):
    v = Verdict()
    broken = facts["broken"]
    for name, msg in broken.items():
        v.messages.append(f"{name}: {msg} (counted by the benchmark JVM)")
    con = duckdb.connect()
    for p in glob.glob(os.path.join(facts["data_dir"], "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = facts["oracle_sql"]
    for name in facts["queries"]:
        if name in broken:
            continue
        files = glob.glob(os.path.join(facts["dump_dir"], name, "*.parquet"))
        if not files:
            v.fail(name, "no dumped result")
            continue
        spark_df = pq.read_table(files[0]).to_pandas()
        try:
            if name == "q_approx_sketches":
                diff = _sketch_diff(spark_df, con)
            elif name in oracle:
                timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
                timer.start()
                try:
                    duck_df = con.execute(oracle[name]).fetchdf()
                finally:
                    timer.cancel()
                diff = _frame_diff(spark_df, duck_df)
            else:
                v.correct = False
                diff = "no oracle to check against"
        except Exception as e:  # an oracle that cannot run checks nothing
            v.correct = False
            diff = f"oracle error: {e}"
        if diff:
            v.fail(name, diff)
    return v


# ---- station_archive -------------------------------------------------

FACTORS = {"pressure": 33.863886, "speed": 1.609344, "rate": 25.4, "amount": 25.4}


def convert(phys, us, x):
    """The reference's conversion, on numpy arrays (NaN = NULL): only
    when usUnits is nonzero and the value is nonzero."""
    do = (us != 0) & (x != 0) & ~np.isnan(x)
    if phys == "temperature":
        y = (x - 32.0) * 5.0 / 9.0
    elif phys in FACTORS:
        y = x * FACTORS[phys]
    else:
        return x
    return np.where(do, y, x)


def expected_archive(station_dir, n_stations, lo, hi):
    """Converted rows of every station for dateTime in [lo, hi]."""
    frames = []
    cols = ["dateTime", "usUnits"] + gen.SENSOR_NAMES
    for i in range(n_stations):
        con = sqlite3.connect(gen.station_path(station_dir, i))
        try:
            rows = con.execute(f"SELECT {', '.join(cols)} FROM archive "
                               "WHERE dateTime BETWEEN ? AND ? ORDER BY dateTime",
                               (lo, hi)).fetchall()
        finally:
            con.close()
        df = pd.DataFrame(rows, columns=cols)
        df.insert(2, "station", gen.station_name(i))
        frames.append(df)
    df = pd.concat(frames, ignore_index=True)
    us = df["usUnits"].to_numpy()
    for name, phys in gen.SENSORS:
        df[name] = convert(phys, us, df[name].to_numpy(dtype=float))
    return df.sort_values(["station", "dateTime"], ignore_index=True)


def _epoch(day):
    return gen.day_epoch(day)


def station(facts, station_dir):
    v = Verdict()
    n = int(facts["stations"])
    first = dt.date.fromisoformat(facts["first_day"])
    history = int(facts["history_days"])
    daily = facts["daily"]
    short = facts["short"]
    per_day = gen.SAMPLES_PER_DAY * n
    last = first + dt.timedelta(days=history + len(daily) - 1)

    def op_of(day):
        """The operation that lands `day`: the backfill or a daily run
        (the short day lands with the run after it)."""
        k = (day - first).days - history
        if k < 0:
            return "backfill"
        return f"daily[{k + 1 if k == int(short['run']) else k}]"

    bf = facts["backfill"]
    if int(bf["status"]) != 1 or int(bf["days_written"]) != history:
        v.fail("backfill", f"status {bf['status']}, {bf['days_written']} days written")
    for k, r in enumerate(daily):
        want = (2, 0) if k == int(short["run"]) else (1, 2) if k == int(short["run"]) + 1 else (1, 1)
        got = (int(r["status"]), int(r["days_written"]))
        if got != want:
            v.fail(f"daily[{k}]", f"(status, days written) {got}, expected {want}")
        if k == int(short["run"]) and int(r["short_day_rows"]) != 0:
            v.fail(f"daily[{k}]", f"short day readable with {r['short_day_rows']} rows")

    # every archived row, recomputed from the station files
    got = pq.read_table(facts["archive_dump"]).to_pandas()
    want = expected_archive(station_dir, n, _epoch(first), _epoch(last) + 86399)
    got = got.sort_values(["station", "dateTime"], ignore_index=True)
    days = pd.to_datetime(got["dateTime"], unit="s").dt.date
    counts = days.value_counts()
    for d in sorted(set(counts.index) | {first + dt.timedelta(days=i)
                                         for i in range((last - first).days + 1)}):
        if counts.get(d, 0) != per_day:
            v.fail(op_of(d), f"{d}: {counts.get(d, 0)} rows archived, expected {per_day}")
    if len(got) == len(want) and (got["dateTime"].to_numpy() == want["dateTime"].to_numpy()).all() \
            and (got["station"].to_numpy() == want["station"].to_numpy()).all():
        bad = np.zeros(len(got), dtype=bool)
        bad |= got["usUnits"].to_numpy() != want["usUnits"].to_numpy()
        for name in gen.SENSOR_NAMES:
            a = got[name].to_numpy(dtype=float)
            b = want[name].to_numpy(dtype=float)
            bad |= ~(np.isclose(a, b, rtol=1e-12, atol=1e-9) | (np.isnan(a) & np.isnan(b)))
        for d in sorted(set(days[bad])):
            v.fail(op_of(d), f"{d}: converted values differ from the station rows")
    elif len(got) == len(want):
        v.fail("backfill", "archived keys differ from the station rows")

    # the replay of the last day lands nothing
    rp = facts["replay"]
    for k in ("version", "log_files", "rows"):
        if rp[f"{k}_before"] != rp[f"{k}_after"]:
            v.fail("replay", f"{k} {rp[f'{k}_before']} -> {rp[f'{k}_after']}")
    # the watermark is the day after the last archived day
    with open(facts["state_path"]) as f:
        mark = f.read().strip()
    if mark != (last + dt.timedelta(days=1)).strftime("%Y%m%d"):
        v.fail("replay", f"watermark {mark}, last archived day {last}")

    # day reads, latest and pinned: row count and sums of the day
    for i, r in enumerate(facts["reads"]):
        day = dt.date.fromisoformat(r["day"])
        lo = _epoch(day)
        exp = want[(want["dateTime"] >= lo) & (want["dateTime"] <= lo + 86399)]
        if int(r["rows"]) != per_day or int(r["sum_datetime"]) != int(exp["dateTime"].sum()):
            v.fail(f"read[{i}]", f"{day}@{r['version']}: {r['rows']} rows")
        elif not np.isclose(float(r["sum_outtemp"]), exp["outTemp"].sum(skipna=True),
                            rtol=1e-9, atol=1e-6):
            v.fail(f"read[{i}]", f"{day}@{r['version']}: outTemp sum {r['sum_outtemp']}")
    return v
