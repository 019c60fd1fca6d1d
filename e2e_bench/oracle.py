"""Output checks, run after the timed JVM has exited.

Registry gates: each captured cold-pass output is compared with DuckDB
running the gate's `SparkEntry.oracleSql` over the same input tables
(columns sorted by name; values, dtypes and row order; floats to 1e-9).

etl_ingest: gold is compared with DuckDB's own reading of every landed raw
file (file-level NULL rule, key dedup), the error zone with the rows of
exactly the files the benchmark corrupted, and each round's breaker row
with the files landed and corrupted in that round.
"""
import glob
import hashlib
import os
import pickle

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(spark_df, duck_df):
    """Problems found comparing a Spark output with its oracle; [] if equal."""
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    d = duck_df[sorted(duck_df.columns)].reset_index(drop=True)
    if list(s.columns) != list(d.columns):
        return [f"columns spark={list(s.columns)} duck={list(d.columns)}"]
    if len(s) != len(d):
        return [f"rowcount spark={len(s)} duck={len(d)}"]
    probs = []
    for c in s.columns:
        sv, dv = s[c], d[c]
        if str(sv.dtype) != str(dv.dtype):
            probs.append(f"dtype[{c}] spark={sv.dtype} duck={dv.dtype}")
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            a, b = sv.astype(float), dv.astype(float)
            neq = ~(np.isclose(a, b, rtol=1e-9, atol=1e-9) | (a.isna() & b.isna()))
        else:
            neq = ~((sv == dv) | (sv.isna() & dv.isna()))
        if neq.any():
            probs.append(f"values[{c}]: {int(neq.sum())} differ")
    return probs


def check_gates(data_dir, checks, cache_dir):
    """{op: [problems]} for every captured gate output."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    os.makedirs(cache_dir, exist_ok=True)
    stamp = hashlib.sha1()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            stamp.update(f.read())
    out = {}
    for c in checks:
        if not c["oracle"]:
            out[c["op"]] = ["no oracle SQL"]
            continue
        key = hashlib.sha1((stamp.hexdigest() + c["oracle"]).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".pkl")
        try:
            if os.path.exists(cached):
                with open(cached, "rb") as f:
                    expected = pickle.load(f)
            else:
                expected = con.execute(c["oracle"]).df()
                with open(cached, "wb") as f:
                    pickle.dump(expected, f)
            files = sorted(glob.glob(os.path.join(c["path"], "*.parquet")))
            got = duckdb.connect().execute(f"SELECT * FROM read_parquet({files!r})").df()
            out[c["op"]] = compare(got, expected)
        except Exception as e:  # an oracle or read error is a failed check
            out[c["op"]] = [f"{type(e).__name__}: {e}"]
    return out


COVID = {"date": "DATE", "confirmed": "BIGINT", "deaths": "BIGINT", "recovered": "BIGINT",
         "last_update": "VARCHAR", "region": "VARCHAR"}
WEATHER = {"date": "DATE", "tavg": "DOUBLE", "tmin": "DOUBLE", "tmax": "DOUBLE",
           "snow": "DOUBLE", "tsun": "DOUBLE"}
# fields whose NULL fails the whole file (weather snow/tsun default to 0.0)
REQUIRED = {"covid": list(COVID), "weather": ["date", "tavg", "tmin", "tmax"]}
GOLD = {"covid": ["date", "country", "confirmed", "deaths", "recovered"],
        "weather": ["date", "country", "tavg", "tmin", "tmax", "snow", "tsun"]}


def _raw(con, root, api):
    files = sorted(glob.glob(os.path.join(root, "S3/raw/batch_*", f"*_{api.upper()}_*")))
    cols = COVID if api == "covid" else WEATHER
    con.execute(f"CREATE OR REPLACE TABLE raw_{api} AS SELECT *, "
                f"regexp_extract(filename, '([^/]+)_{api.upper()}_', 1) AS country "
                f"FROM read_json({files!r}, format='array', columns={cols!r}, filename=true)")
    bad = " OR ".join(f"{c} IS NULL" for c in REQUIRED[api])
    con.execute(f"CREATE OR REPLACE TABLE bad_{api} AS SELECT DISTINCT filename FROM raw_{api} "
                f"WHERE {bad}")


def check_etl(root, report):
    """Problems found in an etl_ingest run rooted at `root`; [] if none."""
    con = duckdb.connect()
    probs = []
    day0 = report["day0"]
    injected = {os.path.join(root, p) for r in report["rounds"] for p in r["corrupted"]}
    flagged = set()
    for api in ("covid", "weather"):
        _raw(con, root, api)
        flagged |= {r[0] for r in con.execute(f"SELECT filename FROM bad_{api}").fetchall()}
        cols = ", ".join(GOLD[api])
        fill = "" if api == "covid" else ", COALESCE(snow, 0.0) AS snow, COALESCE(tsun, 0.0) AS tsun"
        keep = ", ".join(c for c in GOLD[api] if api == "covid" or c not in ("snow", "tsun"))
        expected = con.execute(
            f"SELECT DISTINCT {cols} FROM (SELECT {keep}{fill} FROM raw_{api} "
            f"WHERE filename NOT IN (SELECT filename FROM bad_{api})) ORDER BY ALL").fetchall()
        gold = con.execute(
            f"SELECT {cols} FROM read_parquet('{root}/gold/{api}/*/*.parquet', hive_partitioning=true) "
            f"WHERE CAST(date AS DATE) <> DATE '{day0}' ORDER BY ALL").fetchall()
        if expected != gold:
            probs.append(f"gold {api}: {len(gold)} rows, expected {len(expected)}")
        errs = glob.glob(os.path.join(root, "error", "round_*", f"*_{api}", "*.json"))
        got_err = con.execute(
            f"SELECT count(*) FROM read_json({errs!r}, format='newline_delimited', "
            "columns={'date': 'VARCHAR'})"
        ).fetchone()[0] if errs else 0
        want_err = con.execute(
            f"SELECT count(*) FROM raw_{api} WHERE filename IN (SELECT filename FROM bad_{api})").fetchone()[0]
        if got_err != want_err:
            probs.append(f"error zone {api}: {got_err} rows, expected {want_err}")
    if flagged != injected:
        probs.append(f"bad files: {len(flagged)} flagged, {len(injected)} injected")
    for r in report["rounds"]:
        if "breaker_files" in r and (r["breaker_files"] != r["files_landed"]
                                     or r["breaker_errors"] != len(r["corrupted"])):
            probs.append(f"round {r['round']} breaker {r['breaker_errors']}/{r['breaker_files']}, "
                         f"expected {len(r['corrupted'])}/{r['files_landed']}")
    return probs


def etl_counts(root, report, rounds):
    """Rows entering the load and rows it added, for the rounds `rounds`
    (key dedup replayed in round order against every earlier round)."""
    con = duckdb.connect()
    seen = {"covid": set(), "weather": set()}
    incoming = loaded = 0
    keys = {"covid": "date, country, confirmed, deaths, recovered",
            "weather": "date, country, tavg, tmin, tmax"}
    for r in sorted(report["rounds"], key=lambda r: r["round"]):
        for api in ("covid", "weather"):
            files = glob.glob(os.path.join(root, "processed", f"round_{r['round']}", f"*_{api}", "*.json"))
            cols = {"date": "VARCHAR", "country": "VARCHAR", **{c: "VARCHAR" for c in keys[api].split(", ")[2:]}}
            rows = con.execute(
                f"SELECT {keys[api]} FROM read_json({files!r}, format='newline_delimited', columns={cols!r})"
            ).fetchall() if files else []
            fresh = {row for row in rows if row not in seen[api]}
            if r["round"] in rounds:
                incoming += len(rows)
                loaded += len(fresh)
            seen[api] |= fresh
    return incoming, loaded
