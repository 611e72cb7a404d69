"""Output oracles, independent of the code under test.

Pipeline workloads: `expected_gold` re-derives `dim_locations` and both
marts from the generated lake in plain Python (the reference's dbt
semantics: latest-wins staging, the per-parameter range gate, the
snapshot-date location join, the sensor-id-only fan-out join, conditional
AVG pivots with binary half-up rounding, and the incremental refresh's
boundary hour), and `compare_gold` checks the parquet the program wrote
against it row by row (see `acceptable` for how averages are judged).

Registry queries: `compare_registry` runs each query's `oracleSql` twin in
DuckDB over the same parquet tables and compares sorted rows exactly, as
`tools/check_oracle.py` does.
"""

import datetime as dt
import glob
import hashlib
import json
import math
import os
from concurrent.futures import ThreadPoolExecutor
from fractions import Fraction

import duckdb

AIR_QUALITY = [(1, "pm10_ugm3", 2), (2, "pm25_ugm3", 2), (19, "pm1_ugm3", 2),
               (125, "um003_particles_cm3", 2), (3, "o3_ugm3", 2), (4, "co_ugm3", 2),
               (102, "co_ppb", 2), (5, "no2_ugm3", 2), (15, "no2_ppb", 2),
               (6, "so2_ugm3", 2), (101, "so2_ppb", 2), (23, "nox_ppb", 2),
               (24, "no_ppb", 2), (19843, "no_ugm3", 2)]
WEATHER = [(100, "temp_celsius", 2), (100, "temp_fahrenheit", 2), (98, "humidity_pct", 2),
           (34, "wind_speed_ms", 2), (22, "wind_direction_deg", 0)]
MARTS = {"mart_location_air_quality": ("air_quality_record_id", AIR_QUALITY),
         "mart_location_weather": ("weather_record_id", WEATHER)}
PIVOT_COLS = {name for _, name, _ in AIR_QUALITY + WEATHER}
DIM_COLS = ["location_id", "location_name", "country_code", "country_name",
            "latitude", "longitude"]


def md5(*parts):
    return hashlib.md5("-".join(parts).encode()).hexdigest()


def ts(s):
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")


# ------------------------------------------------------------------ bronze

def read_bronze(lake, days):
    """Envelopes the permissive NDJSON reader keeps: parseable lines whose
    `data` is present (blank and corrupt lines are rejected)."""
    rows = {"locations": [], "measurements": []}
    for d in days:
        path = d.replace("-", "/")
        for kind in rows:
            for f in sorted(glob.glob(os.path.join(lake, f"{kind}_json", path, "*.ndjson"))):
                with open(f, encoding="utf-8") as fh:
                    for line in fh:
                        if not line.strip():
                            continue
                        try:
                            env = json.loads(line)
                        except ValueError:
                            continue
                        if env.get("data") is not None:
                            rows[kind].append(env)
    return rows


def get(obj, *path):
    for p in path:
        if not isinstance(obj, dict):
            return None
        obj = obj.get(p)
    return obj


def latest(rows, key):
    best = {}
    for r in rows:
        k = key(r)
        if k not in best or r["_audit_extracted_at"] > best[k]["_audit_extracted_at"]:
            best[k] = r
    return list(best.values())


# ------------------------------------------------------------------ models

def models(bronze):
    """(enriched sensors, valid measurements, stg measurement count)."""
    locs = {}
    for r in latest(bronze["locations"], lambda r: (get(r, "data", "id"),
                                                    r["_audit_logical_date"])):
        locs[(get(r, "data", "id"), r["_audit_logical_date"])] = r["data"]
    sensors = []
    for r in bronze["locations"]:
        for s in get(r, "data", "sensors") or []:
            sensors.append({"sid": s["id"], "date": r["_audit_logical_date"],
                            "lid": r["data"]["id"],
                            "_audit_extracted_at": r["_audit_extracted_at"]})
    enriched = []
    for s in latest(sensors, lambda s: (s["sid"], s["date"])):
        loc = locs.get((s["lid"], s["date"]), {})
        enriched.append({"sid": s["sid"], "date": s["date"], "location_id": s["lid"],
                         "location_name": loc.get("name"),
                         "country_code": get(loc, "country", "code"),
                         "country_name": get(loc, "country", "name"),
                         "latitude": float_or_none(get(loc, "coordinates", "latitude")),
                         "longitude": float_or_none(get(loc, "coordinates", "longitude"))})
    stg = latest(bronze["measurements"], lambda r: (
        r["_audit_sensor_id"], get(r, "data", "parameter", "id"),
        get(r, "data", "period", "datetimeFrom", "utc")))
    valid = []
    for r in stg:
        pid, v = get(r, "data", "parameter", "id"), float_or_none(get(r, "data", "value"))
        if get(r, "data", "flagInfo", "hasFlags") is not False or v is None:
            continue
        lo, hi = {100: (-80, 60), 22: (0, 360), 98: (0, 100)}.get(pid, (0, math.inf))
        if lo <= v <= hi:
            valid.append({"sid": r["_audit_sensor_id"], "pid": pid, "value": v,
                          "from": ts(get(r, "data", "period", "datetimeFrom", "utc"))})
    return enriched, valid, len(stg)


def float_or_none(v):
    return None if v is None else float(v)


def dim(enriched):
    best = {}
    for e in enriched:
        if e["location_id"] is not None and (e["location_id"] not in best or
                                             e["date"] > best[e["location_id"]]["date"]):
            best[e["location_id"]] = e
    return [{c: e[c] for c in DIM_COLS} for e in best.values()]


def pivot(valid, enriched, pivots):
    """Mart rows keyed by record key; each pivot cell holds the exact
    rational average of its fanned-out values (or None)."""
    by_sensor = {}
    for e in enriched:
        by_sensor.setdefault(e["sid"], []).append(e)
    groups = {}
    for m in valid:
        hour = m["from"].replace(minute=0, second=0)
        for e in by_sensor.get(m["sid"], []):
            g = (e["location_id"], e["location_name"], e["country_code"], e["latitude"],
                 e["longitude"], hour)
            cells = groups.setdefault(g, [[] for _ in pivots])
            for i, (pid, name, _) in enumerate(pivots):
                if m["pid"] == pid:
                    v = m["value"]
                    cells[i].append(v * 9 / 5 + 32 if name == "temp_fahrenheit" else v)
    rows = []
    for (lid, name, cc, lat, lon, hour), cells in groups.items():
        row = {"location_id": lid, "location_name": name, "country_code": cc,
               "latitude": lat, "longitude": lon, "measurement_hour_utc": hour,
               "date_utc": hour.date(), "year_utc": hour.year, "month_utc": hour.month,
               "day_utc": hour.day, "hour_utc": hour.hour}
        for (pid, col, scale), vals in zip(pivots, cells):
            row[col] = (vals, scale) if vals else None
        rows.append(row)
    return rows


def keyed(rows, key_name):
    for r in rows:
        r[key_name] = md5(str(r["location_id"]),
                          r["measurement_hour_utc"].strftime("%Y-%m-%d %H:%M:%S.000000"))
    return rows


def expected_gold(lake, manifest, history, applied):
    """dim and marts after a full build over `history` days followed by one
    daily refresh per index in `applied` (empty for a full reload)."""
    days = [d["date"] for d in manifest["days"]]
    bronze = read_bronze(lake, [days[i] for i in history])
    enriched, valid, n_stg = models(bronze)
    marts = {m: keyed(pivot(valid, enriched, p), k) for m, (k, p) in MARTS.items()}
    for i in applied:
        more = read_bronze(lake, [days[i]])
        for kind in bronze:
            bronze[kind] += more[kind]
        enriched, valid, n_stg = models(bronze)
        for m, (k, p) in MARTS.items():
            bound = max(r["measurement_hour_utc"] for r in marts[m])
            batch = keyed(pivot([v for v in valid if v["from"] >= bound], enriched, p), k)
            keys = {r[k] for r in batch}
            marts[m] = [r for r in marts[m] if r[k] not in keys] + batch
    return {"dim_locations": dim(enriched), **marts}


# ------------------------------------------------------------------ compare

def round_bin(x, scale):
    f = 10.0 ** scale
    return math.floor(x * f + 0.5) / f


def acceptable(cell):
    """The values the mart may hold for a cell: AVG of its values, then
    binary half-up rounding. When every value has a short binary fraction
    the double sum is exact in any order and the answer is unique;
    otherwise a sum in another order may fall on either side of a
    rounding tie, and both neighbours are accepted there."""
    if cell is None:
        return {None}
    vals, scale = cell
    exact = [Fraction(v) for v in vals]
    total = sum(exact)
    if all(x.denominator <= 2**30 for x in exact) and abs(total) < 2**20:
        return {round_bin(float(total) / len(vals), scale)}
    y = total / len(vals) * 10**scale + Fraction(1, 2)
    eps = Fraction(1, 10**9) * max(1, abs(y))
    return {math.floor(y - eps) / 10.0 ** scale, math.floor(y + eps) / 10.0 ** scale,
            round_bin(float(total / len(vals)), scale)}


def canon(v):
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def read_table(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")) +
                   glob.glob(os.path.join(path, "*", "*.parquet")))
    con = duckdb.connect()
    rel = con.sql("SELECT * FROM read_parquet(?, hive_partitioning = false)",
                  params=[files])
    cols = rel.columns
    return [dict(zip(cols, r)) for r in rel.fetchall()]


def digest(rows, cols):
    lines = sorted(json.dumps([canon(r[c]) for c in cols], default=str) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def compare_gold(gold_dir, expected):
    """Problems found (empty when the gold tables match), and a digest of
    each table the program wrote (`last_updated_utc` excluded)."""
    problems, digests = [], {}
    for table, exp in expected.items():
        got = read_table(os.path.join(gold_dir, table))
        cols = sorted(c for c in (exp[0] if exp else {}) if c != "last_updated_utc")
        digests[table] = digest(got, cols)
        if len(got) != len(exp):
            problems.append(f"{table}: {len(got)} rows, expected {len(exp)}")
            continue
        key = "location_id" if table == "dim_locations" else MARTS[table][0]
        want = {}
        for r in exp:
            want.setdefault(r[key], []).append(r)
        for r in got:
            cands = want.get(r[key], [])
            match = next((c for c in cands if row_matches(r, c, cols)), None)
            if match is None:
                problems.append(f"{table}: unexpected row {[canon(r[c]) for c in cols]}")
                if len(problems) > 20:
                    return problems, digests
            else:
                cands.remove(match)
    return problems, digests


def row_matches(got, exp, cols):
    for c in cols:
        if c in PIVOT_COLS:
            if got[c] not in acceptable(exp[c]):
                return False
        elif canon(got[c]) != canon(exp[c]):
            return False
    return True


def expected_checks(manifest, days):
    """Violations the planted lake must produce: only the unknown sensor's
    rows break the measurements -> sensors relationship."""
    return {"stg_measurements.sensor_parameter_key.relationships":
            manifest["unknown_rows_per_day"] * len(days)}


def compare_checks(got, expected):
    """Problems of a suite's results: a check with another violation count
    than expected (0 for a check the oracle does not name), or an expected
    check that the suite did not run."""
    problems = []
    for k in sorted(set(got) | set(expected)):
        if k not in got:
            problems.append(f"check {k}: no result, expected {expected[k]} violations")
        elif got[k] != expected.get(k, 0):
            problems.append(f"check {k}: {got[k]} violations, expected {expected.get(k, 0)}")
    return problems


# ------------------------------------------------------------------ registry

def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def sorted_rows(rel):
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    return cols, sorted(tuple(norm(r[i]) for i in idx) for r in rel.fetchall())


def compare_registry(tables_dir, results_dir, oracle_sql, threads=4):
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

    def check(item):
        q, sql = item
        cur = con.cursor()
        try:
            gc, gr = sorted_rows(cur.sql(
                f"SELECT * FROM read_parquet('{os.path.join(results_dir, q)}/*.parquet')"))
            ec, er = sorted_rows(cur.sql(sql))
        except Exception as e:  # a missing result or a failing twin is a mismatch
            return f"{q}: {e}"
        if gc != ec or gr != er:
            return f"{q}: result differs from its oracle twin ({len(gr)} rows, expected {len(er)})"
        return None

    with ThreadPoolExecutor(threads) as pool:
        return [p for p in pool.map(check, sorted(oracle_sql.items())) if p]
