"""Deterministic, seeded generator of an OpenAQ-shaped lake.

Layout and envelopes follow FIXTURES.md A1-A3: hive-dated
`{locations_json,measurements_json}/YYYY/MM/DD/` directories of NDJSON
files, locations as one `locations_details_<run>_part0.ndjson` per day,
measurements in `measurements_<run>_part<N>.ndjson` files of at most
`PART_ROWS` data rows each (the reference extractor's chunking).

Every A4 edge case is planted at a fixed rate, drawn from the seed:
stale duplicate extracts, `hasFlags` rows, out-of-range values per
parameter, negative half-values, blank and corrupt lines, an unknown
sensor, late rows from two days back, JSON `null` next to absent fields,
and sensors that appear on several snapshot days (every location is
re-extracted daily, and some sensors only start part-way through).

The same seed and sizes give a byte-identical lake. Values are multiples
of 1/8 so that sums of them are exact in binary floating point.
"""

import datetime as dt
import json
import os
import random

PART_ROWS = 2000
START = dt.date(2025, 3, 1)
UNKNOWN_SENSOR = 999001
UNKNOWN_ROWS_PER_DAY = 6
LATE_ROWS_PER_DAY = 4
STALE_LOCATIONS_PER_DAY = 2

# (parameter id, name, units, low, high): the marts' pivot parameters plus
# one (pressure) that no mart pivots, so some groups carry only NULLs.
PARAMETERS = [
    (1, "pm10", "µg/m³", 0, 150), (2, "pm25", "µg/m³", 0, 90),
    (19, "pm1", "µg/m³", 0, 60), (125, "um003", "particles/cm³", 0, 900),
    (3, "o3", "µg/m³", 0, 180), (4, "co", "µg/m³", 0, 900),
    (102, "co", "ppb", 0, 700), (5, "no2", "µg/m³", 0, 120),
    (15, "no2", "ppb", 0, 60), (6, "so2", "µg/m³", 0, 40),
    (101, "so2", "ppb", 0, 20), (23, "nox", "ppb", 0, 90),
    (24, "no", "ppb", 0, 50), (19843, "no", "µg/m³", 0, 70),
    (100, "temperature", "c", -20, 40), (98, "relativehumidity", "%", 0, 100),
    (34, "wind_speed", "m/s", 0, 20), (22, "wind_direction", "deg", 0, 360),
    (35, "pressure", "hpa", 950, 1050),
]
PARAM = {p[0]: p for p in PARAMETERS}
WEATHER = [100, 98, 34, 22]
AIR = [1, 2, 19, 125, 3, 4, 102, 5, 15, 6, 101, 23, 24, 19843]

COUNTRIES = [(13, "US", "United States", "America/New_York"),
             (22, "FR", "France", "Europe/Paris"),
             (50, "DE", "Germany", "Europe/Berlin"),
             (66, "IN", "India", "Asia/Kolkata"),
             (81, "GB", "United Kingdom", "UTC")]
CITIES = ["Albuquerque", "Lyon", "Berlin", "Delhi", "Leeds", "Denver"]


def out_of_range(pid):
    """A value the silver range gate must drop for this parameter."""
    return {100: -81.0, 22: 361.0, 98: 101.0}.get(pid, -0.25)


def day_path(d):
    return f"{d.year:04d}/{d.month:02d}/{d.day:02d}"


def run_id(d):
    return f"scheduled__{d.isoformat()}T06:00:00"


def run_token(d):
    """The run id as a file-name part: Hadoop paths reject ':'."""
    return run_id(d).replace(":", "")


def utc(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def make_locations(rng, n_locations, days):
    """Location snapshots: static attributes plus sensors, some of which
    start on a later day (so their snapshot-day fan-out differs)."""
    locs, sensor_id = [], 10000
    for i in range(n_locations):
        cid, code, cname, tz = COUNTRIES[i % len(COUNTRIES)]
        # the sensor count and start days depend on the position only, so
        # that every seed gives a lake of the same size
        n_air = 1 + i % 3
        params = [rng.choice(WEATHER[:2])] + rng.sample(AIR, n_air)
        params.append(35 if i % 10 == 9 else rng.choice(WEATHER[2:]))
        sensors = []
        for j, pid in enumerate(params):
            sensor_id += 1
            late = j == len(params) - 1 and i % 7 == 3
            sensors.append({"id": sensor_id, "pid": pid,
                            "start": 1 + i % (days - 1) if late else 0})
        style = rng.choice(["locality", "null", "absent", "city"])
        locs.append({
            "id": 1000 + i, "name": f"Station {i:04d}", "country": (cid, code, cname),
            "tz": tz, "style": style, "city": rng.choice(CITIES),
            "lat": round(rng.uniform(-60, 70), 4), "lon": round(rng.uniform(-170, 170), 4),
            "sensors": sensors})
    return locs


def location_payload(loc, day_index, name=None):
    cid, code, cname = loc["country"]
    data = {"id": loc["id"], "name": name or loc["name"], "timezone": loc["tz"],
            "country": {"id": cid, "code": code, "name": cname},
            "provider": {"id": 119, "name": "AirNow"},
            "isMobile": False, "isMonitor": True,
            "coordinates": {"latitude": loc["lat"], "longitude": loc["lon"]},
            "sensors": [{"id": s["id"], "name": f"{PARAM[s['pid']][1]} {PARAM[s['pid']][2]}",
                         "parameter": {"id": s["pid"], "name": PARAM[s["pid"]][1],
                                       "units": PARAM[s["pid"]][2],
                                       "displayName": PARAM[s["pid"]][1]}}
                        for s in loc["sensors"] if s["start"] <= day_index]}
    if loc["style"] == "locality":
        data["locality"] = loc["city"]
    elif loc["style"] == "null":
        data["locality"] = None
    elif loc["style"] == "city":
        data["city"] = loc["city"]
    return data


def value_for(rng, pid):
    lo, hi = PARAM[pid][3], PARAM[pid][4]
    v = rng.randint(lo * 8, hi * 8) / 8
    if pid == 100 and rng.random() < 0.02:  # negative half-value
        v = -(rng.randint(0, 15) + 0.125)
    return v


def measurement_payload(pid, start, value, flags):
    end = start + dt.timedelta(hours=1)
    data = {"value": value,
            "parameter": {"id": pid, "name": PARAM[pid][1], "units": PARAM[pid][2]},
            "period": {"label": "1 hour", "interval": "01:00:00",
                       "datetimeFrom": {"utc": utc(start), "local": utc(start)},
                       "datetimeTo": {"utc": utc(end), "local": utc(end)}}}
    if flags != "absent":
        data["flagInfo"] = {"hasFlags": flags}
    data.update({"coordinates": None, "summary": None,
                 "coverage": {"expectedCount": 1, "observedCount": 1}})
    return data


def envelope(data, d, extracted, kind, fname, sensor=None):
    env = {"data": data, "_audit_run_id": run_id(d)}
    if sensor is not None:
        env["_audit_sensor_id"] = sensor
    env["_audit_logical_date"] = d.isoformat()
    env["_audit_extracted_at"] = extracted
    if sensor is None:
        env["_audit_source"] = "OpenAQ API"
    env["_audit_gcs_filename"] = f"gs://openaq-lake/{kind}/{day_path(d)}/{fname}"
    return json.dumps(env, ensure_ascii=False)


def measurement_rows(rng, locs, day_index, d):
    """(sensor, payload-args) rows for one logical day, stale twins and
    planted edge cases included, in extraction order."""
    fresh = f"{(d + dt.timedelta(days=1)).isoformat()}T06:00:09+00:00"
    stale = f"{(d + dt.timedelta(days=1)).isoformat()}T05:00:00+00:00"
    rows = []
    for loc in locs:
        for s in loc["sensors"]:
            if s["start"] > day_index:
                continue
            for h in range(24):
                start = dt.datetime(d.year, d.month, d.day, h)
                pid, r = s["pid"], rng.random()
                value, flags = value_for(rng, pid), False
                if r < 0.01:
                    flags = True
                elif r < 0.015:
                    value = out_of_range(pid)
                elif r < 0.017:
                    flags = "absent"
                elif r < 0.019:
                    flags = None
                elif r < 0.02:
                    value = None
                if rng.random() < 0.005:
                    rows.append((s["id"], pid, start, value_for(rng, pid), False, stale))
                rows.append((s["id"], pid, start, value, flags, fresh))
    for h in rng.sample(range(24), UNKNOWN_ROWS_PER_DAY):
        start = dt.datetime(d.year, d.month, d.day, h)
        rows.append((UNKNOWN_SENSOR, 2, start, value_for(rng, 2), False, fresh))
    if day_index >= 2:
        back = d - dt.timedelta(days=2)
        live = [s for loc in locs for s in loc["sensors"] if s["start"] <= day_index - 2]
        for s in rng.sample(live, LATE_ROWS_PER_DAY):
            start = dt.datetime(back.year, back.month, back.day, rng.randint(0, 23), 30)
            rows.append((s["id"], s["pid"], start, value_for(rng, s["pid"]), False, fresh))
    return rows


def write_ndjson(path, lines, rng):
    """Write data lines plus one blank and one corrupt line at seeded
    positions (both must be rejected by the bronze reader)."""
    lines = list(lines)
    lines.insert(rng.randint(0, len(lines)), "")
    lines.insert(rng.randint(0, len(lines)), '{"data": {"value": 1.0, "parameter": ')
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")
    return len(lines), os.path.getsize(path)


def generate(out, seed, n_locations=24, days=6):
    """Write the lake under `out` and return its manifest (also written to
    `out/manifest.json`)."""
    rng = random.Random(seed)
    locs = make_locations(rng, n_locations, days)
    manifest = {"seed": seed, "locations": n_locations, "days": [],
                "unknown_rows_per_day": UNKNOWN_ROWS_PER_DAY}
    for i in range(days):
        d = START + dt.timedelta(days=i)
        day = {"date": d.isoformat(), "files": [], "lines": 0, "bytes": 0,
               "data_rows": 0, "measurement_rows": 0, "measurement_bytes": 0}
        fresh = f"{(d + dt.timedelta(days=1)).isoformat()}T06:00:05+00:00"
        stale = f"{(d + dt.timedelta(days=1)).isoformat()}T05:00:00+00:00"
        fname = f"locations_details_{run_token(d)}_part0.ndjson"
        stale_ids = set(rng.sample([l["id"] for l in locs], STALE_LOCATIONS_PER_DAY))
        lines = []
        for loc in locs:
            if loc["id"] in stale_ids:
                lines.append(envelope(location_payload(loc, i, loc["name"] + " OLD"),
                                      d, stale, "locations_json", fname))
            lines.append(envelope(location_payload(loc, i), d, fresh, "locations_json", fname))
        rel = f"locations_json/{day_path(d)}/{fname}"
        n, b = write_ndjson(os.path.join(out, rel), lines, rng)
        day["files"].append(rel)
        day["lines"] += n
        day["bytes"] += b
        day["data_rows"] += len(lines)
        rows = measurement_rows(rng, locs, i, d)
        for part in range((len(rows) + PART_ROWS - 1) // PART_ROWS):
            fname = f"measurements_{run_token(d)}_part{part}.ndjson"
            chunk = rows[part * PART_ROWS:(part + 1) * PART_ROWS]
            lines = [envelope(measurement_payload(pid, start, v, fl), d, ext,
                              "measurements_json", fname, sensor=sid)
                     for sid, pid, start, v, fl, ext in chunk]
            rel = f"measurements_json/{day_path(d)}/{fname}"
            n, b = write_ndjson(os.path.join(out, rel), lines, rng)
            day["files"].append(rel)
            day["lines"] += n
            day["bytes"] += b
            day["data_rows"] += len(lines)
            day["measurement_rows"] += len(lines)
            day["measurement_bytes"] += b
        manifest["days"].append(day)
    last = START + dt.timedelta(days=days)
    # freshness is judged 2 h after the last extract: inside the 24 h band
    manifest["as_of"] = f"{last.isoformat()} 08:00:00"
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
