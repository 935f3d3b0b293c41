"""Seeded scaler for the 16 recorded provider fixtures.

Each provider's payload is replicated ``factor`` times per device under
fresh device ids.  A copy keeps its device's timestamps, values and null
pattern, so the provider's K5 run summary scales exactly: ``locations``
and ``measures`` multiply by the factor and ``from``/``to`` stay put.

Two variants are written.  Variant B differs from A only in the station
metadata (site name, title or coordinates) of a seeded few percent of
the devices of the four station-object providers, so a tick on one
variant diffed against a snapshot of the other changes a known number
of stations.  Providers without station documents share one payload.
"""
import copy
import csv
import io
import json
import os
import random

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "src", "test", "resources", "fixtures")

PROVIDERS = [
    "aernode", "airgradient", "airqo", "airqoon", "clarity", "cmu", "cpcb",
    "data354", "habitatmap", "hawanama", "iqair", "lovemyair", "miri",
    "purpleair", "senstate", "smartsense"]

# Providers whose sink is the station diff-upsert plus measures CSV.
STATION_PROVIDERS = ["cmu", "habitatmap", "purpleair", "senstate"]

# K5 summary of each provider at fixture size (the recorded payloads run
# through Pipelines.processor): locations, measures, from, to.
FIXTURE_K5 = {
    "aernode": (1, 6, "2024-04-30 10:00:00", "2024-04-30 12:00:00"),
    "airgradient": (1, 8, "2024-04-30 10:00:00", "2024-04-30 12:00:00"),
    "airqo": (2, 3, "2024-04-30 10:00:00", "2024-04-30 10:00:00"),
    "airqoon": (2, 1, "2024-04-30 10:00:00", "2024-04-30 10:00:00"),
    "clarity": (2, 2, "2026-08-12 10:00:00", "2026-08-12 10:05:00"),
    "cmu": (3, 33, "2020-07-17 15:30:00", "2020-07-17 15:45:00"),
    "cpcb": (1, 2, "2024-04-30 10:00:00", "2024-04-30 11:00:00"),
    "data354": (1, 3, "2024-04-30 11:00:00", "2024-04-30 12:00:00"),
    "habitatmap": (4, 1, "2024-04-30 10:00:00", "2024-04-30 10:00:00"),
    "hawanama": (3, 3, "2026-08-12 10:00:00", "2026-08-12 11:00:00"),
    "iqair": (1, 12, "2024-04-30 01:00:00", "2024-04-30 12:00:00"),
    "lovemyair": (2, 4, "2024-04-30 09:00:00", "2024-04-30 11:00:00"),
    "miri": (2, 7, "2024-04-30 09:00:00", "2024-04-30 11:00:00"),
    "purpleair": (2, 26, "2024-04-30 18:00:00", "2024-04-30 18:01:00"),
    "senstate": (1, 2, "2024-04-30 10:00:00", "2024-04-30 10:00:00"),
    "smartsense": (1, 2, "2024-04-30 10:00:00", "2024-04-30 12:00:00"),
}
# HabitatMap's mobile measures go to their own CSV, outside the K5 count.
FIXTURE_MOBILE_ROWS = {"habitatmap": 3}

# Devices per provider in the tick_fleet workload, as a multiple of the
# fixture's devices: one shared factor, and a larger one for PurpleAir,
# the largest provider.  The sizes themselves were chosen for the time
# budget: a tick stays near 20 s on four cores, so that a run (set-up
# plus one timed tick) stays under a minute.  AirQoon keeps its first
# 100 devices (airqoon.js:97); at 2 fixture devices its factor must stay
# at or below 50 for the summary to scale.
FLEET_FACTOR = 20
PURPLEAIR_FLEET_FACTOR = 250
FLEET_FACTORS = {p: PURPLEAIR_FLEET_FACTOR if p == "purpleair" else FLEET_FACTOR
                 for p in PROVIDERS}
# Share of station devices whose metadata differs between variants.
CHANGED_SHARE = 0.03


class Ids:
    """Fresh, seeded device ids of a fixed width (so payload bytes do not
    depend on the seed)."""

    def __init__(self, rng):
        self.rng = rng
        self.used = set()

    def _fresh(self):
        while True:
            v = self.rng.randrange(10_000_000, 100_000_000)
            if v not in self.used:
                self.used.add(v)
                return v

    def num(self):
        return self._fresh()

    def text(self, orig):
        return f"{orig}-{self._fresh():08x}"


def _load(name):
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
        return json.load(f)


def _dump(obj, path):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, ensure_ascii=False)


def _read_csv(path):
    with open(path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    return rows[0], rows[1:]


def _write_csv(path, header, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    with open(path, "w", encoding="utf-8") as f:
        f.write(buf.getvalue())


def _copies(keys, factor, fresh):
    """One id map per copy: original device key -> fresh key."""
    return [{k: fresh(k) for k in keys} for _ in range(factor)]


# Each scaler takes (factor, ids, rng) and returns a function
# variant(changed) -> payload, plus the fresh keys of the devices that
# yield a station document (the ones variant B may alter).

def scale_purpleair(factor, ids, rng):
    doc = _load("purpleair.json")
    name_i = doc["fields"].index("name")
    idx_i = doc["fields"].index("sensor_index")
    rows = []
    for c in range(factor):
        for r in doc["data"]:
            r2 = list(r)
            r2[idx_i] = ids.num()
            rows.append(r2)
    rng.shuffle(rows)
    keys = [r[idx_i] for r in rows]

    def variant(changed):
        out = {"fields": doc["fields"], "data": []}
        for r in rows:
            if r[idx_i] in changed:
                r = list(r)
                r[name_i] = r[name_i] + " B"
            out["data"].append(r)
        return out
    return variant, keys


def scale_senstate(factor, ids, rng):
    doc = _load("senstate.json")
    readings = []
    for c in range(factor):
        for r in doc["readings"]:
            r2 = copy.deepcopy(r)
            r2["token"] = ids.text(r["token"])
            readings.append(r2)
    rng.shuffle(readings)
    # only readings that pass the status filter produce a station
    keys = [r["token"] for r in readings if r["statusCode"] == 200]

    def variant(changed):
        out = []
        for r in readings:
            if r["token"] in changed:
                r = dict(r, name=r["name"] + " B")
            out.append(r)
        return {"readings": out}
    return variant, keys


def scale_habitatmap(factor, ids, rng):
    doc = _load("habitatmap.json")
    stream_map = {}  # (copy, original stream id) -> fresh stream id

    def session(s, c):
        s2 = copy.deepcopy(s)
        s2["id"] = ids.num()
        for st in s2["streams"].values():
            new = ids.num()
            stream_map[(c, st["id"])] = new
            st["id"] = new
        return s2
    fixed = [session(s, c) for c in range(factor)
             for s in doc["fixed"]["sessions"]]
    pages = []
    for p in doc["mobile_pages"]:
        p2 = dict(p)
        p2["sessions"] = [session(s, c) for c in range(factor)
                          for s in p["sessions"]]
        p2["fetchableSessionsCount"] = p["fetchableSessionsCount"] * factor
        pages.append(p2)
    meas = []
    for c in range(factor):
        for m in doc["measurements"]:
            meas.append(dict(m, stream_id=stream_map[(c, m["stream_id"])]))
    rng.shuffle(fixed)
    rng.shuffle(meas)
    keys = [s["id"] for s in fixed] + [
        s["id"] for p in pages for s in p["sessions"]]

    def variant(changed):
        def title(s):
            return dict(s, title=s["title"] + " B") if s["id"] in changed else s
        return {"fixed": {"sessions": [title(s) for s in fixed]},
                "mobile_pages": [dict(p, sessions=[title(s) for s in p["sessions"]])
                                 for p in pages],
                "measurements": meas}
    return variant, keys


def scale_cmu(factor, ids, rng):
    files = sorted(os.listdir(os.path.join(FIXTURES, "cmu")))
    parsed = [_read_csv(os.path.join(FIXTURES, "cmu", f)) for f in files]
    anon_i = parsed[0][0].index("Anon_Name")
    lat_i = parsed[0][0].index("Lat")
    names = sorted({r[anon_i] for _, rows in parsed for r in rows})
    maps = _copies(names, factor, ids.text)
    scaled = []
    for header, rows in parsed:
        out = [[*r[:anon_i], m[r[anon_i]], *r[anon_i + 1:]]
               for m in maps for r in rows]
        rng.shuffle(out)
        scaled.append((header, out))
    keys = [m[n] for m in maps for n in names]

    def variant(changed):
        files_out = {}
        for f, (header, rows) in zip(files, scaled):
            out = []
            for r in rows:
                if r[anon_i] in changed:
                    r = list(r)
                    r[lat_i] = f"{float(r[lat_i]) + 0.001:.3f}"
                out.append(r)
            files_out[f] = (header, out)
        return files_out
    return variant, keys


def _scale_json_devices(name, device_arrays, fresh_kind):
    """Generic v0.1 scaler: each (array, id field) listed in
    ``device_arrays`` holds rows keyed by a device id; every copy maps the
    ids through one shared fresh-id map so joins between arrays keep."""
    def scaler(factor, ids, rng):
        doc = _load(f"{name}.json")
        keys = sorted({str(r[f]) for arr, f in device_arrays for r in doc[arr]})
        fresh = (lambda k: ids.num()) if fresh_kind == "num" else ids.text
        maps = _copies(keys, factor, fresh)
        out = {}
        for arr in doc:
            field = dict(device_arrays).get(arr)
            if field is None:
                out[arr] = doc[arr]
                continue
            rows = [dict(r, **{field: m[str(r[field])]})
                    for m in maps for r in doc[arr]]
            rng.shuffle(rows)
            out[arr] = rows
        return (lambda changed: out), []
    return scaler


def scale_lovemyair(factor, ids, rng):
    doc = _load("lovemyair.json")
    sites, pmap = [], []
    for c in range(factor):
        m = {}
        for s in doc["sites"]:
            params = []
            for p in s["parameters"]:
                m[p["parameterId"]] = ids.text(p["parameterId"])
                params.append(dict(p, parameterId=m[p["parameterId"]]))
            sites.append(dict(s, siteId=ids.text(s["siteId"]), parameters=params))
        pmap.append(m)
    meas = [dict(r, parameterId=m[r["parameterId"]])
            for m in pmap for r in doc["measurements"]]
    rng.shuffle(sites)
    rng.shuffle(meas)
    payload = {"sites": sites, "measurements": meas}
    return (lambda changed: payload), []


def scale_miri(factor, ids, rng):
    doc = _load("miri.json")
    meta, devices = doc["devices"][0], doc["devices"][1:]
    keys = [d["device_id"] for d in devices]
    maps = _copies(keys, factor, ids.text)
    devs = [dict(d, device_id=m[d["device_id"]]) for m in maps for d in devices]
    meas = [dict(r, device_id=m[r["device_id"]])
            for m in maps for r in doc["measurements"]]
    rng.shuffle(devs)
    rng.shuffle(meas)
    # the header row stays first: miri.js drops element 0 of the feed
    payload = {"devices": [meta] + devs, "measurements": meas}
    return (lambda changed: payload), []


def scale_airqo(factor, ids, rng):
    doc = _load("airqo.json")
    cohorts = []
    for coh in doc["cohorts"]:
        ms = []
        for c in range(factor):
            for m in coh["measurements"]:
                ms.append(dict(m, site_id=ids.text(m["site_id"]),
                               device=ids.text(m["device"])))
        rng.shuffle(ms)
        cohorts.append({"measurements": ms})
    payload = {"cohorts": cohorts}
    return (lambda changed: payload), []


def _scale_csv(rel, key_field):
    def scaler(factor, ids, rng):
        header, rows = _read_csv(os.path.join(FIXTURES, rel))
        k = header.index(key_field)
        keys = sorted({r[k] for r in rows})
        maps = _copies(keys, factor, ids.text)
        out = [[*r[:k], m[r[k]], *r[k + 1:]] for m in maps for r in rows]
        rng.shuffle(out)
        return (lambda changed: {os.path.basename(rel): (header, out)}), []
    return scaler


def scale_cpcb(factor, ids, rng):
    sh, srows = _read_csv(os.path.join(FIXTURES, "cpcb", "stations.csv"))
    mh, mrows = _read_csv(os.path.join(FIXTURES, "cpcb", "measurements.csv"))
    keys = sorted({r[0] for r in srows})
    maps = _copies(keys, factor, ids.text)
    s_out = [[m[r[0]], *r[1:]] for m in maps for r in srows]
    m_out = [[m[r[0]], *r[1:]] for m in maps for r in mrows]
    rng.shuffle(s_out)
    rng.shuffle(m_out)
    files = {"stations.csv": (sh, s_out), "measurements.csv": (mh, m_out)}
    return (lambda changed: files), []


SCALERS = {
    "purpleair": scale_purpleair,
    "senstate": scale_senstate,
    "habitatmap": scale_habitatmap,
    "cmu": scale_cmu,
    "clarity": _scale_json_devices(
        "clarity", [("datasources", "datasourceId"), ("data", "datasourceId"),
                    ("locations", "datasourceId")], "text"),
    "aernode": _scale_json_devices(
        "aernode", [("devices", "device_id"), ("measurements", "device_id")],
        "text"),
    "airgradient": _scale_json_devices(
        "airgradient", [("devices", "locationId"), ("measures", "locationId")],
        "text"),
    "smartsense": _scale_json_devices(
        "smartsense", [("devices", "deviceId"), ("measurements", "deviceId")],
        "text"),
    "airqoon": _scale_json_devices(
        "airqoon", [("Data", "Id"), ("telemetry", "deviceId")], "text"),
    "data354": _scale_json_devices(
        "data354", [("stations", "station_id"), ("measurements", "station_id")],
        "text"),
    "hawanama": _scale_json_devices(
        "hawanama", [("locations", "location_id"),
                     ("measurements", "location_id")], "num"),
    "lovemyair": scale_lovemyair,
    "miri": scale_miri,
    "airqo": scale_airqo,
    "iqair": _scale_csv("iqair.csv", "station"),
    "cpcb": scale_cpcb,
}


def _write_payload(provider, payload, root):
    """Write one provider payload under ``root``; return the path the
    pipeline reads and the payload bytes."""
    os.makedirs(root, exist_ok=True)
    if provider == "cmu":
        d = os.path.join(root, "cmu")
        os.makedirs(d, exist_ok=True)
        for f, (h, rows) in payload.items():
            _write_csv(os.path.join(d, f), h, rows)
        return os.path.join(d, "*.csv"), _dir_bytes(d)
    if provider == "cpcb":
        d = os.path.join(root, "cpcb")
        os.makedirs(d, exist_ok=True)
        for f, (h, rows) in payload.items():
            _write_csv(os.path.join(d, f), h, rows)
        return d, _dir_bytes(d)
    if provider == "iqair":
        (f, (h, rows)), = payload.items()
        path = os.path.join(root, f)
        _write_csv(path, h, rows)
        return path, os.path.getsize(path)
    path = os.path.join(root, f"{provider}.json")
    _dump(payload, path)
    return path, os.path.getsize(path)


def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def generate(out_dir, seed, factors, variants):
    """Write the config directory and payloads; return the manifest.

    ``variants`` is ("A",) for a single payload set or ("A", "B") for the
    alternating fleet.  The manifest maps each variant to provider ->
    input path, and records the expected K5 summaries, output rows and
    the number of stations that differ between A and B.
    """
    rng = random.Random(seed)
    ids = Ids(rng)
    cfg = os.path.join(out_dir, "sources")
    os.makedirs(cfg, exist_ok=True)
    manifest = {"seed": seed, "factors": factors, "config_dir": cfg,
                "inputs": {v: {} for v in variants}, "payload_bytes": {},
                "expected": {}, "expected_mobile_rows": {},
                "changed_stations": {}, "station_devices": {}}
    for p in PROVIDERS:
        _dump({"schema": "v1", "provider": p, "frequency": "hour",
               "active": True, "meta": {"url": "recorded"}},
              os.path.join(cfg, f"{p}.json"))
        k = factors[p]
        variant, keys = SCALERS[p](k, ids, rng)
        n_changed = 0
        if p in STATION_PROVIDERS and "B" in variants:
            n_changed = max(1, round(CHANGED_SHARE * len(keys)))
        changed = set(rng.sample(keys, n_changed))
        for v in variants:
            if v == "A" or p in STATION_PROVIDERS:
                path, size = _write_payload(
                    p, variant(changed if v == "B" else set()),
                    os.path.join(out_dir, v))
            manifest["inputs"][v][p] = path
            manifest["payload_bytes"][p] = size
        loc, meas, frm, to = FIXTURE_K5[p]
        manifest["expected"][p] = {"locations": loc * k, "measures": meas * k,
                                   "from": frm, "to": to}
        if p in FIXTURE_MOBILE_ROWS:
            manifest["expected_mobile_rows"][p] = FIXTURE_MOBILE_ROWS[p] * k
        if p in STATION_PROVIDERS:
            manifest["changed_stations"][p] = n_changed
            manifest["station_devices"][p] = len(keys)
    return manifest
