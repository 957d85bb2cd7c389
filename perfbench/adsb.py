"""ADS-B workload: the batch ETL write path and the query API read path.

``build_tables`` turns the seeded capture into flights, positions,
landings and takeoffs; a closed-loop client then issues seeded rounds
of ``plans.adsb`` calls against those tables.  Every table and every
answer is checked against the capture's planted truth, the query
answers through a pure-Python recomputation.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time
import zoneinfo

from gen_adsb import (
    Capture,
    airline_of,
    airline_rows,
    country_rows,
    generate_capture,
    ms_to_datetime,
)

PARIS = zoneinfo.ZoneInfo("Europe/Paris")
UTC = dt.timezone.utc


def write_capture(cap: Capture, directory: str, files: int) -> None:
    """The capture as ``files`` text files of consecutive lines."""
    os.makedirs(directory, exist_ok=True)
    n = len(cap.lines)
    for i in range(files):
        chunk = cap.lines[i * n // files:(i + 1) * n // files]
        with open(os.path.join(directory, f"part-{i:03d}.txt"), "w") as f:
            f.write("\n".join(chunk) + "\n")


def load_dims(spark) -> dict:
    from dump1090_postgis_spark.schemas import AIRLINE_SCHEMA, COUNTRY_SCHEMA
    from dump1090_postgis_spark.sources.dims import nte_airport, nte_runways

    return {
        "runways": nte_runways(spark),
        "airport": nte_airport(spark),
        "airlines": spark.createDataFrame(airline_rows(), AIRLINE_SCHEMA).cache(),
        "countries": spark.createDataFrame(country_rows(), COUNTRY_SCHEMA).cache(),
    }


def etl_pass(spark, raw_dir: str, dims: dict, out: str) -> dict:
    from dump1090_postgis_spark.plans.etl import build_tables

    raw = spark.read.text(raw_dir)
    return build_tables(raw, dims["runways"], dims["airport"], output_path=out)


def table_summary(tables: dict) -> dict:
    from pyspark.sql import functions as F

    def by_runway(df):
        return {r["runway"]: r["n"] for r in
                df.groupBy("runway").agg(F.count(F.lit(1)).alias("n")).collect()}

    return {
        "flights": tables["flights"].count(),
        "positions": tables["positions"].count(),
        "landings": by_runway(tables["landings"]),
        "takeoffs": by_runway(tables["takeoffs"]),
    }


def check_tables(summary: dict, truth: dict) -> list[str]:
    errs = []
    for key in ("flights", "positions"):
        if summary[key] != truth[key]:
            errs.append(f"{key}: {summary[key]} != planted {truth[key]}")
    for kind in ("landings", "takeoffs"):
        want = {k.split(":")[1]: v for k, v in truth["per_runway"].items()
                if k.startswith(kind[:-1] + ":")}
        if summary[kind] != want:
            errs.append(f"{kind} per runway: {summary[kind]} != planted {want}")
    return errs


# --------------------------------------------------------------------------
# query API: seeded calls and their pure-Python expected answers
# --------------------------------------------------------------------------

QUERY_NAMES = (
    "landings_on", "takeoffs_on", "landings_fromto", "events_histogram_all",
    "peak_hour_all", "flight_path_geojson", "landings_on_details",
)


def query_round(rng: random.Random, days: int, n_flights: int,
                warmup: bool = False) -> list[tuple]:
    """One seeded round of calls, shuffled.  A measured round weighs the
    calls the way a dashboard issues them: the per-day landing and
    takeoff lists make 11 of its 16 calls, so the median call sits in
    the middle of that group, not at its slow edge where one slow list
    call would move it, and each analytics call comes once (the histogram in the
    hour or the day bin).  The warm-up round issues every call shape
    once, both bins included."""
    day0 = ms_to_datetime(0).date()

    def day():
        return day0 + dt.timedelta(days=rng.randrange(days))

    def fromto():
        d = day()
        return {"from_": d, "to_": d + dt.timedelta(days=rng.randint(1, 3))}

    def histogram(bin_):
        if bin_ == "day":
            return {"starts": dt.datetime.combine(day0, dt.time(0)),
                    "ends": dt.datetime.combine(day0 + dt.timedelta(days=days - 1),
                                                dt.time(0)),
                    "bin_": "day"}
        d = day()
        return {"starts": dt.datetime.combine(d, dt.time(rng.randrange(12))),
                "ends": dt.datetime.combine(d, dt.time(12 + rng.randrange(12))),
                "bin_": "hour"}

    def path_ids():
        return {"ids": sorted(rng.sample(range(1, n_flights + 1), min(8, n_flights)))}

    bins = ["hour", "day"] if warmup else [rng.choice(["hour", "day"])]
    lists = (1, 1) if warmup else (6, 5)
    calls = (
        [("landings_on", {"day": day()}) for _ in range(lists[0])]
        + [("takeoffs_on", {"day": day()}) for _ in range(lists[1])]
        + [("landings_fromto", fromto())]
        + [("events_histogram_all", histogram(b)) for b in bins]
        + [("peak_hour_all", {}), ("flight_path_geojson", path_ids()),
           ("landings_on_details", {"day": day()})]
    )
    rng.shuffle(calls)
    return calls


def build_query(name: str, p: dict, tables: dict, dims: dict):
    from dump1090_postgis_spark.plans import adsb

    L, T = tables["landings"], tables["takeoffs"]
    if name == "landings_on":
        return adsb.landings_on(L, p["day"])
    if name == "takeoffs_on":
        return adsb.takeoffs_on(T, p["day"])
    if name == "landings_fromto":
        return adsb.landings_fromto(L, p["from_"], p["to_"])
    if name == "events_histogram_all":
        return adsb.events_histogram_all(L, T, p["starts"], p["ends"], p["bin_"])
    if name == "peak_hour_all":
        return adsb.peak_hour_all(L, T)
    if name == "flight_path_geojson":
        return adsb.flight_path_geojson(tables["positions"], p["ids"])
    if name == "landings_on_details":
        return adsb.landings_on_details(L, tables["flights"], dims["airlines"],
                                        dims["countries"], p["day"])
    raise ValueError(name)


def _events(truth: dict, kind: str) -> list[tuple]:
    """(id, flight_id, time, runway) rows the engine must number."""
    return [(i + 1, fid, ms_to_datetime(t), rw)
            for i, (t, fid, rw) in enumerate(truth[kind])]


def _local_date(t: dt.datetime) -> dt.date:
    return t.replace(tzinfo=UTC).astimezone(PARIS).date()


def _trunc(t: dt.datetime, bin_: str) -> dt.datetime:
    t = t.replace(minute=0, second=0, microsecond=0)
    return t.replace(hour=0) if bin_ == "day" else t


def expected_answer(name: str, p: dict, truth: dict):
    L, T = _events(truth, "landings"), _events(truth, "takeoffs")
    if name in ("landings_on", "takeoffs_on"):
        rows = L if name == "landings_on" else T
        return [r for r in rows if r[2].date() == p["day"]]
    if name == "landings_fromto":
        return [r for r in L if p["from_"] <= _local_date(r[2]) < p["to_"]]
    if name == "events_histogram_all":
        step = dt.timedelta(days=1) if p["bin_"] == "day" else dt.timedelta(hours=1)
        lo, hi = _trunc(p["starts"], p["bin_"]), _trunc(p["ends"], p["bin_"])
        bins = {}
        b = lo
        while b <= hi:
            bins[b] = []
            b += step
        for _id, fid, t, _rw in L + T:
            k = _trunc(t, p["bin_"])
            if k in bins:
                bins[k].append(fid)
        return [(b, len(ids), sorted(ids)) for b, ids in sorted(bins.items())]
    if name == "peak_hour_all":
        times = sorted(r[2] for r in L + T)
        best: dict[dt.date, tuple] = {}
        lo = 0
        for i, t in enumerate(times):
            while times[lo] < t - dt.timedelta(hours=1):
                lo += 1
            # trailing hour, inclusive of both ends; later equal
            # timestamps belong to the same window
            j = i
            while j + 1 < len(times) and times[j + 1] == t:
                j += 1
            count = j - lo + 1
            ph = (t - dt.timedelta(minutes=30)).replace(second=0, microsecond=0)
            key = (count, ph)
            day = _local_date(ph)
            if day not in best or key > best[day]:
                best[day] = key
        return sorted(((d, ph, c) for d, (c, ph) in best.items()),
                      key=lambda r: (r[2], r[1]), reverse=True)
    if name == "flight_path_geojson":
        pts = truth["path_points"]
        return {fid: pts[fid] for fid in p["ids"] if pts.get(fid)}
    if name == "landings_on_details":
        calls = truth["callsigns"]
        return [(eid, t, rw, fid, *airline_of(calls[fid]))
                for eid, fid, t, rw in L if t.date() == p["day"]]
    raise ValueError(name)


def observed_answer(name: str, rows: list):
    if name in ("landings_on", "takeoffs_on", "landings_fromto"):
        return [(r["id"], r["flight_id"], r["time"], r["runway"]) for r in rows]
    if name == "events_histogram_all":
        return [(r["interval"], r["events"], list(r["ids"])) for r in rows]
    if name == "peak_hour_all":
        return [(r["day"], r["peak_hour"], r["events"]) for r in rows]
    if name == "flight_path_geojson":
        return {r["flight_id"]: len(json.loads(r["geojson"])["coordinates"])
                for r in rows}
    if name == "landings_on_details":
        return sorted((r["event_id"], r["time"], r["runway"], r["flight_id"],
                       r["airline"], r["country"], r["continent"]) for r in rows)
    raise ValueError(name)


def check_answer(name: str, p: dict, rows: list, truth: dict) -> str | None:
    got, want = observed_answer(name, rows), expected_answer(name, p, truth)
    if got != want:
        return f"{name}({p}): answer differs from recomputation"
    return None


def run_query(name: str, p: dict, tables: dict, dims: dict):
    """(build_s, exec_s, rows): plan construction, then the collect."""
    t0 = time.perf_counter()
    df = build_query(name, p, tables, dims)
    t1 = time.perf_counter()
    rows = df.collect()
    return t1 - t0, time.perf_counter() - t1, rows


def make_capture(seed: int, size: dict) -> Capture:
    return generate_capture(seed, size["days"], size["flights_per_day"])
