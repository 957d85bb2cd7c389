"""Seeded SBS-1 capture generator with planted truth.

A capture is a time-ordered list of BaseStation (SBS-1) lines around
Nantes Atlantique (LFRS): arrivals and departures on runway 03/21,
landings and take-offs at a remote field (attributed ``UNK``),
overflights, high-altitude traffic that never passes the admission
filter, touch-down bounces inside the 2 s debounce window, all 8 MSG
transmission types and ~1% malformed lines.

Every aircraft keeps a consistent rotation (an aircraft that landed
next departs from the ground, one that left airborne next appears
airborne), so the batch ETL (event-time sessions) and the streaming
engine (processing-time sessions per hexident) detect the same events
on the same capture.

The generator also returns what the engine must find: flights with
their dense ids, positions per flight, landings and take-offs with
their runway, per-hour event counts.  It is pure Python; the program
under test only ever sees the written lines.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

# Runway 03/21 centreline ends (midpoints of the strip polygon's short
# edges, sources/dims.py _NTE_RUNWAY_POLY): 03 lands towards the NE.
END_03 = (-1.619536, 47.141614)
END_21 = (-1.603191, 47.163085)
# A remote strip well outside the LFRS bounding box: events there keep
# runway 'UNK'.
REMOTE_SHIFT = (0.9, 0.55)

EPOCH = dt.datetime(2024, 3, 4)
DEBOUNCE_S = 2.0
# share of malformed lines added to the capture
MALFORMED_RATIO = 0.01

AIRLINES = [
    # (icao, name, country)
    ("AFR", "Air France", "France"),
    ("EZY", "easyJet", "United Kingdom"),
    ("VOE", "Volotea", "Spain"),
    ("TVF", "Transavia France", "France"),
    ("RYR", "Ryanair", "Ireland"),
    ("KLM", "KLM", "Netherlands"),
    ("DLH", "Lufthansa", "Germany"),
    ("IBE", "Iberia", "Spain"),
    ("BEE", "Flybe", "United Kingdom"),
    ("HOP", "Hop", "France"),
]
COUNTRIES = [
    # (code, name, continent)
    ("FR", "France", "EU"),
    ("GB", "United Kingdom", "EU"),
    ("ES", "Spain", "EU"),
    ("IE", "Ireland", "EU"),
    ("NL", "Netherlands", "EU"),
    ("DE", "Germany", "EU"),
]
# callsign prefixes that match no airline row (details → NULL airline)
UNKNOWN_PREFIXES = ["ZZX", "PVT"]


@dataclass
class Flight:
    hexident: str
    kind: str  # arrival | departure | overflight | high
    callsign: str
    msgs: list = field(default_factory=list)  # (t_ms, line)
    positions: int = 0
    events: list = field(default_factory=list)  # (t_ms, 'landing'|'takeoff', runway)
    bounced: bool = False

    @property
    def first_ms(self) -> int:
        return self.msgs[0][0]

    @property
    def last_ms(self) -> int:
        return self.msgs[-1][0]


@dataclass
class Capture:
    lines: list[str]
    flights: list[Flight]  # admitted flights, dense-id order (id = index + 1)
    rejected_lines: int
    span_days: int  # days the flights cover

    def truth(self) -> dict:
        """Planted expectations, keyed the way the checks use them."""
        landings, takeoffs = [], []
        for fid, f in enumerate(self.flights, start=1):
            for t_ms, typ, rw in f.events:
                (landings if typ == "landing" else takeoffs).append((t_ms, fid, rw))
        landings.sort()
        takeoffs.sort()
        per_runway: dict[str, int] = {}
        for t_ms, _fid, rw in landings:
            per_runway[f"landing:{rw}"] = per_runway.get(f"landing:{rw}", 0) + 1
        for t_ms, _fid, rw in takeoffs:
            per_runway[f"takeoff:{rw}"] = per_runway.get(f"takeoff:{rw}", 0) + 1
        per_hour: dict[int, int] = {}
        for t_ms, _fid, _rw in landings + takeoffs:
            h = t_ms // 3_600_000
            per_hour[h] = per_hour.get(h, 0) + 1
        return {
            "lines": len(self.lines),
            "days": self.span_days,
            "rejected_lines": self.rejected_lines,
            "flights": len(self.flights),
            "positions": sum(f.positions for f in self.flights),
            "landings": landings,
            "takeoffs": takeoffs,
            "per_runway": per_runway,
            "per_hour": per_hour,
            "path_points": {i + 1: f.positions for i, f in enumerate(self.flights)},
            "callsigns": {i + 1: f.callsign for i, f in enumerate(self.flights)},
        }


def ms_to_datetime(t_ms: int) -> dt.datetime:
    return EPOCH + dt.timedelta(milliseconds=t_ms)


def _stamp(t_ms: int) -> str:
    d = ms_to_datetime(t_ms)
    return f"{d:%Y/%m/%d},{d:%H:%M:%S}.{d.microsecond // 1000:03d}"


def _line(tt: int, hexident: str, t_ms: int, callsign="", alt="", speed="",
          track="", lat="", lon="", vr="", squawk="", onground="") -> str:
    s = _stamp(t_ms)
    return (
        f"MSG,{tt},1,1,{hexident},1,{s},{s},{callsign},{alt},{speed},{track},"
        f"{lat},{lon},{vr},{squawk},0,,0,{onground}"
    )


def _og(on_ground: bool) -> str:
    return "-1" if on_ground else "0"


class _FlightWriter:
    """Appends one flight's messages; position rows are counted as the
    engine counts them (MSG2 with lat/lon, MSG3 with lat/lon/alt)."""

    def __init__(self, rng: random.Random, f: Flight, t_ms: int):
        self.rng, self.f, self.t = rng, f, t_ms

    def _emit(self, tt: int, **kw) -> None:
        self.f.msgs.append((self.t, _line(tt, self.f.hexident, self.t, **kw)))
        self.t += self.rng.randint(60, 400)

    def position(self, lon: float, lat: float, alt: int | None, on_ground: bool,
                 extras: bool = True) -> int:
        """One position report (MSG2 on the ground, MSG3 airborne) plus
        a random mix of the other transmission types; returns the
        position's timestamp."""
        t_pos = self.t
        if on_ground:
            self._emit(2, speed=self.rng.randint(5, 140), lat=f"{lat:.6f}",
                       lon=f"{lon:.6f}", onground="-1")
        else:
            self._emit(3, alt=alt, lat=f"{lat:.6f}", lon=f"{lon:.6f}",
                       onground="0")
        self.f.positions += 1
        if extras:
            r = self.rng.random()
            og = _og(on_ground)
            if r < 0.30:
                self._emit(4, speed=self.rng.randint(120, 300),
                           track=self.rng.randint(0, 359),
                           vr=self.rng.choice([-640, -320, 0, 320, 1280]),
                           onground=og)
            elif r < 0.45:
                self._emit(5, alt=alt if alt is not None else 0, vr=0)
            elif r < 0.55:
                self._emit(6, squawk=self.rng.randint(1000, 7777))
            elif r < 0.62:
                self._emit(7, alt=alt if alt is not None else 0)
            elif r < 0.72:
                self._emit(8, onground=og)
        return t_pos

    def callsign(self, on_ground: bool) -> None:
        self._emit(1, callsign=self.f.callsign, onground=_og(on_ground))

    def gap(self, lo_ms: int, hi_ms: int) -> None:
        self.t += self.rng.randint(lo_ms, hi_ms)


def _strip(runway: str, remote: bool):
    a, b = (END_03, END_21) if runway == "03" else (END_21, END_03)
    if remote:
        a = (a[0] + REMOTE_SHIFT[0], a[1] + REMOTE_SHIFT[1])
        b = (b[0] + REMOTE_SHIFT[0], b[1] + REMOTE_SHIFT[1])
    ux, uy = b[0] - a[0], b[1] - a[1]
    return lambda s: (a[0] + s * ux, a[1] + s * uy)


def _arrival(w: _FlightWriter, runway: str, remote: bool) -> None:
    at = _strip(runway, remote)
    steps = w.rng.randint(14, 22)
    # approach on the extended centreline, from 4 strip lengths out
    s_td = w.rng.uniform(0.15, 0.35)
    for i in range(steps):
        s = -4.0 + (s_td - 0.05 + 4.0) * i / (steps - 1)
        lon, lat = at(s)
        alt = max(50, int(3000 * (s_td - s) / (s_td + 4.0)))
        w.position(lon, lat, alt, on_ground=False)
        if i == 0:
            w.callsign(False)
        w.gap(1500, 3500)
    rw = "UNK" if remote else runway
    lon, lat = at(s_td)
    t_land = w.position(lon, lat, None, on_ground=True, extras=False)
    w.f.events.append((t_land, "landing", rw))
    if w.rng.random() < 0.2:
        # bounce: airborne again and back down, both inside the
        # debounce window of the touch-down
        w.f.bounced = True
        w.t = t_land + w.rng.randint(300, 700)
        lon, lat = at(s_td + 0.02)
        w.position(lon, lat, 10, on_ground=False, extras=False)
        w.t = max(w.t, t_land + 900)
        lon, lat = at(s_td + 0.04)
        t_b = w.position(lon, lat, None, on_ground=True, extras=False)
        assert t_b - t_land <= DEBOUNCE_S * 1000
    w.gap(1500, 3000)
    for i in range(w.rng.randint(4, 8)):
        lon, lat = at(min(0.95, s_td + 0.1 * (i + 1)))
        w.position(lon, lat, None, on_ground=True)
        w.gap(1500, 3000)
    w.callsign(True)


def _departure(w: _FlightWriter, runway: str, remote: bool) -> None:
    at = _strip(runway, remote)
    # taxi off the centreline, line-up, roll, lift-off inside the strip
    for i in range(w.rng.randint(3, 6)):
        lon, lat = at(-0.05 * (i + 1))
        w.position(lon + 0.001, lat - 0.001, None, on_ground=True)
        if i == 0:
            w.callsign(True)
        w.gap(2000, 5000)
    s_lo = w.rng.uniform(0.6, 0.8)
    rolls = w.rng.randint(4, 7)
    for i in range(rolls):
        lon, lat = at(0.05 + (s_lo - 0.1) * i / (rolls - 1))
        w.position(lon, lat, None, on_ground=True)
        w.gap(1000, 2500)
    lon, lat = at(s_lo)
    t_off = w.position(lon, lat, 50, on_ground=False, extras=False)
    w.f.events.append((t_off, "takeoff", "UNK" if remote else runway))
    w.gap(1500, 3000)
    steps = w.rng.randint(10, 18)
    for i in range(steps):
        s = s_lo + 0.3 + 4.0 * i / steps
        lon, lat = at(s)
        w.position(lon, lat, int(200 + 5000 * i / steps), on_ground=False)
        w.gap(1500, 3500)


def _overflight(w: _FlightWriter, alt_lo: int, alt_hi: int) -> None:
    lon0 = w.rng.uniform(-2.4, -0.8)
    lat0 = w.rng.uniform(47.45, 47.9)
    dlon, dlat = w.rng.uniform(-0.02, 0.02), w.rng.uniform(-0.01, 0.01)
    alt = w.rng.randint(alt_lo, alt_hi)
    for i in range(w.rng.randint(15, 30)):
        w.position(lon0 + i * dlon, lat0 + i * dlat, alt, on_ground=False)
        if i == 0:
            w.callsign(False)
        w.gap(1500, 4000)


def _hexidents(rng: random.Random, n: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        out.add(f"{rng.randrange(0x100000, 0xFFFFFF):06X}")
    return sorted(out)


def _callsign(rng: random.Random) -> str:
    if rng.random() < 0.1:
        prefix = rng.choice(UNKNOWN_PREFIXES)
    else:
        prefix = rng.choice(AIRLINES)[0]
    return f"{prefix}{rng.randint(10, 9999)}"


_MALFORMED = (
    lambda r, t: _line(3, "abc123", t, alt=2000, lat="47.2", lon="-1.5", onground="0"),
    lambda r, t: "MSG,3,1,1,4CA2B1,1," + _stamp(t) + ",,1200",
    lambda r, t: _line(3, "4CA2B1", t, alt="12x0", lat="47.2", lon="-1.5", onground="0"),
    lambda r, t: "#" + "".join(r.choice("abcdefxyz ,") for _ in range(30)),
    lambda r, t: "STA,,1,1,4CA2B1,1," + _stamp(t) + "," + _stamp(t) + ",RM",
)


def generate_capture(seed: int, days: int, flights_per_day: int) -> Capture:
    """A capture of exactly ``days * flights_per_day`` admitted flights
    (fewer only if ``days`` cannot hold them), so that every seed gives
    the program the same amount of work.  The same arguments always
    give the same lines."""
    rng = random.Random(seed)
    span_ms = days * 86_400_000
    n_flights = days * flights_per_day
    # one rotation is ~2.5 h of flight + ground/away time on average;
    # 20% more aircraft than that leaves flights to cut
    n_aircraft = max(4, int(1.2 * flights_per_day / (24 / 2.5)))
    hexes = _hexidents(rng, n_aircraft + max(1, n_aircraft // 10))
    fleet, high_fleet = hexes[:n_aircraft], hexes[n_aircraft:]
    runway_by_day = [rng.choice(["03", "03", "21"]) for _ in range(days + 1)]

    flights: list[Flight] = []
    for hx in fleet:
        on_ground = rng.random() < 0.5
        t = rng.randint(0, 3_600_000)
        while True:
            day = t // 86_400_000
            rw = runway_by_day[day] if rng.random() < 0.85 else rng.choice(["03", "21"])
            r = rng.random()
            if on_ground:
                kind, remote = "departure", r < 0.2
            elif r < 0.55:
                kind, remote = "arrival", False
            elif r < 0.7:
                kind, remote = "arrival", True
            else:
                kind, remote = "overflight", False
            f = Flight(hx, kind, _callsign(rng))
            w = _FlightWriter(rng, f, t)
            if kind == "arrival":
                _arrival(w, rw, remote)
                on_ground = True
            elif kind == "departure":
                _departure(w, rw, remote)
                on_ground = False
            else:
                _overflight(w, 3000, 9000)
            if f.last_ms >= span_ms:
                break
            flights.append(f)
            # next session of this aircraft starts well past the 300 s gap
            t = f.last_ms + rng.randint(20 * 60_000, 240 * 60_000)

    # keep the first n_flights by start: each aircraft keeps a prefix of
    # its rotation, and the capture ends with the last kept flight
    flights.sort(key=lambda f: (f.first_ms, f.hexident))
    if len(flights) > n_flights:
        flights = flights[:n_flights]
        span_ms = max(f.last_ms for f in flights) + 1

    highs: list[Flight] = []
    for hx in high_fleet:
        t = rng.randint(0, 3_600_000)
        while True:
            f = Flight(hx, "high", _callsign(rng))
            _overflight(_FlightWriter(rng, f, t), 31000, 39000)
            if f.last_ms >= span_ms:
                break
            highs.append(f)
            t = f.last_ms + rng.randint(60 * 60_000, 300 * 60_000)

    timed = [m for f in flights + highs for m in f.msgs]
    n_bad = int(len(timed) * MALFORMED_RATIO)
    for _ in range(n_bad):
        t = rng.randrange(span_ms)
        timed.append((t, rng.choice(_MALFORMED)(rng, t)))
    timed.sort(key=lambda m: m[0])

    # dense flight ids follow (first_seen, hexident), as the ETL does
    return Capture(
        lines=[line for _t, line in timed],
        flights=flights,
        rejected_lines=n_bad,
        span_days=-(-span_ms // 86_400_000),
    )


def airline_rows() -> list[tuple]:
    """Rows for the airlines dim (schemas.AIRLINE_SCHEMA order)."""
    return [
        (i + 1, name, None, icao[:2], icao, name.upper(), country, "Y")
        for i, (icao, name, country) in enumerate(AIRLINES)
    ]


def country_rows() -> list[tuple]:
    """Rows for the countries dim (schemas.COUNTRY_SCHEMA order)."""
    return [
        (i + 1, code, name, cont, None, None)
        for i, (code, name, cont) in enumerate(COUNTRIES)
    ]


def airline_of(callsign: str) -> tuple[str | None, str | None, str | None]:
    """(airline, country, continent) the details join must return."""
    by_icao = {icao: (name, country) for icao, name, country in AIRLINES}
    cont = {name: c for _code, name, c in COUNTRIES}
    hit = by_icao.get(callsign[:3])
    if hit is None:
        return None, None, None
    return hit[0], hit[1], cont.get(hit[1])
