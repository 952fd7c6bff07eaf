"""Seeded input generators: the aircraft fleet, per-minute weather and
the in-process transport that feeds both to the real ingest clients.

Everything here is plain Python driven by ``random.Random(seed)``, so
the same seed always yields byte-identical snapshots and weather.
"""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta, timezone

# France bounding box (lat_min, lat_max, lon_min, lon_max), the same box
# the ingest client asks OpenSky for.
BBOX = (41.3, 51.1, -5.1, 9.6)

# The six fixed weather stations the pipeline queries.
STATIONS = (
    (48.709632, 2.208563),
    (43.629421, 1.367789),
    (45.726009, 5.090928),
    (43.434242, 5.212784),
    (47.460152, -0.529704),
    (50.561237, 3.086957),
)

COUNTRIES = ("France", "Germany", "Spain", "Italy", "United Kingdom", "Belgium")
EPOCH0 = datetime(2026, 2, 26, 14, 0, tzinfo=timezone.utc)

# Flight phases and their share of the fleet: mostly cruise, the rest
# climbing, descending or on the ground, as on a daytime snapshot over
# France. The mix is an estimate, not taken from recorded traffic.
# Climb and descent span every altitude and speed between the ground
# and cruise, so the phases overlap the way real traffic does.
PHASES = (("ground", 0.12), ("climb", 0.14), ("cruise", 0.60), ("descent", 0.14))


def _state(phase: str, rng: random.Random) -> tuple[float, float, float, bool]:
    """(baro altitude m, velocity m/s, vertical rate m/s, on_ground)."""
    if phase == "ground":
        if rng.random() < 0.8:  # taxiing or parked
            return rng.uniform(0.0, 120.0), rng.uniform(0.0, 18.0), 0.0, True
        # take-off or landing roll
        return rng.uniform(0.0, 300.0), rng.uniform(50.0, 90.0), rng.uniform(-4.0, 6.0), False
    if phase == "cruise":
        alt = min(12500.0, max(7000.0, rng.gauss(10800.0, 900.0)))
        return alt, rng.gauss(230.0, 15.0), rng.gauss(0.0, 1.0), False
    alt = rng.uniform(300.0, 11000.0)
    vel = max(60.0, 90.0 + 0.013 * alt + rng.gauss(0.0, 15.0))
    rate = rng.uniform(2.0, 15.0)
    return alt, vel, rate if phase == "climb" else -rate, False


class Fleet:
    """A fixed fleet of ``size`` aircraft. Each minute a snapshot of
    ``per_minute`` of them is drawn, so most aircraft reappear from one
    minute to the next; positions drift along each aircraft's track."""

    def __init__(self, seed: int, size: int = 4000, per_minute: int = 3000):
        if per_minute > size:
            raise ValueError("per_minute must not exceed the fleet size")
        self.seed = seed
        self.per_minute = per_minute
        rng = random.Random(seed)
        icaos = rng.sample(range(0x100000, 0xFFFFFF), size)
        self.aircraft = []
        for n, code in enumerate(icaos):
            phase = rng.choices([p for p, _ in PHASES], [w for _, w in PHASES])[0]
            self.aircraft.append(
                {
                    "icao24": f"{code:06x}",
                    "callsign": f"AF{n:04d}",
                    "country": COUNTRIES[rng.randrange(len(COUNTRIES))],
                    "phase": phase,
                    "lat": rng.uniform(BBOX[0], BBOX[1]),
                    "lon": rng.uniform(BBOX[2], BBOX[3]),
                    "track": rng.uniform(0.0, 360.0),
                }
            )

    def snapshot(self, minute: int) -> dict:
        """The OpenSky ``/states/all`` payload for ``minute``."""
        rng = random.Random(self.seed * 1_000_003 + minute)
        when = int((EPOCH0 + timedelta(minutes=minute)).timestamp())
        states = []
        for ac in rng.sample(self.aircraft, self.per_minute):
            alt, vel, rate, on_ground = _state(ac["phase"], rng)
            drift = minute * vel * 60.0 / 111_000.0
            rad = math.radians(ac["track"])
            lat = _wrap(ac["lat"] + drift * math.cos(rad), BBOX[0], BBOX[1])
            lon = _wrap(ac["lon"] + drift * math.sin(rad), BBOX[2], BBOX[3])
            if rng.random() < 0.02:  # no GPS fix: dropped by formatting
                lat = lon = None
            callsign = ac["callsign"] + "  " if rng.random() > 0.05 else "    "
            states.append(
                [
                    ac["icao24"],
                    callsign,
                    ac["country"],
                    when - rng.randrange(5),
                    when,
                    None if lon is None else round(lon, 5),
                    None if lat is None else round(lat, 5),
                    round(alt, 1),
                    on_ground,
                    round(vel, 2),
                    round(ac["track"], 2),
                    round(rate, 2),
                    None,
                    round(alt + rng.uniform(-30.0, 30.0), 1),
                    f"{rng.randrange(8 ** 4):04o}",
                    False,
                    rng.randrange(4),
                ]
            )
        return {"time": when, "states": states}


def _wrap(x: float, lo: float, hi: float) -> float:
    return lo + (x - lo) % (hi - lo)


def minute_ts(minute: int) -> datetime:
    return EPOCH0 + timedelta(minutes=minute)


def weather(seed: int, minute: int) -> list[dict]:
    """Per-station Open-Meteo payloads for ``minute``; values straddle
    every risk-score threshold."""
    rng = random.Random(seed * 7_919 + minute)
    local = (EPOCH0 + timedelta(minutes=minute)).strftime("%Y-%m-%dT%H:%M")
    out = []
    for lat, lon in STATIONS:
        precip = rng.choice((0.0, rng.uniform(0.1, 5.0), rng.uniform(5.1, 12.0)))
        out.append(
            {
                "latitude": lat,
                "longitude": lon,
                "elevation": round(rng.uniform(0.0, 500.0), 1),
                "current": {
                    "time": local,
                    "temperature_2m": round(rng.uniform(-10.0, 35.0), 1),
                    "relative_humidity_2m": rng.randrange(101),
                    "wind_speed_10m": round(rng.uniform(0.0, 80.0), 1),
                    "wind_direction_10m": round(rng.uniform(0.0, 360.0), 1),
                    "wind_gusts_10m": round(rng.uniform(0.0, 120.0), 1),
                    "precipitation": round(precip, 2),
                    "rain": round(precip * rng.random(), 2),
                    "cloud_cover": rng.randrange(101),
                    "weather_code": rng.choice((0, 3, 45, 61, 80, 95, 99)),
                    "visibility": round(rng.uniform(200.0, 20000.0), 0),
                },
            }
        )
    return out


class Transport:
    """In-process stand-in for HTTP: answers the OpenSky token and
    ``/states/all`` calls and the Open-Meteo per-point calls with the
    generated payloads for the current ``minute``."""

    def __init__(self, fleet: Fleet, seed: int):
        self.fleet = fleet
        self.seed = seed
        self.minute = 0
        self._snapshot: tuple[int, dict] | None = None
        self._weather: tuple[int, dict] | None = None

    def snapshot(self) -> dict:
        if self._snapshot is None or self._snapshot[0] != self.minute:
            self._snapshot = (self.minute, self.fleet.snapshot(self.minute))
        return self._snapshot[1]

    def weather_by_point(self) -> dict:
        if self._weather is None or self._weather[0] != self.minute:
            points = weather(self.seed, self.minute)
            self._weather = (
                self.minute,
                {(p["latitude"], p["longitude"]): p for p in points},
            )
        return self._weather[1]

    def __call__(self, method, url, *, params=None, data=None, json_body=None,
                 files=None, headers=None, timeout=30.0) -> dict:
        if data is not None and data.get("grant_type") == "client_credentials":
            return {"access_token": "offline", "expires_in": 1800}
        if url.endswith("/states/all"):
            return self.snapshot()
        if params is not None and "latitude" in params:
            return self.weather_by_point()[(params["latitude"], params["longitude"])]
        raise ValueError(f"unexpected request {method} {url}")
