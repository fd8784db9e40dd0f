"""Seeded GTFS network and GTFS-RT poll generator for the realtime workload.

The generator is the benchmark's model of the feed: it knows every
scheduled time, every injected delay and every poll that repeats an
unchanged prediction, so it can compute the exact ``trip_updates`` state
and delay table the pipeline must produce. Nothing here imports Spark.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from zoneinfo import ZoneInfo

from transit_efficiency_analysis_spark.sources.gtfs_rt_wire import encode_feed_message

TZ = ZoneInfo("America/Toronto")
#: first service day; June has no DST transition, so local times are
#: unambiguous for every generated day
FIRST_DAY = date(2024, 6, 3)


@dataclass(frozen=True)
class Scale:
    """The default is one service day of the network the benchmark's design
    was prototyped on (40 routes x 600 trips x 30 stops, 1,680 updates per
    poll), over fewer days: see README.md, "Realtime scale"."""

    routes: int = 40
    trips_per_route: int = 15
    stops_per_trip: int = 30
    days: int = 4
    #: historical polls per past service day (the backlog)
    history_polls: int = 1
    #: trips carried by one live poll (a sliding window over the day's trips)
    live_trips: int = 56
    #: share of carried predictions that change from one poll to the next
    change_p: float = 0.3
    #: share of predictions without an arrival time (stored as the epoch-0 sentinel)
    no_arrival_p: float = 0.03


TINY = Scale(routes=2, trips_per_route=4, stops_per_trip=5, days=3,
             history_polls=2, live_trips=5)


@dataclass
class Poll:
    header_ts: int
    #: ((trip_id, start_date 'yyyymmdd'), [(seq, stop_id, arr|None, dep|None), ...])
    trips: list
    weather: tuple[int, str, float]

    def payload(self) -> bytes:
        return encode_feed_message(
            self.header_ts, [(t, d, u) for (t, d), u in self.trips]
        )

    def updates(self) -> int:
        return sum(len(u) for _, u in self.trips)


@dataclass
class Network:
    scale: Scale
    seed: int
    stops: list = field(default_factory=list)       # (stop_id, name, lat, lon)
    routes: list = field(default_factory=list)      # (route_id, long_name)
    trips: list = field(default_factory=list)       # (trip_id, service_id, route_id)
    stop_times: list = field(default_factory=list)  # (trip_id, 'H:M:S', 'H:M:S', stop_id, seq)
    dates: list = field(default_factory=list)       # date objects, one service
    #: (trip_id, stop_sequence) -> (stop_id, arr_secs, dep_secs) local clock seconds
    schedule: dict = field(default_factory=dict)
    history: list = field(default_factory=list)     # [Poll], the backlog
    live: list = field(default_factory=list)        # [Poll], one per minute, drawn so far
    _midnight: dict = field(default_factory=dict)   # date -> unix seconds
    _rng: random.Random | None = None
    _current: dict = field(default_factory=dict)    # live trip -> its latest predictions

    @property
    def live_day(self) -> date:
        return self.dates[-1]

    def live_poll(self, p: int) -> Poll:
        """The ``p``-th live poll, one a minute from 06:00 of the live day.
        Polls are drawn in order from the seed's random stream, so a seed
        gives the same polls however many a run uses."""
        while len(self.live) <= p:
            self.live.append(_live_poll(self, len(self.live)))
        return self.live[p]

    def write_gtfs(self, out_dir: str) -> None:
        """Write the five GTFS CSVs ``ingest_schedule`` reads."""
        os.makedirs(out_dir, exist_ok=True)
        tables = {
            "stops": (["stop_id", "stop_name", "stop_lat", "stop_lon"], self.stops),
            "routes": (["route_id", "route_long_name"], self.routes),
            "trips": (["trip_id", "service_id", "route_id"], self.trips),
            "stop_times": (
                ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence"],
                self.stop_times,
            ),
            "calendar_dates": (
                ["service_id", "date"],
                [("ALL", d.strftime("%Y%m%d")) for d in self.dates],
            ),
        }
        for name, (header, rows) in tables.items():
            with open(os.path.join(out_dir, f"{name}.txt"), "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(header)
                w.writerows(rows)

    def scheduled_utc(self, day: date, secs: int) -> int:
        """Unix seconds of a GTFS clock value (hours may pass 24) on a service
        day. Local midnight plus the clock value: exact because no generated
        day is next to a DST transition."""
        base = self._midnight.get(day)
        if base is None:
            base = int(datetime.combine(day, datetime.min.time()).replace(tzinfo=TZ).timestamp())
            self._midnight[day] = base
        return base + secs


def _clock(secs: int) -> str:
    return f"{secs // 3600:02d}:{secs % 3600 // 60:02d}:{secs % 60:02d}"


def build_network(seed: int, scale: Scale = Scale()) -> Network:
    """The static network, the backlog polls and the live polls for ``seed``."""
    rng = random.Random(seed)
    net = Network(scale=scale, seed=seed)
    net.dates = [FIRST_DAY + timedelta(days=i) for i in range(scale.days)]
    for r in range(scale.routes):
        route_id = f"R{r:02d}"
        net.routes.append((route_id, f"Route {r} {rng.choice(['Crosstown', 'Express', 'Loop', 'Local'])}"))
        stop_ids = [1000 + r * scale.stops_per_trip + s for s in range(scale.stops_per_trip)]
        for sid in stop_ids:
            net.stops.append((sid, f"Stop {sid}", round(46.4 + rng.random() * 0.2, 6),
                              round(-81.1 + rng.random() * 0.2, 6)))
        # trips spread over 05:00..25:00 so the last ones cross midnight
        span = 20 * 3600 // scale.trips_per_route
        for t in range(scale.trips_per_route):
            trip_id = f"{route_id}T{t:03d}"
            net.trips.append((trip_id, "ALL", route_id))
            secs = 5 * 3600 + t * span + rng.randrange(0, 300)
            for seq, sid in enumerate(stop_ids, start=1):
                dwell = rng.choice([0, 0, 15, 30])
                net.stop_times.append((trip_id, _clock(secs), _clock(secs + dwell), sid, seq))
                net.schedule[(trip_id, seq)] = (sid, secs, secs + dwell)
                secs += dwell + rng.randrange(60, 240)
    _build_history(net, rng)
    net._rng = rng
    return net


def _prediction(net: Network, rng: random.Random, day: date, trip_id: str, seq: int):
    sid, arr, dep = net.schedule[(trip_id, seq)]
    delay = rng.randrange(-120, 900)
    a = None if rng.random() < net.scale.no_arrival_p else net.scheduled_utc(day, arr) + delay
    return (seq, str(sid), a, net.scheduled_utc(day, dep) + delay)


def _weather(rng: random.Random) -> tuple[int, str, float]:
    wid, desc = rng.choice([(800, "clear sky"), (500, "light rain"), (801, "few clouds"), (600, "light snow")])
    return wid, desc, round(285.0 + rng.random() * 15, 2)


def _build_history(net: Network, rng: random.Random) -> None:
    sc = net.scale
    trip_ids = [t for t, _, _ in net.trips]
    seqs = range(1, sc.stops_per_trip + 1)
    # backlog: every past day is polled history_polls times; each poll carries
    # every trip, and a prediction changes between polls with change_p
    for day in net.dates[:-1]:
        current = {
            t: [_prediction(net, rng, day, t, s) for s in seqs] for t in trip_ids
        }
        base = net.scheduled_utc(day, 4 * 3600)
        for p in range(sc.history_polls):
            if p:
                for t in trip_ids:
                    current[t] = [
                        _prediction(net, rng, day, t, u[0]) if rng.random() < sc.change_p else u
                        for u in current[t]
                    ]
            ds = day.strftime("%Y%m%d")
            net.history.append(Poll(base + 3600 * p,
                                    [((t, ds), list(current[t])) for t in trip_ids],
                                    _weather(rng)))


def _live_poll(net: Network, p: int) -> Poll:
    """Live poll ``p``: a sliding window of trips, each carrying its latest
    predictions (a prediction changes from one poll to the next with
    ``change_p``), plus one trip the schedule does not know (an unmatched
    key for the delay join)."""
    sc, rng, current = net.scale, net._rng, net._current
    trip_ids = [t for t, _, _ in net.trips]
    day = net.live_day
    ds = day.strftime("%Y%m%d")
    start = net.scheduled_utc(day, 6 * 3600)
    trips = []
    for t in (trip_ids[(p + k) % len(trip_ids)] for k in range(sc.live_trips)):
        if t not in current:
            current[t] = [_prediction(net, rng, day, t, s) for s in range(1, sc.stops_per_trip + 1)]
        else:
            current[t] = [
                _prediction(net, rng, day, t, u[0]) if rng.random() < sc.change_p else u
                for u in current[t]
            ]
        trips.append(((t, ds), list(current[t])))
    ghost = f"X{p:04d}"
    trips.append(((ghost, ds), [(1, "999999", start + 60 * p, start + 60 * p)]))
    return Poll(start + 60 * p, trips, _weather(rng))


# --- expected state -------------------------------------------------------


def _iso(ds: str) -> str:
    return f"{ds[:4]}-{ds[4:6]}-{ds[6:]}"


class StateModel:
    """The stored realtime table, maintained the way the conditional upsert
    must maintain it.

    Per key the survivor is the last observation whose (arrival, departure)
    differs from the one before it; ``created_at`` is the first
    observation's stamp and ``updated_at`` the survivor's stamp unless the
    survivor is the first observation. ``state`` maps ``(trip_id,
    'yyyy-mm-dd', stop_sequence, stop_id)`` to ``(arrival, departure,
    created_at, updated_at, temperature_c)``; times are unix seconds and a
    missing arrival is the epoch-0 sentinel.
    """

    def __init__(self) -> None:
        self.state: dict = {}

    def apply(self, polls: list[Poll], audit: int | None = None,
              weather: tuple[int, str, float] | None = None) -> int:
        """Apply one call's polls; return how many keys were inserted or
        advanced. ``audit=None`` stamps each row with its poll time (the
        stream path); ``weather`` is the call's observation (the batch path)."""
        temp = None if weather is None else weather[2] - 273.15
        changed = set()
        for poll in sorted(polls, key=lambda p: p.header_ts):
            stamp = poll.header_ts if audit is None else audit
            for (trip, ds), updates in poll.trips:
                day = _iso(ds)
                for seq, sid, arr, dep in updates:
                    key = (trip, day, seq, sid)
                    val = (0 if arr is None else arr, dep)
                    old = self.state.get(key)
                    if old is None:
                        self.state[key] = (*val, stamp, None, temp)
                    elif old[:2] != val:
                        self.state[key] = (*val, old[2], stamp, temp)
                    else:
                        continue
                    changed.add(key)
        return len(changed)


def expected_delays(net: Network, state: dict, day: str | None = None) -> dict:
    """The delay table ``consolidate`` must derive from ``state``:
    ``{(trip_id, 'yyyy-mm-dd', seq, stop_id): (arrival_diff_min,
    departure_diff_min, average_diff_min, weekday, hour)}`` for every key
    that joins the schedule (optionally one service day). Weekday and hour
    are Toronto-local, of the scheduled arrival."""
    out = {}
    for (trip, d, seq, sid), (arr, dep, *_rest) in state.items():
        if day is not None and d != day:
            continue
        sched = net.schedule.get((trip, seq))
        if sched is None or str(sched[0]) != sid:
            continue
        service = date.fromisoformat(d)
        s_arr = net.scheduled_utc(service, sched[1])
        s_dep = net.scheduled_utc(service, sched[2])
        a_diff = 0.0 if arr == 0 else (arr - s_arr) / 60.0
        d_diff = 0.0 if dep == 0 else (dep - s_dep) / 60.0
        if arr and dep:
            avg = ((arr - s_arr) + (dep - s_dep)) / 120.0
        elif dep:
            avg = d_diff
        elif arr:
            avg = a_diff
        else:
            avg = None
        local = datetime.combine(service, datetime.min.time()) + timedelta(seconds=sched[1])
        out[(trip, d, seq, int(sid))] = (a_diff, d_diff, avg, local.strftime("%A"), local.hour)
    return out
