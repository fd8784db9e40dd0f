"""The ``realtime`` workload: the product path under one closed-loop caller.

It mirrors the reference deployment: a cron job with a lock polls a
GTFS-realtime feed once a minute and upserts each poll, and the delay
table is rebuilt for a dashboard. One caller issues each call only after
the previous one returned. In order:

1. set-up, repeated ``SETUPS`` times into fresh stores:
   ``ingest_schedule``. The first is the process's first Spark work, so it
   also pays the session's warm-up; the median leaves it out;
2. one backlog ``ingest_realtime`` of every past day's polls into the last
   store;
3. timed: one cold poll, then polls for ``--seconds``. A poll is one
   minute's GTFS-RT payload through ``decode_protobuf_payloads`` ->
   ``ingest_realtime``; it also lands as a file for the stream;
4. one ``run_stream_available_now`` call catches the stream up on every
   landed file: the backlog, then the live polls;
5. the reads: the current day's refresh (``consolidate_incremental``), a
   full ``consolidate`` and the dashboard aggregate. The reference
   refreshes every ten polls; a run times fewer than ten, so the reads
   follow the loop and are not part of ``warm_s``.

Every output is then checked against the generator's own model.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.gen_realtime import Network, Scale, StateModel, build_network, expected_delays
from perfbench.outcome import Outcome
from transit_efficiency_analysis_spark.pipeline import (
    Store,
    consolidate,
    consolidate_incremental,
    ingest_realtime,
    ingest_schedule,
)
from transit_efficiency_analysis_spark.sources.gtfs_realtime import decode_protobuf_payloads
from transit_efficiency_analysis_spark.streaming.realtime_stream import run_stream_available_now

SETUPS = 3
#: live polls a run may time at most: one service day of one-minute polls
MAX_POLLS = 1440

_FEED_TYPE = pa.struct([
    ("trip_id", pa.string()),
    ("start_date", pa.string()),
    ("stop_time_update", pa.list_(pa.struct([
        ("stop_sequence", pa.int32()),
        ("stop_id", pa.string()),
        ("arrival_unix", pa.int64()),
        ("departure_unix", pa.int64()),
    ]))),
])


def land_poll_file(polls, feed_dir: str, name: str) -> None:
    """Land decoded polls as one parquet file the way an upstream poller
    would: written aside, then renamed into the watched directory."""
    rows = [
        [{"trip_id": t, "start_date": d,
          "stop_time_update": [{"stop_sequence": s, "stop_id": sid,
                                "arrival_unix": a, "departure_unix": dep}
                               for s, sid, a, dep in updates]}
         for (t, d), updates in p.trips]
        for p in polls
    ]
    table = pa.table({
        "poll_ts": pa.array([p.header_ts * 1_000_000 for p in polls],
                            pa.timestamp("us", tz="UTC")),
        "entity": pa.array(rows, pa.list_(_FEED_TYPE)),
    })
    os.makedirs(feed_dir, exist_ok=True)
    staging = os.path.join(os.path.dirname(feed_dir), f".{name}.parquet")
    pq.write_table(table, staging)
    os.rename(staging, os.path.join(feed_dir, f"{name}.parquet"))


def _dashboard(spark, store: Store):
    """The Looker-style heatmap: mean delay by local weekday and hour."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(store.diffs)
        .groupBy("day_type", "sudbury_hour_of_day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("average_diff_in_minutes").alias("s"))
        .collect()
    )


class Realtime:
    def __init__(self, spark, rec, seed: int, work: str, scale: Scale = Scale()):
        self.spark = spark
        self.rec = rec
        self.work = work
        self.net: Network = build_network(seed, scale)
        self.csv_dir = os.path.join(work, "gtfs")
        self.net.write_gtfs(self.csv_dir)
        self.history_payloads = [p.payload() for p in self.net.history]
        #: the backlog call's audit stamp: midnight UTC of the live day
        self.backlog_now = self.net.scheduled_utc(self.net.live_day, 0) // 86400 * 86400
        self.out = Outcome()
        self.batch_model = StateModel()
        self.stream_model = StateModel()
        self.payload_bytes: list[int] = []
        #: the rows the timed dashboard read returned
        self.board: list = []

    # -- calls into the package ------------------------------------------------

    def _call(self, layer: str, op: str, fn):
        """One call, timed as a span; an exception counts as a failed operation."""
        self.out.attempted += 1
        with self.rec.span(layer, op) as span:
            try:
                fn()
            except Exception as e:  # noqa: BLE001 - count it, keep the loop running
                self.out.fail(f"{op}: {e!r}")
        return span

    def _ingest(self, payloads, store: Store, weather, now: int) -> None:
        df = self.spark.createDataFrame([(p,) for p in payloads], "payload binary")
        ingest_realtime(
            self.spark, decode_protobuf_payloads(df), store, weather=weather,
            now=datetime.fromtimestamp(now, tz=timezone.utc).replace(tzinfo=None),
        )

    def _stores(self, i: int) -> None:
        root = os.path.join(self.work, f"store{i}")
        self.store = Store(root)
        self.feed_dir = os.path.join(root, "feed")
        self.state_path = os.path.join(root, "stream_state")
        self.checkpoint = os.path.join(root, "checkpoint")

    def setup(self) -> None:
        for i in range(SETUPS):
            self._stores(i)
            self.out.setup_s.append(self._call(
                "gtfs_static", "ingest_schedule",
                lambda: ingest_schedule(self.spark, self.csv_dir, self.store)).wall_s)

    def backlog(self) -> None:
        net = self.net
        land_poll_file(net.history, self.feed_dir, "backlog")
        self.out.sample("backlog_s", self._call("pipeline", "backlog", lambda: self._ingest(
            self.history_payloads, self.store, net.history[0].weather, self.backlog_now)).wall_s)
        self.batch_model.apply(net.history, audit=self.backlog_now, weather=net.history[0].weather)
        self.stream_model.apply(net.history)

    def _poll(self, p: int, poll) -> None:
        payload = poll.payload()
        self.out.op("poll", self._call("pipeline", "poll", lambda: self._ingest(
            [payload], self.store, poll.weather, poll.header_ts)))
        self.payload_bytes.append(len(payload))
        self.out.extra.setdefault("changed_per_poll", []).append(
            self.batch_model.apply([poll], audit=poll.header_ts, weather=poll.weather))
        land_poll_file([poll], self.feed_dir, f"poll{p:04d}")
        self.stream_model.apply([poll])

    def timed(self, seconds: float) -> None:
        """The first (cold) poll, then polls for ``seconds``."""
        net = self.net
        self._poll(0, net.live_poll(0))
        deadline = time.perf_counter() + seconds
        for p in range(1, MAX_POLLS):
            if time.perf_counter() >= deadline:
                break
            self._poll(p, net.live_poll(p))
        else:
            self.out.fail(f"{MAX_POLLS} polls did not fill the timed region")

    def stream(self) -> None:
        self.out.sample("stream_s", self._call("streaming", "stream", lambda: run_stream_available_now(
            self.spark, self.feed_dir, self.state_path, self.checkpoint)).wall_s)

    def reads(self) -> None:
        live_day = self.net.live_day.isoformat()
        self.out.sample("refresh_s", self._call("delay", "refresh", lambda: consolidate_incremental(
            self.spark, self.store, [live_day])).wall_s)
        self.out.sample("rebuild_s", self._call("delay", "rebuild", lambda: consolidate(
            self.spark, self.store)).wall_s)

        def read_board():
            self.board = _dashboard(self.spark, self.store)

        self.out.sample("dashboard_s", self._call("dashboard", "dashboard", read_board).wall_s)

    # -- correctness -------------------------------------------------------------

    def check(self) -> None:
        """Compare every stored table with the generator's model."""
        from pyspark.sql import functions as F

        spark = self.spark

        def rows(path, cols):
            return spark.read.parquet(path).select(*cols).toPandas().itertuples(index=False)

        key = [F.col("trip_id"), F.col("start_date").cast("string"),
               F.col("stop_sequence").cast("int"), F.col("stop_id")]
        ts = [F.unix_seconds(c) for c in ("arrival_time", "departure_time", "created_at", "updated_at")]

        def same_state(got, model: StateModel, with_temp: bool) -> bool:
            seen = 0
            for r in got:
                want = model.state.get(tuple(r[:4]))
                if want is None:
                    return False
                vals = tuple(None if v != v else int(v) for v in r[4:8])  # NaN -> None
                if vals != want[:4]:
                    return False
                if with_temp and abs(r[8] - want[4]) > 1e-9:
                    return False
                seen += 1
            return seen == len(model.state)

        if not same_state(rows(self.store.trip_updates, key + ts + [F.col("temperature")]),
                          self.batch_model, True):
            self.out.fail("trip_updates differs from the model")
        if not same_state(rows(self.state_path, key + ts), self.stream_model, False):
            self.out.fail("stream state table differs from the model")

        want = expected_delays(self.net, self.batch_model.state)
        got = list(rows(self.store.diffs, key[:3] + [
            F.col("stop_id"), "arrival_time_diff_in_minutes", "departure_time_diff_in_minutes",
            "average_diff_in_minutes", "day_type", "sudbury_hour_of_day"]))
        ok = len(got) == len(want)
        for r in got:
            w = want.get(tuple(r[:4]))
            if w is None or r[7:] != w[3:] or any(
                abs(a - b) > 1e-9 for a, b in zip(r[4:7], w[:3]) if b is not None
            ):
                ok = False
                break
        if not ok:
            self.out.fail("delay table differs from the model")

        cells: dict = {}
        for a_diff, d_diff, avg, day, hour in want.values():
            n, s = cells.get((day, hour), (0, 0.0))
            cells[(day, hour)] = (n + 1, s + (avg or 0.0))
        board = {(r["day_type"], r["sudbury_hour_of_day"]): (r["n"], r["s"] or 0.0)
                 for r in self.board}
        if board.keys() != cells.keys() or any(
            board[k][0] != cells[k][0] or abs(board[k][1] - cells[k][1]) > 1e-6 for k in cells
        ):
            self.out.fail("dashboard differs from the model")
        self.out.unmatched_rows = len(self.batch_model.state) - len(want)


def run(spark, rec, seed: int, seconds: float, work: str, scale: Scale = Scale()) -> Outcome:
    t0 = time.perf_counter()
    wl = Realtime(spark, rec, seed, work, scale)
    wl.out.phases["generate"] = time.perf_counter() - t0
    with wl.out.phase("setup"):
        wl.setup()
    with wl.out.phase("backlog"):
        wl.backlog()
    with wl.out.phase("timed"):
        wl.timed(seconds)
    with wl.out.phase("stream"):
        wl.stream()
    with wl.out.phase("reads"):
        wl.reads()
    with wl.out.phase("check"):
        wl.check()
    wl.out.extra["payload_bytes_per_poll"] = sum(wl.payload_bytes) / len(wl.payload_bytes)
    return wl.out
