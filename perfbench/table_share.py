"""How much of one poll's wall time scales with the stored table.

    python3 perfbench/table_share.py [--days 15] [--polls 14] [--seed 1]

Run from the repository root. It builds the realtime workload's network
over ``--days`` days and keeps two stores: ``small`` holds the backlog of
the last past day only, ``big`` the backlog of every past day. The same
live polls then go to both stores, alternately first, through
``decode_protobuf_payloads`` -> ``ingest_realtime``. The difference of the
two stores' median poll walls, over the difference of their stored rows,
is the poll time per stored row; it prints that slope and the share it
makes of a poll at the benchmark's default scale. The first two polls of
each store are left out as warm-up.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--days", type=int, default=15)
    ap.add_argument("--polls", type=int, default=14)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from dataclasses import replace

    from perfbench import gen_realtime, realtime
    from perfbench.run import WORK, spark_session, stop_spark
    from perfbench.trace import Recorder
    from transit_efficiency_analysis_spark.pipeline import Store

    shutil.rmtree(WORK, ignore_errors=True)
    spark = spark_session(os.cpu_count() or 1, WORK)
    try:
        scale = replace(gen_realtime.Scale(), days=args.days)
        wl = realtime.Realtime(spark, Recorder(spark, traced=False), args.seed,
                               os.path.join(WORK, "table_share"), scale)
        net = wl.net
        stores = {"small": Store(os.path.join(wl.work, "small")),
                  "big": Store(os.path.join(wl.work, "big"))}
        for name, history in (("small", net.history[-1:]), ("big", net.history)):
            wl._ingest([p.payload() for p in history], stores[name], history[0].weather,
                       wl.backlog_now)
        walls: dict[str, list[float]] = {"small": [], "big": []}
        for p in range(args.polls):
            poll = net.live_poll(p)
            payload = poll.payload()
            for name in ("small", "big") if p % 2 else ("big", "small"):
                t0 = time.perf_counter()
                wl._ingest([payload], stores[name], poll.weather, poll.header_ts)
                walls[name].append(time.perf_counter() - t0)
        rows = {n: spark.read.parquet(s.trip_updates).count() for n, s in stores.items()}
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    med = {n: statistics.median(w[2:]) for n, w in walls.items()}
    slope = (med["big"] - med["small"]) / (rows["big"] - rows["small"])
    default = gen_realtime.Scale()
    default_rows = (default.days - 1) * default.routes * default.trips_per_route * default.stops_per_trip
    for n in walls:
        print(f"# {n}: {rows[n]} stored rows, poll median {med[n]:.3f} s, polls "
              + " ".join(f"{w:.2f}" for w in walls[n]))
    print(f"# {slope * 1e5:.3f} s of poll wall per 100,000 stored rows")
    poll = med["small"] + slope * (default_rows - rows["small"])
    print(f"# at the default scale (~{default_rows} rows) that is "
          f"{slope * default_rows:.3f} s, {slope * default_rows / poll:.1%} of a {poll:.2f} s poll")
    return 0


if __name__ == "__main__":
    sys.exit(main())
