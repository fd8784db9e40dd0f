"""The ``queries`` workload: registry queries from the headline and TPC-H
batteries, each run through its registry function and checked against the
registry's DuckDB oracle (``Demo.sql``).

The tables are the repository's fixed sf0.001 testdata (``data/sf0.001``,
about 6,000 lineitem rows). Set-up, repeated ``SETUPS`` times, copies them
to a fresh directory (untimed) and loads them through the registry
(``load_tables``, which memoises its plans per path, so every set-up is a
first load). One caller then runs a cold pass over ``QUERIES`` (each
query's first run in the process), followed by warm passes until
``--seconds`` have passed, at least ``MIN_PASSES`` whole passes; each pass takes the
queries in an order drawn from ``--seed``. Each run is forced with
``collect()``, the action a caller who wants the rows uses; the cold run's
rows are the ones checked.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from datetime import date, datetime
from decimal import Decimal

from perfbench.outcome import Outcome

SETUPS = 3
#: whole warm passes a run makes at least, whatever ``--seconds`` says
MIN_PASSES = 2
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")

#: the frozen headline list of bench.py, sampled so that one run fits its
#: share of the run budget with at least two warm runs per query on 4
#: cores: one query per operator family (join, SQL aggregate, upsert,
#: windows, MinHash/LSH dedup, text). Left out: q_rebuild_full and
#: q_agg_dashboard (the delay operator and its dashboard run on the realtime
#: workload, through the pipeline), q_dedup_exact and q_dedup_simhash_pairs
#: (q_dedup_minhash_lsh keeps the dedup family in), q_sim_lsh_topk_derived
#: and q_sim_bruteforce_topk (the similarity family: its cold run alone
#: costs 4-6 s), q_range_normalize
HEADLINE = [
    "q_join_star",
    "q_sql_tpch_q1",
    "q_upsert_cond",
    "q_window_session",
    "q_dedup_minhash_lsh",
    "q_text_quality",
]
#: a sample of the TPC-H battery (q1 is in HEADLINE as q_sql_tpch_q1): q3,
#: the 3-way join
TPCH = ["q_tpch_q3"]
QUERIES = HEADLINE + TPCH


def pass_orders(seed: int, queries: list[str]):
    """The order of the queries in each pass, drawn from ``seed``."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(queries, len(queries))


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _close(a, b) -> bool:
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1e-300)
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(_close(x, y) for x, y in zip(a, b))
    return False


def same_rows(spark_cols, spark_rows, duck_cols, duck_rows) -> bool:
    """Order-insensitive equality of two results, columns matched by name,
    floats to a relative 1e-9: the rule of tools/verify_local.py, restated
    here because the benchmark imports nothing but the package."""
    if sorted(spark_cols) != sorted(duck_cols) or len(spark_rows) != len(duck_rows):
        return False
    si = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    di = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])

    def key(row):
        return tuple((x is None, str(x)) for x in row)

    s = sorted((tuple(_norm(r[i]) for i in si) for r in spark_rows), key=key)
    d = sorted((tuple(_norm(r[i]) for i in di) for r in duck_rows), key=key)
    return all(_close(a, b) for sr, dr in zip(s, d) for a, b in zip(sr, dr))


class Queries:
    def __init__(self, spark, rec, seed: int, work: str, queries: list[str] = QUERIES):
        from transit_efficiency_analysis_spark.demo import load_registry

        self.spark = spark
        self.rec = rec
        self.orders = pass_orders(seed, queries)
        self.work = work
        self.queries = queries
        self.registry = load_registry()
        missing = [n for n in QUERIES if n not in self.registry]
        if missing:
            raise SystemExit(f"queries missing from the registry: {missing}")
        self.out = Outcome()
        self.first_rows: dict[str, tuple[list, list]] = {}

    def setup(self) -> None:
        from transit_efficiency_analysis_spark.sources.registry import load_tables

        for i in range(SETUPS):
            self.data = os.path.join(self.work, f"tables{i}")
            shutil.copytree(DATA, self.data)
            self.out.attempted += 1
            with self.rec.span("demo", "load_tables") as span:
                load_tables(self.spark, self.data)
            self.out.setup_s.append(span.wall_s)

    def _run(self, name: str):
        layer = "tpch" if name in TPCH else "demo"
        self.out.attempted += 1
        with self.rec.span(layer, name) as span:
            try:
                df = self.registry[name].fn(self.spark, self.data)
                rows = df.collect()
            except Exception as e:  # noqa: BLE001 - count it, keep the loop running
                self.out.fail(f"{name}: {e!r}")
                rows = None
        if rows is not None and name not in self.first_rows:
            self.first_rows[name] = (df.columns, rows)
        return span

    def timed(self, seconds: float) -> None:
        """The cold pass, then warm passes until ``seconds`` have passed,
        at least ``MIN_PASSES`` whole passes."""
        for name in next(self.orders):
            self.out.op(name, self._run(name))
        deadline = time.perf_counter() + seconds
        passes = 0
        while True:
            for name in next(self.orders):
                if passes >= MIN_PASSES and time.perf_counter() >= deadline:
                    return
                self.out.op(name, self._run(name))
            passes += 1

    def check(self) -> None:
        import duckdb

        from transit_efficiency_analysis_spark.sources.registry import TESTDATA_TABLES

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.data, t)}.parquet'")
        for name in self.queries:
            got = self.first_rows.get(name)
            sql = self.registry[name].sql
            if got is None or sql is None:
                continue
            cur = con.execute(sql)
            cols = [c[0] for c in cur.description]
            if not same_rows(got[0], got[1], cols, cur.fetchall()):
                self.out.fail(f"{name}: result differs from its DuckDB oracle")
        con.close()


def run(spark, rec, seed: int, seconds: float, work: str, queries: list[str] = QUERIES) -> Outcome:
    t0 = time.perf_counter()
    wl = Queries(spark, rec, seed, work, queries)
    wl.out.phases["registry"] = time.perf_counter() - t0
    with wl.out.phase("setup"):
        wl.setup()
    with wl.out.phase("timed"):
        wl.timed(seconds)
    with wl.out.phase("check"):
        wl.check()
    return wl.out
