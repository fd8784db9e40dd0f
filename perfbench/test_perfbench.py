"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The inputs must be deterministic per seed, every metric a run prints
must be declared in BENCHMARK.json, and each workload must pass a
tiny-scale run with every output check green.
"""

from __future__ import annotations

import os
import sys
from itertools import islice

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen_realtime, metrics, queries  # noqa: E402


def test_realtime_generator_is_deterministic_per_seed():
    a = gen_realtime.build_network(7, gen_realtime.TINY)
    b = gen_realtime.build_network(7, gen_realtime.TINY)
    c = gen_realtime.build_network(8, gen_realtime.TINY)
    def payloads(net):
        return [p.payload() for p in net.history + [net.live_poll(i) for i in range(5)]]

    assert payloads(a) == payloads(b)
    assert a.stop_times == b.stop_times
    assert payloads(a) != payloads(c)


def test_query_order_is_deterministic_per_seed():
    def orders(seed):
        return list(islice(queries.pass_orders(seed, queries.QUERIES), 3))

    assert orders(7) == orders(7)
    assert orders(7) != orders(8)


def test_state_model_keeps_unchanged_polls_out():
    net = gen_realtime.build_network(3, gen_realtime.TINY)
    model = gen_realtime.StateModel()
    first = net.live_poll(0)
    assert model.apply([first], audit=1) == first.updates()
    assert model.apply([first], audit=2) == 0
    key = next(iter(model.state))
    assert model.state[key][2:4] == (1, None)


#: a fast sample of the battery: one TPC-H, one headline, one Python-worker query
SMOKE_QUERIES = ["q_tpch_q3", "q_window_session", "q_text_quality"]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import spark_session, stop_spark

    s = spark_session(2, str(tmp_path_factory.mktemp("spark")))
    yield s
    stop_spark(s)


def _smoke(spark, tmp_path, workload, traced):
    from perfbench import realtime
    from perfbench.envrecord import Probe
    from perfbench.trace import Recorder

    env = Probe(2)
    rec = Recorder(spark, traced=traced)
    if workload == "realtime":
        out = realtime.run(spark, rec, 5, 0.0, str(tmp_path), gen_realtime.TINY)
    else:
        out = queries.run(spark, rec, 5, 0.0, str(tmp_path), SMOKE_QUERIES)
    rec.readback()
    env.finish(spark)
    values = metrics.per_layer(out, rec) if traced else metrics.end_to_end(out, env)
    rec.close()
    return out, values


@pytest.mark.parametrize("workload", ["realtime", "queries"])
def test_tiny_run_is_correct_and_prints_declared_metrics(spark, tmp_path, workload):
    out, values = _smoke(spark, tmp_path / "untraced", workload, traced=False)
    assert out.failures == [] and out.attempted > 0
    assert set(values) == set(metrics.declared(0))
    assert all(v > 0 for v in values.values())

    out, values = _smoke(spark, tmp_path / "traced", workload, traced=True)
    assert out.failures == []
    assert set(values) == set(metrics.declared(1))
