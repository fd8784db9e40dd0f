"""Turn a workload's :class:`Outcome` and the traced spans into the metrics
BENCHMARK.json declares, and print the human-readable report.

Every run prints every declared metric of its mode. A per-layer metric of
a layer the workload does not call reads 0: that is the measured work of
that layer there (the bypass prediction of README.md).
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.queries import HEADLINE, TPCH

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def declared(traced: int) -> dict[str, str]:
    """``{name: unit}`` of the metrics a run of this mode prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def end_to_end(out, env) -> dict[str, float]:
    return {
        "setup_s": statistics.median(out.setup_s),
        "warm_s": out.warm_s(),
        "peak_rss_mb": env.peak_rss_mb,
    }


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _warm(spans):
    """Calls after the first of their kind (the first is the cold call)."""
    return spans[1:] or spans


def _driver_s(span) -> float:
    return max(0.0, span.wall_s - span.job_s)


def _python_s(span) -> float:
    return span.sql_metric("python_s")


def per_layer(out, rec) -> dict[str, float]:
    m: dict[str, float] = {}
    sched = rec.of("gtfs_static", "ingest_schedule")
    m["gtfs_static.exec_s"] = _med(s.total("run_s") for s in sched)
    m["gtfs_static.shuffle_bytes"] = _med(s.total("shuffle_write") for s in sched)

    backlog = rec.of("pipeline", "backlog")
    m["gtfs_realtime.decode_python_s"] = _med(_python_s(s) for s in backlog)
    m["gtfs_realtime.rows_out"] = _med(s.sql_metric("decoded_rows") for s in backlog)

    polls = _warm(rec.of("pipeline", "poll"))
    # keys a poll inserts or advances come from the generator's model: no
    # plan node counts them, the merge rewrites every stored row
    changed = out.extra.get("changed_per_poll", [])[1:] or out.extra.get("changed_per_poll", [])
    read = [s.total("input_rows") for s in polls]
    m["upsert.rows_read_per_poll"] = _med(read)
    m["upsert.read_per_change"] = _med(r / c for r, c in zip(read, changed) if c)
    m["upsert.shuffle_bytes_per_poll"] = _med(s.total("shuffle_write") for s in polls)
    m["upsert.spill_bytes"] = sum(s.total("spill") for s in rec.of("pipeline", "poll"))

    m["sinks.bytes_written_per_poll"] = _med(s.total("output_bytes") for s in polls)
    m["sinks.files_written_per_poll"] = _med(s.sql_metric("written_files") for s in polls)
    m["sinks.commit_s"] = _med(s.sql_metric("commit_s") for s in polls)
    payload = out.extra.get("payload_bytes_per_poll", 0)
    m["sinks.write_amp"] = m["sinks.bytes_written_per_poll"] / payload if payload else 0.0

    m["pipeline.driver_s_per_poll"] = _med(_driver_s(s) for s in polls)
    m["pipeline.jobs_per_poll"] = _med(s.jobs for s in polls)
    m["pipeline.tasks_per_poll"] = _med(s.tasks for s in polls)

    rebuild = _warm(rec.of("delay", "rebuild"))
    refresh = _warm(rec.of("delay", "refresh"))
    m["delay.exec_s"] = _med(s.total("run_s") for s in rebuild)
    m["delay.shuffle_bytes"] = _med(s.total("shuffle_write") for s in rebuild)
    m["delay.rows_read_per_row_out"] = _med(
        s.total("input_rows") / s.sql_metric("written_rows")
        for s in refresh if s.sql_metric("written_rows")
    )
    m["delay.unmatched_rows"] = out.unmatched_rows

    board = _warm(rec.of("dashboard"))
    m["dashboard.rows_read"] = _med(s.total("input_rows") for s in board)
    m["dashboard.exec_s"] = _med(s.total("run_s") for s in board)

    for q in HEADLINE:
        runs = _warm(rec.of("demo", q))
        m[f"demo.{q}.exec_s"] = _med(s.total("run_s") for s in runs)
        m[f"demo.{q}.driver_s"] = _med(_driver_s(s) for s in runs)
        m[f"demo.{q}.shuffle_bytes"] = _med(s.total("shuffle_write") for s in runs)
        m[f"demo.{q}.python_s"] = _med(_python_s(s) for s in runs)

    per_q = [_warm(rec.of("tpch", q)) for q in TPCH]
    m["tpch.exec_s"] = sum(_med(s.total("run_s") for s in runs) for runs in per_q)
    m["tpch.driver_s"] = sum(_med(_driver_s(s) for s in runs) for runs in per_q)
    m["tpch.shuffle_bytes"] = sum(_med(s.total("shuffle_write") for s in runs) for runs in per_q)
    m["tpch.tasks"] = sum(_med(s.tasks for s in runs) for runs in per_q)

    streams = rec.of("streaming", "stream")
    for key in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
        m[f"stream.{key}_s"] = _med(sum(p.get(key, 0) for p in s.progress) / 1000.0 for s in streams)
    m["stream.start_stop_s"] = _med(
        s.wall_s - sum(p.get("triggerExecution", 0) for p in s.progress) / 1000.0 for s in streams
    )

    m["session.failed_tasks"] = rec.failed_tasks()
    peaks = rec.peak_memory_mb()
    m["session.peak_jvm_heap_mb"] = peaks.get("JVMHeapMemory", 0.0)
    m["session.peak_execution_mb"] = peaks.get("OnHeapExecutionMemory", 0.0)
    m["session.cold_s"] = out.cold_s()
    m["trace.readback_s"] = rec.readback_s
    m["trace.warm_s"] = out.warm_s()
    return m


# -- the human-readable report ----------------------------------------------------

#: the workload-specific end-to-end figures, by operation kind
_REALTIME = {"poll": "poll_p50_s"}


def report(workload: str, out, env, values: dict) -> None:
    """Print ``#`` lines: the environment, each operation kind's median and
    sample count, the per-battery sums and every metric of the JSON line."""
    print(f"# env {json.dumps(env.record())}")
    for name, xs in out.samples.items():
        print(f"# {name} {statistics.median(xs):.4f} s (n={len(xs)})")
    print(f"# setup_s {statistics.median(out.setup_s):.4f} s (n={len(out.setup_s)})")
    for kind, xs in out.ops.items():
        name = _REALTIME.get(kind, kind)
        print(f"# {name} {out.warm(kind):.4f} s (n={len(xs[1:] or xs)}, cold {xs[0]:.4f} s)"
              f" runs {' '.join(f'{x:.3f}' for x in xs)}")
    print(f"# warm_s {out.warm_s():.4f} s  cold_s {out.cold_s():.4f} s")
    if workload == "queries":
        for label, names in (("headline", HEADLINE), ("tpch", TPCH)):
            names = [n for n in names if n in out.ops]
            if names:
                warm = sum(out.warm(n) for n in names)
                cold = sum(out.ops[n][0] for n in names)
                runs = min(len(out.ops[n]) for n in names)
                print(f"# {label}_s {warm:.4f} s (n={len(names)} queries x {max(runs - 1, 1)} warm runs)"
                      f"  {label}_cold_s {cold:.4f} s")
    ratio = out.failed / out.attempted if out.attempted else 0.0
    print(f"# failed_ratio {ratio:.4f} ({out.failed}/{out.attempted})")
    for name, value in values.items():
        print(f"# metric {name} {value}")
