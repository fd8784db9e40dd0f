"""Benchmark entry point.

    python3 perfbench/run.py --workload realtime --seed 1 --seconds 12 --trace 0

Run from the repository root. It builds the workload's inputs from
``--seed``, measures for ``--seconds``, checks every output, and prints as
its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics
of BENCHMARK.json, ``--trace 1`` the per-layer metrics. Human-readable
detail goes to stdout lines starting with ``#`` and to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("realtime", "queries")
#: driver JVM heap; the tables are a few MB, so this is ample
HEAP_MB = 1024


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_session(cpus: int, work: str):
    """The package's own session factory at local[cpus]; every path Spark
    writes (warehouse, shuffle spill, JVM and Python temp files) stays in
    ``work``."""
    from perfbench.trace import STATUS_RETENTION
    from transit_efficiency_analysis_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{HEAP_MB}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM the launch starts: no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: a heap that grows on demand makes the peak
        # resident memory depend on when the collector ran
        "spark.driver.extraJavaOptions": f"-Xms{HEAP_MB}m -Dderby.system.home={tmp}",
        **STATUS_RETENTION,
    }
    return get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM (and the Python workers under it) exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    # the package must come from this checkout; an ImportError here ends the
    # run without a result, which is what a checkout without the package needs
    import transit_efficiency_analysis_spark  # noqa: F401

    from perfbench import envrecord, metrics
    from perfbench.trace import Recorder

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    cpus = os.cpu_count() or 1
    env = envrecord.Probe(cpus)
    t0 = time.perf_counter()
    spark = spark_session(cpus, WORK)
    phases = {"boot": time.perf_counter() - t0}
    try:
        rec = Recorder(spark, traced=bool(args.trace))
        if args.workload == "realtime":
            from perfbench import realtime as wl
        else:
            from perfbench import queries as wl
        out = wl.run(spark, rec, args.seed, args.seconds, os.path.join(WORK, args.workload))
        t0 = time.perf_counter()
        rec.readback()
        env.finish(spark)
        values = (metrics.per_layer(out, rec) if args.trace else metrics.end_to_end(out, env))
        failed_tasks = rec.failed_tasks()
        rec.close()
        phases.update(out.phases, metrics=time.perf_counter() - t0)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        phases["stop"] = time.perf_counter() - t0
    if out.failed:
        print(f"# a check failed: the stores are kept in {WORK}")
    else:
        shutil.rmtree(WORK, ignore_errors=True)

    print("# phases_s " + json.dumps({k: round(v, 2) for k, v in phases.items()}))
    metrics.report(args.workload, out, env, values)
    declared = metrics.declared(args.trace)
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in declared.items()},
    }
    if failed_tasks:
        print(f"# session.failed_tasks {failed_tasks}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
