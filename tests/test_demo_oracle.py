"""Registry-wide oracle sweep: one test id per registered demo.

Each demo's DataFrame is built once and checked, in order, for:

1. scalar output columns only — the driver's pandas canonicalizer dies
   on array/map/struct output (round-4: ``q_approx_quantiles`` returned
   ``array<double>`` and crashed even the rows-only check);
2. no row-at-a-time Python (BatchEvalPython) in the physical plan —
   Arrow paths (mapInPandas / ArrowEvalPython / FlatMapGroupsInPandas)
   are the only Python allowed;
3. rows equal to ``Demo.sql`` run in DuckDB on the same tables, via
   ``tools/verify_local.check_demo`` (columns, row count,
   order-insensitive values, dtypes) — the same check the CLI runs.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from transit_efficiency_analysis_spark.demo import load_registry
from transit_efficiency_analysis_spark.plans import assert_no_python_row_udf

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
import verify_local  # noqa: E402

REGISTRY = load_registry()

# plan audit skipped (their plans are covered by their own tests):
_PLAN_AUDIT_SKIP = {
    # write real side outputs (CSV fixtures / Derby / parquet) at
    # plan-construction time
    "q_ingest_gtfs_static", "q_jdbc_roundtrip", "q_sink_roundtrip",
    # iterative: run actions during construction
    "q_dedup_clusters", "q_dedup_clusters_twophase",
}


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = verify_local.duck_connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(REGISTRY))
def test_demo_matches_oracle(spark, sf_dir, duck, name):
    d = REGISTRY[name]
    df = d.fn(spark, sf_dir)
    nonscalar = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nonscalar, f"non-scalar output columns: {nonscalar}"
    if name not in _PLAN_AUDIT_SKIP:
        assert_no_python_row_udf(df)
    ok, msg = verify_local.check_demo(duck, d, df)
    assert ok, msg
