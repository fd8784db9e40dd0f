"""Local mirror of the driver's t2 correctness gate.

Runs every registered demo query on Spark and its DuckDB oracle twin on the
same parquet tables, then compares row count, column names, dtypes and an
order-insensitive value comparison. Exact equality is required for
ints/strings/timestamps; floats are compared exactly first and reported if
they only match within 1e-9 relative tolerance (the driver may hash exact
values — queries should be designed to be bit-equal). ``check_demo`` is the
per-demo check; ``tests/test_demo_oracle.py`` runs it for every demo.

Usage:
    python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb
from pyspark.sql import DataFrame

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transit_efficiency_analysis_spark.demo import Demo
from transit_efficiency_analysis_spark.sources.registry import TESTDATA_TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sortkey(row):
    return tuple((x is None, str(x)) for x in row)


def compare(spark_rows, spark_cols, duck_rows, duck_cols) -> tuple[bool, str]:
    if sorted(spark_cols) != sorted(duck_cols):
        return False, f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return False, f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s = sorted((tuple(_norm(r[i]) for i in order) for r in spark_rows), key=_sortkey)
    d = sorted((tuple(_norm(r[i]) for i in dorder) for r in duck_rows), key=_sortkey)
    worst = 0.0
    for ri, (sr, dr) in enumerate(zip(s, d)):
        for ci, (a, b) in enumerate(zip(sr, dr)):
            if a == b:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                denom = max(abs(a), abs(b), 1e-300)
                rel = abs(a - b) / denom
                worst = max(worst, rel)
                if rel < 1e-9:
                    continue
            col = sorted(spark_cols)[ci]
            return False, (
                f"value mismatch at sorted-row {ri} col {col!r}: spark={a!r} duck={b!r}"
            )
    note = f" (float worst-rel-dev {worst:.2e})" if worst else ""
    return True, f"OK rows={len(s)}{note}"


_DUCK_CANON = {
    "TINYINT": "i8", "SMALLINT": "i16", "INTEGER": "i32", "BIGINT": "i64",
    "HUGEINT": "i128", "UTINYINT": "u8", "USMALLINT": "u16", "UINTEGER": "u32",
    "UBIGINT": "u64", "FLOAT": "f32", "DOUBLE": "f64", "VARCHAR": "str",
    "BOOLEAN": "bool", "DATE": "date", "TIMESTAMP": "ts",
    "TIMESTAMP WITH TIME ZONE": "tstz", "BLOB": "bytes",
}

_SPARK_CANON = {
    "tinyint": "i8", "smallint": "i16", "int": "i32", "bigint": "i64",
    "float": "f32", "double": "f64", "string": "str", "boolean": "bool",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts", "binary": "bytes",
}


def _canon(t: str, spark: bool) -> str:
    t = t.strip()
    low = t.lower()
    if low.startswith("decimal"):
        return low.replace(" ", "")
    if low.startswith("array<") and spark:
        return f"list<{_canon(t[6:-1], True)}>"
    if low.endswith("[]"):
        return f"list<{_canon(t[:-2], False)}>"
    return (_SPARK_CANON if spark else _DUCK_CANON).get(low if spark else t.upper(), low)


def type_report(spark_df, duck_cols, duck_types) -> list[str]:
    """Pairs of (col, spark_type, duck_type) that don't canonically match."""
    stypes = {f.name: _canon(f.dataType.simpleString(), True) for f in spark_df.schema.fields}
    out = []
    for col, dtype in zip(duck_cols, duck_types):
        d = _canon(str(dtype), False)
        s = stypes.get(col)
        if s is not None and s != d:
            out.append(f"{col}: spark={s} duck={d}")
    return out


def check_demo(
    con: duckdb.DuckDBPyConnection, d: Demo, df: DataFrame
) -> tuple[bool, str]:
    """Collect ``df`` (demo ``d`` built on the tables ``con`` views) and
    compare it with ``d.sql`` run in DuckDB: columns, row count,
    order-insensitive values, then dtypes. Spark and DuckDB errors
    propagate to the caller."""
    spark_rows = df.collect()
    if d.sql is None:
        return True, f"rows-only ({len(spark_rows)} rows)"
    rel = con.sql(d.sql)
    duck_cols, duck_types = list(rel.columns), list(rel.types)
    ok, msg = compare(spark_rows, df.columns, rel.fetchall(), duck_cols)
    # the driver's value hash is dtype-sensitive (the r4 q_text_pack red
    # row was a HUGEINT-vs-BIGINT slip with identical values), so a dtype
    # mismatch is a hard failure here too
    type_mismatches = type_report(df, duck_cols, duck_types)
    if ok and type_mismatches:
        return False, f"dtype mismatch: {'; '.join(type_mismatches)}"
    return ok, msg


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from transit_efficiency_analysis_spark.demo import load_registry
    from transit_efficiency_analysis_spark.session import get_spark

    registry = load_registry()
    unknown = only - set(registry)
    if unknown:
        raise SystemExit(f"unknown demo(s): {sorted(unknown)}")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("verify_local")
    con = duck_connect(sf_dir)

    failures = []
    ran = 0
    for name, d in sorted(registry.items()):
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            ok, msg = check_demo(con, d, d.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            failures.append(name)
        print(f"{'pass' if ok else 'FAIL'} {name}: {msg} ({time.time()-t0:.1f}s)")

    # denominator = demos actually run (a named subset reports subset/subset,
    # not subset-assumed/registry)
    print(f"\n{ran - len(failures)}/{ran} demos pass ({len(registry)} registered)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
