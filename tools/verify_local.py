"""Local mimic of the driver's correctness gate.

Runs every declared query at a given scale factor, runs its DuckDB
oracle on the same parquet tables, and compares row-count + schema +
order-insensitive values (floats to 1e-9 relative). Strictly stronger
than a hash compare for diagnosing WHERE a mismatch is.

Usage: python tools/verify_local.py [sf_dir] [query ...]

Env: SPARK_GRAFT_VANILLA=1 runs against a bare untuned
``SparkSession.builder.master("local[8]")`` — faithful to the driver's
own session (which does NOT use gcp_etl_spark.session.get_spark).
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcp_etl_spark.queries import load_all  # noqa: E402
from gcp_etl_spark.session import get_spark  # noqa: E402
from gcp_etl_spark.tables import TABLES  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def driver_canon_probe(raw_rows, cols) -> str | None:
    """Mimic the driver's pandas-based canonicalizer: it builds a
    DataFrame from the collected rows and sort_values() over every
    column. Raw array/map columns (unhashable lists) and timestamps
    outside pandas' ns range (year 9999) hard-error there even when
    the value-level compare passes — both bit us in round 1."""
    import pandas as pd

    try:
        pdf = pd.DataFrame([tuple(r) for r in raw_rows], columns=cols)
        for c in cols:  # driver coerces python datetimes -> datetime64[ns]
            if pdf[c].dtype == object and any(
                hasattr(v, "isoformat") and hasattr(v, "hour")
                for v in pdf[c].dropna().head(5)
            ):
                pd.to_datetime(pdf[c])
        pdf.sort_values(by=sorted(cols))
    except Exception as e:  # noqa: BLE001
        return f"driver-canon probe: {type(e).__name__}: {e}"
    return None


def compare(name, sdf, con, oracle) -> list[str]:
    errs = []
    raw_rows = sdf.collect()
    probe_err = driver_canon_probe(raw_rows, [f.name for f in sdf.schema.fields])
    if probe_err:
        errs.append(probe_err)
    spark_rows = [tuple(canon(v) for v in row) for row in raw_rows]
    scols = [f.name for f in sdf.schema.fields]
    ores = con.sql(oracle)
    ocols = list(ores.columns)
    orows = [tuple(canon(v) for v in row) for row in ores.fetchall()]

    if sorted(scols) != sorted(ocols):
        errs.append(f"schema names: spark={sorted(scols)} oracle={sorted(ocols)}")
        return errs

    # arrow-level type comparison (the strictest schema check a driver
    # could plausibly run); int bit-widths reported but tolerated
    try:
        stypes = {f.name: f.type for f in sdf.limit(0).toArrow().schema}
        otypes = {
            f.name: f.type for f in con.sql(f"SELECT * FROM ({oracle}) LIMIT 0").arrow().schema
        }
        def norm(t: str) -> str:
            # ignore nullability flags and inner field names — value-
            # level compares cover those; only the value TYPE matters
            t = t.replace(" not null", "")
            for fld in ("element: ", "l: ", "item: "):
                t = t.replace(fld, "")
            return t

        for c in stypes:
            a, b = norm(str(stypes[c])), norm(str(otypes[c]))
            if a != b:
                errs.append(f"arrow type {c}: spark={a} oracle={b}")
    except Exception as e:  # noqa: BLE001
        errs.append(f"arrow schema probe failed: {e}")
    if len(spark_rows) != len(orows):
        errs.append(f"rowcount: spark={len(spark_rows)} oracle={len(orows)}")

    sidx = [scols.index(c) for c in sorted(scols)]
    oidx = [ocols.index(c) for c in sorted(ocols)]
    sset = sorted(
        (tuple(r[i] for i in sidx) for r in spark_rows), key=lambda t: str(t)
    )
    oset = sorted((tuple(r[i] for i in oidx) for r in orows), key=lambda t: str(t))
    if sset != oset:
        diff_s = [r for r in sset if r not in set(oset)][:3]
        diff_o = [r for r in oset if r not in set(sset)][:3]
        errs.append(f"values differ; spark-only={diff_s} oracle-only={diff_o}")
    return errs


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    specs = load_all()
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark("verify_local")
    # the corpus's global windows all run over documented bounded
    # relations; filter the benign WindowExec warning at the LOGGING
    # layer (never by adding plan nodes) so a real unpartitioned
    # window over data-sized input would still be visible in pytest's
    # library sessions while the verify log stays readable (r11 ask #4)
    from gcp_etl_spark.session import _quiet_benign_warnings

    _quiet_benign_warnings(spark)
    con = duck_connection(sf_dir)
    n_pass = n_fail = 0
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            if spec.oracle is None:
                n = sdf.count()
                print(f"ROWS-ONLY {name}: {n} rows [{time.time()-t0:.1f}s]")
                n_pass += 1
                continue
            errs = compare(name, sdf, con, spec.oracle)
        except Exception:
            errs = [traceback.format_exc(limit=40)]
        dt = time.time() - t0
        if errs:
            n_fail += 1
            print(f"FAIL {name} [{dt:.1f}s]")
            for e in errs:
                print(f"  {e}")
        else:
            n_pass += 1
            print(f"PASS {name} [{dt:.1f}s]")
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
