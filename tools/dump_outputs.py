"""Dump the collected output of named queries to a JSON file — the
old-vs-new equality harness for rows-only queries during optimization
rounds (run at the before-state and the after-state, then diff).

Usage: python tools/dump_outputs.py OUT.json SF_DIR q1 q2 ...
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcp_etl_spark.queries import load_all  # noqa: E402
from gcp_etl_spark.session import _quiet_benign_warnings, get_spark  # noqa: E402


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
    if isinstance(v, list):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in sorted(v.items())}
    return v


def main() -> None:
    out_path, sf_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    specs = load_all()
    spark = get_spark("dump-outputs")
    _quiet_benign_warnings(spark)
    out = {}
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        rows = sorted(
            (tuple(canon(v) for v in r) for r in df.collect()),
            key=repr,
        )
        out[name] = {"schema": df.schema.simpleString(), "rows": rows}
    with open(out_path, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True, default=str)
    print("wrote", out_path, "queries:", len(out))


if __name__ == "__main__":
    main()
