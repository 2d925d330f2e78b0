"""Deterministic inputs for the benchmark.

Two kinds of input:

- ``make_tables(out_dir, sf)``: the star schema plus ``events``,
  ``documents`` and ``embeddings``, one parquet file per table, with the
  column names, types and value domains the query corpus reads (see
  ``FIXTURES.md``). Row counts scale linearly with ``sf`` (lineitem is
  ``6M * sf`` rows). The tables are fixed (seed 42) and shared by every
  run; the run seed only orders the queries.
- ``make_landing(path, rows, seed)``: an airport-codes-shaped JSON-lines
  landing zone for the medallion pipeline, generated from the run seed,
  plus ``expected_served(...)``, the rows the pipeline must serve.

Only numpy and pyarrow are used, so generation needs no Spark session.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array((base + d).astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    a, b = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[i]} {noun[j]}" for i, j in zip(a, b)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), k)]) for k in lens]
    # planted near-duplicates (an earlier text plus a marker word) and a
    # few exact duplicates, so dedup operators have work to find
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n_doc), max(1, n_doc // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    emb = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def make_tables(out_dir: str, sf: float) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- medallion landing ---------------------------------------------------

_TYPES = ["small_airport", "heliport", "medium_airport", "closed",
          "seaplane_base", "large_airport", "balloonport"]
_TYPE_P = [0.5, 0.2, 0.12, 0.1, 0.05, 0.02, 0.01]
_CONTINENTS = ["NA", "EU", "AS", "SA", "AF", "OC", "AN", None]
_COUNTRIES = ["US", "BR", "CA", "AU", "DE", "FR", "GB", "RU", "MX", "AR",
              "IN", "CN", "JP", "ZA", "NG", "IT", "ES", "SE", "NO", "NZ"]
SERVED_ROWS = 100
# The reference's transform is ``SELECT * FROM df LIMIT 100``; ``ident``
# is unique, so ordering by it makes the served rows a function of the
# seed alone.
MEDALLION_SQL = f"SELECT * FROM df ORDER BY ident LIMIT {SERVED_ROWS}"


def landing_rows(rows: int, seed: int) -> list[dict]:
    rng = np.random.default_rng(seed)
    idents = rng.permutation(rows * 4)[:rows]
    types = rng.choice(len(_TYPES), rows, p=_TYPE_P)
    cont = rng.integers(0, len(_CONTINENTS), rows)
    ctry = rng.integers(0, len(_COUNTRIES), rows)
    region = rng.integers(1, 60, rows)
    elev = rng.integers(-200, 14000, rows)
    has_elev = rng.random(rows) < 0.9
    has_iata = rng.random(rows) < 0.1
    has_muni = rng.random(rows) < 0.85
    lon = np.round(rng.uniform(-180, 180, rows), 6)
    lat = np.round(rng.uniform(-90, 90, rows), 6)
    out = []
    for i in range(rows):
        ident = f"A{idents[i]:07d}"
        country = _COUNTRIES[ctry[i]]
        code = ident[-4:]
        out.append({
            "ident": ident,
            "type": _TYPES[types[i]],
            "name": f"{country} Field {idents[i]}",
            "elevation_ft": int(elev[i]) if has_elev[i] else None,
            "continent": _CONTINENTS[cont[i]],
            "iso_country": country,
            "iso_region": f"{country}-{region[i]:02d}",
            "municipality": f"Town {idents[i] % 5000}" if has_muni[i] else None,
            "gps_code": f"{country[0]}{code}",
            "iata_code": code[-3:] if has_iata[i] else None,
            "local_code": code,
            "coordinates": f"{lon[i]}, {lat[i]}",
        })
    return out


def make_landing(path: str, rows: int, seed: int) -> list[dict]:
    """Write the landing JSON-lines file; return its rows."""
    data = landing_rows(rows, seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in data:
            f.write(json.dumps(r))
            f.write("\n")
        # on disk before the run starts, so its write-back does not
        # overlap the timed set-up
        f.flush()
        os.fsync(f.fileno())
    return data


def expected_served(data: list[dict]) -> list[tuple]:
    """The rows ``MEDALLION_SQL`` serves, as sorted ``(field, value)``
    tuples, so the check does not depend on inferred column order."""
    top = sorted(data, key=lambda r: r["ident"])[:SERVED_ROWS]
    return [tuple(sorted(r.items())) for r in top]
