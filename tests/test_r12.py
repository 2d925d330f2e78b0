"""Round-12 pins: contracts for the r12 operators, each independent of
the DuckDB oracle (the rows-only queries' correctness evidence).

The streaming windowed KLL monitor (r11 verdict ask #7) pins the three
properties the module doc claims, in their honest strengths:
- EXACT under any batching: per-window total weight == exact count
  (compaction is mass-preserving);
- ERROR-CLASS under any batching: every estimate's true rank within
  2% of target at k=256 (the agg_kll_quantile_sketch gate);
- BIT-EXACT vs the batch engine running the documented merge law over
  the same per-epoch splits (union of per-epoch sketches).
"""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL

_PROBS = {"p50_est": 0.50, "p90_est": 0.90, "p99_est": 0.99}


def _run(spark, name):
    from gcp_etl_spark.queries import load_all

    return load_all()[name].fn(spark, SF_SMALL)


def _events_value_stream_dir(spark, tmp_path, n_files=3):
    """Split the events table into n_files parquet files (one
    micro-batch each under maxFilesPerTrigger=1), ordered by event_id
    so the split is deterministic."""
    from gcp_etl_spark.tables import t as tbl

    e = tbl(spark, SF_SMALL, "events").select("event_id", "ts", "value")
    qdir = str(tmp_path / "estream")
    rows = e.orderBy("event_id").collect()
    per = max(1, len(rows) // n_files)
    for i in range(n_files):
        chunk = (
            rows[i * per:(i + 1) * per]
            if i < n_files - 1
            else rows[(n_files - 1) * per:]
        )
        if chunk:
            spark.createDataFrame(chunk, e.schema).coalesce(1).write.mode(
                "append"
            ).parquet(qdir)
    return qdir, e.schema


def _exact_window_values(spark):
    """Per-window sorted raw values from the static events table (the
    oracle-independent exact baseline)."""
    from pyspark.sql import functions as F

    from gcp_etl_spark.tables import t as tbl

    e = (
        tbl(spark, SF_SMALL, "events")
        .select(
            F.window("ts", "1 day").getField("start").alias("w_start"),
            "value",
        )
        .toPandas()
    )
    return {
        w: np.sort(grp["value"].to_numpy())
        for w, grp in e.groupby("w_start")
    }


def _run_stream(spark, tmp_path, qdir, schema, store_name):
    from gcp_etl_spark.streaming.kll_stream import kll_sink

    store = str(tmp_path / store_name)
    sink = kll_sink(store, "ts", "value", k=256)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
        .writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", str(tmp_path / (store_name + "_ckpt"))
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return store


def _assert_estimates_within_rank_error(est_rows, exact, tol=0.02):
    for r in est_rows:
        arr = exact[r["w_start"]]
        n = len(arr)
        assert r["weighted_n"] == n, (r["w_start"], r["weighted_n"], n)
        for col, p in _PROBS.items():
            true_rank = np.searchsorted(arr, r[col], side="right") / n
            # small windows: 2% of n under one rank — allow one row
            assert abs(true_rank - p) <= max(tol, 1.5 / n), (
                r["w_start"], col, r[col], true_rank,
            )


def test_stream_kll_equals_batch_merge_and_rank_error(spark, tmp_path):
    """KLL mergeability made executable (the kmv_stream pattern): the
    streaming store's merged per-window estimates must equal the batch
    engine running the documented merge law — union of per-epoch
    windowed sketches over the SAME splits — bit-for-bit; and every
    estimate must sit within the 2% rank-error gate vs the exact
    per-window sorted values."""
    from gcp_etl_spark.operators.kll import (
        windowed_quantiles_from_sketch,
    )
    from gcp_etl_spark.streaming.kll_stream import (
        read_merged_quantiles,
        window_sketches,
    )

    qdir, schema = _events_value_stream_dir(spark, tmp_path, n_files=3)
    store = _run_stream(spark, tmp_path, qdir, schema, "kll")

    got = sorted(
        map(tuple, read_merged_quantiles(spark, store, _PROBS).collect())
    )

    # batch side: the SAME per-file splits through the same sketch
    # builder, merged by union (the merge law)
    import glob as _glob

    merged = None
    for f in sorted(_glob.glob(qdir + "/part-*.parquet")):
        sk = window_sketches(
            spark.read.schema(schema).parquet(f), "ts", "value", k=256
        )
        merged = sk if merged is None else merged.unionByName(sk)
    want = sorted(
        map(
            tuple,
            windowed_quantiles_from_sketch(
                merged, "w_start", _PROBS
            ).collect(),
        )
    )
    assert got == want

    est_rows = read_merged_quantiles(spark, store, _PROBS).collect()
    _assert_estimates_within_rank_error(est_rows, _exact_window_values(spark))


def test_stream_kll_batching_invariant_mass_and_error(spark, tmp_path):
    """Batching invariance in its honest strengths: under a DIFFERENT
    micro-batch split (7 files vs 3), the per-window total weight is
    IDENTICAL (mass is exactly batching-invariant — compaction halves
    a buffer but doubles its weight) and every estimate stays inside
    the same rank-error gate (the error CLASS is invariant; the
    surviving values themselves may differ, which is why this tier is
    rows-only while the bucket monitor stays hash-verified)."""
    from gcp_etl_spark.streaming.kll_stream import read_merged_quantiles

    exact = _exact_window_values(spark)
    qdir, schema = _events_value_stream_dir(spark, tmp_path, n_files=7)
    store = _run_stream(spark, tmp_path, qdir, schema, "kll7")
    est_rows = read_merged_quantiles(spark, store, _PROBS).collect()
    assert len(est_rows) == len(exact)
    _assert_estimates_within_rank_error(est_rows, exact)


def test_stream_kll_replay_idempotent(spark, tmp_path):
    """The exactly-once contract (dedup_stream/kmv convention): a
    replayed epoch overwrites its own ``epoch=<id>`` directory, so
    re-running an epoch's sink on the same micro-batch leaves the
    merged estimates unchanged. Epochs are driven through the sink
    directly with a PINNED file->epoch mapping — the real readStream
    path (exercised by the equality test, whose union-of-all-epochs
    comparison is mapping-independent) assigns files to epochs in
    discovery order, which is not guaranteed to match sorted order
    (the flake this test shipped with in its first version)."""
    import glob as _glob

    from gcp_etl_spark.streaming.kll_stream import (
        kll_sink,
        read_merged_quantiles,
    )

    qdir, schema = _events_value_stream_dir(spark, tmp_path, n_files=3)
    store = str(tmp_path / "kllr")
    sink = kll_sink(store, "ts", "value", k=256)
    files = sorted(_glob.glob(qdir + "/part-*.parquet"))
    assert len(files) == 3
    for epoch, f in enumerate(files):
        sink(spark.read.schema(schema).parquet(f), epoch)
    before = sorted(
        map(tuple, read_merged_quantiles(spark, store, _PROBS).collect())
    )
    # replay epoch 0 on its own micro-batch: idempotent overwrite
    sink(spark.read.schema(schema).parquet(files[0]), 0)
    after = sorted(
        map(tuple, read_merged_quantiles(spark, store, _PROBS).collect())
    )
    assert before == after


def test_stream_kll_batch_query_matches_monitor_windows(spark):
    """The registered batch-mode query (stream_kll_window_quantiles)
    must see exactly the windows the exact bucket monitor sees, with
    exact per-window mass, and its estimates must pass the rank gate —
    the sketch tier and the exact tier describe the same stream."""
    rows = _run(spark, "stream_kll_window_quantiles").collect()
    exact = _exact_window_values(spark)
    assert {r["w_start"] for r in rows} == set(exact)
    _assert_estimates_within_rank_error(rows, exact)


# ---------- oracle-independent pins for the r12 numeric operators
# (the r11 convention: every new numeric op gets a NumPy/pure-Python
# reference beside the DuckDB oracle, so correctness never rests on
# one comparison engine)


def test_pass_at_k_matches_pure_python(spark):
    """Unbiased pass@k replayed in pure Python combinatorics
    (math.comb) over the same per-user (n, c) — the estimator identity
    1 - C(n-c,k)/C(n,k), exact rationals via Fraction."""
    import math
    from fractions import Fraction

    import pandas as pd

    ev = pd.read_parquet(
        f"{SF_SMALL}/events.parquet", columns=["user_id", "value"]
    )
    k = 4
    vals = []
    for _, g in ev.groupby("user_id"):
        n = len(g)
        c = int((g["value"] > 100.0).sum())
        if n < k:
            continue
        if n - c >= k:
            p = 1 - Fraction(math.comb(n - c, k), math.comb(n, k))
        else:
            p = Fraction(1)
        vals.append((Fraction(c, n), p))
    want_p1 = float(sum(v[0] for v in vals) / len(vals))
    want_pk = float(sum(v[1] for v in vals) / len(vals))
    row = _run(spark, "eval_pass_at_k").collect()[0]
    assert row["n_tasks"] == len(vals)
    assert abs(row["pass_at_1"] - want_p1) < 1e-6
    assert abs(row["pass_at_4"] - want_pk) < 1e-6


def test_bradley_terry_matches_pure_python_mm(spark):
    """BT strengths replayed with a pure-Python MM loop over the same
    match matrix (built with pandas), same 12dp state rounding."""
    import pandas as pd

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    from collections import defaultdict

    m = defaultdict(int)
    wins = defaultdict(int)
    types = sorted(ev["event_type"].unique())
    for _, g in ev.groupby("user_id"):
        rows = list(g.itertuples())
        for prev, cur in zip(rows, rows[1:]):
            a, b = prev.event_type, cur.event_type
            if a == b:
                continue
            i, j = min(a, b), max(a, b)
            m[(i, j)] += 1
            if cur.value > prev.value:
                wins[cur.event_type] += 1
            elif cur.value < prev.value:
                wins[prev.event_type] += 1
            else:
                wins[min(a, b)] += 1
    p = {et: 1.0 for et in types}
    for _ in range(3):
        new = {}
        for et in types:
            den = 0.0
            for (i, j), cnt in sorted(m.items()):
                if et in (i, j):
                    other = j if et == i else i
                    den += round(cnt / (p[et] + p[other]), 12)
            new[et] = round(wins[et] / den, 12)
        p = new
    tot = sum(p.values())
    want = {et: round(p[et] / tot, 6) for et in types}
    got = {
        r["event_type"]: r["bt_strength"]
        for r in _run(spark, "analytics_bradley_terry").collect()
    }
    for et in types:
        assert abs(got[et] - want[et]) < 2e-6, (et, got[et], want[et])


def test_ipf_margins_converge(spark):
    """IPF's defining property: after the final ROW scaling the region
    margins match the target; after 3 full iterations BOTH margins are
    within a small relative tolerance of total/5 (raking converges
    geometrically on a strictly positive table)."""
    rows = _run(spark, "analytics_ipf_raking").collect()
    total = sum(r["weight"] for r in rows)
    tgt = total / 5.0
    from collections import defaultdict

    rm = defaultdict(float)
    cm = defaultdict(float)
    for r in rows:
        rm[r["region"]] += r["weight"]
        cm[r["pri"]] += r["weight"]
    assert len(rm) == 5 and len(cm) == 5
    for v in list(rm.values()) + list(cm.values()):
        assert abs(v - tgt) / tgt < 0.01, (v, tgt)


def test_sprt_matches_pure_python_walk(spark):
    """SPRT replayed as a literal sequential walk in Python over the
    same (ts, event_id)-ordered stream with the same repr literals."""
    import pandas as pd

    from gcp_etl_spark.queries.stats_ops import (
        _SPRT_BOUND_F,
        _SPRT_LA_F,
        _SPRT_LB_F,
        _SPRT_THRESH,
    )

    ev = pd.read_parquet(
        f"{SF_SMALL}/events.parquet",
        columns=["ts", "event_id", "value"],
    ).sort_values(["ts", "event_id"])
    s = 0
    n_dec, l_dec = None, None
    for i, v in enumerate(ev["value"].to_numpy(), start=1):
        s += 1 if v > _SPRT_THRESH else 0
        llr = (_SPRT_LA_F * s) + (_SPRT_LB_F * (i - s))
        if llr >= _SPRT_BOUND_F or llr <= -_SPRT_BOUND_F:
            n_dec, l_dec = i, llr
            break
    row = _run(spark, "stats_sprt_sequential").collect()[0]
    assert row["n_at_decision"] == n_dec
    assert abs(row["llr_at_decision"] - round(l_dec, 6)) < 1e-9
    assert row["decision"] == (
        "accept_h1" if l_dec >= _SPRT_BOUND_F else "accept_h0"
    )


def test_krippendorff_matches_pure_python(spark):
    """Krippendorff's alpha replayed with the textbook coincidence
    formulation in pure Python over the same (day, user, first-label)
    ratings."""
    import pandas as pd

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet").sort_values(
        ["ts", "event_id"]
    )
    ev["item"] = ev["ts"].dt.floor("D")
    first = ev.groupby(["item", "user_id"], sort=False).first()
    from collections import Counter, defaultdict

    items = defaultdict(list)
    for (item, _u), row in first.iterrows():
        items[item].append(row["event_type"])
    do_raw = 0.0
    n_total = 0
    pooled = Counter()
    for labels in items.values():
        m = len(labels)
        if m < 2:
            continue
        n_total += m
        cnt = Counter(labels)
        agree = sum(c * (c - 1) for c in cnt.values())
        do_raw += round((m * (m - 1) - agree) / (m - 1), 12)
        pooled.update(cnt)
    n = sum(pooled.values())
    sum_sq = sum(c * c for c in pooled.values())
    d_obs = do_raw / n_total
    d_exp = (n * n - sum_sq) / (n * (n - 1))
    want = round(1.0 - d_obs / d_exp, 6)
    row = _run(spark, "prep_krippendorff_alpha").collect()[0]
    assert row["n_total"] == n_total
    assert abs(row["alpha"] - want) < 2e-6, (row["alpha"], want)


def test_token_budget_allocation_exact(spark):
    """Hamilton apportionment's defining properties: allocations sum
    EXACTLY to the budget, and each allocation is within 1 token of
    its real-valued quota (quota monotonicity of largest-remainder)."""
    rows = _run(spark, "prep_token_budget_allocation").collect()
    assert sum(r["alloc_tokens"] for r in rows) == 1_000_000
    for r in rows:
        assert abs(r["alloc_tokens"] - r["quota"]) < 1.0, r


def test_rendezvous_minimal_movement(spark):
    """HRW's defining property vs mod-N: growing 8 -> 9 shards moves
    ~1/9 of keys under HRW (binomial tolerance) and ~8/9 under mod-N —
    the measured fractions must sit near those theory values."""
    row = _run(spark, "scale_rendezvous_resharding").collect()[0]
    assert abs(row["hrw_moved_frac"] - 1 / 9) < 0.05, row
    assert abs(row["mod_moved_frac"] - 8 / 9) < 0.05, row


def test_bleu_lite_matches_pure_python(spark):
    """Corpus BLEU-2 components replayed with pure-Python Counter
    clipping over the same adjacent-doc pairs."""
    import pandas as pd
    from collections import Counter

    docs = pd.read_parquet(
        f"{SF_SMALL}/documents.parquet", columns=["doc_id", "text"]
    ).set_index("doc_id")["text"]
    clip = {1: 0, 2: 0}
    tot = {1: 0, 2: 0}
    c_len = r_len = 0
    for did in sorted(docs.index):
        if did % 2 != 1 or (did - 1) not in docs.index:
            continue
        cand, ref = docs[did].split(" "), docs[did - 1].split(" ")
        c_len += len(cand)
        r_len += len(ref)
        for n in (1, 2):
            cg = Counter(
                tuple(cand[i:i + n]) for i in range(len(cand) - n + 1)
            )
            rg = Counter(
                tuple(ref[i:i + n]) for i in range(len(ref) - n + 1)
            )
            clip[n] += sum(min(c, rg[g]) for g, c in cg.items())
            tot[n] += sum(cg.values())
    row = _run(spark, "eval_bleu_lite").collect()[0]
    assert (row["clip1"], row["tot1"]) == (clip[1], tot[1])
    assert (row["clip2"], row["tot2"]) == (clip[2], tot[2])
    assert (row["c_len"], row["r_len"]) == (c_len, r_len)
    import math

    want = round(
        math.sqrt((clip[1] / tot[1]) * (clip[2] / tot[2])), 6
    )
    assert abs(row["bleu2_precision"] - want) < 1e-9


def test_ips_offpolicy_matches_pure_python(spark):
    """Cross-fit IPS/SNIPS replayed in pure Python over the same fold
    split, propensity table, and target policy."""
    import pandas as pd

    ev = pd.read_parquet(
        f"{SF_SMALL}/events.parquet",
        columns=["event_id", "user_id", "event_type", "value"],
    )
    ev["ctx"] = ev["user_id"] % 10
    ev["r"] = (ev["value"] > 150.0).astype(int)
    fit = ev[ev["event_id"] % 2 == 0]
    ev1 = ev[ev["event_id"] % 2 == 1]
    cax = fit.groupby(["ctx", "event_type"]).size()
    cx = fit.groupby("ctx").size()
    srw = sw = 0.0
    n = 0
    for row in ev1.itertuples():
        key = (row.ctx, row.event_type)
        if key not in cax.index:
            continue
        n += 1
        w = (
            cx[row.ctx] / cax[key]
            if row.event_type == "click"
            else 0.0
        )
        srw += round(row.r * w, 12)
        sw += round(w, 12)
    row = _run(spark, "analytics_ips_offpolicy").collect()[0]
    assert row["n"] == n
    assert abs(row["ips_value"] - round(srw / n, 6)) < 2e-6
    assert abs(row["snips_value"] - round(srw / sw, 6)) < 2e-6
    # the calibration diagnostic is alive (cross-fit: not 1 by identity)
    assert row["mean_weight"] != 1.0


def test_delta_method_ci_matches_numpy(spark):
    """Delta-method ratio CI replayed with NumPy moments over the same
    per-user integer totals."""
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(
        f"{SF_SMALL}/events.parquet", columns=["user_id", "value"]
    )
    g = ev.groupby("user_id")["value"]
    x = g.size().to_numpy().astype(float)
    y = ev.assign(c=(ev["value"] * 100).round()).groupby("user_id")[
        "c"
    ].sum().to_numpy().astype(float)
    n = len(x)
    ratio = y.sum() / x.sum()
    var_y = (y * y).sum() / n - (y.sum() / n) ** 2
    var_x = (x * x).sum() / n - (x.sum() / n) ** 2
    cov = (x * y).sum() / n - (x.sum() / n) * (y.sum() / n)
    se = np.sqrt(
        max(
            0.0,
            (var_y - 2 * ratio * cov + ratio * ratio * var_x)
            / (n * (x.sum() / n) ** 2),
        )
    )
    row = _run(spark, "stats_delta_method_ratio_ci").collect()[0]
    assert row["n"] == n
    assert abs(row["ratio"] - ratio / 100.0) < 1e-5
    assert abs(row["se"] - se / 100.0) < 1e-5
    assert row["ci_lo"] < row["ratio"] < row["ci_hi"]


def test_rich_club_matches_pure_python(spark):
    """phi(k) recomputed in pure Python from the same canonical edge
    list (density of the induced subgraph on degree > k nodes)."""
    import pandas as pd
    from collections import Counter

    li = pd.read_parquet(
        f"{SF_SMALL}/lineitem.parquet",
        columns=["l_orderkey", "l_partkey"],
    )
    a = li["l_orderkey"] % 300
    b = li["l_partkey"] % 300
    edges = {
        (min(x, y), max(x, y))
        for x, y in zip(a, b)
        if x != y
    }
    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    rich = {nd for nd, d in deg.items() if d > 12}
    e_rich = sum(1 for u, v in edges if u in rich and v in rich)
    nr = len(rich)
    row = _run(spark, "graph_rich_club").collect()[0]
    assert row["n_rich"] == nr
    assert row["e_rich"] == e_rich
    assert abs(row["phi"] - round(2 * e_rich / (nr * (nr - 1)), 6)) < 1e-9


def test_markov_removal_matches_pure_python(spark):
    """Markov removal-effect replayed in pure Python: same transition
    counts, same 80-step value iteration with 12dp state rounding,
    same removal semantics (channel value pinned to zero)."""
    import pandas as pd

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet").sort_values(
        ["ts", "event_id"]
    )
    from collections import defaultdict

    cnts = defaultdict(int)
    for _, g in ev.groupby("user_id"):
        types = list(
            g.sort_values(["ts", "event_id"])["event_type"]
        )
        cnts[("START", types[0])] += 1
        for a, b in zip(types, types[1:]):
            if a != "purchase":
                cnts[(a, b)] += 1
        if types[-1] != "purchase":
            cnts[(types[-1], "END")] += 1
    ORIGS = ("START", "click", "error", "signup", "view")
    DESTS = ("click", "error", "purchase", "signup", "view", "END")
    CH = ("click", "error", "signup", "view")
    P = {}
    for o in ORIGS:
        tot = sum(c for (oo, _d), c in cnts.items() if oo == o)
        for d in DESTS:
            P[(o, d)] = cnts.get((o, d), 0) / tot if tot else 0.0

    def run(removed):
        v = {c: 0.0 for c in CH}

        def val(d):
            if d == "purchase":
                return 1.0
            if d == "END":
                return 0.0
            return 0.0 if d == removed else v[d]

        for _ in range(80):
            v = {
                c: 0.0
                if c == removed
                else round(sum(P[(c, d)] * val(d) for d in DESTS), 12)
                for c in CH
            }
        return round(sum(P[("START", d)] * val(d) for d in DESTS), 12)

    pf = run(None)
    rows = {
        r["channel"]: r
        for r in _run(spark, "analytics_markov_removal_effect").collect()
    }
    assert set(rows) == set(CH)
    for c in CH:
        pr = run(c)
        assert abs(rows[c]["p_full"] - round(pf, 6)) < 1e-9
        assert abs(rows[c]["p_removed"] - round(pr, 6)) < 1e-9
        assert (
            abs(rows[c]["removal_effect"] - round(1 - pr / pf, 6))
            < 2e-6
        )
