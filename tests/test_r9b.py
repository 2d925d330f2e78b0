"""Round-9 second batch: property pins that hold INDEPENDENTLY of the
DuckDB oracles (which could in principle share a bug with the Spark
side if both transcribed the same wrong formula) — each test
recomputes the claimed definition from scratch in NumPy/pure Python on
the raw fixture and checks the registered query against it."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from tests.conftest import SF_SMALL


def _run(spark, name):
    from gcp_etl_spark.queries import load_all

    return load_all()[name].fn(spark, SF_SMALL)


def _daily_cents(orders: pd.DataFrame) -> pd.Series:
    cents = (orders["o_totalprice"] * 100).round().astype("int64")
    return (
        cents.groupby(orders["o_orderdate"].dt.normalize())
        .sum()
        .sort_index()
    )


def test_holt_winters_matches_python_recurrence(spark):
    """The F.aggregate fold must implement the textbook additive
    Holt-Winters recurrence exactly — recomputed here step by step in
    Python floats (identical IEEE semantics) from the raw parquet."""
    daily = _daily_cents(
        pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    ).to_numpy()
    y = daily / 100.0
    dd = len(y)
    level = float(daily[:7].sum()) / 700.0
    trend = (float(daily[7:14].sum()) / 700.0 - level) / 7.0
    seas = [float(c) / 100.0 - level for c in daily[:7]]
    for ti in range(7, dd):
        slot = ti % 7
        sold = seas[slot]
        lnew = 0.3 * (y[ti] - sold) + 0.7 * (level + trend)
        trend = 0.1 * (lnew - level) + 0.9 * trend
        seas[slot] = 0.2 * (y[ti] - lnew) + 0.8 * sold
        level = lnew
    want = {
        h: round(level + h * trend + seas[(dd - 1 + h) % 7], 6)
        for h in range(1, 8)
    }
    got = {r["h"]: r["forecast"] for r in _run(spark, "analytics_holt_winters").collect()}
    assert got.keys() == want.keys()
    for h in want:
        assert math.isclose(got[h], want[h], rel_tol=0, abs_tol=1e-6), (
            h,
            got[h],
            want[h],
        )


def test_point_in_polygon_matches_python_raycast(spark):
    """The generated crossing-expression string must implement the
    classic even-odd ray cast — recomputed per point in pure Python
    with the same semi-open rule."""
    from gcp_etl_spark.queries.scalars import _PIP_POLY

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    lon = ((ev["event_id"] * 7919) % 360 - 180).astype(float).to_numpy()
    lat = ((ev["event_id"] * 104729) % 180 - 90).astype(float).to_numpy()

    def inside(px, py):
        c = 0
        n = len(_PIP_POLY)
        for i in range(n):
            x1, y1 = _PIP_POLY[i]
            x2, y2 = _PIP_POLY[(i + 1) % n]
            if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (
                y2 - y1
            ) + x1:
                c += 1
        return c % 2 == 1

    hits = {}
    for et, lo, la in zip(ev["event_type"], lon, lat):
        npts, nin = hits.get(et, (0, 0))
        hits[et] = (npts + 1, nin + (1 if inside(lo, la) else 0))
    got = {
        r["event_type"]: (r["n_points"], r["n_inside"])
        for r in _run(spark, "geo_point_in_polygon").collect()
    }
    assert got == hits
    # the fixture must actually exercise BOTH outcomes
    assert sum(v[1] for v in hits.values()) > 0
    assert sum(v[1] for v in hits.values()) < sum(v[0] for v in hits.values())


def test_gamma_somers_matches_bruteforce_pairs(spark):
    """Contingency-grid concordance algebra vs literal O(n^2) pair
    enumeration over the fixture's (priority, width) observations."""
    o = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    width = li.groupby("l_orderkey").size()
    m = o.set_index("o_orderkey").join(width.rename("y"), how="inner")
    x = m["o_orderpriority"].str[0].astype(int).to_numpy()
    y = m["y"].to_numpy()
    dx = np.sign(x[:, None] - x[None, :])
    dy = np.sign(y[:, None] - y[None, :])
    iu = np.triu_indices(len(x), k=1)
    prod = dx[iu] * dy[iu]
    c = int((prod > 0).sum())
    d = int((prod < 0).sum())
    ty = int(((dx[iu] != 0) & (dy[iu] == 0)).sum())
    row = _run(spark, "stats_gamma_somers").collect()[0]
    assert row["concordant"] == c
    assert row["discordant"] == d
    assert math.isclose(row["gk_gamma"], round((c - d) / (c + d), 6), abs_tol=1e-9)
    assert math.isclose(
        row["somers_dyx"], round((c - d) / (c + d + ty), 6), abs_tol=1e-9
    )


def test_wasserstein_matches_numpy_cdf_integral(spark):
    """The integer-exact CDF-difference sum must equal the direct
    numpy evaluation of the W1 integral between the two samples."""
    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    a = li.loc[li["l_returnflag"] == "A", "l_quantity"].to_numpy()
    r = li.loc[li["l_returnflag"] == "R", "l_quantity"].to_numpy()
    support = np.unique(np.concatenate([a, r]))
    fa = np.searchsorted(np.sort(a), support, side="right") / len(a)
    fr = np.searchsorted(np.sort(r), support, side="right") / len(r)
    want = float(np.sum(np.abs(fa[:-1] - fr[:-1]) * np.diff(support)))
    row = _run(spark, "stats_wasserstein_1d").collect()[0]
    assert row["n_a"] == len(a) and row["n_r"] == len(r)
    assert math.isclose(row["wasserstein_1"], round(want, 6), abs_tol=2e-6)


def test_soft_weights_sum_to_distinct_contents(spark):
    """SoftDeDup invariant: summing 1/c over every copy of every
    content yields EXACTLY the number of distinct contents — so the
    per-source effective sizes must total the global distinct count
    (unit mass per content, split across its copies)."""
    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    norm = (
        docs["text"]
        .str.lower()
        .str.strip()
        .str.replace(r"\s+", " ", regex=True)
    )
    n_distinct = norm.nunique()
    rows = _run(spark, "dedup_soft_weights").collect()
    assert sum(r["n_docs"] for r in rows) == len(docs)
    assert math.isclose(
        sum(r["effective_docs"] for r in rows), n_distinct, abs_tol=1e-6
    )


def test_binseg_gain_is_argmax_of_all_splits(spark):
    """The reported split must maximize the SSE-reduction over EVERY
    possible split position (recomputed by brute force), and the gain
    must equal SSE(total) - SSE(left) - SSE(right) at that split."""
    daily = _daily_cents(pd.read_parquet(f"{SF_SMALL}/orders.parquet"))
    y = (daily / 100.0).to_numpy()

    def sse(v):
        return float(((v - v.mean()) ** 2).sum()) if len(v) else 0.0

    gains = [
        sse(y) - sse(y[:i]) - sse(y[i:]) for i in range(1, len(y))
    ]
    best = int(np.argmax(gains))
    row = _run(spark, "analytics_binseg_changepoint").collect()[0]
    assert row["n_left"] == best + 1
    assert math.isclose(row["sse_gain"], gains[best], rel_tol=1e-9, abs_tol=1e-3)
    assert pd.Timestamp(row["split_date"]) == daily.index[best]


def test_link_prediction_candidates_are_nonedges_with_common_neighbors(
    spark,
):
    """Every scored pair must be a NON-edge sharing >= 1 neighbor, and
    cn/pa/ra must match a direct adjacency-set recomputation."""
    from gcp_etl_spark.queries.graph_ops import N_NODES

    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    u = (li["l_orderkey"] % N_NODES).to_numpy()
    v = (li["l_partkey"] % N_NODES).to_numpy()
    edges = {
        (min(a, b), max(a, b)) for a, b in zip(u, v) if a != b
    }
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for r in _run(spark, "graph_link_prediction").collect():
        pu, pv = r["u"], r["v"]
        assert (pu, pv) not in edges
        common = adj[pu] & adj[pv]
        assert r["cn"] == len(common) > 0
        assert r["pa"] == len(adj[pu]) * len(adj[pv])
        ra = sum(1.0 / len(adj[m]) for m in common)
        assert math.isclose(r["resource_alloc"], round(ra, 6), abs_tol=1e-5)


def test_isotonic_fit_is_monotone_and_matches_pava(spark):
    """The minimax join formulation must produce a non-decreasing
    curve identical to a literal pool-adjacent-violators merge loop."""
    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    b = (ev["event_id"] % 20).astype(int)
    y = (ev["value"] > 100 - 3 * b).astype(int)
    g = pd.DataFrame({"b": b, "y": y}).groupby("b")["y"].agg(["count", "sum"])
    blocks = [
        [int(r["count"]), int(r["sum"]), [bb]] for bb, r in g.iterrows()
    ]
    merged: list[list] = []
    for blk in blocks:
        merged.append(blk)
        while (
            len(merged) >= 2
            and merged[-2][1] * merged[-1][0]
            >= merged[-1][1] * merged[-2][0]
        ):
            n2, s2, ids2 = merged.pop()
            merged[-1][0] += n2
            merged[-1][1] += s2
            merged[-1][2] += ids2
    want = {}
    for n, sv, ids in merged:
        for bb in ids:
            want[bb] = round(sv / n, 6)
    rows = _run(spark, "calibration_isotonic_fit").collect()
    got = {r["bin"]: r["isotonic_rate"] for r in rows}
    fitted = [got[k] for k in sorted(got)]
    assert all(a <= bb + 1e-12 for a, bb in zip(fitted, fitted[1:]))
    for k in want:
        assert math.isclose(got[k], want[k], abs_tol=2e-6), (k, got[k], want[k])
    # the fixture must actually pool something (raw rates non-monotone)
    raw = [r["raw_rate"] for r in sorted(rows, key=lambda r: r["bin"])]
    assert any(a > bb for a, bb in zip(raw, raw[1:]))


def test_bass_diffusion_matches_numpy_lstsq(spark):
    """Cramer's-rule coefficients must match numpy's least-squares on
    the same adoption design matrix."""
    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    fs = (
        ev.assign(d=ev["ts"].dt.normalize())
        .groupby(["user_id", "event_type"])["d"]
        .min()
    )
    adopt = fs.value_counts().sort_index()
    n = adopt.to_numpy().astype(float)
    c = np.concatenate([[0.0], np.cumsum(n)[:-1]])
    X = np.stack([np.ones_like(c), c, c * c], axis=1)
    coef, *_ = np.linalg.lstsq(X, n, rcond=None)
    row = _run(spark, "analytics_bass_diffusion").collect()[0]
    assert math.isclose(row["a"], coef[0], rel_tol=1e-6, abs_tol=1e-4)
    assert math.isclose(row["b"], coef[1], rel_tol=1e-6, abs_tol=1e-4)
    assert math.isclose(row["c"], coef[2], rel_tol=1e-6, abs_tol=1e-4)
    m = row["m_sat"]
    assert math.isclose(
        row["a"] + row["b"] * m + row["c"] * m * m, 0.0, abs_tol=5e-3
    )


def test_mattr_matches_direct_window_count(spark):
    """The interval-contribution formulation must equal the literal
    per-window distinct-type count, recomputed doc by doc."""
    import re

    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    W = 25
    per_source: dict[str, list[float]] = {}
    for _, row in docs.iterrows():
        toks = re.sub(r"\s+", " ", row["text"].lower().strip()).split(" ")
        L = len(toks)
        if L < W:
            continue
        vals = [
            len(set(toks[w : w + W])) / W for w in range(0, L - W + 1)
        ]
        per_source.setdefault(row["source"], []).append(
            sum(vals) / len(vals)
        )
    got = {
        r["source"]: (r["n_docs"], r["avg_mattr"])
        for r in _run(spark, "text_mattr_diversity").collect()
    }
    assert set(got) == set(per_source)
    for src, ms in per_source.items():
        assert got[src][0] == len(ms)
        assert math.isclose(
            got[src][1], sum(ms) / len(ms), abs_tol=2e-6
        ), src


def test_ansari_bradley_matches_bruteforce_scores(spark):
    """The closed-form S(x) tie-averaged scores must equal literal
    enumeration: sort the combined sample, score min(r, N+1-r),
    average scores within tied runs, sum over group 1."""
    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    f = ev[ev["event_type"].isin(["purchase", "click"])]
    v = f["value"].to_numpy()
    g1 = (f["event_type"] == "purchase").to_numpy()
    order = np.argsort(v, kind="stable")
    n = len(v)
    raw = np.minimum(np.arange(1, n + 1), n + 1 - np.arange(1, n + 1))
    score = np.empty(n)
    sv = v[order]
    i = 0
    while i < n:
        j = i
        while j < n and sv[j] == sv[i]:
            j += 1
        score[i:j] = raw[i:j].mean()
        i = j
    a_stat = float(score[g1[order]].sum())
    abar = score.mean()
    var = (
        g1.sum()
        * (n - g1.sum())
        / (n - 1)
        * float(((score - abar) ** 2).mean())
    )
    z = (a_stat - g1.sum() * abar) / math.sqrt(var)
    row = _run(spark, "stats_ansari_bradley").collect()[0]
    assert row["n1"] == int(g1.sum())
    assert row["n2"] == int(n - g1.sum())
    assert math.isclose(row["ab_stat"], a_stat, rel_tol=1e-9, abs_tol=1e-4)
    assert math.isclose(row["z"], z, abs_tol=1e-5)


def test_streaming_datasource_runs_multiple_microbatches(spark):
    """The offset plateau must be real: draining the synthgen stream
    executes ceil(rows/batchRows) micro-batches (not one giant batch),
    appends exactly rows rows, and a re-run in the same session starts
    clean (no double-append from the previous sink table)."""
    from gcp_etl_spark.queries import load_all

    fn = load_all()["io_python_datasource_stream"].fn
    out1 = {r["sensor"]: (r["n"], r["total_metric"]) for r in fn(spark, SF_SMALL).collect()}
    assert sum(n for n, _ in out1.values()) == 2000
    assert not [
        q
        for q in spark.streams.active
        if q.name == "synthgen_stream_sink"
    ]
    out2 = {r["sensor"]: (r["n"], r["total_metric"]) for r in fn(spark, SF_SMALL).collect()}
    assert out1 == out2
    # drive the stream directly and count REAL micro-batches
    from gcp_etl_spark.sources.synthgen import register

    register(spark)
    sdf = (
        spark.readStream.format("synthgen")
        .option("rows", 2000)
        .option("batchRows", 500)
        .option("numPartitions", 4)
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("synthgen_stream_probe")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len(
            [p for p in q.recentProgress if p["numInputRows"] > 0]
        )
    finally:
        q.stop()
    assert n_batches >= 2, [p["numInputRows"] for p in q.recentProgress]
    assert (
        sum(p["numInputRows"] for p in q.recentProgress) == 2000
    )


def test_hurst_rs_matches_numpy_blocks(spark):
    """The integer-scaled cumdev algebra must equal the literal R/S
    recipe: per full block, range of cumulative deviations from the
    block mean over the population std; H = 4-point log-log slope."""
    daily = _daily_cents(pd.read_parquet(f"{SF_SMALL}/orders.parquet"))
    c = daily.to_numpy().astype(float)
    pts = []
    for n in (8, 16, 32, 64):
        ratios = []
        for b in range(len(c) // n):
            blk = c[b * n : (b + 1) * n]
            dev = np.cumsum(blk - blk.mean())
            s = blk.std()  # population
            if s > 0:
                ratios.append((dev.max() - dev.min()) / s)
        if ratios:
            pts.append((math.log(n), math.log(np.mean(ratios))))
    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    k = len(pts)
    slope = (k * (x * y).sum() - x.sum() * y.sum()) / (
        k * (x * x).sum() - x.sum() ** 2
    )
    row = _run(spark, "analytics_hurst_rs").collect()[0]
    assert row["n_sizes"] == k
    assert math.isclose(row["hurst"], slope, abs_tol=1e-5)


def test_viterbi_burst_matches_python_dp(spark):
    """The two-fold Viterbi must equal a literal Python DP with the
    same integer-scaled costs — including the decoded path, not just
    the min cost — and the fixture must decode a non-trivial path."""
    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    daily = ev.groupby(ev["ts"].dt.normalize()).size().sort_index()
    ns = daily.to_numpy()
    dd = len(ns)
    lam0 = ns.sum() * 1.0 / dd
    lam1 = lam0 * 1.05
    l0, l1 = math.log(lam0), math.log(lam1)
    c0 = [math.floor(1e6 * (lam0 - n * l0)) for n in ns]
    c1 = [math.floor(1e6 * (lam1 - n * l1)) for n in ns]
    PEN = 500000
    v0, v1 = c0[0], c1[0] + PEN
    bs = []
    for ti in range(1, dd):
        p0 = 1 if v1 < v0 else 0
        p1 = 0 if v0 + PEN < v1 else 1
        v0, v1 = min(v0, v1) + c0[ti], min(v1, v0 + PEN) + c1[ti]
        bs.append((p0, p1))
    cur = 1 if v1 < v0 else 0
    states = [cur]
    for p0, p1 in reversed(bs):
        cur = p0 if cur == 0 else p1
        states.append(cur)
    states.reverse()
    segs = states[0] + sum(
        1 for i in range(1, dd) if states[i] == 1 and states[i - 1] == 0
    )
    row = _run(spark, "events_burst_viterbi").collect()[0]
    assert row["n_days"] == dd
    assert row["n_burst_days"] == sum(states)
    assert row["n_burst_segments"] == segs
    assert row["min_cost_scaled"] == min(v0, v1)
    # non-vacuity: both states appear
    assert 0 < sum(states) < dd


def test_acf_pacf_matches_numpy_levinson(spark):
    """The nested-fold Durbin-Levinson must match a literal NumPy
    implementation of the recursion on the same centered ACF."""
    daily = _daily_cents(pd.read_parquet(f"{SF_SMALL}/orders.parquet"))
    y = (daily / 100.0).to_numpy()
    yc = y - y.mean()
    den = float((yc * yc).sum())
    K = 10
    rho = [
        float((yc[k:] * yc[:-k]).sum()) / den for k in range(1, K + 1)
    ]
    phi = [rho[0]]
    pacf = [rho[0]]
    for k in range(2, K + 1):
        num = rho[k - 1] - sum(
            phi[j] * rho[k - 2 - j] for j in range(k - 1)
        )
        d = 1.0 - sum(phi[j] * rho[j] for j in range(k - 1))
        kk = num / d
        phi = [phi[j] - kk * phi[k - 2 - j] for j in range(k - 1)] + [kk]
        pacf.append(kk)
    rows = {r["k"]: (r["acf"], r["pacf"]) for r in _run(spark, "analytics_acf_pacf").collect()}
    assert set(rows) == set(range(1, K + 1))
    for k in range(1, K + 1):
        assert math.isclose(rows[k][0], rho[k - 1], abs_tol=2e-6), k
        assert math.isclose(rows[k][1], pacf[k - 1], abs_tol=2e-6), k


def test_w1_drift_is_batching_invariant(spark):
    """The windowed bucket count is the only stateful stage and it is
    ADDITIVE: computing counts on two disjoint halves of the corpus
    and merging must give exactly the same per-window W1 as one pass
    (the streaming micro-batch merge contract)."""
    from pyspark.sql import functions as F

    from gcp_etl_spark.streaming.windows import w1_binned_counts, w1_drift
    from gcp_etl_spark.tables import t as tt

    e = tt(spark, SF_SMALL, "events")
    ref = e.groupBy(F.floor("value").cast("long").alias("b")).agg(
        F.count("*").alias("n_ref")
    )
    one = w1_drift(w1_binned_counts(e, watermark=None), ref)
    h1 = e.filter(F.col("event_id") % 2 == 0)
    h2 = e.filter(F.col("event_id") % 2 == 1)
    merged = (
        w1_binned_counts(h1, watermark=None)
        .unionAll(w1_binned_counts(h2, watermark=None))
        .groupBy("w_start", "b")
        .agg(F.sum("n").alias("n"))
    )
    two = w1_drift(merged, ref)
    r1 = {r["w_start"]: (r["n_window"], r["w1_drift"]) for r in one.collect()}
    r2 = {r["w_start"]: (r["n_window"], r["w1_drift"]) for r in two.collect()}
    assert r1 == r2 and len(r1) > 5
    # drift must be non-trivial somewhere (non-vacuous monitor)
    assert any(v[1] > 0 for v in r1.values())


def test_feature_cross_collision_gain_is_positive_and_exact(spark):
    """r9 ADVICE (medium): the old collision_gain compared
    distinct_crosses against Σ n_crosses over buckets — identical by
    construction (bucket is a function of the cross), so the metric
    was identically 0 and the shared-formula oracle could not see it.
    The fixed metric is 1 − buckets_used/distinct_crosses; this pin
    recomputes buckets and crosses from the raw parquet in pure
    Python and asserts the fixture REALLY collides (125 crosses into
    64 buckets ⇒ pigeonhole forces gain > 0)."""
    cust = pd.read_parquet(
        f"{SF_SMALL}/customer.parquet",
        columns=["c_nationkey", "c_mktsegment"],
    )
    mod, buckets = 2147483647, 64

    def roll(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % mod
        return h

    crosses = set(
        zip(cust["c_nationkey"].tolist(), cust["c_mktsegment"].tolist())
    )
    used = {(int(n) * 31 + roll(seg)) % buckets for n, seg in crosses}
    want_gain = round(1.0 - len(used) / len(crosses), 6)
    assert want_gain > 0, "fixture must actually produce collisions"
    row = _run(spark, "prep_hashed_feature_cross").collect()[0]
    assert row["buckets_used"] == len(used)
    assert row["distinct_crosses"] == len(crosses)
    assert math.isclose(row["collision_gain"], want_gain, abs_tol=1e-9)


def test_synthgen_stream_offset_survives_restart():
    """r9 ADVICE (low): a reader restarted from a durable checkpoint
    must not report latestOffset below the committed offset (Spark's
    microbatch planner requires monotone offsets). Simulate recovery:
    a FRESH reader instance first sees the engine's replay calls
    (partitions/commit at the committed position), then its next
    latestOffset must resume from there, not from 0."""
    from pyspark.sql.types import StructType

    from gcp_etl_spark.sources.synthgen import SynthGenStreamReader

    r1 = SynthGenStreamReader(StructType([]), {"rows": 2000, "batchRows": 500})
    assert r1.latestOffset() == {"pos": 500}
    assert r1.latestOffset() == {"pos": 1000}
    # restart: new instance, driver memory gone; engine replays the
    # committed batch before asking for new offsets
    r2 = SynthGenStreamReader(StructType([]), {"rows": 2000, "batchRows": 500})
    r2.partitions({"pos": 500}, {"pos": 1000})
    r2.commit({"pos": 1000})
    nxt = r2.latestOffset()
    assert nxt["pos"] >= 1000, nxt
    assert nxt["pos"] == 1500  # resumes forward, one batch at a time
