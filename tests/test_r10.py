"""Round-10 pins (r9 verdict asks #7 and the new operators): value
gates for queries that were previously rows-only, and step-for-step
reference checks for the round-10 operators — each independent of the
DuckDB oracles, recomputing the claimed definition in NumPy/pure
Python from the raw fixture parquet."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _run(spark, name):
    from gcp_etl_spark.queries import load_all

    return load_all()[name].fn(spark, SF_SMALL)


def test_approx_distinct_within_hll_tolerance(spark):
    """r9 ask #7: agg_approx_distinct was rows-only (approximate, so
    no value hash can match DuckDB's different HLL implementation) —
    but the estimate is still VALUE-GATEABLE against the exact
    distinct count: Spark's approx_count_distinct default rsd is 0.05,
    so a 3-sigma band of 15% is a sound, non-vacuous gate (the HLL
    sketch family already carries a 2% gate at its tuned precision)."""
    exact = (
        pd.read_parquet(
            f"{SF_SMALL}/lineitem.parquet",
            columns=["l_partkey", "l_orderkey"],
        )
        .nunique()
        .to_dict()
    )
    row = _run(spark, "agg_approx_distinct").collect()[0]
    for col, key in (
        ("approx_parts", "l_partkey"),
        ("approx_orders", "l_orderkey"),
    ):
        rel = abs(row[col] - exact[key]) / exact[key]
        assert rel <= 0.15, (col, row[col], exact[key], rel)


def test_pca_eigenvalue_spectrum_matches_numpy(spark):
    """r9 ask #7: embedding_pca_project's geometry pytest checked
    monotone/decorrelated variances but never pinned the SPECTRUM.
    This recomputes the full-corpus covariance eigenvalues in NumPy
    (deterministic fixture — no seed needed) and asserts the query's
    per-component projection variances equal the top eigenvalues,
    which is the defining property of PCA (var along the i-th
    principal axis == i-th eigenvalue)."""
    emb = pd.read_parquet(f"{SF_SMALL}/embeddings.parquet")
    M = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in emb["embedding"]]
    )
    evals = np.linalg.eigvalsh(np.cov(M.T))[::-1]  # descending
    rows = (
        _run(spark, "embedding_pca_project")
        .select("pc1", "pc2", "pc3", "pc4")
        .collect()
    )
    P = np.asarray([[r[0], r[1], r[2], r[3]] for r in rows])
    got = np.var(P, axis=0, ddof=1)
    for i in range(4):
        assert math.isclose(got[i], evals[i], rel_tol=1e-4), (
            i,
            got[i],
            evals[i],
        )
    # the projection must capture the top-4 share of total variance
    total = np.var(M, axis=0, ddof=1).sum()
    assert math.isclose(got.sum() / total, evals[:4].sum() / total, rel_tol=1e-4)


def _load_emb():
    emb = pd.read_parquet(f"{SF_SMALL}/embeddings.parquet")
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    M = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in emb["embedding"]]
    )
    return emb["vec_id"].to_numpy(), M


def _lloyd_numpy(M, k=8, iters=3, dp=8):
    """Step-for-step replay of the distributed Lloyd recurrence: init
    = k smallest-id vectors rounded dp, assignment = squared-L2 argmin
    (ties -> smallest cid), update = per-dim mean rounded dp, emptied
    cluster keeps its center."""
    C = np.round(M[:k].copy(), dp)
    for _ in range(iters):
        d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        C = C.copy()
        for j in range(k):
            pts = M[a == j]
            if len(pts):
                C[j] = np.round(pts.mean(axis=0), dp)
    d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    return C, d.argmin(axis=1), d.min(axis=1)


def test_kmeans_lloyd_matches_numpy_recurrence(spark):
    """r9 ask #2: the distributed Lloyd query must equal a from-scratch
    NumPy replay of the declared recurrence — independent of BOTH
    engines (the hash gate alone cannot catch a formula both engines
    transcribed wrong, the r9b Viterbi lesson)."""
    _, M = _load_emb()
    C, a, sq = _lloyd_numpy(M)
    rows = {r["cid"]: r for r in _run(spark, "train_kmeans_lloyd").collect()}
    assert set(rows) == set(np.unique(a).tolist())
    for j, r in rows.items():
        assert r["n_points"] == int((a == j).sum())
        for idx, col in enumerate(["c0", "c1", "c2", "c3"]):
            assert math.isclose(r[col], round(C[j, idx], 6), abs_tol=1e-9)
        assert math.isclose(
            r["center_norm"],
            round(float(np.sqrt((C[j] ** 2).sum())), 6),
            abs_tol=1e-6,
        )
        assert math.isclose(
            r["inertia"], float(sq[a == j].sum()), abs_tol=1e-4
        ), (j, r["inertia"], sq[a == j].sum())


def test_ivf_refinement_never_increases_corpus_inertia(spark):
    """The full-corpus Lloyd refinement behind the IVF quantizer (r9
    ask #2 wiring) must obey Lloyd monotonicity ON THE FULL CORPUS:
    assigning every vector to the refined centers yields inertia <=
    the sample-only centers' (small slack for the 8dp centroid
    rounding), i.e. refinement genuinely incorporates vectors the
    driver-side sample never saw."""
    from gcp_etl_spark.llm.ivf import ivf_assign
    from gcp_etl_spark.tables import t as tt

    emb = tt(spark, SF_SMALL, "embeddings")
    # train_sample=64 << the 500-vector corpus, so the sample is a
    # genuine subset (at the default 4096 the sf0.001 corpus IS the
    # sample and refinement is a no-op by construction)
    _, C0 = ivf_assign(emb, n_centroids=8, refine_iters=0, train_sample=64)
    _, C2 = ivf_assign(emb, n_centroids=8, refine_iters=2, train_sample=64)
    _, M = _load_emb()

    def inertia(C):
        d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return float(d.min(axis=1).sum())

    i0, i2 = inertia(np.asarray(C0)), inertia(np.asarray(C2))
    assert i2 <= i0 + 1e-6, (i2, i0)
    # non-vacuous: the refinement actually moved the centers
    assert not np.allclose(C0, C2)


def test_ivf_refined_recall_vs_exact(spark):
    """The refined-quantizer ANN path keeps recall at least at the
    un-refined floor (probing 3/8 lists; neighbors concentrate in the
    query's own cell)."""
    from pyspark.sql import functions as F

    from gcp_etl_spark.llm.ivf import cosine_topk_ivf
    from gcp_etl_spark.llm.similarity import cosine_topk
    from gcp_etl_spark.tables import t as tt

    emb = tt(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=5)
    approx = cosine_topk_ivf(
        emb, queries, k=5, n_centroids=8, nprobe=3, refine_iters=2
    )
    e = {(r["q_id"], r["n_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["n_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"refined-IVF recall collapsed: {recall:.2f}"


# ------------------- unigram-LM EM tokenizer (r9 ask #3) -------------


def _doc_vocab_pd():
    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet", columns=["text"])
    freq: dict[str, int] = {}
    for txt in docs["text"]:
        for w in str(txt).lower().split(" "):
            if w:
                freq[w] = freq.get(w, 0) + 1
    return freq


def _seed_ref(freq, max_len=4, min_freq=2, max_pieces=160):
    counts: dict[str, int] = {}
    for w, f in freq.items():
        for s in range(len(w)):
            for ln in range(1, min(max_len, len(w) - s) + 1):
                piece = w[s : s + ln]
                counts[piece] = counts.get(piece, 0) + f
    chars = sorted((p, n) for p, n in counts.items() if len(p) == 1)
    multi = sorted(
        ((p, n) for p, n in counts.items() if len(p) > 1 and n >= min_freq),
        key=lambda kv: (-kv[1], kv[0]),
    )[:max_pieces]
    return sorted(chars + multi)


def _segmentations(w, probs, max_len=4):
    """ALL segmentations of w into vocab pieces with their product
    probability — brute force, the independent check on the engine's
    forward-backward lattice."""
    if not w:
        yield [], 1.0
        return
    for ln in range(1, min(max_len, len(w)) + 1):
        p = probs.get(w[:ln])
        if p:
            for rest, pr in _segmentations(w[ln:], probs, max_len):
                yield [w[:ln]] + rest, p * pr


def _em_ref(freq, iters=2, max_len=4):
    """Pure-Python EM with BRUTE-FORCE expected counts (enumerate all
    segmentations) — no shared code with the lattice fold."""
    seed = _seed_ref(freq, max_len=max_len)
    total = float(sum(n for _, n in seed))
    probs = {p: n / total for p, n in seed}
    for _ in range(iters):
        counts: dict[str, float] = {}
        for w in sorted(freq):
            segs = list(_segmentations(w, probs, max_len))
            z = sum(pr for _, pr in segs)
            if z <= 0:
                continue
            for toks, pr in segs:
                for tk in toks:
                    counts[tk] = counts.get(tk, 0.0) + freq[w] * pr / z
        counts = {p: round(e, 6) for p, e in counts.items() if round(e, 6)}
        zz = sum(counts[p] for p in sorted(counts))
        probs = {p: counts[p] / zz for p in sorted(counts)}
    return probs


def test_unigram_em_matches_bruteforce_reference(spark):
    """r9 ask #3: the distributed EM trainer must match, EM-step for
    EM-step, a pure-Python reference whose E-step enumerates every
    segmentation explicitly (no forward-backward shared code). The
    6dp expected-count rounding at each M-step is the declared
    determinism boundary, so final probabilities agree to 1e-9."""
    from gcp_etl_spark.functions.unigram_lm import em_train
    from gcp_etl_spark.queries import load_all
    from gcp_etl_spark.tables import t as tt
    from pyspark.sql import functions as F

    freq = _doc_vocab_pd()
    want = _em_ref(freq, iters=2, max_len=4)

    d = tt(spark, SF_SMALL, "documents")
    vocab = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    got = em_train(vocab, iters=2, max_len=4)
    assert set(got) == set(want), (
        len(set(got) ^ set(want)),
        sorted(set(got) ^ set(want))[:10],
    )
    for p in want:
        assert math.isclose(got[p], want[p], abs_tol=1e-9), (
            p, got[p], want[p],
        )
    # and the registered query's top-30 table equals the reference's
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    rows = load_all()["train_unigram_lm"].fn(spark, SF_SMALL).collect()
    assert len(rows) == 30
    for r, (piece, pr) in zip(sorted(rows, key=lambda r: r["rank"]), top):
        assert r["piece"] == piece and math.isclose(
            r["prob"], round(pr, 8), abs_tol=1e-8
        )


def test_unigram_fertility_roundtrip_matches_reference(spark):
    """The quality-twin query's fertility / round-trip metrics must
    equal a brute-force replay: per-word best segmentation by max
    product probability (enumerated, not Viterbi), token counts
    freq-weighted, and ZERO round-trip violations."""
    from gcp_etl_spark.queries import load_all

    freq = _doc_vocab_pd()
    probs = _em_ref(freq, iters=2, max_len=4)
    tot_w = tot_t = fallback = 0
    for w, f in freq.items():
        segs = list(_segmentations(w, probs, max_len=4))
        assert segs, f"word {w!r} unsegmentable"
        best = max(segs, key=lambda tp: tp[1])[0]
        tot_w += f
        tot_t += f * len(best)
        fallback += f * sum(1 for tk in best if len(tk) == 1)
    row = (
        load_all()["unigram_fertility_roundtrip"].fn(spark, SF_SMALL).collect()
    )[0]
    assert row["n_words"] == len(freq)
    assert row["corpus_words"] == tot_w
    assert row["corpus_tokens"] == tot_t, (row["corpus_tokens"], tot_t)
    assert math.isclose(row["fertility"], round(tot_t / tot_w, 6), abs_tol=1e-6)
    assert row["roundtrip_violations"] == 0
    assert math.isclose(
        row["char_fallback_share"], round(fallback / tot_t, 6), abs_tol=1e-6
    )


def test_banding_curve_contract(spark):
    """r9 ask #4: along the banding curve at fixed signature length,
    candidate sets are NESTED (an r-row band colliding implies both
    r/2-row halves collide), so both n_candidates and recall must be
    non-decreasing in bands — deterministically, not statistically —
    and the aggressive end of the curve must clear the 0.9
    recall-vs-exact floor the shipped bands=16 default already meets.
    Precision at bands=32 must show the flood (strictly below the
    bands=4 end) or the curve carries no information."""
    rows = sorted(
        _run(spark, "dedup_minhash_banding_curve").collect(),
        key=lambda r: r["bands"],
    )
    assert [r["bands"] for r in rows] == [4, 8, 16, 32]
    for a, b in zip(rows, rows[1:]):
        assert b["n_candidates"] >= a["n_candidates"], (a, b)
        assert b["recall"] >= a["recall"], (a, b)
        assert b["s_half"] < a["s_half"]  # theory: threshold moves down
    assert rows[0]["n_true"] > 0, "fixture must contain near-dup pairs"
    assert rows[-1]["recall"] >= 0.9
    assert rows[-1]["precision"] < rows[0]["precision"]
    # truth-set consistency: true_positives never exceeds either side
    for r in rows:
        assert r["true_positives"] <= min(r["n_candidates"], r["n_true"])


def test_banding_curve_counts_equal_brute_force(spark):
    """optimization r12: the curve's single finest-banding join +
    nested slice-equality flags must report EXACTLY the per-banding
    candidate counts of the definition — #{pairs (a<b) with at least
    one fully-equal r-row aligned band} — computed here by a NumPy
    brute force over every pair of collected signatures."""
    import numpy as np
    from pyspark.sql import functions as F

    from gcp_etl_spark.llm.dedup import minhash_signatures
    from gcp_etl_spark.tables import t

    d = t(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 1250)
    sig = minhash_signatures(d, "doc_id", "text", 64, 3)
    rows = sig.orderBy("doc_id").collect()
    M = np.asarray([r["sig"] for r in rows], dtype=np.int64)  # n x 64
    n = M.shape[0]
    eq = M[:, None, :] == M[None, :, :]  # n x n x 64 agreement
    iu = np.triu_indices(n, k=1)
    expect = {}
    for bands in (4, 8, 16, 32):
        r = 64 // bands
        band_eq = eq.reshape(n, n, bands, r).all(axis=3).any(axis=2)
        expect[bands] = int(band_eq[iu].sum())
    got = {
        row["bands"]: row["n_candidates"]
        for row in _run(spark, "dedup_minhash_banding_curve").collect()
    }
    assert got == expect, (got, expect)


# ------------- managed-store concurrent writers (r9 ask #5) ----------


def test_write_managed_cas_two_writers(spark, tmp_path):
    """r9 ask #5: two writers read the same base generation and race
    read-modify-write commits. The CAS contract: the first commit
    wins; the second raises GenerationConflictError, its staged
    generation dir is REMOVED (clean loss, no orphan), the table
    still holds the winner's rows — and a retry against the NEW
    generation succeeds."""
    import pytest

    from gcp_etl_spark import io

    d = str(tmp_path / "tbl")
    base = spark.range(10).withColumnRenamed("id", "k")
    assert io.write_managed(base, d) == 0

    # both writers base their work on generation 0
    a = io.read_managed(spark, d).withColumn(
        "v", F.col("k") * 2
    )
    b = io.read_managed(spark, d).withColumn(
        "v", F.col("k") * 100
    )
    assert io.write_managed(a, d, expect_generation=0) == 1
    with pytest.raises(io.GenerationConflictError):
        io.write_managed(b, d, expect_generation=0)
    # loser cleaned up: no staged orphan dir beyond the active gen
    assert io.list_generations(d) == [0, 1]
    assert io.active_generation(d) == 1
    got = {r["k"]: r["v"] for r in io.read_managed(spark, d).collect()}
    assert got == {k: k * 2 for k in range(10)}  # winner's rows intact
    # the loser retries from the new state and lands cleanly
    b2 = io.read_managed(spark, d).withColumn(
        "v2", F.col("v") + 1
    )
    assert io.write_managed(b2, d, expect_generation=1) == 2


def test_merge_managed_detects_stale_read(spark, tmp_path, monkeypatch):
    """A MERGE whose target READ predates another writer's commit must
    lose cleanly: simulate the interleave by letting the merge see
    generation 0 at read time (mock sequence) while generation 1 has
    already been committed — the CAS re-check under the manifest lock
    must raise, and the committed generation-1 rows must survive
    untouched."""
    import pytest

    from gcp_etl_spark import io

    d = str(tmp_path / "tbl")
    base = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    io.write_managed(base, d)  # gen 0

    # another writer commits gen 1 (doubles v)
    io.write_managed(
        io.read_managed(spark, d).withColumn("v", F.col("v") * 2),
        d,
        expect_generation=0,
    )

    # stale merge: its read resolves generation 0 (the mock's first
    # answer), but the real manifest says 1 by commit time
    real = io.active_generation
    answers = iter([0])

    def stale_first(path):
        try:
            return next(answers)
        except StopIteration:
            return real(path)

    monkeypatch.setattr(io, "active_generation", stale_first)
    cdc = spark.range(3).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    with pytest.raises(io.GenerationConflictError):
        io.merge_managed(spark, d, cdc, ["k"])
    monkeypatch.undo()
    assert io.active_generation(d) == 1
    got = {r["k"]: r["v"] for r in io.read_managed(spark, d).collect()}
    assert got == {k: k * 20 for k in range(10)}  # gen-1 untouched
    assert io.list_generations(d) == [0, 1]  # loser's staging removed


# ---------------- round-10 second batch: stats/ML pins ---------------


def test_croston_matches_python_recurrence(spark):
    """Croston z/p SES folds replayed step-by-step in Python floats
    from the raw parquet (identical IEEE ops), plus the SBA identity
    and the intermittency ratio."""
    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    li = pd.read_parquet(
        f"{SF_SMALL}/lineitem.parquet",
        columns=["l_orderkey", "l_partkey", "l_quantity"],
    )
    sl = li[li["l_partkey"] % 97 == 0].merge(
        orders[["o_orderkey", "o_orderdate"]],
        left_on="l_orderkey",
        right_on="o_orderkey",
    )
    daily = (
        sl.groupby(sl["o_orderdate"].dt.normalize())["l_quantity"]
        .sum()
        .astype("int64")
        .sort_index()
    )
    qs = daily.to_numpy()
    ds = daily.index.to_numpy()
    gaps = [1] + [
        int((ds[i] - ds[i - 1]) / np.timedelta64(1, "D"))
        for i in range(1, len(ds))
    ]
    z, p = float(qs[0]), float(gaps[0])
    for i in range(1, len(qs)):
        z = 0.1 * float(qs[i]) + (1 - 0.1) * z
        p = 0.1 * float(gaps[i]) + (1 - 0.1) * p
    row = _run(spark, "analytics_croston").collect()[0]
    assert row["n_demands"] == len(qs)
    assert row["total_demand"] == int(qs.sum())
    assert math.isclose(row["z_hat"], round(z, 6), abs_tol=1e-9)
    assert math.isclose(row["p_hat"], round(p, 6), abs_tol=1e-9)
    assert math.isclose(row["croston_forecast"], round(z / p, 6), abs_tol=1e-9)
    assert math.isclose(
        row["sba_forecast"], round(0.95 * z / p, 6), abs_tol=1e-9
    )
    n_days = orders["o_orderdate"].dt.normalize().nunique()
    assert math.isclose(
        row["intermittency"], round(1 - len(qs) / n_days, 6), abs_tol=1e-9
    )
    assert row["intermittency"] > 0.5, "series must be genuinely intermittent"


def test_cooks_distance_matches_numpy(spark):
    """Cook's D / leverage / residuals recomputed with numpy lstsq
    and the hat-matrix definition (not the query's closed-form moment
    identities), top-10 set and values must agree."""
    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    daily = (
        (orders["o_totalprice"] * 100)
        .round()
        .astype("int64")
        .groupby(orders["o_orderdate"].dt.normalize())
        .sum()
        .sort_index()
    )
    y = daily.to_numpy() / 100.0
    n = len(y)
    x = np.arange(1, n + 1, dtype=float)
    X = np.column_stack([np.ones(n), x])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    e = y - X @ beta
    h = 1.0 / n + (x - x.mean()) ** 2 / ((x - x.mean()) ** 2).sum()
    s2 = (e**2).sum() / (n - 2)
    d = e**2 * h / (2 * s2 * (1 - h) ** 2)
    order = np.lexsort((np.arange(n), -d))[:10]
    rows = _run(spark, "stats_cooks_distance").collect()
    assert len(rows) == 10
    for r, i in zip(rows, order):
        assert r["x"] == i + 1
        assert math.isclose(r["resid"], e[i], abs_tol=1e-4)
        assert math.isclose(r["leverage"], h[i], abs_tol=1e-6)
        assert math.isclose(r["cook_d"], d[i], rel_tol=1e-4)


def test_bh_fdr_matches_python_stepup(spark):
    """BH step-up replayed in pure Python from the raw parquet, and
    the embedded critical literals independently validated against
    math.erf (Python's own erf — no Acklam code shared): each crit_i
    must satisfy 2(1 - Phi(crit_i)) == i*q/m to 1e-8."""
    from gcp_etl_spark.queries.stats_ops import _bh_crit_literals

    crits = _bh_crit_literals()
    m, q = 25, 0.10
    for i, zc in enumerate(crits, start=1):
        p = 2 * (1 - 0.5 * (1 + math.erf(zc / math.sqrt(2))))
        assert math.isclose(p, i * q / m, rel_tol=0, abs_tol=1e-8), (i, p)
    cust = pd.read_parquet(
        f"{SF_SMALL}/customer.parquet", columns=["c_nationkey", "c_acctbal"]
    )
    cents = (cust["c_acctbal"] * 100).round().astype("int64")
    g = pd.DataFrame({"nat": cust["c_nationkey"], "c": cents}).groupby("nat")
    nn, ssc, ssc2 = len(cents), float(cents.sum()), float((cents**2).sum())
    mu, var = ssc / nn, ssc2 / nn - (ssc / nn) ** 2
    az = {
        nat: abs((grp["c"].sum() / len(grp) - mu) * math.sqrt(len(grp))
                 / math.sqrt(var))
        for nat, grp in g
    }
    ranked = sorted(az.items(), key=lambda kv: (-kv[1], kv[0]))
    k = 0
    for i, (_, zval) in enumerate(ranked, start=1):
        if zval >= crits[i - 1]:
            k = i
    rows = sorted(
        _run(spark, "stats_bh_fdr").collect(), key=lambda r: r["rank_desc"]
    )
    assert len(rows) == len(ranked) == 25
    for r, (nat, zval) in zip(rows, ranked):
        assert r["nation"] == nat
        assert math.isclose(r["abs_z"], round(zval, 6), abs_tol=1e-6)
        assert r["rejected"] == (r["rank_desc"] <= k)
    # the fixture is IID by construction — the GLOBAL NULL IS TRUE, so
    # the correct BH answer is zero rejections; assert the engine said
    # exactly that (k == the replay's k == 0 here), and pin the step-up
    # MECHANISM on a synthetic z-vector where it must fire: 6 strong
    # signals above every threshold they meet, 19 nulls below all.
    assert k == 0 and all(not r["rejected"] for r in rows)
    synth = sorted([5.0, 4.8, 4.5, 4.2, 3.9, 3.6] + [0.5] * 19, reverse=True)
    ks = 0
    for i, zval in enumerate(synth, start=1):
        if zval >= crits[i - 1]:
            ks = i
    assert ks == 6, ks  # every strong z clears its rank's threshold


def test_split_conformal_matches_python_and_covers(spark):
    """Split-conformal replayed from the raw parquet: the same folds,
    group-mean model, exact order-statistic q-hat — and the realized
    test coverage must sit within 3 binomial sigmas of the 1-alpha
    guarantee (the guarantee is in expectation over exchangeable
    splits, so +/- sampling noise is the correct gate)."""
    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    cents = (orders["o_totalprice"] * 100).round().astype("int64")
    df = pd.DataFrame(
        {
            "k": orders["o_orderkey"],
            "grp": orders["o_orderpriority"],
            "cents": cents,
            "fold": orders["o_orderkey"] % 4,
        }
    )
    train = df[df["fold"].isin([0, 2])]
    model = train.groupby("grp")["cents"].apply(
        lambda s: s.sum() * 1.0 / len(s)
    )
    cal = df[df["fold"] == 1]
    r = (cal["cents"] - cal["grp"].map(model)).abs().sort_values().to_numpy()
    nc = len(r)
    pos = min(int(math.ceil((nc + 1) * 0.9)), nc)
    qhat = float(r[pos - 1])
    test = df[df["fold"] == 3]
    cov = float(
        ((test["cents"] - test["grp"].map(model)).abs() <= qhat).mean()
    )
    row = _run(spark, "ml_split_conformal").collect()[0]
    assert row["n_train"] == len(train)
    assert row["n_cal"] == nc
    assert row["n_test"] == len(test)
    assert math.isclose(row["qhat_cents"], round(qhat, 6), abs_tol=1e-6)
    assert math.isclose(row["coverage"], round(cov, 6), abs_tol=1e-6)
    # the conformal guarantee is MARGINAL over BOTH the calibration
    # draw and the test draw: q-hat itself is a noisy quantile, so the
    # 3-sigma gate must combine both folds' binomial noise
    sigma = math.sqrt(0.1 * 0.9 * (1 / nc + 1 / len(test)))
    assert row["coverage"] >= 0.9 - 3 * sigma, (row["coverage"], sigma)


# ---------------- round-10 third batch pins --------------------------


def test_jonckheere_matches_bruteforce_pairs(spark):
    """J recomputed by brute force over the raw rows (every cross-group
    pair counted directly, no grid algebra), plus the mean/variance
    formulas from the group sizes."""
    li = pd.read_parquet(
        f"{SF_SMALL}/lineitem.parquet", columns=["l_linenumber", "l_quantity"]
    )
    groups = {
        g: np.sort(v["l_quantity"].to_numpy())
        for g, v in li.groupby("l_linenumber")
    }
    keys = sorted(groups)
    two_j = 0
    for i, g in enumerate(keys):
        for h in keys[i + 1 :]:
            a, b = groups[g], groups[h]
            lt = np.searchsorted(b, a, side="left")
            le = np.searchsorted(b, a, side="right")
            two_j += int(2 * (len(b) - le).sum() + (le - lt).sum())
    n = len(li)
    sizes = np.array([len(groups[g]) for g in keys], dtype=float)
    jm = (n * n - (sizes**2).sum()) / 4
    var = (n * n * (2 * n + 3) - (sizes**2 * (2 * sizes + 3)).sum()) / 72
    row = _run(spark, "stats_jonckheere_terpstra").collect()[0]
    assert row["n_rows"] == n
    assert math.isclose(row["j_stat"], two_j / 2, abs_tol=0.051)
    assert math.isclose(row["j_mean"], jm, abs_tol=0.051)
    assert math.isclose(
        row["z"], (two_j / 2 - jm) / math.sqrt(var), abs_tol=1e-6
    )


def _daily_cents_series():
    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    return (
        (orders["o_totalprice"] * 100)
        .round()
        .astype("int64")
        .groupby(orders["o_orderdate"].dt.normalize())
        .sum()
        .sort_index()
    )


def test_stl_decompose_matches_numpy(spark):
    """MA trend / weekday seasonal / variance shares recomputed with
    numpy convolution and plain variance (no decimal casting — the
    query's order-proof arithmetic must agree with the naive float
    formula to 1e-6 on shares)."""
    daily = _daily_cents_series()
    y = daily.to_numpy().astype(float)
    dows = (daily.index - pd.Timestamp("1970-01-01")).days.to_numpy() % 7
    s7 = np.convolve(y, np.ones(7), mode="valid")  # full windows
    y7 = 7 * y[3:-3]
    d7 = dows[3:-3]
    det7 = y7 - s7
    s7m = {d: det7[d7 == d].mean() for d in range(7)}
    seas = np.array([s7m[d] for d in d7])
    shares = (
        np.var(s7),
        np.var(seas),
        np.var(det7 - seas) + np.mean(det7 - seas) ** 2,  # Σr²/n
        np.var(y7),
    )
    rows = sorted(
        _run(spark, "analytics_stl_decompose").collect(),
        key=lambda r: r["dow"],
    )
    assert [r["dow"] for r in rows] == list(range(7))
    for r in rows:
        assert r["n_days"] == int((d7 == r["dow"]).sum())
        assert math.isclose(
            r["seasonal_cents"], s7m[r["dow"]] / 7, abs_tol=1e-3
        )
        assert math.isclose(r["trend_share"], shares[0] / shares[3], abs_tol=1e-6)
        assert math.isclose(
            r["seasonal_share"], shares[1] / shares[3], abs_tol=1e-6
        )
        assert math.isclose(
            r["remainder_share"], shares[2] / shares[3], abs_tol=1e-6
        )
    # sanity: a random-ish revenue series is remainder-dominated
    assert rows[0]["remainder_share"] > rows[0]["seasonal_share"]


def test_breusch_pagan_matches_numpy(spark):
    """LM = n R²_aux recomputed with numpy lstsq on both stages."""
    daily = _daily_cents_series()
    y = daily.to_numpy() / 100.0
    n = len(y)
    x = np.arange(1, n + 1, dtype=float)
    X = np.column_stack([np.ones(n), x])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    e2 = (y - X @ beta) ** 2
    g, *_ = np.linalg.lstsq(X, e2, rcond=None)
    ss_res = ((e2 - X @ g) ** 2).sum()
    ss_tot = ((e2 - e2.mean()) ** 2).sum()
    r2 = 1 - ss_res / ss_tot
    row = _run(spark, "stats_breusch_pagan").collect()[0]
    assert row["n_days"] == n
    assert math.isclose(row["r2_aux"], r2, abs_tol=1e-6)
    assert math.isclose(row["lm_stat"], n * r2, abs_tol=1e-3)
    assert row["heteroskedastic_5pct"] == (n * r2 > 3.841458820694124)


def test_simhash_radius_curve_contract(spark):
    """Verified pair counts are NESTED/monotone in the radius, and the
    pigeonhole banding is LOSSLESS: at fixture scale the banded
    verified set equals brute-force all-pairs Hamming over the same
    signatures, for every radius on the curve."""
    from gcp_etl_spark.llm.dedup import simhash_signatures
    from gcp_etl_spark.tables import t as tt

    rows = sorted(
        _run(spark, "dedup_simhash_radius_curve").collect(),
        key=lambda r: r["radius"],
    )
    assert [r["radius"] for r in rows] == [1, 2, 3, 5]
    for a, b in zip(rows, rows[1:]):
        assert b["n_verified"] >= a["n_verified"]
        assert a["n_verified"] <= a["n_candidates"]
    assert rows[-1]["n_verified"] > 0, "fixture must contain near-dups"
    # losslessness: brute-force hamming over the engine's signatures
    d = tt(spark, SF_SMALL, "documents")
    sigs = {
        r["id"]: r["sig"]
        for r in simhash_signatures(d, "doc_id", "text").collect()
    }
    ids = sorted(sigs)
    ham = {
        k: 0 for k in (1, 2, 3, 5)
    }
    for i, a_ in enumerate(ids):
        for b_ in ids[i + 1 :]:
            h = bin((sigs[a_] ^ sigs[b_]) & ((1 << 64) - 1)).count("1")
            for k in ham:
                if h <= k:
                    ham[k] += 1
    for r in rows:
        assert r["n_verified"] == ham[r["radius"]], (r["radius"], r, ham)


def test_fdr_drift_is_batching_invariant(spark):
    """The windowed per-group moment agg is the FDR drift monitor's
    ONLY stateful stage and it is ADDITIVE: counts/sums from two
    disjoint halves of the corpus merged must yield exactly the same
    per-(window, group) decisions as one pass (the streaming
    micro-batch merge contract, same as the W1 monitor's pin)."""
    from gcp_etl_spark.queries.stats_ops import _bh_crit_literals
    from gcp_etl_spark.streaming.windows import (
        fdr_drift,
        group_moment_windows,
    )
    from gcp_etl_spark.tables import t as tt

    e = tt(spark, SF_SMALL, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    ref = e.groupBy(F.col("event_type").alias("g")).agg(
        (
            F.sum(cents.cast("decimal(38,0)")).cast("double") / F.count("*")
        ).alias("mu"),
        F.sqrt(
            F.sum(
                cents.cast("decimal(38,0)") * cents.cast("decimal(38,0)")
            ).cast("double")
            / F.count("*")
            - (F.sum(cents.cast("decimal(38,0)")).cast("double") / F.count("*"))
            * (F.sum(cents.cast("decimal(38,0)")).cast("double") / F.count("*"))
        ).alias("sd"),
    )
    crit = spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(_bh_crit_literals(m=5, q=0.10))],
        "i int, zc double",
    )
    one = fdr_drift(
        group_moment_windows(e, watermark=None).select(
            "w_start", "g", "n", "sc"
        ),
        ref,
        crit,
    )
    h1 = e.filter(F.col("event_id") % 2 == 0)
    h2 = e.filter(F.col("event_id") % 2 == 1)
    merged = (
        group_moment_windows(h1, watermark=None)
        .unionAll(group_moment_windows(h2, watermark=None))
        .groupBy("w_start", "g")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sc").alias("sc"),
        )
        .select("w_start", "g", "n", F.col("sc").cast("decimal(38,0)").alias("sc"))
    )
    two = fdr_drift(merged, ref, crit)
    key = lambda r: (r["w_start"], r["g"])  # noqa: E731
    r1 = {key(r): (r["n_events"], r["abs_z"], r["drifted"]) for r in one.collect()}
    r2 = {key(r): (r["n_events"], r["abs_z"], r["drifted"]) for r in two.collect()}
    assert r1 == r2 and len(r1) > 20


def test_price_elasticity_matches_numpy(spark):
    """Elasticity slope and R² recomputed with numpy lstsq over
    per-part log price / log demand from the raw parquet."""
    li = pd.read_parquet(
        f"{SF_SMALL}/lineitem.parquet",
        columns=["l_partkey", "l_extendedprice", "l_quantity"],
    )
    cents = (li["l_extendedprice"] * 100).round().astype("int64")
    qty = li["l_quantity"].astype("int64")
    g = pd.DataFrame(
        {"pk": li["l_partkey"], "c": cents, "q": qty}
    ).groupby("pk").sum()
    x = np.log(g["c"].to_numpy(dtype=float) / g["q"].to_numpy(dtype=float))
    y = np.log(g["q"].to_numpy(dtype=float))
    X = np.column_stack([np.ones(len(x)), x])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    r = np.corrcoef(x, y)[0, 1]
    row = _run(spark, "analytics_price_elasticity").collect()[0]
    assert row["n_parts"] == len(g)
    assert math.isclose(row["elasticity"], beta[1], abs_tol=1e-5)
    assert math.isclose(row["r2"], r * r, abs_tol=1e-5)


def test_mondrian_conformal_matches_python_and_covers_per_group(spark):
    """Per-group q-hat and coverage replayed from the raw parquet; the
    group-conditional guarantee gates EVERY group's coverage at
    1-alpha minus 3 combined binomial sigmas (calibration + test
    noise, per group)."""
    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    cents = (orders["o_totalprice"] * 100).round().astype("int64")
    df = pd.DataFrame(
        {
            "grp": orders["o_orderpriority"],
            "cents": cents,
            "fold": orders["o_orderkey"] % 4,
        }
    )
    model = df[df["fold"].isin([0, 2])].groupby("grp")["cents"].apply(
        lambda s: s.sum() * 1.0 / len(s)
    )
    rows = {
        r["grp"]: r
        for r in _run(spark, "ml_conformal_mondrian").collect()
    }
    for grp, m in model.items():
        cal = df[(df["fold"] == 1) & (df["grp"] == grp)]
        r = (cal["cents"] - m).abs().sort_values().to_numpy()
        nc = len(r)
        pos = min(int(math.ceil((nc + 1) * 0.9)), nc)
        qhat = float(r[pos - 1])
        test = df[(df["fold"] == 3) & (df["grp"] == grp)]
        cov = float(((test["cents"] - m).abs() <= qhat).mean())
        row = rows[grp]
        assert row["n_test"] == len(test)
        assert math.isclose(row["qhat_cents"], round(qhat, 6), abs_tol=1e-6)
        assert math.isclose(row["coverage"], round(cov, 6), abs_tol=1e-6)
        sigma = math.sqrt(0.1 * 0.9 * (1 / nc + 1 / len(test)))
        assert row["coverage"] >= 0.9 - 3 * sigma, (grp, row["coverage"])
    assert set(rows) == set(model.index)


def test_conformal_rank_plan_has_no_single_partition_rank(spark):
    """r10 verdict ask #2 plan pin: both conformal queries must rank
    their corpus-proportional calibration fold through the two-pass
    range-partitioned rank, never an unpartitioned (or
    bounded-group-partitioned) WindowExec. Asserted on the PHYSICAL
    plan: (a) ml_conformal_mondrian's full plan carries a
    RangePartitioning exchange and ZERO `Exchange SinglePartition`
    nodes; (b) the split query's rank relation (rebuilt here exactly
    as ml_split_conformal builds it) range-exchanges the fold and its
    only SinglePartition exchange covers the bounded
    #partitions-row prefix-offset relation (<= 1 occurrence)."""
    import contextlib
    import io as _io

    from gcp_etl_spark.operators.quantiles import global_row_number

    def plan_of(df):
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()

    mondrian = _run(spark, "ml_conformal_mondrian")
    p = plan_of(mondrian)
    # the range exchange itself hides behind the pid-freeze
    # localCheckpoint (prints as Scan ExistingRDD) — the visible proof
    # of the two-pass shape is the in-partition window keyed by
    # (__grngk, __pid) instead of grp alone, plus zero single-partition
    # exchanges anywhere in the plan
    assert "__pid" in p and "windowspecdefinition(__grngk" in p, p
    assert "Exchange SinglePartition" not in p, p

    lab = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 4).alias("fold"),
    )
    model = (
        lab.filter(F.col("fold").isin(0, 2))
        .groupBy("grp")
        .agg((F.sum("cents") * 1.0 / F.count("*")).alias("yhat"))
    )
    cal = (
        lab.filter(F.col("fold") == 1)
        .join(F.broadcast(model), "grp")
        .select(F.abs(F.col("cents") - F.col("yhat")).alias("r"))
    )
    ranked = global_row_number(cal, ["r"], rn_col="rn").filter(
        F.col("rn") == 123
    )
    p2 = plan_of(ranked)
    # ungrouped rank: the big relation's window partitions on __pid;
    # the ONLY permissible SinglePartition exchange is the bounded
    # #partitions-row prefix-offset window over psums
    assert "windowspecdefinition(__pid" in p2, p2
    assert p2.count("Exchange SinglePartition") <= 1, p2
