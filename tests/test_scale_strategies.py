"""Scale-strategy tests: the plan-level properties that matter at
100 TB — salting correctness, bucketed co-located joins, broadcast
pushdown, partition pruning (SURVEY.md §2B "100 TB design notes")."""

from __future__ import annotations

import contextlib
import io as _io

from pyspark.sql import functions as F

from gcp_etl_spark.operators.skew import salted_join
from gcp_etl_spark.tables import t
from tests.conftest import SF_SMALL


def _plan(df) -> str:
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_salted_join_equals_plain_join(spark):
    o = t(spark, SF_SMALL, "orders")
    c = t(spark, SF_SMALL, "customer").withColumnRenamed("c_custkey", "o_custkey")
    plain = o.join(c, ["o_custkey"]).select("o_orderkey", "c_name")
    salted = salted_join(o, c, ["o_custkey"], salt=4).select("o_orderkey", "c_name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer(spark):
    o = t(spark, SF_SMALL, "orders")
    # right side missing most keys → left join must keep all left rows
    c = (
        t(spark, SF_SMALL, "customer")
        .filter(F.col("c_custkey") < 10)
        .withColumnRenamed("c_custkey", "o_custkey")
    )
    plain = o.join(c, ["o_custkey"], "left").select("o_orderkey", "c_name")
    salted = salted_join(o, c, ["o_custkey"], salt=4, how="left").select(
        "o_orderkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect()), key=str) == sorted(
        map(tuple, salted.collect()), key=str
    )


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """bucketBy co-location: a join on the bucket key must not add an
    Exchange on either side (SURVEY §2B: 'co-located joins via
    bucketing')."""
    # (warehouse dir is a static conf — bucketed tables land in the
    # default ./spark-warehouse, gitignored)
    import shutil

    for tbl in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"spark-warehouse/{tbl}", ignore_errors=True)
    o = t(spark, SF_SMALL, "orders")
    li = t(spark, SF_SMALL, "lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
        "orders_b"
    )
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("lineitem_b")
    ob = spark.table("orders_b")
    lb = spark.table("lineitem_b")
    joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).select(
        "o_orderkey", "l_linenumber"
    )
    # at test scale the planner would rather broadcast (also shuffle-
    # free, but it hides the bucketing effect) — force the SMJ path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, (
            f"bucketed join still shuffles:\n{plan}"
        )
        expect = o.join(li, o.o_orderkey == li.l_orderkey).count()
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_broadcast_join_in_star_plan(spark):
    """q5's star join must broadcast the dims (fact side unshuffled
    before the aggregate)."""
    from gcp_etl_spark.queries import load_all

    q5 = load_all()["q5_region_revenue"].fn(spark, SF_SMALL)
    plan = _plan(q5)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark):
    """q1's date filter must appear in PushedFilters with a pruned
    ReadSchema (no full-width scan)."""
    from gcp_etl_spark.queries import load_all

    q1 = load_all()["q1_pricing_summary"].fn(spark, SF_SMALL)
    plan = _plan(q1)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    read = plan.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in read, "column pruning failed — key column read needlessly"


def test_partition_pruning(spark, tmp_path):
    from gcp_etl_spark import io

    o = t(spark, SF_SMALL, "orders")
    d = str(tmp_path / "po")
    io.write_parquet(o, d, partition_by=["o_orderstatus"])
    pruned = io.read_parquet(spark, d).filter(F.col("o_orderstatus") == "F")
    plan = _plan(pruned)
    # static partition pruning shows up as a partition filter, and the
    # scan must not list all three status dirs
    assert "o_orderstatus" in plan
    assert pruned.count() == o.filter(F.col("o_orderstatus") == "F").count()


def test_global_topk_is_take_ordered(spark):
    """Global ORDER BY + LIMIT must plan as TakeOrderedAndProject
    (per-partition partial top-k, O(k) per task) — a full global sort
    before the limit would shuffle the entire fact table at 100 TB."""
    li = t(spark, SF_SMALL, "lineitem")
    df = li.orderBy(F.desc("l_extendedprice"), "l_orderkey").limit(10)
    assert "TakeOrderedAndProject" in _plan(df)


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must prune the parquet ReadSchema to those
    columns — reading all 16 lineitem columns for a 2-column query is
    the difference between 2 TB and 16 TB scanned at full scale."""
    li = t(spark, SF_SMALL, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" in scan and "l_quantity" in scan
    assert "l_comment" not in scan and "l_extendedprice" not in scan


def test_runtime_bloom_filter_on_selective_join(spark):
    """With a selective dimension-side filter, Spark's runtime bloom
    filter should be injected on the fact side (row-group pruning
    before the shuffle — the 100 TB massive-join pruning path).
    Thresholds are lowered because the toy table is tiny; broadcast is
    disabled so the join actually plans as a shuffle join."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = t(spark, SF_SMALL, "orders")
        li = t(spark, SF_SMALL, "lineitem")
        sel = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
        joined = li.join(sel, li.l_orderkey == sel.o_orderkey).select(
            "l_orderkey", "l_quantity"
        )
        assert "bloom_filter" in _plan(joined).lower()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_prefix_range_frame_matches_plain_window(spark):
    """The prefix-difference RANGE frame (cum(<=v) - cum(<v-w) via a
    two-level prefix scan) must match Spark's native sliding frame
    exactly — for count AND an exact decimal sum, for every bucket
    width (including widths below the frame width, which the
    replication operator cannot take)."""
    from pyspark.sql import Window

    from gcp_etl_spark.operators.range_frame import prefix_range_frame

    o = t(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-5000, Window.currentRow)
    )
    plain = o.select(
        "o_orderkey",
        F.count("*").over(w).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).alias("s"),
    )
    expected = sorted(map(tuple, plain.collect()))
    for bw in (20000.0, 1500.0):
        frames = prefix_range_frame(
            o,
            value_col="o_totalprice",
            width=5000,
            bucket_width=bw,
            part_cols=("o_orderstatus",),
            sum_cols={
                "n": F.lit(1),
                "s": F.col("o_totalprice").cast("decimal(18,2)"),
            },
        )
        got = o.join(frames, ["o_orderstatus", "o_totalprice"]).select(
            "o_orderkey", "n", "s"
        )
        assert sorted(map(tuple, got.collect())) == expected, bw


def test_bucketed_range_frame_parallelism(spark):
    """The plain RANGE frame partitioned by o_orderstatus caps window
    parallelism at 3 tasks; the bucketized operator must (a) match the
    plain result exactly and (b) partition the window exchange on the
    bucket column too, so the 100 TB plan fans out."""
    from pyspark.sql import Window

    from gcp_etl_spark.operators.range_frame import bucketed_range_frame

    o = t(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    res = bucketed_range_frame(
        o,
        value_col="o_totalprice",
        width=5000,
        bucket_width=20000,
        part_cols=("o_orderstatus",),
        aggs={"n_within_5k": F.count("*")},
    )
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-5000, Window.currentRow)
    )
    plain = o.select("o_orderkey", F.count("*").over(w).alias("n_within_5k"))
    assert (
        sorted(map(tuple, res.select("o_orderkey", "n_within_5k").collect()))
        == sorted(map(tuple, plain.collect()))
    )
    # the window shuffle must key on the sub-bucket, not just the
    # 3-value status column
    plan = _plan(res)
    assert "__rf_tgt" in plan and "hashpartitioning" in plan
    # and the data really spreads over many (status, bucket) groups
    n_groups = (
        o.select(
            "o_orderstatus",
            F.floor(F.col("o_totalprice") / 20000).alias("b"),
        )
        .distinct()
        .count()
    )
    assert n_groups > 20


def test_zorder_layout_plan_and_clustering(spark):
    """zorder_by must (a) range-partition + sort on the z-value
    (plan), and (b) actually tighten per-partition min/max bounds on
    BOTH key columns vs the unsorted layout (the pruning payoff)."""
    from gcp_etl_spark.operators.zorder import zorder_by, zvalue

    o = t(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # z-order clusters both dims only when they occupy comparable bit
    # widths — normalize each key into 8 bits before interleaving
    laid = zorder_by(
        o,
        F.col("o_custkey") % 256,
        F.floor(F.col("o_totalprice") / 2500).cast("long") % 256,
        bits=8,
        num_partitions=8,
    )
    plan = _plan(laid)
    assert "rangepartitioning" in plan.lower()
    assert "Sort" in plan
    # clustering payoff: average per-partition custkey span shrinks
    spans = (
        laid.select(
            F.spark_partition_id().alias("p"), "o_custkey"
        )
        .groupBy("p")
        .agg((F.max("o_custkey") - F.min("o_custkey")).alias("span"))
        .agg(F.avg("span"))
        .collect()[0][0]
    )
    base_span = (
        o.repartition(8)
        .select(F.spark_partition_id().alias("p"), "o_custkey")
        .groupBy("p")
        .agg((F.max("o_custkey") - F.min("o_custkey")).alias("span"))
        .agg(F.avg("span"))
        .collect()[0][0]
    )
    assert spans < base_span * 0.6, f"z-order span {spans} vs {base_span}"


def test_chunk_overlap_is_shuffle_free(spark):
    """Document chunking must pipeline inside the scan: sequence +
    explode + slice is a pure map stage, so the plan may contain the
    one explicit repartition of the single-file scan and NOTHING else
    that exchanges data."""
    from gcp_etl_spark.queries.llm_prep import text_chunk_overlap

    plan = _plan(text_chunk_overlap(spark, SF_SMALL))
    # formatted mode prints each node once in the tree and once as a
    # "(n) Exchange" detail header — count the headers
    assert plan.count(") Exchange") <= 1  # only the declared repartition
    assert "Generate" in plan  # the explode runs inside the map stage


def test_decontaminate_probes_via_broadcast(spark):
    """The eval-set gram table must reach the train side as a
    broadcast (a benchmark is small by construction); the 100 TB train
    side must never be shuffled for the membership probe."""
    from gcp_etl_spark.queries.llm_prep import decontaminate_ngram_overlap

    plan = _plan(decontaminate_ngram_overlap(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan


def test_prefix_range_frame_fans_out_on_buckets(spark):
    """The prefix-difference RANGE frame must partition its window
    exchange on (partition cols, value bucket) — that is the whole
    point vs the 3-task native frame."""
    from gcp_etl_spark.operators.range_frame import prefix_range_frame

    o = t(spark, SF_SMALL, "orders")
    frames = prefix_range_frame(
        o,
        value_col="o_totalprice",
        width=5000,
        bucket_width=20000,
        part_cols=("o_orderstatus",),
        sum_cols={"n": F.lit(1)},
    )
    plan = _plan(frames)
    assert "__bkt" in plan and "hashpartitioning" in plan
    n_groups = (
        o.select(
            "o_orderstatus",
            F.floor(F.col("o_totalprice") / 20000).alias("b"),
        )
        .distinct()
        .count()
    )
    assert n_groups > 20


def test_ivf_probe_plan_constant_in_k(spark):
    """The IVF centroid probe must NOT embed k x dim literals in the
    plan (quadratic analyzer/codegen bloat at k=4096): the center
    matrix rides in the pandas_udf closure, so the optimized plan size
    stays flat as k grows 8 -> 512."""
    import numpy as np

    from gcp_etl_spark.llm.ivf import _nearest_centroids

    emb = t(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    rng = np.random.default_rng(0)
    dim = len(emb.first()["v"])

    def plan_len(k):
        centers = rng.normal(size=(k, dim))
        probed = emb.withColumn(
            "cid", F.explode(_nearest_centroids(F.col("v"), centers, 3))
        )
        return len(_plan(probed))

    small, big = plan_len(8), plan_len(512)
    assert big < small * 1.5, (small, big)


def test_weighted_reservoir_is_take_ordered_on_pruned_scan(spark):
    """The weighted reservoir sample's 100 TB claim is literal plan
    shape: per-partition top-k (TakeOrderedAndProject — no global
    sort, no corpus shuffle) directly over a scan pruned to the two
    columns it needs."""
    from gcp_etl_spark.queries import load_all

    df = load_all()["sample_weighted_reservoir"].fn(spark, SF_SMALL)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, "reservoir sample must not shuffle"
    read = plan.split("ReadSchema")[1][:200]
    assert "text" not in read, "text column read needlessly"


def test_bitext_margin_broadcasts_target_side(spark):
    """Bitext mining's pair stage must be broadcast(tgt) x streamed
    src — a shuffled cross join would move the corpus. Since r12 the
    pair relation sits behind a lazy lineage barrier (it feeds three
    consumers), so the final plan shows the barrier; the broadcast
    shape is asserted on the QUERY'S OWN pre-barrier subtree via the
    shared ``_bitext_pair_stage`` helper (r13, r12 ADVICE: the old
    hand-rebuilt copy of the subtree would keep passing even if the
    query itself dropped the F.broadcast hint)."""
    from gcp_etl_spark.queries import load_all
    from gcp_etl_spark.queries.llm_ops import _bitext_pair_stage

    df = load_all()["mine_bitext_margin"].fn(spark, SF_SMALL)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan, "pair relation no longer checkpointed"

    bare = _plan(_bitext_pair_stage(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in bare
    assert "CartesianProduct" not in bare


def test_skew_report_scans_fact_once_with_pruned_schema(spark):
    """The skew report fans out via explode, not via three scans, and
    (r12) materializes the (key_col, key) count relation once behind a
    lazy localCheckpoint shared by the stats and quantile branches —
    so the fact table must not appear in more than one scan subtree
    (0 visible: both consumers read the checkpointed counts), and the
    checkpointed subtree itself must read only the three key
    columns."""
    from gcp_etl_spark.queries import load_all

    df = load_all()["diag_skew_report"].fn(spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("lineitem.parquet") <= 1, "fact table scanned twice"
    assert "ExistingRDD" in plan, "count relation no longer checkpointed"
    # column pruning on the materialized subtree: rebuild the same
    # fan-out WITHOUT the checkpoint and assert the scan schema
    from pyspark.sql import functions as F

    from gcp_etl_spark.queries.scale_ops import _SKEW_KEYS
    from gcp_etl_spark.tables import t

    li = t(spark, SF_SMALL, "lineitem")
    u = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("key_col"),
                        F.col(c).cast("long").alias("k"),
                    )
                    for c in _SKEW_KEYS
                ]
            )
        ).alias("e")
    ).select("e.key_col", "e.k")
    bare = _plan(u.groupBy("key_col", "k").agg(F.count("*").alias("cnt")))
    assert bare.count("lineitem.parquet") == 1
    read = bare.split("ReadSchema")[1][:300]
    assert "l_quantity" not in read and "l_comment" not in read


def test_curation_pipeline_pushes_quality_gate_to_scan(spark):
    """The fused curation pipeline's quality gate must reach the scan
    as a pushed filter — the stage order (dedup agg first in the
    written algebra) must not defeat predicate pushdown."""
    from gcp_etl_spark.queries import load_all

    df = load_all()["pipeline_curation_e2e"].fn(spark, SF_SMALL)
    plan = _plan(df)
    pushed = plan.split("PushedFilters")[1][:300]
    assert "n_chars" in pushed, f"quality gate not pushed: {pushed}"


def test_weighted_median_scans_lineitem_once(spark):
    """include_total must come from the weighted-quantile operator's
    own threshold relation, not a second full-table aggregate (r6
    verdict: the query was paying an avoidable second scan + join for
    total_weight). After the r7 tots fix (group totals fold the
    per-partition sums) the ONLY source scan lives inside the lazily
    checkpointed range-partitioned relation, so the visible plan has
    zero direct scans — assert no residual direct scan either way."""
    from gcp_etl_spark.queries import load_all

    df = load_all()["agg_weighted_median"].fn(spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("lineitem.parquet") <= 1, "lineitem scanned twice"
    assert "ExistingRDD" in plan


def test_mad_robust_fuses_quantile_passes(spark):
    """anomaly_mad_robust (r7 fusion): the median pass checkpoints its
    projected values relation and the MAD pass + outlier aggregate
    consume the checkpoint — the final plan must contain NO direct
    events scan (the single source scan lives inside the checkpointed
    relation), where the r6 shape scanned events three times."""
    from gcp_etl_spark.queries import load_all

    df = load_all()["anomaly_mad_robust"].fn(spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("events.parquet") == 0, "source re-scanned past the checkpoint"
    assert "ExistingRDD" in plan
