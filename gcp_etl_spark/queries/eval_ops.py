"""Evaluation metrics over scored and ranked outputs: ranking quality
(nDCG, MRR, average precision, reciprocal-rank fusion), classifier
quality (precision-recall sweep, macro F1, calibration error) and
generation quality (BLEU-lite, pass@k). Each metric is a distributed
plan with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_etl_spark.operators.barrier import barrier
from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.queries.streaming_duals import _score_w
from gcp_etl_spark.tables import t


# -------------------------------------------- PR threshold sweep
@query(
    "eval_pr_curve",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             round(1.0 / (1.0 + exp(-({_score_w()[0]}
                   + {_score_w()[1]} * (value / 100.0)
                   + {_score_w()[2]} * (hour(ts) / 24.0)))), 6) AS score
      FROM events
    ),
    thr AS (SELECT unnest([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS thr),
    cells AS (
      SELECT thr,
             sum(CASE WHEN score >= thr AND y = 1 THEN 1 ELSE 0 END) AS tp,
             sum(CASE WHEN score >= thr AND y = 0 THEN 1 ELSE 0 END) AS fp,
             sum(y) AS pos
      FROM scored CROSS JOIN thr GROUP BY thr
    )
    SELECT CAST(thr AS DOUBLE) AS thr,
           CAST(tp + fp AS BIGINT) AS n_flagged,
           round(CASE WHEN tp + fp = 0 THEN 0.0
                      ELSE tp / CAST(tp + fp AS DOUBLE) END, 6)
             AS precision,
           round(tp / CAST(pos AS DOUBLE), 6) AS recall
    FROM cells ORDER BY thr
    """,
    tags=("stats", "classifier", "evaluation"),
)
def eval_pr_curve(spark, sf_dir):
    """PRECISION-RECALL THRESHOLD SWEEP for the shipped quality
    classifier (same logistic weights the calibration monitor scores
    with): at each of 9 operating thresholds, how many rows the filter
    would flag and at what precision/recall — the curve a pipeline
    owner reads to pick the quality-filter cut before a training run.

    Determinism: the sigmoid is rounded to 6 dp before the threshold
    compare (both engines gate identical doubles); counts are exact
    longs; the final ratios divide identical longs.

    Scale: ONE pass — the x9 threshold fan-out happens via a broadcast
    literal explode and collapses map-side (9 running cells per task);
    the shuffle carries 9 rows x partitions. No per-threshold rescans,
    which is the difference between a 9x and a 1x cost at 100 TB."""
    w = _score_w()
    e = t(spark, sf_dir, "events")
    scored = e.select(
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
        F.round(
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        F.lit(w[0])
                        + F.lit(w[1]) * (F.col("value") / 100.0)
                        + F.lit(w[2]) * (F.hour("ts") / 24.0)
                    )
                )
            ),
            6,
        ).alias("score"),
    )
    thr = F.explode(
        F.array(*[F.lit(round(x / 10, 2)) for x in range(1, 10)])
    ).alias("thr")
    cells = (
        scored.select("y", "score", thr)
        .groupBy("thr")
        .agg(
            F.sum(
                F.when((F.col("score") >= F.col("thr")) & (F.col("y") == 1), 1)
                .otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when((F.col("score") >= F.col("thr")) & (F.col("y") == 0), 1)
                .otherwise(0)
            ).alias("fp"),
            F.sum("y").alias("pos"),
        )
    )
    return cells.select(
        F.round("thr", 2).alias("thr"),
        (F.col("tp") + F.col("fp")).cast("long").alias("n_flagged"),
        F.round(
            F.when(F.col("tp") + F.col("fp") == 0, 0.0).otherwise(
                F.col("tp") / (F.col("tp") + F.col("fp")).cast("double")
            ),
            6,
        ).alias("precision"),
        F.round(F.col("tp") / F.col("pos").cast("double"), 6).alias(
            "recall"
        ),
    ).orderBy("thr")


# ---------------------------------------------- multiclass macro-F1
@query(
    "eval_macro_f1",
    oracle="""
    WITH obs AS (
      SELECT event_type AS actual,
             CASE WHEN value < 10 THEN 'click'
                  WHEN value < 30 THEN 'view'
                  WHEN value < 60 THEN 'scroll'
                  WHEN value < 120 THEN 'signup'
                  ELSE 'purchase' END AS predicted
      FROM events
    ), cm AS (
      SELECT actual, predicted, count(*) AS n FROM obs GROUP BY 1, 2
    ), per_class AS (
      SELECT c.cls,
             coalesce(tp.n, 0) AS tp,
             coalesce(p.np, 0) - coalesce(tp.n, 0) AS fp,
             coalesce(a.na, 0) - coalesce(tp.n, 0) AS fn
      FROM (SELECT DISTINCT actual AS cls FROM obs) c
      LEFT JOIN (SELECT actual, n FROM cm WHERE actual = predicted) tp
        ON tp.actual = c.cls
      LEFT JOIN (SELECT predicted, sum(n) AS np FROM cm GROUP BY 1) p
        ON p.predicted = c.cls
      LEFT JOIN (SELECT actual, sum(n) AS na FROM cm GROUP BY 1) a
        ON a.actual = c.cls
    )
    SELECT cls,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           round(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                 ELSE 2.0 * tp / (2 * tp + fp + fn) END, 6) AS f1,
           round(CAST((SELECT sum(CASE WHEN 2 * tp + fp + fn = 0
                                  THEN CAST(0.0 AS DECIMAL(38,12))
                                  ELSE CAST(2.0 * tp / (2 * tp + fp + fn)
                                       AS DECIMAL(38,12)) END)
                       FROM per_class) AS DOUBLE)
                 / (SELECT count(*) FROM per_class), 6) AS macro_f1
    FROM per_class ORDER BY cls
    """,
    tags=("eval", "classification", "events"),
)
def eval_macro_f1(spark, sf_dir):
    """MULTICLASS CONFUSION-MATRIX EVALUATION with per-class F1 and
    macro-F1 (the model-eval staple next to the suite's AUC/PR-curve
    binary metrics): a deterministic value-threshold classifier
    predicts the event type; per class TP / FP / FN come off the
    confusion matrix, F1 = 2TP/(2TP+FP+FN), macro-F1 = unweighted
    class mean (each F1 term decimal-cast so the mean is order-free).

    Scale: the fact scan collapses to the |classes|² confusion grid in
    one hash agg; every join after that is on the tiny class
    dimension."""
    e = t(spark, sf_dir, "events")
    pred = (
        F.when(F.col("value") < 10, "click")
        .when(F.col("value") < 30, "view")
        .when(F.col("value") < 60, "scroll")
        .when(F.col("value") < 120, "signup")
        .otherwise("purchase")
    )
    obs = e.select(F.col("event_type").alias("actual"), pred.alias("predicted"))
    cm = obs.groupBy("actual", "predicted").agg(F.count("*").alias("n"))
    classes = obs.select(F.col("actual").alias("cls")).distinct()
    tp = cm.filter(F.col("actual") == F.col("predicted")).select(
        F.col("actual").alias("cls"), F.col("n").alias("tp")
    )
    np_ = cm.groupBy("predicted").agg(F.sum("n").alias("np"))
    na = cm.groupBy("actual").agg(F.sum("n").alias("na"))
    per_class = (
        classes.join(tp, "cls", "left")
        .join(np_, classes.cls == np_.predicted, "left")
        .join(na, classes.cls == na.actual, "left")
        .select(
            "cls",
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
            (
                F.coalesce(F.col("np"), F.lit(0))
                - F.coalesce(F.col("tp"), F.lit(0))
            ).alias("fp"),
            (
                F.coalesce(F.col("na"), F.lit(0))
                - F.coalesce(F.col("tp"), F.lit(0))
            ).alias("fn"),
        )
    )
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, F.lit(0.0)
    ).otherwise(
        2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
    )
    macro = per_class.agg(
        (
            F.sum(f1.cast("decimal(38,12)")).cast("double") / F.count("*")
        ).alias("macro_f1")
    )
    return (
        per_class.crossJoin(F.broadcast(macro))
        .select(
            "cls",
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            F.col("fn").cast("long").alias("fn"),
            F.round(f1, 6).alias("f1"),
            F.round("macro_f1", 6).alias("macro_f1"),
        )
        .orderBy("cls")
    )


# ----------------------------- NDCG@k ranking evaluation (r11 extra)
_NDCG_K = 10

# 1/log2(rank+1) for ranks 1..10 as repr-exact literals shared
# VERBATIM by both engines (the spectral-weekly / BH-FDR pattern: no
# in-engine libm, so no cross-engine log ulp divergence is possible)
_NDCG_W = {
    1: "1.0", 2: "0.6309297535714575", 3: "0.5",
    4: "0.43067655807339306", 5: "0.38685280723454163",
    6: "0.3562071871080222", 7: "0.3333333333333333",
    8: "0.31546487678572877", 9: "0.3010299956639812",
    10: "0.2890648263178879",
}


def _ndcg_w_case(rank_col: str) -> str:
    """Shared CASE expression mapping rank -> discount weight."""
    arms = " ".join(
        f"WHEN {r} THEN {w}D" for r, w in _NDCG_W.items()
    )
    return f"CASE {rank_col} {arms} ELSE 0.0D END"


def _ndcg_w_case_duck(rank_col: str) -> str:
    arms = " ".join(f"WHEN {r} THEN {w}" for r, w in _NDCG_W.items())
    return f"CASE {rank_col} {arms} ELSE 0.0 END"


@query(
    "eval_ndcg_at_k",
    oracle=f"""
    WITH item AS (
      SELECT o_orderpriority AS grp, l_partkey % 50 AS item,
             CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS cents,
             CAST(sum(l_quantity) AS BIGINT) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ), graded AS (
      SELECT grp, item, cents,
             least(3, (4 * qty) // max(qty) OVER (PARTITION BY grp))
               AS rel
      FROM item
    ), ranked AS (
      SELECT grp, rel,
             row_number() OVER (PARTITION BY grp
                                ORDER BY cents DESC, item) AS rk,
             row_number() OVER (PARTITION BY grp
                                ORDER BY rel DESC, cents DESC, item)
               AS ideal_rk
      FROM graded
    ), dcg AS (
      SELECT grp,
             CAST(sum(CAST((pow(2, rel) - 1)
                           * ({_ndcg_w_case_duck('rk')})
                           AS DECIMAL(38,12)))
                  FILTER (rk <= {_NDCG_K}) AS DOUBLE) AS dcg,
             CAST(sum(CAST((pow(2, rel) - 1)
                           * ({_ndcg_w_case_duck('ideal_rk')})
                           AS DECIMAL(38,12)))
                  FILTER (ideal_rk <= {_NDCG_K}) AS DOUBLE) AS idcg
      FROM ranked GROUP BY grp
    )
    SELECT grp, round(dcg, 6) AS dcg_at_k, round(idcg, 6) AS idcg_at_k,
           round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6)
             AS ndcg_at_k
    FROM dcg ORDER BY grp
    """,
    tags=("eval", "ranking", "analytics"),
)
def eval_ndcg_at_k(spark, sf_dir):
    """NDCG@{_NDCG_K} (Jarvelin & Kekalainen 2002, public) — THE
    ranking-evaluation metric every retrieval/recommendation pipeline
    publishes, here hash-verified end-to-end: per order priority, the
    "predicted" ranking orders the 50 part buckets by exact revenue
    cents; graded relevance is the exact-integer quantity grade
    least(3, (4*qty) DIV max_qty) — integer division, no FP boundary
    anywhere in the labels. DCG discounts are the ONLY irrational
    constants, embedded as repr-exact 1/log2(rank+1) literals in a
    CASE shared by both engines (no in-engine libm); gains 2^rel - 1
    on integer rel are exact small powers. Per-term DECIMAL(38,12)
    casts make the 10-term sums summation-order-proof; NDCG divides
    bitwise-identical doubles.

    Scale: facts collapse to the bounded (priority x item) grid in one
    hash agg; rankings are windows over <= 50-row groups (group dim,
    never corpus-sized); everything after is arithmetic on the grid.
    At 100 TB the grid is unchanged — only the first agg scans more."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    item = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            (F.col("l_partkey") % 50).alias("item"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("cents"),
            F.sum("l_quantity").cast("long").alias("qty"),
        )
    )
    wg = W.partitionBy("grp")
    graded = item.select(
        "grp",
        "item",
        "cents",
        (F.lit(4) * F.col("qty")).alias("q4"),
        F.max("qty").over(wg).alias("maxq"),
    ).select(
        "grp",
        "item",
        "cents",
        F.least(F.lit(3).cast("long"), F.expr("q4 div maxq")).alias(
            "rel"
        ),
    )
    ranked = graded.select(
        "grp",
        "rel",
        F.row_number()
        .over(wg.orderBy(F.col("cents").desc(), F.col("item")))
        .alias("rk"),
        F.row_number()
        .over(
            wg.orderBy(
                F.col("rel").desc(), F.col("cents").desc(), F.col("item")
            )
        )
        .alias("ideal_rk"),
    )
    gain = F.pow(F.lit(2.0), F.col("rel")) - 1
    term = lambda rkcol: (  # noqa: E731
        (gain * F.expr(_ndcg_w_case(rkcol))).cast("decimal(38,12)")
    )
    dcg = ranked.groupBy("grp").agg(
        F.sum(F.when(F.col("rk") <= _NDCG_K, term("rk")))
        .cast("double")
        .alias("dcg"),
        F.sum(F.when(F.col("ideal_rk") <= _NDCG_K, term("ideal_rk")))
        .cast("double")
        .alias("idcg"),
    )
    return dcg.select(
        "grp",
        F.round("dcg", 6).alias("dcg_at_k"),
        F.round("idcg", 6).alias("idcg_at_k"),
        F.round(
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("ndcg_at_k"),
    ).orderBy("grp")


# ----------------------- average precision / MAP eval (r11 extra)
@query(
    "eval_average_precision",
    oracle="""
    WITH item AS (
      SELECT o_orderpriority AS grp, l_partkey % 50 AS item,
             CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS cents,
             CAST(sum(l_quantity) AS BIGINT) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ), graded AS (
      SELECT grp, item, cents,
             CASE WHEN (4 * qty) // max(qty) OVER (PARTITION BY grp)
                       >= 2 THEN 1 ELSE 0 END AS rel
      FROM item
    ), ranked AS (
      SELECT grp, rel,
             row_number() OVER (PARTITION BY grp
                                ORDER BY cents DESC, item) AS rk,
             sum(rel) OVER (PARTITION BY grp
                            ORDER BY cents DESC, item) AS cum_rel
      FROM graded
    )
    SELECT grp,
           CAST(sum(rel) AS BIGINT) AS n_relevant,
           round(CAST(sum(CAST(CASE WHEN rel = 1
                       THEN CAST(cum_rel AS DOUBLE) / rk
                       ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE)
                 / sum(rel), 6) AS average_precision
    FROM ranked GROUP BY grp ORDER BY grp
    """,
    tags=("eval", "ranking", "analytics"),
)
def eval_average_precision(spark, sf_dir):
    """AVERAGE PRECISION (AP, the area under the precision-recall
    steps; per-group rows = the MAP table) — the binary-relevance
    companion of eval_ndcg_at_k over the same (priority x item)
    ranking: relevant = top-half quantity grade ((4*qty) DIV maxq
    >= 2, exact integer rule), predicted order = revenue cents desc.
    AP = mean over relevant items of precision@their-rank.

    Exactness: relevance and cumulative-relevant counts are exact
    integers; each precision@k = cum_rel/rk divides exact BIGINTs
    (identical IEEE); the per-item terms are DECIMAL(38,12)-cast
    before the sum (order-proof); final division by the exact
    relevant count rounds 6dp.

    Scale: identical shape to eval_ndcg_at_k — one corpus hash agg to
    the bounded grid, windows over <= 50-row groups."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    item = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            (F.col("l_partkey") % 50).alias("item"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("cents"),
            F.sum("l_quantity").cast("long").alias("qty"),
        )
    )
    wg = W.partitionBy("grp")
    graded = item.select(
        "grp",
        "item",
        "cents",
        (F.lit(4) * F.col("qty")).alias("q4"),
        F.max("qty").over(wg).alias("maxq"),
    ).select(
        "grp",
        "item",
        "cents",
        F.when(F.expr("q4 div maxq") >= 2, 1).otherwise(0).alias("rel"),
    )
    wo = wg.orderBy(F.col("cents").desc(), F.col("item"))
    ranked = graded.select(
        "grp",
        "rel",
        F.row_number().over(wo).alias("rk"),
        F.sum("rel").over(wo).alias("cum_rel"),
    )
    return (
        ranked.groupBy("grp")
        .agg(
            F.sum("rel").cast("long").alias("n_relevant"),
            F.round(
                F.sum(
                    F.when(
                        F.col("rel") == 1,
                        (
                            F.col("cum_rel").cast("double") / F.col("rk")
                        ).cast("decimal(38,12)"),
                    ).otherwise(F.lit(0.0).cast("decimal(38,12)"))
                ).cast("double")
                / F.sum("rel"),
                6,
            ).alias("average_precision"),
        )
        .orderBy("grp")
    )


# ---------------- expected calibration error (r11 extra)
_ECE_BINS = 10


@query(
    "eval_calibration_ece",
    oracle=f"""
    WITH scored AS (
      SELECT ((event_id * 2654435761) % 1000) / 1000.0 AS p,
             CASE WHEN value * (1 + ((event_id * 2654435761) % 1000)
                               / 1000.0) > 60 THEN 1 ELSE 0 END AS y
      FROM events
    ), binned AS (
      SELECT least(CAST(floor(p * {_ECE_BINS}) AS BIGINT),
                   {_ECE_BINS - 1}) AS g, p, y
      FROM scored
    ), per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(p AS DECIMAL(38,12))) AS DOUBLE) AS sp,
             CAST(sum(y) AS BIGINT) AS sy
      FROM binned GROUP BY g
    ), tot AS (SELECT sum(n) AS nn FROM per)
    SELECT CAST(nn AS BIGINT) AS n,
           round(CAST(sum(CAST(
                   abs(CAST(sy AS DOUBLE) / n - sp / n) * n
                   AS DECIMAL(38,12))) AS DOUBLE) / nn, 6) AS ece,
           round(max(abs(CAST(sy AS DOUBLE) / n - sp / n)), 6) AS mce
    FROM per CROSS JOIN tot
    GROUP BY nn
    """,
    tags=("eval", "calibration", "ml"),
)
def eval_calibration_ece(spark, sf_dir):
    """EXPECTED + MAXIMUM CALIBRATION ERROR (ECE/MCE, Naeini et al.
    2015 / Guo et al. 2017, public) — the calibration headline every
    modern model card quotes: over {_ECE_BINS} confidence bins,
    ECE = sum_g (n_g/N) |acc_g - conf_g| and MCE = max_g of the same
    gap. Completes the calibration family (Brier decomposition =
    the proper-score view, Hosmer-Lemeshow = the test view, this =
    the reported-metric view) on the SAME exact-rational Knuth-hash
    forecasts, so all three are mutually consistent.

    Exactness: accuracies divide exact BIGINTs; confidences divide a
    DECIMAL(38,12)-exact rational sum; each bin's weighted gap is
    DECIMAL-cast before the 10-term sum; 6dp.

    Scale: one hash agg to the bin grid; constant-size arithmetic."""
    e = t(spark, sf_dir, "events")
    p = ((F.col("event_id") * 2654435761) % 1000) / 1000.0
    scored = e.select(
        p.alias("p"),
        F.when(F.col("value") * (1 + p) > 60, 1).otherwise(0).alias("y"),
    )
    per = (
        scored.select(
            F.least(
                F.floor(F.col("p") * _ECE_BINS).cast("long"),
                F.lit(_ECE_BINS - 1),
            ).alias("g"),
            "p",
            "y",
        )
        .groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("p").cast("decimal(38,12)"))
            .cast("double")
            .alias("sp"),
            F.sum("y").cast("long").alias("sy"),
        )
    )
    gap = F.abs(
        F.col("sy").cast("double") / F.col("n")
        - F.col("sp") / F.col("n")
    )
    return per.agg(
        F.sum("n").cast("long").alias("n"),
        F.round(
            F.sum((gap * F.col("n")).cast("decimal(38,12)")).cast(
                "double"
            )
            / F.sum("n"),
            6,
        ).alias("ece"),
        F.round(F.max(gap), 6).alias("mce"),
    )


# --------------- reciprocal rank fusion (r12)
_RRF_K = 60
_RRF_TERM_A = "data"
_RRF_TERM_B = "model"


def _rrf_tf(term: str):
    """Exact integer term frequency via length arithmetic (JVM-side,
    no regex): occurrences = (len - len(text with term removed)) /
    len(term)."""
    return (
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(term)))
        )
        / len(term)
    ).cast("long")


@query(
    "eval_rank_fusion_rrf",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, n_chars,
             CAST((length(text) - length(replace(text, '{_RRF_TERM_A}',
               ''))) / {len(_RRF_TERM_A)} AS BIGINT) AS tf_a,
             CAST((length(text) - length(replace(text, '{_RRF_TERM_B}',
               ''))) / {len(_RRF_TERM_B)} AS BIGINT) AS tf_b
      FROM documents
    ), ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY
               CAST(tf_a AS DOUBLE) / (tf_a + 1.2 + 0.001 * n_chars)
               DESC, doc_id) AS rank_a,
             row_number() OVER (ORDER BY
               CAST(tf_b AS DOUBLE) / (tf_b + 1.2 + 0.001 * n_chars)
               DESC, doc_id) AS rank_b
      FROM scored
    )
    SELECT doc_id, CAST(rank_a AS BIGINT) AS rank_a,
           CAST(rank_b AS BIGINT) AS rank_b,
           round(1.0 / ({_RRF_K} + rank_a)
                 + 1.0 / ({_RRF_K} + rank_b), 9) AS rrf_score
    FROM ranked
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
    tags=("eval", "ranking", "retrieval", "fusion", "documents"),
)
def eval_rank_fusion_rrf(spark, sf_dir):
    """RECIPROCAL RANK FUSION (Cormack-Clarke-Buettcher 2009, public)
    — the standard zero-training hybrid-retrieval combiner: fuse two
    independent rankings of the corpus (here a BM25-lite lexical score
    for two different terms; in production, lexical vs embedding ANN)
    by summing 1/(k + rank) with k=60, and return the fused top-10.
    RRF needs only RANKS, never comparable scores, which is exactly
    why retrieval stacks use it to merge heterogeneous scorers.

    Exactness: term frequencies are exact integers from length
    arithmetic; the BM25-lite score is one identical IEEE expression
    from integers in both engines; ranks are integers; the fused score
    is a sum of two exact reciprocals, rounded 9dp and used as the
    ORDER BY with doc_id tiebreak.

    Scale: each ranking is the two-pass range-partitioned global rank
    (operators.quantiles.global_row_number — never a single-partition
    window over the corpus); the fusion is a co-keyed join on doc_id;
    top-10 is TakeOrderedAndProject."""
    from gcp_etl_spark.operators.quantiles import global_row_number

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        _rrf_tf(_RRF_TERM_A).alias("tf_a"),
        _rrf_tf(_RRF_TERM_B).alias("tf_b"),
    )

    def _score(tf):
        return tf.cast("double") / (
            tf + F.lit(1.2) + F.lit(0.001) * F.col("n_chars")
        )

    base = d.select(
        "doc_id",
        (-_score(F.col("tf_a"))).alias("neg_a"),
        (-_score(F.col("tf_b"))).alias("neg_b"),
    ).transform(barrier)  # both rankings read the same scan
    ra = global_row_number(
        base.select("doc_id", "neg_a"), ["neg_a", "doc_id"], rn_col="rank_a"
    ).select("doc_id", "rank_a")
    rb = global_row_number(
        base.select("doc_id", "neg_b"), ["neg_b", "doc_id"], rn_col="rank_b"
    ).select("doc_id", "rank_b")
    fused = ra.join(rb, "doc_id").select(
        "doc_id",
        F.col("rank_a").cast("long").alias("rank_a"),
        F.col("rank_b").cast("long").alias("rank_b"),
        F.round(
            1.0 / (_RRF_K + F.col("rank_a"))
            + 1.0 / (_RRF_K + F.col("rank_b")),
            9,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(10)


# --------------- unbiased pass@k estimator (r12)
_PK_K = 4
_PK_THRESH = 100.0


@query(
    "eval_pass_at_k",
    oracle=f"""
    WITH per_task AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (value > {_PK_THRESH}) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ), est AS (
      SELECT n, c,
             CAST(round(CAST(c AS DOUBLE) / n, 12)
                  AS DECIMAL(38,12)) AS p1,
             CAST(round(CASE WHEN n - c >= {_PK_K} THEN
               1.0 - ((((CAST(n - c AS DOUBLE) / n)
                        * (CAST(n - c - 1 AS DOUBLE) / (n - 1)))
                        * (CAST(n - c - 2 AS DOUBLE) / (n - 2)))
                        * (CAST(n - c - 3 AS DOUBLE) / (n - 3)))
               ELSE 1.0 END, 12) AS DECIMAL(38,12)) AS pk
      FROM per_task WHERE n >= {_PK_K}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_tasks,
           CAST({_PK_K} AS BIGINT) AS k,
           round(CAST(sum(p1) AS DOUBLE) / count(*), 6) AS pass_at_1,
           round(CAST(sum(pk) AS DOUBLE) / count(*), 6)
             AS pass_at_{_PK_K}
    FROM est
    """,
    tags=("eval", "llm", "estimator", "events"),
)
def eval_pass_at_k(spark, sf_dir):
    """UNBIASED pass@k (Chen et al. 2021, "Evaluating Large Language
    Models Trained on Code", public) — THE coding-eval metric: a task
    with n sampled attempts and c successes contributes
    1 - C(n-c, k)/C(n, k), the unbiased probability that a random
    k-subset of the attempts contains a success (naive "best of first
    k" is biased when n > k). Tasks here are users, attempts their
    events, success value > {_PK_THRESH}; k = {_PK_K}.

    Exactness: the binomial ratio is the telescoped product
    prod_i (n-c-i)/(n-i) with an explicit left-fold parenthesization
    mirrored in both engines (integers in, identical IEEE ops);
    per-task values round 12dp into DECIMAL(38,12) before the
    cross-engine sum (the house exact-sum policy); n-c < k means
    C(n-c,k) = 0, i.e. pass = 1, handled by the same guard both
    sides; n < k tasks are excluded (the estimator is undefined).

    Scale: one hash aggregate per task, then a 1-row fold — the
    estimator is embarrassingly aggregative at any corpus size."""
    e = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.count_if(F.col("value") > _PK_THRESH).cast("long").alias("c"),
    ).filter(F.col("n") >= _PK_K)
    n, c = F.col("n"), F.col("c")
    prod = (n - c).cast("double") / n
    for i in range(1, _PK_K):
        prod = prod * ((n - c - i).cast("double") / (n - i))
    pk = F.when(n - c >= _PK_K, 1.0 - prod).otherwise(F.lit(1.0))
    est = e.select(
        F.round(c.cast("double") / n, 12)
        .cast("decimal(38,12)")
        .alias("p1"),
        F.round(pk, 12).cast("decimal(38,12)").alias("pk"),
    )
    return est.agg(
        F.count("*").cast("long").alias("n_tasks"),
        F.lit(_PK_K).cast("long").alias("k"),
        F.round(F.sum("p1").cast("double") / F.count("*"), 6).alias(
            "pass_at_1"
        ),
        F.round(F.sum("pk").cast("double") / F.count("*"), 6).alias(
            f"pass_at_{_PK_K}"
        ),
    )


# --------------- corpus BLEU-2 components (r12)
@query(
    "eval_bleu_lite",
    oracle="""
    WITH pairs AS (
      SELECT c.doc_id AS pair_id, c.text AS cand, r.text AS ref
      FROM documents c JOIN documents r ON r.doc_id = c.doc_id - 1
      WHERE c.doc_id % 2 = 1
    ), ctok AS (
      SELECT pair_id, unnest(string_split(cand, ' ')) AS tok,
             generate_subscripts(string_split(cand, ' '), 1) AS ord
      FROM pairs
    ), rtok AS (
      SELECT pair_id, unnest(string_split(ref, ' ')) AS tok,
             generate_subscripts(string_split(ref, ' '), 1) AS ord
      FROM pairs
    ), cg AS (
      SELECT pair_id, 1 AS n, tok AS gram, count(*) AS cnt
      FROM ctok GROUP BY 1, 3
      UNION ALL
      SELECT pair_id, 2, gram, count(*) FROM (
        SELECT pair_id,
               tok || ' ' || lead(tok) OVER
                 (PARTITION BY pair_id ORDER BY ord) AS gram
        FROM ctok) WHERE gram IS NOT NULL GROUP BY 1, 3
    ), rg AS (
      SELECT pair_id, 1 AS n, tok AS gram, count(*) AS cnt
      FROM rtok GROUP BY 1, 3
      UNION ALL
      SELECT pair_id, 2, gram, count(*) FROM (
        SELECT pair_id,
               tok || ' ' || lead(tok) OVER
                 (PARTITION BY pair_id ORDER BY ord) AS gram
        FROM rtok) WHERE gram IS NOT NULL GROUP BY 1, 3
    ), clipped AS (
      SELECT cg.n,
             CAST(sum(least(cg.cnt, coalesce(rg.cnt, 0))) AS BIGINT)
               AS clip,
             CAST(sum(cg.cnt) AS BIGINT) AS tot
      FROM cg LEFT JOIN rg
        ON rg.pair_id = cg.pair_id AND rg.n = cg.n
           AND rg.gram = cg.gram
      GROUP BY cg.n
    ), lens AS (
      SELECT CAST(sum(len(string_split(cand, ' '))) AS BIGINT) AS c_len,
             CAST(sum(len(string_split(ref, ' '))) AS BIGINT) AS r_len
      FROM pairs
    )
    SELECT
      (SELECT clip FROM clipped WHERE n = 1) AS clip1,
      (SELECT tot FROM clipped WHERE n = 1) AS tot1,
      (SELECT clip FROM clipped WHERE n = 2) AS clip2,
      (SELECT tot FROM clipped WHERE n = 2) AS tot2,
      lens.c_len, lens.r_len,
      round(sqrt(
        (CAST((SELECT clip FROM clipped WHERE n = 1) AS DOUBLE)
         / (SELECT tot FROM clipped WHERE n = 1))
        * (CAST((SELECT clip FROM clipped WHERE n = 2) AS DOUBLE)
           / (SELECT tot FROM clipped WHERE n = 2))), 6)
        AS bleu2_precision,
      round(least(CAST(0 AS DOUBLE),
        1.0 - CAST(lens.r_len AS DOUBLE) / lens.c_len), 6)
        AS bp_exponent
    FROM lens
    """,
    tags=("eval", "text", "mt", "documents"),
)
def eval_bleu_lite(spark, sf_dir):
    """CORPUS BLEU-2 COMPONENTS (Papineni et al. 2002, public) — the
    MT/generation eval staple, computed WITHOUT in-engine libm:
    candidate/reference pairs are adjacent documents (doc 2k+1
    evaluated against doc 2k), modified n-gram precision (n = 1, 2)
    uses per-pair CLIPPED counts, and the output is the exactly-
    computable decomposition — corpus clip/total counts, the geometric
    mean sqrt(p1*p2) (IEEE sqrt is correctly rounded, so cross-engine
    exact from identical operands, unlike exp/log), and the brevity-
    penalty EXPONENT min(0, 1 - r/c); BLEU-2 itself is
    exp(bp_exponent) * bleu2_precision, one libm call the CONSUMER
    applies (the repr-literal convention: never data-dependent libm
    inside the hash-verified surface).

    Exactness: clipped counts are integers from a co-keyed LEFT join;
    precisions are integer ratios; sqrt correctly rounded; one final
    round(6).

    Scale: tokens/grams shuffle as (pair, gram) digests — never whole
    texts; the clip join is co-partitioned on (pair, n, gram); corpus
    sums are one aggregate."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    cand = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("pair_id"), F.col("text").alias("cand")
    )
    ref = docs.select(
        (F.col("doc_id") + 1).alias("pair_id"),
        F.col("text").alias("ref"),
    ).filter((F.col("pair_id")) % 2 == 1)
    # lazy localCheckpoint (r12 resume, guide §1.2): pairs feeds both
    # gram sides and the length aggregate, and each side's token
    # explode feeds its unigram AND bigram branches — without the
    # barriers the doc self-join + posexplode re-expanded into every
    # consumer (28 parquet scans in one plan); with them the pair join
    # runs once and each side tokenizes once
    pairs = cand.join(ref, "pair_id").transform(barrier)

    def grams(col, side):
        toks = pairs.select(
            "pair_id", F.posexplode(F.split(F.col(col), " ")).alias(
                "ord", "tok"
            )
        ).transform(barrier)
        uni = toks.groupBy(
            "pair_id", F.lit(1).alias("n"), F.col("tok").alias("gram")
        ).agg(F.count("*").alias(f"cnt_{side}"))
        from pyspark.sql import Window as W

        w = W.partitionBy("pair_id").orderBy("ord")
        bi = (
            toks.select(
                "pair_id",
                F.concat_ws(
                    " ", "tok", F.lead("tok").over(w)
                ).alias("gram"),
                F.lead("tok").over(w).alias("nxt"),
            )
            .filter(F.col("nxt").isNotNull())
            .groupBy("pair_id", F.lit(2).alias("n"), "gram")
            .agg(F.count("*").alias(f"cnt_{side}"))
        )
        return uni.unionByName(bi)

    cg = grams("cand", "c")
    rg = grams("ref", "r")
    clipped = (
        cg.join(rg, ["pair_id", "n", "gram"], "left")
        .groupBy("n")
        .agg(
            F.sum(
                F.least(F.col("cnt_c"), F.coalesce("cnt_r", F.lit(0)))
            )
            .cast("long")
            .alias("clip"),
            F.sum("cnt_c").cast("long").alias("tot"),
        )
    )
    c1 = clipped.filter(F.col("n") == 1).select(
        F.col("clip").alias("clip1"), F.col("tot").alias("tot1")
    )
    c2 = clipped.filter(F.col("n") == 2).select(
        F.col("clip").alias("clip2"), F.col("tot").alias("tot2")
    )
    lens = pairs.agg(
        F.sum(F.size(F.split("cand", " "))).cast("long").alias("c_len"),
        F.sum(F.size(F.split("ref", " "))).cast("long").alias("r_len"),
    )
    return (
        c1.crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(lens))
        .select(
            "clip1",
            "tot1",
            "clip2",
            "tot2",
            "c_len",
            "r_len",
            F.round(
                F.sqrt(
                    (F.col("clip1").cast("double") / F.col("tot1"))
                    * (F.col("clip2").cast("double") / F.col("tot2"))
                ),
                6,
            ).alias("bleu2_precision"),
            F.round(
                F.least(
                    F.lit(0.0),
                    1.0 - F.col("r_len").cast("double") / F.col("c_len"),
                ),
                6,
            ).alias("bp_exponent"),
        )
    )


# --------------- mean reciprocal rank (r12)
@query(
    "eval_mrr",
    oracle="""
    WITH item AS (
      SELECT o_orderpriority AS grp, l_partkey % 50 AS item,
             CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS cents,
             CAST(sum(l_quantity) AS BIGINT) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ), graded AS (
      SELECT grp, item, cents,
             least(3, (4 * qty) // max(qty) OVER (PARTITION BY grp))
               AS rel
      FROM item
    ), ranked AS (
      SELECT grp, rel,
             row_number() OVER (PARTITION BY grp
               ORDER BY cents DESC, item) AS rnk
      FROM graded
    )
    SELECT grp, CAST(min(rnk) FILTER (rel >= 2) AS BIGINT)
             AS first_rel_rank,
           round(1.0 / min(rnk) FILTER (rel >= 2), 6)
             AS reciprocal_rank
    FROM ranked GROUP BY grp ORDER BY grp
    """,
    tags=("eval", "ranking", "retrieval", "lineitem"),
)
def eval_mrr(spark, sf_dir):
    """RECIPROCAL RANK per query group (the MRR family member beside
    eval_ndcg_at_k / eval_average_precision, same bounded grid): per
    order priority, rank the 50 part buckets by exact revenue cents
    and report the rank of the first RELEVANT item (integer grade
    >= 2, the NDCG grade scheme) and its reciprocal. Emitting the
    per-group rows instead of the cross-group mean keeps the surface
    all-integer-plus-one-division (no double accumulation) — the
    consumer's MRR is the mean of the last column.

    Scale: facts collapse to the bounded (priority x item) grid in one
    hash agg; the ranking windows span <= 50-row groups."""
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    item = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            (F.col("l_partkey") % 50).alias("item"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("cents"),
            F.sum("l_quantity").cast("long").alias("qty"),
        )
    )
    wg = W.partitionBy("grp")
    graded = item.select(
        "grp",
        "item",
        "cents",
        F.least(
            F.lit(3).cast("long"),
            F.expr("(4 * qty) div (max(qty) over (partition by grp))"),
        ).alias("rel"),
    )
    ranked = graded.select(
        "grp",
        "rel",
        F.row_number()
        .over(wg.orderBy(F.col("cents").desc(), "item"))
        .alias("rnk"),
    )
    first = (
        ranked.filter(F.col("rel") >= 2)
        .groupBy("grp")
        .agg(F.min("rnk").cast("long").alias("first_rel_rank"))
    )
    return first.select(
        "grp",
        "first_rel_rank",
        F.round(1.0 / F.col("first_rel_rank"), 6).alias(
            "reciprocal_rank"
        ),
    ).orderBy("grp")
