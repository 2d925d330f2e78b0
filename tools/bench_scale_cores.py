"""Parallel-speedup probe at sf1.0 — r12 verdict ask #1.

At sf0.1 the whole suite is per-query overhead-bound and the 8-core
run beat the 32-core run, so NO query demonstrated parallel speedup
anywhere (scaling ratios 0.51-0.95). This probe runs the >=2 s band
(the 38 queries from BENCH_DETAIL_r12_c8.json) against the 10x replica
fixture (``tools/gen_scale.py`` -> .scale/sf1.0) at 8 AND 32 cores —
one SparkSession per core count, two noop-sink passes per query, min
recorded — and writes ``BENCH_SCALE_CORES.json`` with per-query
core-ratios (t8/t32; 1.0 = serial, 4.0 = perfect for a 4x core
increase).

Usage:
    python tools/gen_scale.py            # once, builds .scale/sf1.0
    python tools/bench_scale_cores.py [--queries a,b,...] [--passes 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gcp_etl_spark.queries import load_all  # noqa: E402
from gcp_etl_spark.session import _quiet_benign_warnings, get_spark  # noqa: E402

SCALE_DIR = os.environ.get(
    "SPARK_GRAFT_SCALE_DIR", os.path.join(REPO, ".scale", "sf1.0")
)

# the r12 8-core >=2 s band (BENCH_DETAIL_r12_c8.json), slowest first
BAND = [
    "window_range_frame", "dedup_minhash_banding_curve",
    "ann_ivf_refine_recall_curve", "graph_jaccard_neighbors",
    "analytics_theil_sen", "graph_adamic_adar", "stats_permutation_test",
    "dedup_substring_tokens_dfcap", "dedup_prefix_filter",
    "train_kmeans_lloyd", "decontaminate_bloom_verified",
    "diag_skew_report", "join_interval_overlap", "dedup_substring_tokens",
    "agg_weighted_quantiles", "agg_weighted_median",
    "io_python_datasource_stream", "ann_hard_negatives",
    "dq_value_drift_psi", "dedup_cluster_twophase",
    "graph_clustering_coefficient", "profile_columns",
    "ann_ivf_nprobe_sweep", "graph_k_core", "analytics_bootstrap_ci",
    "dedup_survivorship", "eval_bleu_lite", "subq_recursive_hierarchy",
    "ann_cosine_topk_ivf_refined", "basket_frequent_triples",
    "stream_ann_probe", "prep_leakage_split", "dedup_ngram_jaccard_dfcap",
    "analytics_markov_removal_effect", "dedup_clusters",
    "udtf_polymorphic_analyze", "graph_link_prediction",
    "dedup_weighted_jaccard",
]


def _cleanup(spark) -> None:
    spark.catalog.clearCache()
    try:
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
    except Exception:  # noqa: BLE001
        pass


def run_at(cpus: int, names: list[str], passes: int) -> dict:
    spark = get_spark(f"scale-cores-{cpus}", cpus=cpus)
    _quiet_benign_warnings(spark)
    specs = load_all()
    sc = spark.sparkContext
    out: dict[str, float] = {}
    try:
        specs["q1_pricing_summary"].fn(spark, SCALE_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        print(f"# warmup failed: {e}", file=sys.stderr)
    for name in names:
        spec = specs.get(name)
        if spec is None:
            continue
        best = None
        sc.setJobDescription(f"scale-cores c{cpus} {name}")
        try:
            for _ in range(passes):
                t0 = time.time()
                spec.fn(spark, SCALE_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                el = time.time() - t0
                best = el if best is None else min(best, el)
                _cleanup(spark)
        except Exception as e:  # noqa: BLE001
            print(f"# FAILURE {name} at c{cpus}: {e}", file=sys.stderr)
            continue
        out[name] = round(best, 3)
        print(f"c{cpus} {name}: {best:.2f}s", flush=True)
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(
        REPO, "BENCH_SCALE_CORES.json"))
    args = ap.parse_args()
    names = [q for q in args.queries.split(",") if q] or BAND

    t32 = run_at(32, names, args.passes)
    t8 = run_at(8, names, args.passes)
    per = {}
    for n in names:
        if n in t8 and n in t32 and t32[n] > 0:
            per[n] = {
                "t8": t8[n],
                "t32": t32[n],
                "ratio": round(t8[n] / t32[n], 2),
            }
    ratios = sorted(v["ratio"] for v in per.values())
    payload = {
        "metric": "core_scaling_sf1",
        "scale_dir": SCALE_DIR,
        "cpus": [8, 32],
        "passes": args.passes,
        "n_queries": len(per),
        "ratio_median": ratios[len(ratios) // 2] if ratios else None,
        "n_ratio_ge_2": sum(1 for r in ratios if r >= 2.0),
        "n_ratio_lt_1_2": sum(1 for r in ratios if r < 1.2),
        "queries": per,
    }
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in payload.items() if k != "queries"}))


if __name__ == "__main__":
    main()
