"""sf0.1 -> sf1 scale probe for the heaviest bench queries (VERDICT r4
next-step #5): one warm timing per query per scale; flags super-linear
(>12x on 10x data) steps. Results -> SCALE_PROBE.json (repo root)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mhm_data_pipelines_spark.benchmarks.registry import (  # noqa: E402
    QUERIES,
    load_table_cache_clear,
    release_query_resources,
)
from mhm_data_pipelines_spark.session import get_spark  # noqa: E402

HEAVY = [
    "minhash_neardup", "fuzzy_pairs", "knn_graph", "simhash_neardup",
    "dup_spans", "winnow_overlap", "ivfpq_topk", "event_pagerank",
    "quality_classifier", "token_budget_select",
    # round-5 additions with corpus-scaling cost profiles
    "source_overlap", "ppl_buckets", "sft_stats", "hybrid_rrf",
    "embedding_covariance",
    # round-5 second batch: line/fingerprint/KL corpus passes
    "line_boilerplate", "split_leakage", "source_divergence",
    "script_profile", "preference_all_pairs",
    # round-5 third batch: fold/funnel/rollup/manifest passes
    "conversation_windows", "event_funnel", "cohort_retention",
    "join_preflight", "hist_quantile_rollup", "ohlc_hourly",
    "time_weighted", "content_manifest",
    # round-5 fourth batch: sequential/ranking/graph/blocking passes
    "kaplan_meier", "ewma_smooth", "cusum_detect", "bradley_terry",
    "triangle_count", "pmi_collocations", "rater_agreement",
    "clustering_coeff", "sorted_neighborhood",
    # round-5 fifth/sixth batches: rank-stat/eval/audit passes
    "score_correlation", "ranking_overlap", "mmr_diverse",
    "grouped_folds", "calibration_report", "robust_outliers",
    "novelty_scores", "embargo_split", "benford_digits",
    # round-5 seventh batch: statistical tests + io/streaming passes
    "ks_drift", "mwu_shift", "chi2_assoc", "orc_roundtrip",
    "stream_dim_join",
    # round-5 eighth batch: whitening/concentration/keywords passes
    "embedding_whitening", "source_concentration", "doc_keywords",
    "mutual_knn", "basket_rules",
    "scd2_intervals", "subject_erasure", "ab_ztest",
    # round-6: the production selective mutual-kNN plan (the key whose
    # sf1 ratio should fall from mutual_knn's exhaustive 9.16x toward
    # linear) + the KN LM corpus pass.
    "mutual_knn_selective", "doc_kn_lm", "doc_sb_lm",
    # round-7: the capped-vs-exact substring-dedup cert (the cap is
    # inert at sf0.01 where max gram DF is 3 — sf1's boilerplate is
    # where the recall number means something) + the new LM order.
    "dup_spans_recall", "doc_sb5_lm", "doc_kn3_lm", "doc_kn5_lm",
    # round-7: the skew family against the Zipf(1.5)-skewed sf1 events
    # (one user holds ~38% of rows) — salting/AQE evidence at scale.
    "skew_report", "salted_agg_parity",
    # round-7 second batch: replicate-exploding resamplers (200x the
    # event stream flows through one codegen projection), the
    # multi-round Lloyd corpus passes, and the all-lags window pass.
    "bootstrap_ci", "randomization_test", "kmeans_iters", "acf_lags",
    # round-7 third batch: iterative LPA over the 10×-structure
    # lineitem co-order graph (gen_sf1 offsets order/part keys so the
    # GRAPH scales, not just the edge weights).
    "label_communities",
    # round-8: keys over 2 s warm in the sf0.1 bench.
    "fs_linkage", "ivm_rollup", "embedding_neardup", "ivf_topk",
    "image_phash_neardup", "lsh_topk",
    # round-8 second batch: the new graph keys over the urgent-order
    # part co-occurrence graph (same 10x-structure sf1 co-order scaling
    # as label_communities) — wedge-join AA and iterative k-core peel.
    "adamic_adar", "k_core",
    # round-8 third batch: the stateful streaming Holt drain (state is
    # 3 scalars per key; cost is the stream machinery + one pass over
    # the event volume, so it should scale ~linearly in rows).
    "stream_holt",
    # round-8 fourth batch: keys that sit NEAR the 2s auto-HEAVY line
    # and cross it on noisy-host bench runs — probed so the threshold
    # test can never flap on them (the ratio is noise-immune: both
    # scales measure in the same run).
    "profile_drift", "minhash_incremental",
    # round-8 fifth: session entry-path mining (one user-keyed window
    # pass + tuple-grouped prefix counts) — measured 2.0s warm at
    # sf0.1, i.e. exactly on the auto-HEAVY line.
    "session_paths",
    # round-9: the three new keys over the 2s warm auto-HEAVY line —
    # the wedge-join Jaccard sibling of adamic_adar (same 10x-structure
    # sf1 co-order graph), the iterative-CC grid clustering (cell
    # graph is grid-sized, so cost should track the binning pass), and
    # the streaming CDC drain (stream machinery + one pass over the
    # 10x orders changelog; bucket-pruned rewrites).
    "jaccard_linkpred", "grid_clusters", "stream_cdc",
    # round-9 late wave: the two keys over the 2s auto-HEAVY line —
    # the symmetrized-pair top-k window of item-item cosine (same
    # 10x-structure sf1 co-order baskets as basket_rules), and the
    # log-rank drain whose cost is the activity_spans per-user agg
    # (same shape as the probed kaplan_meier).
    "item_neighbors", "logrank_survival",
    # round-9 late wave, final bench: the tempered-popularity draw
    # joiner crossed the 2s line (2.04s warm) — probed; cost is the
    # draw explode + one bucket equi-join, expected ~linear in
    # interactions.
    "negative_samples",
    # round-9 final bench on a noisy host pushed five more
    # near-the-line keys over 2s warm — probed permanently so the
    # auto-HEAVY threshold test can never flap on them (same
    # discipline as the r8 fourth batch).
    "fd_violations", "fdr_battery", "mi_ranking", "readability",
    "stream_anomaly",
]

#: Cost-ceiling annotations (VERDICT r7 #3): probed keys whose sf1
#: ratio is EXPECTED to exceed ~10x on 10x data for a DOCUMENTED
#: structural reason — a deliberately non-production reference side,
#: or emit-all-pairs output semantics on the pathologically
#: self-similar synthetic corpus. The perf-evidence test recognizes
#: these — any OTHER key crossing 10x fails CI. An annotated key's
#: cost is the price of its contract, not a plan to optimize.
CERTIFIED_COST: dict[str, str] = {
    "dup_spans_recall": (
        "contains the deliberately UNCAPPED exact-semantics baseline "
        "(max_gram_df=None): pair fan-out is quadratic in the planted "
        "boilerplate gram DF by construction, and sf1 plants 10x the "
        "boilerplate. The PRODUCTION path it certifies (dup_spans / "
        "span_dedup, max_gram_df=1000) is probed separately and stays "
        "near-linear. Run the certification at sf<=0.1 (where the "
        "bijection proof lives); at sf>=1 certify on a doc sample."
    ),
    "embedding_neardup": (
        "OUTPUT-bound on the synthetic corpus: emit-all-pairs "
        "semantics, and sf1's label-replicated embeddings make whole "
        "label blocks mutually near-identical (1.4k pairs at sf0.1 -> "
        "20.0M TRUE pairs at sf1 — the 88x wall ratio is ~exactly the "
        "13.8kx output ratio, i.e. materialization, not compute). The "
        "plan is a label-blocked equi-join, never a cross product; "
        "the production decision paths aggregate pairs instead of "
        "emitting them (neardup_clusters / neardup_dedup_keep)."
    ),
    "image_phash_neardup": (
        "OUTPUT-bound on the synthetic corpus: sf1 has 50k docs over "
        "20 planted pattern families, so ~2.5k-doc identical-aHash "
        "families yield 61M TRUE pairs (608k at sf0.1) — wall ratio "
        "112x ~= output ratio 100x; materialization, not compute. The "
        "banded Hamming join is bucket-capped (max_bucket_size=10k) "
        "against ADVERSARIAL buckets; genuine duplicate mass this "
        "large is what the pair-aggregating cluster/keep paths "
        "consume without ever materializing the pair list to a sink."
    ),
}


def main() -> None:
    # argv names = probe only those, merging into the existing
    # SCALE_PROBE.json (incremental per-batch probes).
    names = sys.argv[1:]
    heavy = [n for n in HEAVY if n in names] if names else HEAVY
    spark = get_spark(app_name="scale-probe", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    if names and os.path.exists("/root/repo/SCALE_PROBE.json"):
        with open("/root/repo/SCALE_PROBE.json") as f:
            out = json.load(f)
    for sf_dir, tag in (("/root/testdata/sf0.1", "sf0.1"),
                        ("/tmp/mhm_sf1", "sf1")):
        load_table_cache_clear()
        spark.read.parquet(f"{sf_dir}/region.parquet").count()
        for name in heavy:
            # cold (plan+codegen) then warm; record warm
            QUERIES[name](spark, sf_dir).count()
            release_query_resources()
            t0 = time.perf_counter()
            n = QUERIES[name](spark, sf_dir).count()
            dt = round(time.perf_counter() - t0, 3)
            release_query_resources()
            out.setdefault(name, {})[tag] = {"sec": dt, "rows": n}
            print(f"# {tag} {name}: {dt}s ({n} rows)", flush=True)
    for name in heavy:  # don't clobber sp128-corrected flags of
        r = out[name]   # previously probed entries on a merge run
        ratio = r["sf1"]["sec"] / max(r["sf0.1"]["sec"], 1e-9)
        r["ratio_10x_data"] = round(ratio, 2)
        r["superlinear"] = ratio > 12
    flagged = [n for n in heavy if out[n]["superlinear"]]
    if flagged:
        # A cluster scales shuffle parallelism with the data (or AQE
        # re-plans it); the fixed 32 partitions above deliberately do
        # not. Re-probe flagged queries at 4x partitions to separate
        # genuine super-linear work from partition starvation.
        spark.stop()
        spark = get_spark(app_name="scale-probe-sp128",
                          master="local[32]", shuffle_partitions=128)
        spark.sparkContext.setLogLevel("ERROR")
        load_table_cache_clear()
        for name in flagged:
            QUERIES[name](spark, "/tmp/mhm_sf1").count()
            release_query_resources()
            t0 = time.perf_counter()
            QUERIES[name](spark, "/tmp/mhm_sf1").count()
            dt = round(time.perf_counter() - t0, 3)
            release_query_resources()
            r = out[name]
            r["sf1_sp128"] = {"sec": dt}
            r["ratio_10x_data_sp128"] = round(
                dt / max(r["sf0.1"]["sec"], 1e-9), 2
            )
            r["superlinear"] = r["ratio_10x_data_sp128"] > 12
            print(f"# sf1@sp128 {name}: {dt}s", flush=True)
    with open("/root/repo/SCALE_PROBE.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v["ratio_10x_data"] for k, v in out.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
