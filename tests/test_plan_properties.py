"""Registry-wide physical-plan regression properties.

Every registry query's plan must be shuffle-sane at 100 TB: no
CartesianProduct anywhere, and BroadcastNestedLoopJoin only where the
broadcast side is a provably tiny scalar aggregate (single-row
broadcast — the scalar-subquery realization pattern). A new query that
accidentally plans a cross product fails here before it ever ships.

The plans are the ones test_oracle_parity built and executed at
``SF`` earlier in the session (``oracle_utils.PLANS``); a key is built
here only when that run did not record it (this file run on its own,
or the parity run pointed at another scale).
"""

from __future__ import annotations

import re

import pytest

from mhm_data_pipelines_spark.benchmarks import registry
from mhm_data_pipelines_spark.benchmarks.registry import QUERIES
from tests.oracle_utils import PLANS

SF = "/root/testdata/sf0.001"

#: Queries where a BroadcastNestedLoopJoin is EXPECTED: they cross-join
#: a single-row aggregate (scalar subquery pattern — n_docs, scalar avg,
#: global max). The broadcast side is one row; the "nested loop" is a
#: constant append. Keep this list tight — additions need justification;
#: every entry must still plan one, so an entry cannot go stale.
SINGLE_ROW_BROADCAST_OK = {
    "tfidf_top_terms",    # crossJoin(broadcast(count_distinct n_docs))
    "doc_lm_score",       # crossJoin(broadcast(corpus token total)) — 1 row
    "tpch_q22",           # crossJoin(broadcast(avg acctbal))
    "tpch_q11",           # value > broadcast(1-row sum threshold)
    "embedding_whitening",  # covariance_long's crossJoin(broadcast(vector
                            # count n)) — 1 row
    "jsonl_roundtrip",    # crossJoin(broadcast(quarantined-row count)) — 1 row
    "balanced_classes",   # crossJoin(broadcast(min class count)) — 1 row
    "zorder_layout",      # crossJoin(broadcast(per-column min/max)) — 1 row
    "missing_data",       # distinct-participants × distinct-metrics grid:
                          # a dims×dims cross building the expected-cell
                          # universe (J3), both sides tiny aggregates
    "ann_recall",         # brute-force ground-truth side: corpus ×
                          # broadcast(5 query rows) — the exact-verify
                          # path is a bounded cross by design; the
                          # approximate side under test is an equi-join
    "multiprobe_recall",  # same shape as ann_recall: exact ground-truth
                          # side is corpus × broadcast(5 query rows);
                          # the multiprobe side under test is an
                          # equi-join on the exploded probe buckets
    "ivf_recall",         # same shape as ann_recall: exact ground-truth
                          # side is corpus × broadcast(5 query rows);
                          # the IVF side under test is an equi-join on
                          # list_id
    "bm25_topk",          # crossJoin(broadcast(N docs + avgdl)) — 1 row
    "hybrid_rrf",         # contains bm25_topk's 1-row stats cross
    "doc_kn_lm",          # crossJoin(broadcast(bigram-type total)) — 1 row
    "doc_kn3_lm",         # crossJoin(broadcast(bigram-type total)) — 1 row
    "doc_kn5_lm",         # crossJoin(broadcast(bigram-type total)) — 1 row
    "doc_sb_lm",          # crossJoin(broadcast(token total)) — 1 row
    "doc_sb5_lm",         # crossJoin(broadcast(token total)) — 1 row
    "embedding_covariance",  # crossJoin(broadcast(vector count n)) — 1 row
    "skew_report",        # crossJoin(broadcast(mean/total per column)) —
                          # one 1-row scalar frame per report column
    "dsir_weights",       # crossJoin(broadcast(total feature counts))
                          # — two 1-row scalar sides
    "pq_topk",            # ADC scoring: encoded corpus ×
                          # broadcast(5 query rows carrying their LUTs)
                          # — bounded broadcast cross by design; the
                          # per-candidate work is m array lookups, and
                          # a bucketed IVF×PQ composition replaces the
                          # cross at larger query counts
    "target_encoding",    # crossJoin(broadcast(global prior mu)) — 1 row
    "fdr_battery",        # crossJoin(broadcast(global N,S totals)) — 1 row
    "cuped_lift",         # crossJoin(broadcast(pooled theta + x-mean))
                          # — 1 row, + the arm-sized nulls tally row
    "srm_audit",          # crossJoin(broadcast(NULL-arm tally)) — 1 row
    "session_paths",      # crossJoin(broadcast(total session count)) — 1 row
    "semantic_decontam",  # training × broadcast(curated eval set) —
                          # bounded cross by design (eval benchmarks
                          # are small); LSH/IVF blocking replaces the
                          # cross for eval sets too big to broadcast
    "curriculum_order",   # crossJoin(broadcast(cutpoint array)) — 1 row
    "source_divergence",  # crossJoin(broadcast(corpus token total)) — 1 row
    "pmi_collocations",   # crossJoin(broadcast(N tokens + B bigrams))
                          # — 1-row scalar totals
    "calibration_report", # crossJoin(broadcast(corpus total)) — 1 row
    "embargo_split",      # crossJoin(broadcast(quantile cutoff)) — 1 row
    "benford_digits",     # crossJoin(broadcast(digit total)) — 1 row
    "ks_drift",           # crossJoin(broadcast(sample sizes)) — 1 row
    "chi2_assoc",         # crossJoin(broadcast(N/r/c totals)) — 1 row
    "doc_keywords",       # crossJoin(broadcast(n_docs)) — 1 row
    "basket_rules",       # crossJoin(broadcast(basket total)) — 1 row
    "join_preflight",     # three crossJoin(broadcast(1-row summary aggs))
    "kaplan_meier",       # crossJoin(broadcast(global max-ts cutoff)) —
                          # 1 row (activity_spans' censoring boundary)
    "mutual_knn_recall",  # crossJoin(broadcast(1-row selective-pair
                          # count)) onto the 1-row recall summary
    "dup_spans_recall",   # crossJoin(broadcast(1-row capped/identical
                          # summary aggs)) onto the 1-row exact agg
    "randomization_test", # crossJoin(broadcast(1-row observed n_a/n_b/
                          # diff)) onto the replicate stream and the
                          # 1-row tail aggregate
    "user_rfm",           # crossJoin(broadcast(1-row global max-ts
                          # reference)) onto the user aggregate
    "psi_drift",          # crossJoin(broadcast(1-row decile-edge
                          # array)) onto the corpus + the dims-grid
                          # cross of two tiny aggregates (groups ×
                          # 10 bins) — missing_data's J3 pattern
    "fs_linkage",         # crossJoin(broadcast(1-row u-probability
                          # aggregates)) onto the blocked pair join
    "event_sequences",    # crossJoin(broadcast(1-row distinct-entity
                          # total)) onto the pattern aggregate
    "woe_iv",             # crossJoin(broadcast(1-row decile edges +
                          # 1-row class totals)) — psi_drift's shape
    "conformal_coverage", # 1-row crosses: (n_cal,k) onto the cum
                          # table, q_hat onto eval, and the final
                          # report assembly — all single-row scalars
    "kmv_set_ops",        # set_a < set_b inequality pair join over
                          # the n_sets-row sketch-stats aggregate —
                          # tiny-aggregate cross by design; the
                          # element-volume join is the kept⋈kept
                          # hash equi-join
    "ipw_lift",           # crossJoin(broadcast(1-row n_strata)) onto
                          # the single-row IPW aggregate — the scalar
                          # report-assembly shape
    "hard_negatives",     # corpus × broadcast(5 query rows) with the
                          # label-mismatch predicate in the join —
                          # bounded broadcast cross by design; compose
                          # knn_graph for query sets too big to
                          # broadcast
    "logrank_survival",   # crossJoin(broadcast(1-row subject totals))
                          # onto the single-row test statistic
    "kw_groups",          # crossJoin(broadcast(1-row tie mass)) onto
                          # the single-row group-stat aggregate
    "degree_assortativity",  # crossJoin(broadcast(1-row node count))
                             # onto the single-row moment aggregate
    "cumulative_hazard",  # activity_spans' crossJoin(broadcast(1-row
                          # corpus cutoff)) — same as kaplan_meier
    "friedman_groups",    # crossJoin(broadcast(1-row rank-square
                          # sum)) onto the single-row treatment agg
    "group_sequential",   # crossJoin(broadcast(1-row quantile
                          # cutpoints)) — the wave-assignment scalars
    "eb_rates",           # crossJoin(broadcast(1-row prior moments))
    "negative_samples",   # crossJoin(broadcast(1-row W/B mass
                          # scalars)) on both the interval and draw
                          # sides
    "qini_uplift",        # crossJoin(broadcast(1-row decile
                          # cutpoints)) — the bin-assignment scalars
}


def test_allow_list_names_registry_keys():
    assert SINGLE_ROW_BROADCAST_OK <= set(QUERIES), (
        SINGLE_ROW_BROADCAST_OK - set(QUERIES)
    )
    assert set(PLAN_BUDGETS) <= set(QUERIES), (
        set(PLAN_BUDGETS) - set(QUERIES)
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_or_unexpected_nested_loop(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cross product"
    if name in SINGLE_ROW_BROADCAST_OK:
        assert "BroadcastNestedLoopJoin" in plan, (
            f"{name} no longer plans a nested-loop join; drop it from "
            "SINGLE_ROW_BROADCAST_OK"
        )
    else:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a nested-loop join; if the broadcast side is a "
            "single-row scalar, whitelist it explicitly"
        )


def _plan(spark, name: str) -> str:
    if (SF, name) in PLANS:
        return PLANS[SF, name]
    # Release builder-owned resources from earlier fingerprints (e.g.
    # q_minhash_incremental's tracked index persist) so a leftover cache
    # is never substituted as InMemoryTableScan into THIS query's plan
    # and Exchange counts stay deterministic.
    registry.release_query_resources()
    return (
        QUERIES[name](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _count_shuffles(plan: str) -> int:
    """Shuffle Exchanges only (hash/range/single-partition) — NOT
    BroadcastExchange, which is the cheap path we encourage."""
    return len(re.findall(r"Exchange (hash|range|Single)", plan))


#: Shuffle-count CEILINGS (and broadcast-join requirements) for the most
#: expensive headline queries, captured from the intended plans at
#: sf0.001. An edit that silently adds an Exchange — or degrades a
#: broadcast dimension join to a sort-merge — fails here with a plan
#: diff, before it costs anything at scale. Ceilings are the captured
#: value, not "captured + slack": loosen one ONLY with a written reason.
PLAN_BUDGETS: dict[str, dict] = {
    # banded LSH self-joins + verification joins. The hot-bucket cap
    # detects at CONSTRUCTION time (one metadata-sized job) and, with no
    # hot buckets, leaves the executed plan identical to the uncapped
    # one — these ceilings are the clean uncapped shapes.
    "simhash_neardup": {"max_shuffles": 5},
    "minhash_neardup": {"max_shuffles": 10},
    # ngram equi-join: eval side must stay broadcast (never shuffle the
    # exploded train-side ngrams into a sort-merge)
    "decontamination": {"max_shuffles": 3, "require": ["BroadcastHashJoin"]},
    "tfidf_top_terms": {"max_shuffles": 6},
    # two-phase prefix sum: _pid window Exchange + final sort, plus the
    # in-plan offsets subtree's two metadata-sized Exchanges (per-bucket
    # totals: map-side-combined partial rows, then a single-partition
    # window over num_partitions rows) — r4 traded the driver
    # collect/createDataFrame offsets round-trip for these two tiny
    # shuffles (net warm win, no driver action at execution)
    "token_budget_select": {"max_shuffles": 4},
    # TPC-H joins ride broadcast dims over ONE lineitem shuffle
    "tpch_q2": {"max_shuffles": 2, "require": ["BroadcastHashJoin"]},
    "tpch_q8": {"max_shuffles": 1, "require": ["BroadcastHashJoin"]},
    "tpch_q21": {"max_shuffles": 1, "require": ["BroadcastHashJoin"]},
    "top_orders_per_customer": {"max_shuffles": 1},
    "doc_repetition": {"max_shuffles": 5},
    # N-way full-outer assembly: full outer can't broadcast — exactly one
    # co-partitioned SMJ chain over two shuffles
    "summary_assembly": {"max_shuffles": 2},
    # composed pipeline: decontam spread repartition + dedup semi-join agg
    # + prefix-sum window/_pid + chunk-order sort — each stage's own
    # intended shape, captured post-r3 optimizations
    "llm_dataset_build": {"max_shuffles": 7, "require": ["BroadcastHashJoin"]},
    # r4 additions. temperature_mix: source-count agg + single-task
    # window over the (metadata-sized) source table + per-source rank
    # window + quota broadcast-join back. bm25: term-filtered tf agg +
    # docfreq agg (≤ query terms, broadcast) + dl join + final agg;
    # TakeOrdered top-k adds no Exchange. bpe_pairs: vocab agg + pair
    # agg, top-n via TakeOrdered.
    "temperature_mix": {"max_shuffles": 4, "require": ["BroadcastHashJoin"]},
    "bm25_topk": {"max_shuffles": 5, "require": ["BroadcastHashJoin"]},
    "bpe_pairs": {"max_shuffles": 2},
    # batch-vs-index: batch signature agg + banding for both sides +
    # broadcast semi-prune of the index + pair join + two verify joins;
    # the index side must never shuffle wholesale (semi-join is the
    # broadcast requirement below).
    "minhash_incremental": {
        "max_shuffles": 8,
        "require": ["BroadcastHashJoin"],
    },
    # exact top-10 agg + mergeable approx_top_k sketch agg; approx side
    # (≤20 rows) broadcast onto the exact side
    "heavy_hitters": {"max_shuffles": 2, "require": ["BroadcastHashJoin"]},
    # this session's additions. dup_spans: occurrence-cap window + the
    # gram self-join (AQE broadcasts the capped side at test sf; the
    # budget holds for the SMJ shape too) + islands window + display
    # sort. span_dedup: dup_spans' shuffles + the per-doc range-list
    # aggregate and its join back onto the corpus. pq/ivfpq: encode and
    # LUT/probe sides are zero-shuffle map stages — only the top-k
    # window and display sort exchange; candidate generation must stay
    # a broadcast join (probes side), never a shuffled corpus.
    "dup_spans": {"max_shuffles": 4},
    "span_dedup": {"max_shuffles": 6},
    "pq_topk": {"max_shuffles": 2},
    "ivfpq_topk": {"max_shuffles": 2, "require": ["BroadcastHashJoin"]},
    # Gopher rules: one projection; the only Exchange is the display
    # orderBy.
    "gopher_quality": {"max_shuffles": 1},
    # round-4 late additions. fuzzy_pairs (r9 shape): variant-bucket
    # member-array agg + pair-distinct agg + display sort — the former
    # variant self-join is gone (its broadcast hid an exchange at test
    # sf but cost a second exploded-frame shuffle at scale); the text
    # re-attach joins still ride broadcasts at test sf. snapshot_diff: the two
    # snapshot sides hash-shuffle into ONE full-outer SMJ + display
    # sort. weighted_sample: TakeOrdered — the display sort is the only
    # Exchange. semantic_decontam: broadcast eval cross + one max agg.
    # sentence_dedup: explode + winner agg + rejoin + reassembly agg +
    # totals agg + two id joins + display sort. knn_graph: assignment/
    # probe projections + cogroup (two hash Exchanges) + top-k window +
    # display sort; centroid literals come from a separate collect.
    "fuzzy_pairs": {"max_shuffles": 3},
    "snapshot_diff": {"max_shuffles": 3},
    "weighted_sample": {"max_shuffles": 1},
    # was 2; +1 when the every-training-row contract fix (review r4)
    # added the ids⋈verdicts left join so empty-eval still yields one
    # false-verdict row per training item.
    "semantic_decontam": {
        "max_shuffles": 3,
        "require": ["BroadcastNestedLoopJoin"],
    },
    "sentence_dedup": {"max_shuffles": 7},
    "knn_graph": {"max_shuffles": 4},
    # daily sketch agg + weekly union agg + exact weekly distinct (two
    # phases) + the estimate/exact join + display sort — raw events
    # scan twice (sketch path + exact verification path), never more.
    "hll_user_rollup": {"max_shuffles": 6},
    # round-5 additions. hybrid_rrf: bm25's tf/docfreq/dl aggs + the two
    # 20-row rank windows + fusion agg — the corpus-sized side rides
    # bm25's budget; jaccard is scan + TakeOrdered (no Exchange).
    # ppl_buckets: doc_lm_score's exploded-token subtree is planned per
    # consumer (freq ×2, scored join) like doc_lm_score itself + the
    # lang-threshold agg + display sort. embedding_covariance: the
    # moment partials localCheckpoint (one corpus scan), then g/s/n
    # combine aggs + metadata-sized joins + display sort — the plan
    # must show ZERO parquet scans (partials reused, never re-scanned).
    "hybrid_rrf": {"max_shuffles": 5, "require": ["BroadcastHashJoin"]},
    "ppl_buckets": {"max_shuffles": 14, "require": ["BroadcastHashJoin"]},
    # doc_kn_lm: explode + (w1,w2) agg + three marginal re-aggs of the
    # count table + AQE-sized joins back + the per-doc agg + display
    # sort (subtrees planned per consumer as in ppl_buckets).
    "doc_kn_lm": {"max_shuffles": 12, "require": ["BroadcastHashJoin"]},
    # doc_kn3_lm: trigram + bigram explode/agg passes + four marginal
    # re-aggs + six AQE-sized joins back onto the held-out stream +
    # per-doc agg + display sort (subtrees planned per consumer).
    "doc_kn3_lm": {"max_shuffles": 24, "require": ["BroadcastHashJoin"]},
    # doc_kn5_lm: four explode/agg passes (k=2..5) + five marginal
    # re-aggs + nine AQE-sized joins onto the held-out 5-gram stream +
    # per-doc agg + display sort (subtrees planned per consumer).
    "doc_kn5_lm": {"max_shuffles": 40, "require": ["BroadcastHashJoin"]},
    # doc_sb_lm: three explode+agg count passes (tri/big/uni) + five
    # AQE-sized joins back onto the held-out trigram stream + per-doc
    # agg + display sort (subtrees planned per consumer).
    "doc_sb_lm": {"max_shuffles": 18, "require": ["BroadcastHashJoin"]},
    # doc_sb5_lm: five explode+agg count passes (k=1..5) + nine
    # AQE-sized joins back onto the held-out 5-gram stream (each k-gram
    # table twice: suffix count + (k+1)-context) + per-doc agg +
    # display sort (subtrees planned per consumer).
    "doc_sb5_lm": {"max_shuffles": 30, "require": ["BroadcastHashJoin"]},
    "embedding_covariance": {"max_shuffles": 5},
    # sft_stats is from_json + higher-order array exprs, all row-local:
    # the display sort is the ONLY Exchange.
    "sft_stats": {"max_shuffles": 1},
    # unicode_normalize: one ArrowEvalPython (NFC) inside a row-local
    # projection; the display sort is the ONLY Exchange.
    "unicode_normalize": {"max_shuffles": 1},
    # source_overlap: the gram explode feeds the per-gram set agg and
    # the per-source totals agg (subtree planned per consumer like
    # ppl_buckets); pair explode + pair agg + two broadcast totals
    # joins + display sort.
    "source_overlap": {"max_shuffles": 7, "require": ["BroadcastHashJoin"]},
    # phrase_search: row-local array position count; the result sort is
    # the ONLY Exchange.
    "phrase_search": {"max_shuffles": 1},
    # skew_report: per column, one count agg + TakeOrdered + the 10-row
    # rank window + scalar stats broadcast; two report columns union.
    "skew_report": {"max_shuffles": 8},
    # profile_drift: two profile passes (each: long-form agg + top-k
    # explode agg + n_columns-row join) + the column-name join + sort.
    "profile_drift": {"max_shuffles": 8},
    # preference_pairs: ONE struct-min/max agg (partial + final
    # SortAggregate) + display sort — never a window or self-join.
    "preference_pairs": {"max_shuffles": 2},
    # preference_all_pairs: prompt-keyed self-join (both sides shuffle
    # or AQE-broadcast) + the per-prompt cap window + display sort.
    "preference_all_pairs": {"max_shuffles": 4},
    # embedding_outliers: centroid (label,pos,val) agg -> array
    # reassembly agg + distance-stats agg; centroid and stats join
    # back by broadcast; display sort. Corpus scans stay narrow.
    "embedding_outliers": {
        "max_shuffles": 5,
        "require": ["BroadcastHashJoin"],
    },
    # line_boilerplate: line explode feeds the (line, doc) distinct +
    # df agg (2) and re-plans for the join side (subtree per consumer);
    # frequent-set join + per-doc reassembly agg + display sort.
    "line_boilerplate": {"max_shuffles": 6},
    # content_manifest: one narrow projection + ONE hash agg to
    # n_buckets rows + display sort.
    "content_manifest": {"max_shuffles": 2},
    # hard_negatives: broadcast query join (map-only) + per-query rank
    # window + display sort.
    "hard_negatives": {"max_shuffles": 2},
    # split_leakage: union + ONE fingerprint hash agg (countDistinct
    # expands to two phases) + display sort.
    "split_leakage": {"max_shuffles": 3},
    # curriculum_order: cutpoint scalar agg broadcast back + row-local
    # banding/key + display sort.
    "curriculum_order": {"max_shuffles": 2},
    # length_buckets: row-local bucket assign + ONE hash agg to 4 rows
    # + display sort.
    "length_buckets": {"max_shuffles": 2},
    # source_divergence: explode + (group,term) agg (localCheckpointed,
    # shared by ct/g_tot/tot consumers) + term-count agg + totals aggs
    # + the term join + final per-group agg + display sort.
    "source_divergence": {"max_shuffles": 8},
    # script_profile: row-local regexp_count projection; the display
    # sort is the ONLY Exchange.
    "script_profile": {"max_shuffles": 1},
    # shard_plan: running_total's two-phase prefix sum (pid window
    # Exchange + metadata-sized offsets subtree) + the report agg +
    # display sort; boundary sampling adds its own sampled exchanges.
    "shard_plan": {"max_shuffles": 8},
    # impute_values: the median stats agg (sort-based percentile: two
    # phases) broadcast back + display sort; the fill is row-local.
    "impute_values": {
        "max_shuffles": 3,
        "require": ["BroadcastHashJoin"],
    },
    # wordlist_screen: row-local literal-array matching; display sort
    # is the ONLY Exchange.
    "wordlist_screen": {"max_shuffles": 1},
    # mix_solver: ONE count agg to n_groups rows + display sort.
    "mix_solver": {"max_shuffles": 2},
    # mix_apply: the rates subtree's count agg + the broadcast rates
    # join (row-local draw filter) + summary agg + display sort.
    "mix_apply": {
        "max_shuffles": 4,
        "require": ["BroadcastHashJoin"],
    },
    # event_funnel: one user-keyed agg per step (3) + the step joins
    # reuse the user exchange; final 1-row summary agg (2 phases).
    "event_funnel": {"max_shuffles": 8},
    # cohort_retention: first-seen agg + distinct + user join +
    # (cohort, offset) count-distinct (2 phases) + display sort.
    "cohort_retention": {"max_shuffles": 7},
    # conversation_windows: row-local fold + explode + per-(doc,window)
    # reassembly agg + display sort.
    "conversation_windows": {"max_shuffles": 3},
    # join_preflight: two per-key count aggs + the counts join + the
    # TakeOrdered top-k + 1-row summary aggs (broadcast crosses).
    "join_preflight": {"max_shuffles": 7},
    # ohlc_hourly: ONE hash agg (partial + final) + display sort.
    "ohlc_hourly": {"max_shuffles": 2},
    # time_weighted: one per-key lead window + one hash agg + sort.
    "time_weighted": {"max_shuffles": 3},
    # hist_quantile_rollup: daily partial agg -> weekly merge agg ->
    # n_bins-row cum window + estimate agg + the exact-median
    # verification subtree (percentile agg) + join + display sort.
    "hist_quantile_rollup": {"max_shuffles": 8},
    # kaplan_meier: per-user spans agg + cohort agg + spans-cohort join
    # + per-(cohort,t) agg + the two cohort-partitioned windows share
    # one exchange + display sort; the cutoff is a 1-row broadcast.
    "kaplan_meier": {"max_shuffles": 6},
    # ewma_smooth: ONE user-keyed group-for-recursion exchange + the
    # display sort; the recursion itself is in-partition Arrow batches.
    "ewma_smooth": {"max_shuffles": 2},
    # cusum_detect: per-user stats agg + (AQE-broadcast) stats join,
    # group-for-recursion exchange + display sort.
    "cusum_detect": {"max_shuffles": 3},
    # prefix_jaccard: token-freq agg + freq join + per-id order agg +
    # the prefix-token self-join (both sides) + candidate distinct +
    # two verify joins (the `ordered` subtree is planned per consumer)
    # + display sort. NEVER a cross — candidates key on prefix tokens.
    "prefix_jaccard": {"max_shuffles": 9},
    # containment_pairs: same skeleton with an asymmetric
    # probe-prefix × full-index equi-join.
    "containment_pairs": {"max_shuffles": 9},
    # bradley_terry: iterations run at BUILD over checkpointed K-row
    # tables (pagerank discipline) — the returned plan is the final
    # ratings scan + display sort.
    "bradley_terry": {"max_shuffles": 2},
    # triangle_count: window-lag edge derivation + distinct + degree
    # agg feed two lazily-checkpointed frames; the remaining plan is
    # wedge join + closure probe + explode agg + zero-fill join + sort.
    "triangle_count": {"max_shuffles": 8},
    # pmi_collocations: one explode feeding unigram + bigram hash aggs,
    # two count re-attach joins, scalar totals broadcast, bounded top-k.
    "pmi_collocations": {"max_shuffles": 7},
    # rater_agreement: 3-way label union + item self-join, then four
    # metadata-sized (R^2-keyed) aggregates/joins + display sort.
    "rater_agreement": {"max_shuffles": 9},
    # clustering_coeff: triangle_count skeleton (+ degree kept in the
    # same pass) + display sort.
    "clustering_coeff": {"max_shuffles": 8},
    # sorted_neighborhood: two-phase prefix-sum rank (bucket window +
    # metadata-sized offsets) + rank-block equi-join + display sort.
    "sorted_neighborhood": {"max_shuffles": 8},
    # score_correlation: TWO fractional-rank derivations (per-value
    # agg + prefix-sum bucket window + metadata offsets each) + two
    # rank re-attach joins + the single-row correlation aggregate.
    "score_correlation": {"max_shuffles": 12},
    # ranking_overlap: two per-source rank windows + the (query,item)
    # pair join + per-query agg + zero-fill join + display sort.
    "ranking_overlap": {"max_shuffles": 8},
    # grouped_folds: pure-projection fold tag + one distinct-count
    # aggregate + display sort.
    "grouped_folds": {"max_shuffles": 4},
    # calibration_report: one 10-bin hash agg + broadcast 1-row total
    # + display sort.
    "calibration_report": {"max_shuffles": 5},
    # robust_outliers: median agg + stats/MAD agg + flag-count agg
    # with two AQE-sized stat joins + display sort.
    "robust_outliers": {"max_shuffles": 8},
    # novelty_scores: shared explode stage feeds ref-set distinct +
    # per-doc totals/matched aggs + left join + display sort.
    "novelty_scores": {"max_shuffles": 6},
    # embargo_split: quantile scalar broadcast + 3-group agg + sort.
    "embargo_split": {"max_shuffles": 4},
    # benford_digits: one 9-group agg + zero-fill digit join +
    # broadcast total + display sort.
    "benford_digits": {"max_shuffles": 5},
    # ks_drift: per-value agg + TWO prefix-sum cumulatives (bucket
    # window + metadata offsets each) + the value join + 1-row agg.
    "ks_drift": {"max_shuffles": 14},
    # mwu_shift: per-value agg + one prefix-sum cumulative + 1-row agg.
    "mwu_shift": {"max_shuffles": 7},
    # chi2_assoc: contingency agg + two margin aggs/joins + 1-row agg.
    "chi2_assoc": {"max_shuffles": 10},
    # source_concentration: one groups agg + the metadata-sized Gini
    # rank window (single partition over GROUP rows) + 1-row agg.
    "source_concentration": {"max_shuffles": 3},
    # doc_keywords: explode + TF agg + DF agg + re-attach join +
    # per-doc rank window + display sort.
    "doc_keywords": {"max_shuffles": 8},
    # mutual_knn: exhaustive-probe top-1 cogroup + the canonical-pair
    # mutuality agg + display sort.
    "mutual_knn": {"max_shuffles": 6},
    # mutual_knn_selective: selective-probe top-1 cogroup + the
    # canonical-pair mutuality agg + display sort (mutual_knn's shape
    # with the probe join restricted to nprobe lists).
    "mutual_knn_selective": {"max_shuffles": 6},
    # mutual_knn_recall: TWO top-1 graphs (selective + exhaustive ref)
    # each a cogroup + mutuality agg, the pair-recall join, and two
    # 1-row summary aggs joined scalar-style.
    "mutual_knn_recall": {"max_shuffles": 14},
    # basket_rules: distinct + cap-join feed a lazily-checkpointed
    # frame; pair self-join + pair agg + marginal joins + bounded sort.
    "basket_rules": {"max_shuffles": 6},
    # minhash_pr_curve: the full banded-LSH est pipeline + the exact
    # prefix-filtered truth join + full-outer flag join + 3-row agg.
    "minhash_pr_curve": {"max_shuffles": 14},
    # scd2_intervals: one lead window per dimension key + display sort.
    "scd2_intervals": {"max_shuffles": 3},
    # ab_ztest: one two-group hash aggregate (single-row result).
    "ab_ztest": {"max_shuffles": 2},
    # ivm_rollup: the returned view is a partition-pruned READ of the
    # maintained partials + projection + display sort — the increments
    # themselves each cost one batch-sized hash agg, never a corpus
    # scan. One range exchange for the sort (+AQE reuse slack).
    "ivm_rollup": {"max_shuffles": 2},
    # image_phash_neardup: two Arrow map stages (payload gen, hash) are
    # shuffle-free; the banded Hamming self-join exchanges both sides,
    # then the pair distinct + display sort.
    "image_phash_neardup": {"max_shuffles": 6},
}


@pytest.mark.parametrize("name", sorted(PLAN_BUDGETS))
def test_headliner_plan_budget(spark, name):
    budget = PLAN_BUDGETS[name]
    plan = _plan(spark, name)
    n = _count_shuffles(plan)
    assert n <= budget["max_shuffles"], (
        f"{name}: {n} shuffle Exchanges, budget {budget['max_shuffles']} — "
        f"a change added a shuffle. Plan:\n{plan[:4000]}"
    )
    for frag in budget.get("require", ()):
        assert frag in plan, (
            f"{name}: expected {frag} in the plan (broadcast degraded to "
            f"shuffle join?). Plan:\n{plan[:4000]}"
        )
