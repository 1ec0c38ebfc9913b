"""Regenerate PLANS.md: trimmed `.explain("formatted")` output for the
flagship registry queries, as physical-plan evidence (pushdown, column
pruning, broadcast vs shuffle joins, aggregate phases)."""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mhm_data_pipelines_spark.benchmarks.registry import QUERIES  # noqa: E402
from mhm_data_pipelines_spark.session import get_spark  # noqa: E402

NOTES = {
    "url_filter": (
        "URL gate: parse/suffix-group/blocklist are pure projections "
        "(one codegen span), blocklist joins as BroadcastHashJoin, the "
        "per-domain cap is ONE hash Exchange (the window) - the only "
        "corpus-wide shuffle."
    ),
    "quantile_select": (
        "per-source quantile cut: one hash-aggregate computes every "
        "threshold, scalar thresholds broadcast back - no corpus-wide "
        "window or sort."
    ),
    "hybrid_rrf": (
        "RRF fusion: the corpus appears only inside the two top-k "
        "inputs (bm25's term-filtered aggs + jaccard's zero-shuffle "
        "TakeOrdered); rank windows and the fusion aggregate run on "
        "2x20 rows."
    ),
    "ppl_buckets": (
        "CCNet buckets: the Kneser-Ney bigram score pipeline (one "
        "explode + (w1,w2) agg, marginals re-aggregate the count "
        "table) + ONE lang-threshold hash-aggregate whose scalars "
        "broadcast back; band assignment is a row-local CASE - "
        "deliberately no ntile window, so no per-language global sort."
    ),
    "doc_sb_lm": (
        "trigram Stupid Backoff on a held-out split: three map-side "
        "explode+agg count passes (tri/big/uni, each vocab-sized) + "
        "five AQE-sized joins onto the scored trigram stream (bigram "
        "table twice: context + backoff); only the 1-row token total "
        "broadcasts; no discount bookkeeping - the web-scale scorer."
    ),
    "doc_sb5_lm": (
        "5-gram Stupid Backoff (the CCNet order) on a held-out split: "
        "five map-side explode+agg count passes (k=1..5, each "
        "vocab-sized, shrinking with k) + nine AQE-sized joins onto "
        "the scored 5-gram stream (each k-gram table twice: suffix "
        "count + the (k+1)-branch's context); only the 1-row token "
        "total broadcasts. Order is a parameter - the same plan shape "
        "at any n."
    ),
    "doc_kn5_lm": (
        "5-gram interpolated KN - the exact CCNet KenLM filter shape "
        "in closed count form: raw counts at the top, continuation "
        "counts N1+(.suffix) at every middle level (re-aggregations "
        "of the k-gram TYPE tables), P_cont base with the D/B floor; "
        "nine AQE-sized count-table joins, 1-row B broadcast; every "
        "level sums to exactly 1 per seen context."
    ),
    "doc_kn3_lm": (
        "interpolated Kneser-Ney TRIGRAM (Chen & Goodman continuation-"
        "count recursion): trigram + bigram explode/agg passes; the "
        "middle level runs on continuation counts N1+(.w2w3) derived "
        "by re-aggregating the trigram TYPE table; c12 = sum c123 "
        "makes each level sum to exactly 1 over the vocab; six "
        "AQE-sized joins, only the 1-row B total broadcasts."
    ),
    "doc_kn_lm": (
        "interpolated Kneser-Ney bigram LM: ONE corpus explode + one "
        "(w1,w2) hash agg; context/continuation/type-total marginals "
        "re-aggregate the VOCAB-sized count table (never the corpus); "
        "scoring joins back AQE-sized, only the 1-row B total "
        "broadcasts; smoothing is closed-form counts, so the DuckDB "
        "twin replays it value-for-value."
    ),
    "embedding_covariance": (
        "PCA moment pass: ZERO parquet scans in the combine plan - the "
        "lazily-checkpointed MapInPandas partials (one (n,s,g) row per "
        "Arrow batch) feed the g/s/n aggregates; every join after is "
        "metadata-sized broadcast."
    ),
    "sft_stats": (
        "SFT prep: conversation build, from_json parse, validation and "
        "per-role token math are ONE row-local Project (codegen) - the "
        "display sort is the only Exchange."
    ),
    "unicode_normalize": (
        "NFC canonicalization: one ArrowEvalPython hop (vectorized "
        "unicodedata, ASCII fast path) inside a row-local projection; "
        "cleanup regexes stay codegen; display sort is the only "
        "Exchange."
    ),
    "source_overlap": (
        "cross-source gram overlap: per-gram collect_set agg (bounded "
        "by n_sources) + per-source distinct totals reading ONE "
        "lazily-checkpointed distinct (group, gram) relation; the pair "
        "space explodes from the per-gram set and totals join back as "
        "BroadcastHashJoin - no corpus self-join anywhere."
    ),
    "phrase_search": (
        "positional phrase match: token-position count is a row-local "
        "filter over a sequence - no explode, no join; the result "
        "sort is the only Exchange."
    ),
    "skew_report": (
        "skew pre-flight: per report column one count HashAggregate + "
        "TakeOrdered top-k + a 1-row scalar stats broadcast; the rank "
        "window runs on k rows."
    ),
    "profile_drift": (
        "drift report: each snapshot profiles in one aggregate scan + "
        "one top-k explode pass; the old/new join is on the column "
        "name - at most n_columns rows move."
    ),
    "preference_pairs": (
        "RLHF best-vs-worst pair: ONE struct-min/max aggregation with "
        "a partial agg before the exchange (SortAggregate: struct "
        "buffers are not hash-supported) - no window, no self-join."
    ),
    "preference_all_pairs": (
        "Bradley-Terry expansion: prompt-keyed self-join (fan-out "
        "bounded by completions-per-prompt), margin filter folded "
        "into the join output, per-prompt cap window on selected "
        "pairs only."
    ),
    "embedding_outliers": (
        "prototypicality pruning: centroids are one (label,pos,val) "
        "shuffle; centroid and distance-stats tables (n_labels rows) "
        "broadcast back - the corpus never self-joins."
    ),
    "line_boilerplate": (
        "CCNet line removal: explode -> distinct -> df agg builds the "
        "small frequent-line set; left join marks drops (AQE "
        "broadcasts when small); one per-doc reassembly agg."
    ),
    "content_manifest": (
        "reproducibility manifest: narrow projection + ONE hash agg "
        "to n_buckets rows; bit_xor signature is commutative so "
        "partition order cannot matter."
    ),
    "hard_negatives": (
        "DPR hard negatives: query side broadcasts, label mismatch "
        "in the join condition (same-label pairs never scored), one "
        "per-query rank window."
    ),
    "split_leakage": (
        "cross-split audit: ONE fingerprint hash agg over the tagged "
        "union; output is the leak set only - confined fingerprints "
        "drop in-plan."
    ),
    "curriculum_order": (
        "banded curriculum: exact-quantile cutpoints are one scalar "
        "broadcast; banding and the md5 shuffle key are row-local - "
        "the order is a sort KEY, never a global row_number."
    ),
    "length_buckets": (
        "padded-batch efficiency: row-local bucket assignment over a "
        "literal edge list + ONE hash agg to n_edges+1 rows."
    ),
    "source_divergence": (
        "KL(source||corpus): one explode feeds the (group,term) agg "
        "(localCheckpointed, 3 consumers); corpus stats re-aggregate "
        "partials - never re-scan; totals broadcast back."
    ),
    "script_profile": (
        "script composition: literal-codepoint-range regexp_count in "
        "one row-local projection; the display sort is the only "
        "Exchange."
    ),
    "shard_plan": (
        "size-balanced sharding: running_total's literal-boundary "
        "prefix sum (no single-task global window) + one report agg."
    ),
    "impute_values": (
        "group-median imputation: ONE stats agg to n_groups rows "
        "broadcast back; the coalesce fill is row-local - the corpus "
        "never shuffles."
    ),
    "wordlist_screen": (
        "blocklist screening: literal-array word-boundary matching in "
        "one row-local projection; display sort is the only Exchange."
    ),
    "mix_solver": (
        "target-mix keep rates: ONE count agg to n_sources rows; the "
        "closed form min(1, share*total/n) caps small sources and "
        "reports the divergence instead of renormalizing."
    ),
    "event_funnel": (
        "ordered funnel: one equi-join + min-agg per step, all on the "
        "user key (exchange reuse) - no windows, no per-user event "
        "collection."
    ),
    "cohort_retention": (
        "retention triangle: first-seen agg + distinct activity + one "
        "co-partitioned user join + (cohort, offset) count-distinct."
    ),
    "conversation_windows": (
        "SFT windowing: the greedy turn-boundary assignment is a "
        "row-local aggregate fold over the turn array; explode + one "
        "per-(doc,window) reassembly agg."
    ),
    "join_preflight": (
        "exact join-output pricing: per-key count aggs + a counts "
        "join (tiny rows through the key shuffle) - the join itself "
        "never materializes."
    ),
    "ohlc_hourly": (
        "candlestick rollup: ONE hash agg with map-side partials and "
        "deterministic struct tie rules - no window, no sort."
    ),
    "time_weighted": (
        "LOCF duration weighting: one lead window per key (the same "
        "shuffle a groupBy costs) + one hash agg."
    ),
    "hist_quantile_rollup": (
        "mergeable quantiles: daily fixed-bin partials sum into "
        "weekly histograms (bins ADD - exact merge); the cum window "
        "runs over <= n_bins rows per bucket, never the data."
    ),
    "mix_apply": (
        "deterministic downsample: the md5 unit draw filters row-"
        "locally against broadcast rates; one summary agg."
    ),
    "kaplan_meier": (
        "product-limit survival: one per-user spans agg is the only "
        "full-data shuffle; risk-set + cumulative-hazard windows run "
        "over the small per-(cohort, duration) table."
    ),
    "ewma_smooth": (
        "recursive smoothing: one keyed group-for-recursion exchange; "
        "the y=(1-a)y+ax scan is sequential per key, parallel across "
        "keys, Arrow-batched - and bitwise-replayable by the oracle."
    ),
    "cusum_detect": (
        "change alarms: per-key z-stats agg (engine-reproducible, "
        "never pandas-side) + one group-for-recursion exchange; "
        "restart-on-alarm scan emits one summary row per key."
    ),
    "prefix_jaccard": (
        "PPJoin prefix filter: candidates equi-join on rare-token "
        "prefixes under a global df-asc order (length filter folded "
        "into the join condition), verify join touches candidates "
        "only - never a cartesian, lossless vs brute force."
    ),
    "containment_pairs": (
        "directed containment: asymmetric prefix filter - probe side "
        "explodes only its prefix, index side full postings; the "
        "equi-join runs rare-probe-token x posting, verify join is "
        "candidate-sized."
    ),
    "bradley_terry": (
        "Bradley-Terry MM: two hash aggregates reduce the comparison "
        "stream to O(K)/O(K^2) once; the MM loop then runs driver-"
        "side in numpy below a documented K^2 bound (fit_pca-style "
        "metadata collect - cluster rounds are pure scheduling "
        "latency) and fully distributed above it; both paths "
        "quantize 9dp/round, value-identical to the unrolled oracle."
    ),
    "triangle_count": (
        "triangles: degree-orientation wedge join (max out-degree "
        "O(sqrt m), O(m^1.5) candidates - never sum-of-deg^2); "
        "oriented list lazily checkpointed and consumed three times; "
        "closure is an equi-join probe, counts one explode + agg."
    ),
    "pmi_collocations": (
        "collocations: one token explode feeds unigram AND adjacent-"
        "bigram hash aggs (adjacency keeps the pair stream linear); "
        "scalar N/B totals broadcast; rank on round(npmi,6) with word "
        "tie-breaks, bounded top-k."
    ),
    "rater_agreement": (
        "Cohen's kappa: item self-join fans out only R rows/item; "
        "confusion, marginal and chance-agreement stats are all "
        "O(R^2 x labels) hash aggregates - metadata-sized however "
        "large the item stream."
    ),
    "clustering_coeff": (
        "clustering coefficient: triangle_count's orientation pass "
        "with the degree column kept - 2T/(deg(deg-1)) is a pure "
        "projection, no second edge scan."
    ),
    "sorted_neighborhood": (
        "sorted-neighborhood blocking: two-phase prefix-sum global "
        "rank (literal boundaries, no single-task window over data); "
        "neighborhood pairs via rank-block equi-join with the exact "
        "distance predicate folded in - never a theta join."
    ),
    "score_correlation": (
        "Spearman rho: fractional ranks from per-VALUE counts + the "
        "distributed prefix sum (raw rows never globally sorted); "
        "exact integer-or-half sums -> order-independent correlation "
        "in one hash aggregate."
    ),
    "ranking_overlap": (
        "RBO@10: each co-ranked item contributes via a d-entry "
        "LITERAL tail-weight map, so the statistic is one (query, "
        "item) equi-join + hash agg - no per-depth re-scan."
    ),
    "mmr_diverse": (
        "pooled MMR: ONE distributed relevance pass -> TakeOrdered "
        "candidate pool (4096) -> driver greedy with bit-identical "
        "left-fold cosines + HALF_UP rounds; corpus passes = 1, "
        "driver traffic = pool rows by contract (exact per-round "
        "path remains behind pool=None)."
    ),
    "grouped_folds": (
        "leakage-safe k-fold: fold id is a pure md5 projection of the "
        "group key (exact dups co-fold by construction); one count-"
        "distinct aggregate reports fold balance."
    ),
    "calibration_report": (
        "reliability diagram: ONE 10-bin hash aggregate over the "
        "corpus + broadcast single-row total; ECE terms are "
        "projections."
    ),
    "robust_outliers": (
        "modified z-score: exact per-group median then MAD (two "
        "percentile aggregates), stats rejoin AQE-sized; flags "
        "counted in-plan, MAD=0 groups emit NULL not a blow-up."
    ),
    "novelty_scores": (
        "n-gram novelty: one shared explode stage; the reference "
        "collapses to a distinct n-gram SET before the match join "
        "(AQE broadcast when it fits); totals/matches are two hash "
        "aggs."
    ),
    "embargo_split": (
        "purged time split: ONE exact-quantile scalar broadcast back; "
        "the train/embargo/test label is a pure projection - no sort "
        "of the data."
    ),
    "benford_digits": (
        "Benford audit: first digit from the INTEGER decimal string "
        "(no log10 boundary hazard), one 9-group agg + broadcast "
        "total; unseen digits zero-filled so the chi-square is "
        "complete."
    ),
    "ks_drift": (
        "two-sample KS: per-value count table + TWO distributed "
        "prefix-sum cumulatives; D evaluated only at distinct values "
        "(ECDFs change nowhere else); raw rows never globally sorted."
    ),
    "mwu_shift": (
        "Mann-Whitney: tie-averaged ranks from ONE prefix-sum pass "
        "over per-value counts; U and the tie-corrected z come out of "
        "a single aggregate of integers-or-halves - exact doubles."
    ),
    "chi2_assoc": (
        "chi-square: empty-cell-free identity N*(sum o^2/(row*col))-N "
        "- one contingency hash agg + margin joins, no r x c grid "
        "materialization."
    ),
    "orc_roundtrip": (
        "ORC sink/source: zstd ORC partitioned by source, read back "
        "through partition discovery - partition-column re-"
        "materialization + value fidelity in one aggregate check."
    ),
    "dup_spans_recall": (
        "substring-dedup recall cert: the UNCAPPED k-gram diagonal-run "
        "pipeline is exact Lee et al. 2022 semantics for spans >= "
        "k+min_run-1 tokens (span <-> maximal diagonal run bijection), "
        "so running it capped AND uncapped measures what the "
        "production max_gram_df fan-out bound gives up - gram recall, "
        "span counts, identical-span count, one summary row; "
        "precision is 1 by construction (capping only removes grams)."
    ),
    "ann_index_append": (
        "ANN index incremental maintenance: only the NEW vectors "
        "encode (zero-shuffle map, frozen quantizers), appended "
        "co-bucketed into the existing table - no rewrite; per-row "
        "encode determinism makes append == rebuild, so the search "
        "result is bit-identical to a from-scratch index (same ADC "
        "oracle)."
    ),
    "ann_index_roundtrip": (
        "ANN index lifecycle: IVF-PQ index persisted ONCE as a "
        "list_id-bucketed catalog table, reloaded, searched with the "
        "probed-lists filter pushed onto the bucketed scan - bucket "
        "pruning (SelectedBucketsCount) replaces the full index scan "
        "and the per-search encode; results bit-identical to the "
        "in-memory build (same ADC float chain)."
    ),
    "avro_roundtrip": (
        "Avro sink/source via the pure-Python container codec (no "
        "spark-avro in the pip distro; JVM-reference parity-tested): "
        "one container per partition encoded task-side from Arrow "
        "batches (block per chunk, memory batch-bounded), read back "
        "binaryFile + mapInPandas with the embedded writer schema - "
        "row-format cost is the format's, both directions scale with "
        "partition count."
    ),
    "stream_dim_join": (
        "stream-static enrichment: broadcast dim joined INSIDE "
        "foreachBatch (dim refresh picked up per epoch); mergeable "
        "(n,sum) partials per batch_id partition, checkpoint-"
        "idempotent; merged totals equal the batch join."
    ),
    "embedding_whitening": (
        "ZCA whitening: distributed moment pass, d x d eigensolve "
        "driver-side (the only collect), closure-matrix transform per "
        "Arrow batch; invariant oracle - whitened covariance must be "
        "identity within tolerance on every cell."
    ),
    "source_concentration": (
        "HHI + Gini: ONE hash agg reduces the corpus to a groups-"
        "sized table; the Gini rank window runs over group rows only "
        "- never corpus rows."
    ),
    "doc_keywords": (
        "per-doc tf-idf keywords: one explode feeds TF and DF aggs, "
        "df re-attaches AQE-sized, ranking windows PARTITION BY doc; "
        "rank on round(score,6) with term tie-breaks."
    ),
    "mutual_knn": (
        "reciprocal best match: exhaustive-probe IVF top-1 (provably "
        "exact - the oracle row; production default is selective "
        "nprobe=8, certified by mutual_knn_recall) + ONE canonical-"
        "pair self-agg keeping count=2 groups - mutuality without a "
        "second corpus pass."
    ),
    "mutual_knn_selective": (
        "the production mutual-kNN plan: nprobe=2-of-8 selective "
        "probing (work ~ n x list x nprobe), cogrouped BLAS top-1 + "
        "canonical-pair mutuality agg; recall certified by "
        "mutual_knn_recall, exactness reference gated by mutual_knn."
    ),
    "mutual_knn_recall": (
        "recall certification for the SELECTIVE mutual-kNN default: "
        "nprobe=2-of-8 seeded lists vs the exhaustive graph; two "
        "cogrouped top-1 passes + pair-recall join + 1-row summary - "
        "the evidence the n x list x nprobe plan keeps the pairs."
    ),
    "basket_rules": (
        "association rules: DISTINCT + basket-size cap bound the "
        "self-join to C(m,2)/basket; the capped frame is lazily "
        "checkpointed for its four consumers; lift from exact integer "
        "counts."
    ),
    "minhash_pr_curve": (
        "pipeline self-evaluation: banded-LSH estimate pairs vs the "
        "EXACT prefix-filtered Jaccard truth, both complete above the "
        "banding bound; PR at integer agreement thresholds - no "
        "float boundaries, no sampling."
    ),
    "scd2_intervals": (
        "SCD Type-2: one lead window PARTITIONED BY the dimension key "
        "turns the change stream into validity intervals + a current "
        "flag - scales with rows-per-key, never a global sort."
    ),
    "subject_erasure": (
        "right-to-erasure: broadcast subject semi-join discovers "
        "touched partitions, anti-join rewrite moves ONLY those "
        "(partition-atomic renames); audit record verified against "
        "set arithmetic."
    ),
    "ab_ztest": (
        "A/B z-test: ONE two-group hash aggregate; pooled-variance z, "
        "risk ratio and rates all divide integer counts - bit-"
        "identical doubles, degenerate variance -> NULL."
    ),

    "tpch_q3": (
        "3-way join: every filter lands in PushedFilters, lineitem scan "
        "reads 4 of 10 columns, customer broadcast."
    ),
    "tpch_q1": (
        "scan->agg: pushdown + partial/final HashAggregate inside one "
        "WholeStageCodegen span."
    ),
    "overview_stats": (
        "distinct-day counting: two-phase distinct aggregate, 3-column "
        "ReadSchema."
    ),
    "dedup_exact_keep": (
        "exact dedup: the keep-side scan reads ONLY doc_id; full rows "
        "recovered via semi join, text never shuffles twice."
    ),
    "minhash_neardup": (
        "MinHash: explode + single hash-aggregate (codegen), banded "
        "self-join is an equi-join on (band,bucket) - no cross product. "
        "Warm-time note (r9): across CLEAN full-batch runs this key "
        "oscillates 1.6-2.1 s at sf0.1 (1.04x-1.37x of the frozen "
        "baseline) depending on where it lands in the 200+-query JVM "
        "session - batch-position noise, not plan drift; the committed "
        "sf0.1->sf1 probe stays linear and the plan is unchanged since "
        "the r9 shuffle cut."
    ),
    "asof_join": (
        "as-of join: one Exchange on the key, window over union - no "
        "range-join nested loop."
    ),
    "tiered_rollup": (
        "daily tier aggregates hourly partials - second HashAggregate "
        "consumes the first, raw rows read once."
    ),
    "tpch_q17": (
        "correlated per-part average as a part-level HashAggregate "
        "broadcast back onto the fact rows - no window shuffle over "
        "lineitem."
    ),
    "tpch_q21": (
        "EXISTS/NOT EXISTS as hash semi/anti joins on the orderkey "
        "equi-key with a suppkey-inequality residual - never a nested "
        "loop; all predicates reach the scans."
    ),
    "tpch_q13": (
        "left-outer preserving zero-order customers, then a second "
        "aggregation over the first's output."
    ),
    "gap_fill": (
        "calendar grid from a per-key min/max aggregate (explode "
        "sequence), daily side broadcast, one exchange on the key - "
        "never a global-calendar cross join."
    ),
    "latest_event_state": (
        "CDC latest-wins: one max_by hash aggregate with map-side "
        "partials - no window sort over the log."
    ),
    "pii_redaction": (
        "PII redaction: the whole regexp_replace chain is one "
        "projection inside a single WholeStageCodegen span - "
        "2-column ReadSchema; the only exchange is the gate's "
        "display orderBy."
    ),
    "doc_repetition": (
        "repetition signals: word and bigram explodes each feed "
        "partial/final hash aggregates; per-doc argmax is a struct-min "
        "aggregate, not a window sort over the corpus."
    ),
    "decontamination": (
        "decontamination: scan spread first (n-gram build is the "
        "compute-bound stage), tokenize staged in its own projection "
        "under the Generate; distinct word-3-gram explodes meet in an "
        "equi-join on the n-gram; the benchmark-sized eval side is "
        "AQE-broadcast, train side shuffles each distinct n-gram once."
    ),
    "source_mix": (
        "corpus mixing: literal quota table broadcast; one exchange on "
        "source for the rank window; hash-rank membership is a pure "
        "projection."
    ),
    "token_budget_select": (
        "budget selection: literal range boundaries (hash-of-values "
        "TakeOrdered sample) make _pid a pure row function - window "
        "partitioned by _pid (parallel prefix sum), no single-task "
        "global window, no full-corpus checkpoint; per-bucket offsets "
        "broadcast back; source stays a direct FileScan."
    ),
    "doc_winnowing": (
        "winnowing (MOSS): k-gram md5 hashes staged in their own "
        "projection (multi-reference alias blocks CollapseProject "
        "re-inlining), window minima in the next, explode_outer so "
        "InferFiltersFromGenerate cannot push an inlined size() filter "
        "below the staging."
    ),
    "winnow_overlap": (
        "substring-overlap pairs: fingerprint equi-join "
        "(co-partitioned shuffle, no cross product) + pair-count "
        "aggregate; hot-bucket cap short-circuits boilerplate "
        "fingerprints to star edges via broadcast membership split."
    ),
    "lsh_topk": (
        "LSH ANN: bucket assignment is a projection (hyperplane "
        "literals ride the plan); probe is an equi-join on lsh_bucket "
        "so the corpus moves once; top-k window runs on the joined "
        "subset only."
    ),
    "simhash_neardup": (
        "SimHash Hamming<=k: chunk explode + self equi-join on "
        "(band,chunk) with a ReusedExchange for the second side - "
        "pigeonhole-complete, never all-pairs."
    ),
    "temperature_mix": (
        "temperature mixing: source-count aggregate (metadata-sized) "
        "-> single-task window over sources for the integer quota -> "
        "quota broadcast back onto the per-source rank window; one "
        "corpus shuffle total."
    ),
    "bm25_topk": (
        "BM25: the query-term isin filter sits under the Generate so "
        "only matching tokens shuffle; docfreq (<= |query| rows) and "
        "corpus stats (1 row) broadcast; final top-k is TakeOrdered - "
        "no global sort."
    ),
    "bpe_pairs": (
        "BPE pair counts: token explode collapses to the vocabulary "
        "FIRST (one hash agg), pairs explode from distinct words only; "
        "final pair aggregate map-side combined, top-n TakeOrdered."
    ),
    "minhash_incremental": (
        "incremental dedup: only the batch is hashed; the batch's "
        "bucket keys broadcast-semi-prune the banded index before the "
        "pair join, so the standing index filters scan-side instead of "
        "shuffling wholesale."
    ),
    "heavy_hitters": (
        "heavy hitters: mergeable approx_top_k sketch aggregate beside "
        "the exact top-10 agg; the <=20-row sketch output broadcasts "
        "onto the exact side; top-10 is TakeOrdered."
    ),
    "profile_table": (
        "table profiling: ONE aggregate pass for all per-column "
        "rows/nulls/distinct/min/max (map-side combined) unpivoted via "
        "stack; top-k values from one explode + hash agg + per-column "
        "window."
    ),
    "gopher_quality": (
        "Gopher rules: the whole seven-rule filter is one projection "
        "over a 2-column ReadSchema - every ratio and flag inside a "
        "single WholeStageCodegen span, only the display orderBy "
        "exchanges."
    ),
    "dup_spans": (
        "duplicated spans: positioned gram keys are hashes of token "
        "hashes (2-column ReadSchema, no gram strings); occurrence-cap "
        "window then self EQUI-join on the 8-byte key - at this sf AQE "
        "broadcasts the capped side, at scale it is a co-partitioned "
        "SMJ sharing the window's Exchange; island consolidation "
        "windows/aggregates on the pair key - never all-pairs, text "
        "never shuffles."
    ),
    "span_dedup": (
        "substring dedup applied: span ranges aggregate to one bounded "
        "list per affected doc (spans, not tokens) and join the corpus "
        "on doc_id; the rewrite is a pure token-position filter "
        "expression - untouched docs pass through the left join with "
        "zero rewrite cost."
    ),
    "pq_topk": (
        "PQ ADC: corpus encode and query LUTs are zero-shuffle "
        "ArrowEvalPython/MapInPandas stages (codebook in the closure); "
        "LUTs ride a BroadcastExchange; scoring is m array lookups per "
        "candidate; per-query top-k window over the scored subset "
        "only."
    ),
    "bpe_encode": (
        "BPE apply: the whole ordered merge chain is one projection "
        "per document (staged token array + per-word replace chain) "
        "over a 2-column ReadSchema; only the display orderBy "
        "exchanges."
    ),
    "dsir_weights": (
        "DSIR: exploded hashed-ngram features; BOTH bucket-count "
        "tables broadcast back (bounded by B=8192 rows by "
        "construction); totals are 1-row broadcast crosses; the only "
        "corpus-sized shuffle is the per-doc weight aggregate, "
        "map-side combined."
    ),
    "quality_classifier": (
        "learned filter scoring: the weight vector is a broadcast "
        "(bucket, w) frame; one exploded-feature broadcast join + one "
        "map-side-combined per-doc aggregate; sigmoid is a projection."
    ),
    "ivfpq_topk": (
        "IVF-PQ: index build (coarse assign + residual PQ codes) and "
        "the probe frame (nprobe lists + qc scalar + LUT per query) "
        "are both zero-shuffle map stages; candidate generation is a "
        "broadcast equi-join on list_id - fan-out is list-sized, never "
        "corpus x queries; residual-ADC scoring is m lookups + adds; "
        "only the top-k window and display sort exchange."
    ),
    "event_pagerank": (
        "PageRank: transition edges from one window lag; each round is "
        "edges-join-ranks on the src key + one dst-keyed hash "
        "aggregate, lineage cut per round by localCheckpoint - the "
        "final plan reads the round-3 checkpoint, not a 3-deep "
        "recursive join."
    ),
    "fuzzy_pairs": (
        "edit-distance join: deletion variants are a pure-expression "
        "Generate (2-column ReadSchema); the candidate join is an "
        "equi-join on the variant string (AQE broadcasts at this sf, "
        "co-partitioned SMJ at scale) with the length filter folded "
        "into the join condition; texts re-attach AFTER the pair "
        "distinct so the variant shuffle stays (id,len,var)-narrow; "
        "exact levenshtein rides the re-attach join condition."
    ),
    "knn_graph": (
        "kNN graph: centroid assignment and probe lists are literal-"
        "quantizer projections; data and probe frames COGROUP on "
        "list_id into one Arrow FlatMapCoGroupsInPandas (numpy matmul "
        "+ per-list partial top-k) - only q x nprobe x k candidate "
        "rows reach the final per-query window; no broadcast, no "
        "corpus-sized pair fan-out."
    ),
    "snapshot_diff": (
        "snapshot diff: ONE co-partitioned full-outer SortMergeJoin "
        "on the key; presence flags + per-column null-safe compares "
        "are projections; unchanged keys are dropped by the filter "
        "directly on the join output, so only the change set reaches "
        "the display sort."
    ),
    "sentence_dedup": (
        "sentence dedup: RE2-portable regexp_extract_all + posexplode "
        "(2-column ReadSchema); first-occurrence winner is one "
        "min-struct hash aggregate on the fingerprint (no window "
        "sort); winners rejoin on the same key (exchange reuse) and "
        "reassembly is a per-doc hash aggregate."
    ),
    "weighted_sample": (
        "weighted sampling: the Efraimidis-Spirakis key is a pure "
        "projection (md5-derived uniform, ln/w); the global top-n is "
        "TakeOrderedAndProject - per-partition heaps + driver merge, "
        "no global sort Exchange, 3-column ReadSchema with the "
        "weight-positivity filter pushed to the scan."
    ),
    "semantic_decontam": (
        "semantic decontamination: eval vectors ride one "
        "BroadcastExchange into a nested-loop scored per training "
        "partition; the verdict is a map-side-combined max aggregate "
        "per training row - the training corpus is never shuffled."
    ),
    "hll_user_rollup": (
        "mergeable sketches: daily hll_sketch_agg then weekly "
        "hll_union_agg - the coarser tier consumes sketches, not raw "
        "rows; the exact verification side is the only second scan, "
        "and the estimate/exact join is metadata-sized."
    ),
    "jsonl_roundtrip": (
        "JSONL quarantine: one PERMISSIVE scan persisted once feeds "
        "both the clean aggregate and the corrupt-line count; the "
        "1-row quarantine count broadcasts onto the per-source "
        "aggregate."
    ),
    "doc_entropy": (
        "entropy: explode to characters then TWO hash aggregates "
        "((id,char) counts -> per-id algebraic entropy) - linear in "
        "corpus characters, map-side combined, 2-column ReadSchema."
    ),
    "audio_features": (
        "audio: synth and decode+featurize are two chained zero-"
        "shuffle ArrowEvalPython/MapInPandas stages over a 1-column "
        "ReadSchema; only the display sort exchanges."
    ),
    "compression_ratio": (
        "zlib ratio: one zero-shuffle MapInPandas stage (Python "
        "genuinely required); only the display sort exchanges."
    ),
    "kmeans_iters": (
        "Lloyd round: assignment is a literal-centroid PROJECTION "
        "(zero corpus shuffle - look for the greatest-of-structs in "
        "the scan stage); the only Exchange is the k x d posexplode "
        "update aggregate. Per-round plans are independent jobs, so "
        "lineage never grows."
    ),
    "bootstrap_ci": (
        "Poisson bootstrap: the 200x replicate stream is a codegen "
        "explode feeding a partial-aggregating HashAggregate - the "
        "expanded rows never materialize; one Exchange on (group, "
        "replicate), then the percentile agg over 200-row groups."
    ),
    "randomization_test": (
        "randomization test: same explode-into-hash-agg shape as "
        "bootstrap_ci, plus two single-row BroadcastNestedLoopJoin "
        "crosses (the observed n_a/n_b/diff scalars) - whitelisted "
        "scalar broadcasts, not data crosses."
    ),
    "constraint_report": (
        "expectations suite: all five row-local rules fold into ONE "
        "HashAggregate over ONE pruned scan of orders; uniqueness is "
        "the single distinct-agg Exchange; ref-integrity joins the "
        "broadcast distinct customer keys."
    ),
    "quantile_norm": (
        "quantile normalization: the 101-knot global grid is plan "
        "literals (one bounded collect at build), so the mapping is a "
        "pure projection; the ONLY corpus shuffle is the per-source "
        "percent_rank window Exchange."
    ),
    "acf_lags": (
        "ACF: all three lag leads come from ONE window pass (single "
        "Exchange on the series key), then one hash aggregate per "
        "series; no self-joins anywhere in the plan."
    ),
    "linreg_weights": (
        "multivariate OLS: one normal-equation HashAggregate over the "
        "pruned documents scan; the Cramer solve is a pure projection "
        "over the 15 rounded sums - no second pass, no driver solve, "
        "no iteration."
    ),
    "event_transitions": (
        "Markov transitions: one lead window partitioned by user "
        "(single Exchange), one (state, next_state) HashAggregate; "
        "the per-state normalizer is a window over the 25-row count "
        "table, not the corpus."
    ),
    "user_rfm": (
        "RFM: the corpus collapses to the user table in ONE "
        "HashAggregate; the 1-row max-ts reference broadcasts "
        "(whitelisted scalar cross); all three ntile windows run over "
        "the dimension-sized aggregate."
    ),
    "robust_trend": (
        "Theil-Sen + Mann-Kendall: the raw corpus collapses to the "
        "daily rollup first; the O(m^2) pair join is an equi-join on "
        "event_type over that ~366-row series - a SortMergeJoin/"
        "BroadcastHashJoin over rollup rows, never a corpus "
        "self-join; tie counts are a second rollup-sized aggregate."
    ),
    "k_anonymity": (
        "k-anonymity: ONE HashAggregate to the equivalence-class "
        "table (map-side partials), then a single-row re-aggregate; "
        "the corpus is scanned exactly once and the class table "
        "never joins back."
    ),
    "dp_counts": (
        "DP counts: the count HashAggregate IS the whole job - the "
        "Laplace draw is a pure md5 projection over the aggregated "
        "rows (no shuffle, no join), so privacy costs nothing over "
        "the non-private count."
    ),
    "psi_drift": (
        "PSI drift: decile edges = one percentile aggregate (1-row "
        "broadcast cross, whitelisted); bin assignment is an "
        "array-fold projection inside the scan stage; one "
        "HashAggregate per side; the (group x bin) grid crosses "
        "tiny aggregates only."
    ),
    "fs_linkage": (
        "Fellegi-Sunter: u-probability aggregates are 1-row "
        "broadcasts; records collapse to value PROFILES with "
        "multiplicities before the blocked self-join, so candidate "
        "volume is O(P^2/block) of the value-combo space, not "
        "O(N^2/block) of the corpus; the 3^k pattern roll-up bounds "
        "output regardless of pair volume."
    ),
    "label_communities": (
        "LPA: symmetrized weighted edge list checkpointed once; "
        "each round = one join keyed on the neighbour side + one "
        "HashAggregate + a degree-bounded row_number window; only "
        "the (node,label) frame cycles (plan shown post-round-3)."
    ),
    "golden_records": (
        "golden records: CC closes the pair graph (iterative, "
        "certified via neardup_clusters); every survivorship frame "
        "after that is entity-sized - per-attribute vote aggregates "
        "+ component-bounded windows + entity-sized joins."
    ),
    "event_sequences": (
        "sequential patterns: both leads ride ONE window Exchange "
        "(same partition/order), the pattern HashAggregate is the "
        "only corpus-wide shuffle, and the entity total broadcasts "
        "as a whitelisted 1-row cross."
    ),
    "woe_iv": (
        "WoE/IV: decile edges broadcast as a 1-row cross; ONE bin "
        "HashAggregate carries both class counts as conditional "
        "sums; everything after is bins-sized."
    ),
    "kmv_set_ops": (
        "KMV sketches: the only element-volume stages are the "
        "distinct + per-set top-k window and the sample equi-join; "
        "pair estimation runs entirely on the n_sets-row stats "
        "aggregate (tiny inequality cross, whitelisted)."
    ),
    "conformal_coverage": (
        "split conformal: the model fit and (n_cal,k) are 1-row "
        "broadcasts; the exact-rank threshold rides the per-value "
        "count aggregate + literal-boundary prefix sum; coverage is "
        "one more aggregate with the 1-row q_hat broadcast."
    ),
    "peak_concurrency": (
        "interval sweep: boundaries are a 2x projection of the "
        "user-day aggregate; the keyed running sum is ONE window "
        "Exchange; peak + earliest time come from a single "
        "lexicographic struct-max HashAggregate."
    ),
    "seasonal_decompose": (
        "classical additive decomposition: the daily hash aggregate "
        "and the RANGE-framed trend window share one shuffle on the "
        "entity key; the seasonal table (entities x 7 rows) comes "
        "from a second tiny aggregate and broadcasts back - no "
        "corpus re-shuffle, no collect."
    ),
    "pair_sample": (
        "budgeted blocked pair sampling: ONE Exchange on the block "
        "key feeds both window functions (block count + md5 rank, "
        "with WindowGroupLimit pushing the rank<=k cut into the "
        "sort); the self-join's build side is the k-BOUNDED sample "
        "(<= blocks x k rows by construction), so AQE broadcasts it "
        "- the right plan at any scale; output is blocks x C(k,2) "
        "however large the blocks are."
    ),
    "lake_e2e": (
        "end-to-end lake gate: the shown plan is the FINAL stage "
        "only - an overview aggregate over the freshly compacted "
        "parquet whose scan reads real partition columns "
        "(site/participant_id/metric appear as partition values, "
        "not data); the csv.gz fan-out sink and the compaction "
        "write already ran on build. One hash aggregate; "
        "countDistinct expands to the usual two-phase distinct "
        "aggregate."
    ),
    "ranking_quality": (
        "nDCG/MRR/AP: ONE hash Exchange partitions by query; the "
        "actual-rank, ideal-rank and running-positive windows plus "
        "the final per-query aggregate all reuse that partitioning - "
        "no second corpus shuffle."
    ),
    "skyline_users": (
        "Pareto skyline: per-user aggregate (one Exchange), then two "
        "mapInPandas dominance sweeps - partition-local skylines, "
        "coalesce(1) merge over the skyline-sized union; no dominance "
        "join exists in the plan at all."
    ),
    "cdc_snapshot": (
        "CDC merge: latest-winner window on the key Exchange, "
        "anti-join of base against winners reuses key partitioning; "
        "union of untouched + survivors - no broadcast assumption on "
        "either side."
    ),
    "mk_trend": (
        "Mann-Kendall: one hash aggregate packs each entity's series "
        "(collect_list+array_sort), the O(n^2) pair sweep runs inside "
        "mapInPandas on packed arrays; z/p are engine-side "
        "expressions - one Exchange total."
    ),
    "lttb_downsample": (
        "LTTB: entity Exchange reused by the rank window, the "
        "(entity,bucket) mean aggregate, the prev/next mean joins and "
        "the per-bucket argmax window; bucket means are "
        "dimension-sized."
    ),
    "bayes_events": (
        "Beta-Binomial A/B: one hash aggregate to the arms-sized "
        "table; the control posterior attaches via a full-table "
        "window over that arms table - no join, no second corpus "
        "pass."
    ),
    "entropy_ldiv": (
        "entropy l-diversity: two stacked hash aggregates (cells -> "
        "classes); the entropy folds as ln(n) - sum(c ln c)/n inside "
        "the second aggregate - no joins, no windows."
    ),
    "hw_forecast": (
        "Holt-Winters: the daily pre-aggregate plus ONE pack "
        "aggregate; the coupled recursion is a single mapInPandas "
        "over packed arrays - entity-hash Exchange only."
    ),
    "changepoint_shift": (
        "changepoint: prefix-sum windows, candidate filter and argmin "
        "window all share the entity Exchange; costs are pure window "
        "algebra - no per-entity recursion, no UDF."
    ),
    "grid_clusters": (
        "grid clustering: per-cell hash aggregate, dense-cell "
        "8-neighbor equi-join on shifted keys (grid-sized), then a "
        "single-task union-find over the GRID-BOUNDED cell graph "
        "(bounded by coordinate range, not corpus size); the corpus "
        "shuffles once for binning and once to join labels back."
    ),
    "jaccard_linkpred": (
        "Jaccard links: same degree aggregate + center-keyed wedge "
        "equi-join as adamic_adar (hub-capped fan-out), then two "
        "degree joins and the existing-edge anti-join - all "
        "key-partitioned equi-joins."
    ),
    "ipw_lift": (
        "IPW: strata hash aggregate, co-partitioned propensity "
        "re-attach join, single-row rollup; the 1-row n_strata "
        "crosses back as a broadcast scalar."
    ),
    "rbo_rankers": (
        "RBO: one query Exchange for both rank windows; the weight "
        "lookup is element_at on a literal array - no join; final "
        "per-query hash aggregate."
    ),
    "stream_cdc": (
        "streaming CDC: foreachBatch merge - the batch plan reads "
        "ONLY the buckets the batch keys hash into (partition "
        "pruning on _bucket) and dynamically overwrites only those; "
        "the drained snapshot read is a plain partitioned scan."
    ),
}


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    out = [
        '# PLANS - physical-plan evidence (sf0.01, `.explain("formatted")`)\n',
        "Regenerate: `python scripts/gen_plans.py` (this file is generated"
        " output, trimmed to the",
        "plan skeleton + scan details; full plans via"
        ' `.explain("formatted")` on any registry query).\n',
    ]
    for name, note in NOTES.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            QUERIES[name](spark, sf).explain("formatted")
        lines = []
        in_tree = True
        for ln in buf.getvalue().splitlines():
            if ln.startswith("== Physical Plan =="):
                continue
            if re.match(r"^\(\d+\) ", ln):
                in_tree = False
            if in_tree and ln.strip():
                lines.append(ln)
            elif re.search(r"PushedFilters:|ReadSchema:|^\(\d+\) Scan", ln):
                lines.append(ln.strip())
        out.append(
            f"\n## {name}\n\n{note}\n\n```\n" + "\n".join(lines[:60]) + "\n```\n"
        )

    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(NOTES)} sections)")


if __name__ == "__main__":
    main()
