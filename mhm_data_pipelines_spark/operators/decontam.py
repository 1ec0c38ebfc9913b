"""Test-set decontamination: flag training documents that share word
n-grams with an evaluation/benchmark corpus (the C4/Dolma/GPT-3-style
contamination rule — an eval example "leaks" into training when enough
of its n-grams appear verbatim).

No reference counterpart (north-star LLM-pipeline extension per
BASELINE.json). Scale design: both sides explode to DISTINCT word
n-grams and meet in an equi-join on the n-gram string — the training
side shuffles each distinct n-gram once (bounded by corpus token count),
while the eval side is a curated benchmark and therefore small; AQE
broadcasts it when it fits (no forced hint — the same unbounded-side
lesson as tfidf_top_terms). The verdict aggregation is a partial-agg
count per training doc, so nothing driver-side scales with corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.functions.partitioning import spread_small_input
from mhm_data_pipelines_spark.functions.text import ngrams_of_tokens, tokens


def ngram_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str | None = None,
) -> DataFrame:
    """Per-training-doc contamination evidence: how many distinct word
    ``n``-grams it shares with the eval corpus, and with how many
    distinct eval docs. Returns (id_col, n_shared_ngrams, n_eval_docs);
    training docs with no overlap are absent (left-join + zero-fill in
    :func:`decontaminate` when the full verdict column is needed)."""
    eval_id = eval_id_col or id_col
    tg = _exploded_ngrams(train, id_col, text_col, n)
    eg = _exploded_ngrams(eval_df, eval_id, text_col, n).withColumnRenamed(
        eval_id, "_eval_id"
    )
    return (
        tg.join(eg, "ng")
        .groupBy(id_col)
        .agg(
            F.count_distinct("ng").alias("n_shared_ngrams"),
            F.count_distinct("_eval_id").alias("n_eval_docs"),
        )
    )


def _exploded_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, ng) rows: spread the scan (n-gram build is the compute-bound
    stage — a byte-sized scan would otherwise run it on one core), then
    tokenize in its OWN projection before the explode. The Generate
    boundary stops CollapseProject from re-inlining the tokenize into
    every reference inside the n-gram transform (HOFs are interpreted —
    no codegen CSE) — measured ~2× at sf0.1."""
    spread = spread_small_input(df)
    tokd = spread.select(F.col(id_col), tokens(text_col).alias("_toks"))
    return tokd.select(
        F.col(id_col), F.explode(ngrams_of_tokens("_toks", n)).alias("ng")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str | None = None,
) -> DataFrame:
    """Training corpus with a contamination verdict: rows whose distinct
    shared-``n``-gram count with the eval corpus is ≥ ``min_shared`` are
    marked ``contaminated`` (drop them with ``.filter(~col)``). Keeps
    every training row (overlap columns zero-filled) so the caller can
    audit the borderline band before choosing ``min_shared``."""
    overlap = ngram_overlap(
        train, eval_df, n, id_col, text_col, eval_id_col
    )
    return (
        train.join(overlap, id_col, "left")
        .fillna({"n_shared_ngrams": 0, "n_eval_docs": 0})
        .withColumn(
            "contaminated", F.col("n_shared_ngrams") >= F.lit(min_shared)
        )
    )


def embedding_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SEMANTIC decontamination: flag training items whose embedding is
    near-identical to any eval item — catches paraphrased/reformatted
    leakage that verbatim n-gram overlap (:func:`ngram_overlap`)
    misses (the Phi/FineWeb-style complement to exact decontamination).

    Returns (id, max_eval_cosine, contaminated) for EVERY training row
    — including when the eval side is EMPTY (max_eval_cosine NULL,
    contaminated false: nothing to leak from), so verdict consumers can
    inner-join safely. A NULL or zero-norm training embedding yields a
    NULL max cosine and contaminated false (cosine is undefined there —
    filter such rows upstream if they should hard-fail).

    Scale shape: eval benchmarks are curated and small, so the eval
    side BROADCASTS into a map-side nested-loop scored per training
    partition; the verdict is one partial-agg max per training row —
    the training corpus is never shuffled. For an eval side too big to
    broadcast, block both sides first (``similarity.lsh_bucket_ids``
    or IVF lists) and reuse the same max-agg on the bucketed join —
    same verdict, bounded pair space.
    """
    from mhm_data_pipelines_spark.functions.vectors import dot, normalize

    t = train.select(F.col(id_col), normalize(vec_col).alias("_tv"))
    e = eval_df.select(normalize(vec_col).alias("_ev"))
    scored = t.crossJoin(F.broadcast(e)).select(
        F.col(id_col), dot("_tv", "_ev").alias("_cos")
    )
    verdicts = scored.groupBy(id_col).agg(
        F.max("_cos").alias("max_eval_cosine")
    )
    # Left-join back onto the training ids: an empty eval side (or a
    # NULL embedding) must still yield a row per training item with a
    # false verdict, not silently vanish from the output.
    return (
        train.select(id_col)
        .join(verdicts, id_col, "left")
        .select(
            id_col,
            "max_eval_cosine",
            F.coalesce(
                F.col("max_eval_cosine") >= threshold, F.lit(False)
            ).alias("contaminated"),
        )
    )


def source_ngram_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of
    ``group_col`` values, how many distinct word ``n``-grams they
    share and the Jaccard of their n-gram vocabularies — the corpus
    diagnostic that surfaces a crawl snapshot duplicating another
    source (or an eval dump leaked into a training source) BEFORE
    pair-level dedup spends anything on it. Returns
    ``(group_a, group_b, n_common, n_a, n_b, jaccard)`` for
    ``group_a < group_b``.

    Scale shape: grams explode once and meet in ONE hash aggregate per
    direction — per-gram ``collect_set(group)`` (bounded by the number
    of groups, NOT the corpus) and per-group distinct-gram counts. The
    pair space then explodes from the per-gram group set, i.e.
    ``O(k²)`` per gram where k ≤ n_groups — never a corpus self-join.
    Contract: ``group_col`` is a modest-cardinality partition key
    (sources, crawl snapshots, languages — tens, not millions); for
    per-domain granularity, roll domains up to registrable suffix
    groups first (``operators.urls.registrable_domain``).
    """
    # Tokenize in its OWN projection before the explode (the same
    # Generate-boundary staging as _exploded_ngrams): HOFs are
    # interpreted with no CSE, so an inlined token array re-evaluates
    # once per slice reference inside the n-gram transform — O(len²)
    # per document.
    tokd = spread_small_input(df).select(
        F.col(group_col).alias("_g"),
        F.transform(tokens(text_col), F.lower).alias("_toks"),
    )
    grams = tokd.select(
        "_g", F.explode(ngrams_of_tokens("_toks", n)).alias("gram")
    ).distinct()
    # Both consumers (per-gram set, per-group totals) read the distinct
    # (group, gram) relation; without materialization the corpus
    # explode runs once per consumer.
    grams = grams.localCheckpoint(eager=False)
    per_gram = grams.groupBy("gram").agg(
        F.sort_array(F.collect_set("_g")).alias("_gs")
    )
    totals = grams.groupBy("_g").agg(F.count("*").alias("_n_grams"))
    # Ordered pairs built expression-side from the sorted set — emits
    # exactly k(k-1)/2 rows per gram instead of exploding k² and
    # filtering half away.
    arr = F.col("_gs")
    pair_structs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        per_gram.select(F.explode(pair_structs).alias("_p"))
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    ta = totals.selectExpr("_g as a", "_n_grams as n_a")
    tb = totals.selectExpr("_g as b", "_n_grams as n_b")
    return (
        pairs.join(F.broadcast(ta), "a")
        .join(F.broadcast(tb), "b")
        .select(
            F.col("a").alias("group_a"),
            F.col("b").alias("group_b"),
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def split_leakage(
    df: DataFrame,
    split_col: str = "split",
    text_col: str = "text",
) -> DataFrame:
    """Cross-split leakage audit — the pre-training sanity check that a
    train/val/test assignment did not place the SAME content (after
    :func:`functions.text.fingerprint` normalization: lowercase,
    collapsed whitespace) on both sides of a split boundary. Exact-dup
    leakage is the loud failure mode of row-level random splits over a
    corpus with duplicates — dedup-then-split or split-by-fingerprint
    prevents it; this reports it. Near-dup leakage is the quieter
    cousin — audit that with :func:`decontaminate` (n-grams) or
    :func:`embedding_decontaminate` between the split sides.

    Returns one row per leaking fingerprint: ``(fingerprint, n_splits,
    splits, n_docs)`` with ``splits`` a sorted comma-joined list.
    Fingerprints confined to one split are dropped in-plan.

    Scale shape: ONE hash aggregation on the fingerprint (partial
    aggs combine map-side); output is the leak set only.
    """
    from mhm_data_pipelines_spark.functions.text import fingerprint

    return (
        df.select(
            fingerprint(text_col).alias("fingerprint"),
            F.col(split_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.countDistinct(split_col).cast("long").alias("n_splits"),
            F.array_join(
                F.array_sort(F.collect_set(split_col)), ","
            ).alias("splits"),
            F.count("*").alias("n_docs"),
        )
        .filter(F.col("n_splits") > 1)
    )


def source_divergence(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source vocabulary divergence from the corpus — the
    domain-shift monitor a mixing pipeline reads before reweighting
    (cf. DSIR's importance weights in ``operators.selection``, which
    act on the same unigram statistics; this is the diagnostic, that
    is the intervention): KL(P_source ‖ P_corpus) over lowercased
    unigram distributions. KL needs no smoothing here because the
    corpus distribution is a superset of every source's support
    (Q(t) > 0 wherever P(t) > 0 by construction).

    Returns ``(group, n_tokens, n_terms, kl_vs_corpus)`` — nats,
    rounded to 6. High KL ⇒ the source speaks its own dialect
    (code vs prose, another language, spam); near 0 ⇒
    corpus-representative.

    Scale shape: one token explode feeds a (group, term) count agg;
    corpus term counts derive from THOSE partials (re-aggregated, not
    re-scanned); group totals (n_groups rows) and the corpus total
    (1 row) broadcast back; the KL sum is one final per-group agg.
    Never a pairwise-source comparison — that is
    :func:`source_ngram_overlap`'s job.
    """
    from mhm_data_pipelines_spark.functions.text import tokens

    tok = df.select(
        F.col(group_col).alias("group"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    gt = tok.groupBy("group", "term").agg(F.count("*").alias("c_gt"))
    gt = gt.localCheckpoint(eager=False)  # shared by 3 consumers below
    ct = gt.groupBy("term").agg(F.sum("c_gt").alias("c_t"))
    g_tot = gt.groupBy("group").agg(F.sum("c_gt").alias("n_g"))
    corpus_tot = gt.agg(F.sum("c_gt").alias("n_all"))
    p_over_q = (F.col("c_gt") / F.col("n_g")) / (
        F.col("c_t") / F.col("n_all")
    )
    contrib = (F.col("c_gt") / F.col("n_g")) * F.log(p_over_q)
    return (
        gt.join(ct, "term")
        .join(F.broadcast(g_tot), "group")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("group")
        .agg(
            F.max("n_g").cast("long").alias("n_tokens"),
            F.count("*").alias("n_terms"),
            F.round(F.sum(contrib), 6).alias("kl_vs_corpus"),
        )
    )


def novelty_scores(
    df: DataFrame,
    reference: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus:
    ``novelty = 1 − |ngrams(doc) ∩ ngrams(reference)| / |ngrams(doc)|``
    — the memorization/near-copy risk score for new data against what
    a model has already seen (the per-doc, score-valued complement of
    :func:`decontaminate`'s keep/drop verdict).

    Scale shape: both sides explode once through the shared
    ``_exploded_ngrams`` stage (distinct n-grams per doc by
    construction); the reference collapses to a DISTINCT n-gram SET
    (its doc structure is irrelevant), so the match join is
    doc-ngrams × ref-set — AQE broadcasts the set when it fits,
    co-partitioned SMJ otherwise; totals and matches are two hash
    aggregates. Docs with fewer than ``n`` tokens have no n-grams and
    are ABSENT from the output (novelty of nothing is undefined).

    Returns ``(id_col, n_ngrams, n_matched, novelty)``.
    """
    tg = _exploded_ngrams(df, id_col, text_col, n)
    ref = _exploded_ngrams(reference, id_col, text_col, n).select(
        "ng"
    ).distinct()
    totals = tg.groupBy(id_col).agg(F.count("*").alias("n_ngrams"))
    matched = (
        tg.join(ref, "ng")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_matched"))
    )
    return totals.join(matched, id_col, "left").select(
        id_col,
        F.col("n_ngrams").cast("long").alias("n_ngrams"),
        F.coalesce(F.col("n_matched"), F.lit(0)).cast("long").alias(
            "n_matched"
        ),
        F.round(
            1.0
            - F.coalesce(F.col("n_matched"), F.lit(0)) / F.col("n_ngrams"),
            6,
        ).alias("novelty"),
    )
