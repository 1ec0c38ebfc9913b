"""Data selection by importance weighting (DSIR — Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

North-star extension — no reference counterpart. The method: represent
documents as hashed word n-gram features, fit bucketed unigram
distributions over a small TARGET corpus (the domain you want more of)
and over the RAW pool, and score every raw document by its summed
per-feature log importance ratio ``log p_target(b) − log p_raw(b)``.
Selecting the top-weighted documents shifts the pool toward the target
domain without training a classifier.

Scale design:

* feature extraction is an explode of unigrams + bigrams with an
  md5-derived bucket id — pure Column expressions, and the md5 family
  keeps bucket assignment bit-identical across engines (same scheme as
  the MinHash/source-mix oracle families);
* both bucket-count tables are bounded by ``buckets`` (rows ≤ B by
  construction, default 8192) — they BROADCAST back onto the exploded
  raw features; the only corpus-sized shuffle is the per-doc weight
  aggregate, map-side combined;
* totals are single-row aggregates realized as broadcast cross joins
  (the scalar-subquery pattern the plan tests whitelist).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.functions.text import tokens

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6


def _hashed_features(
    df: DataFrame, text_col: str, id_col: str, buckets: int
) -> DataFrame:
    """(id, bucket) rows: lowercased unigram + bigram features WITH
    multiplicity, bucketed by the md5-60bit family mod ``buckets``.

    The token array is STAGED in its own projection before the bigram
    transform references it — an inlined tokenize inside the transform
    lambda re-evaluates per element, turning the bigram build O(n²)
    per document (measured 7× on dsir_weights at sf0.1; same trap
    word_ngrams documents). The staged alias is referenced four times,
    so CollapseProject cannot re-inline it."""
    toked = df.select(
        F.col(id_col),
        F.transform(tokens(text_col), F.lower).alias("_tk"),
    )
    tk = F.col("_tk")
    idx = F.sequence(F.lit(0), F.size(tk) - 2)
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i + 1, 2))),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(tk, bigrams)
    bucket = (
        F.conv(F.substring(F.md5(F.col("feat")), 1, 15), 16, 10)
        .cast("long")
        % F.lit(buckets)
    )
    return (
        toked.select(F.col(id_col), F.explode(feats).alias("feat"))
        .select(id_col, bucket.alias("b"))
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
) -> DataFrame:
    """Per-raw-document DSIR log importance weight:
    ``Σ_features log((tc_b + 1)/(T + B)) − log((rc_b + 1)/(R + B))``
    (Laplace-smoothed bucket unigram models; tc/rc = bucket counts in
    target/raw, T/R = total feature counts, B = buckets). Returns
    (id, n_feats, log_weight); higher = more target-like. Documents
    with no features are omitted (they carry no evidence)."""
    # rawf feeds BOTH the rc bucket-count aggregate and the scoring
    # join — persist so the md5 feature build (the dominant cost) runs
    # once. Lifecycle matches the LSH signature persists: the caller's
    # harness clearCache()s between queries.
    rawf = _hashed_features(raw, text_col, id_col, buckets).persist()
    tgtf = _hashed_features(target, text_col, id_col, buckets)
    tc = tgtf.groupBy("b").agg(F.count("*").alias("tc"))
    rc = rawf.groupBy("b").agg(F.count("*").alias("rc"))
    tt = tc.agg(F.sum("tc").alias("_t"))
    rt = rc.agg(F.sum("rc").alias("_r"))
    ratio = F.log(
        (F.coalesce(F.col("tc"), F.lit(0)) + 1)
        / (F.col("_t") + F.lit(buckets))
    ) - F.log((F.col("rc") + 1) / (F.col("_r") + F.lit(buckets)))
    return (
        rawf.join(F.broadcast(tc), "b", "left")
        .join(F.broadcast(rc), "b")  # every raw bucket is in rc
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_feats"),
            F.sum(ratio).alias("log_weight"),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
) -> DataFrame:
    """The ``n`` most target-like raw documents by DSIR weight
    (deterministic: ties break on id; a global top-n plans as
    TakeOrdered, never a full sort). The paper resamples with Gumbel
    noise for diversity — inject it upstream as a column if needed."""
    w = dsir_log_weights(raw, target, text_col, id_col, buckets)
    keep = (
        w.orderBy(F.desc("log_weight"), F.col(id_col))
        .limit(n)
        .select(id_col)
    )
    return raw.join(keep, id_col, "left_semi")


def classifier_score(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashed-ngram linear quality classifier scoring (the GPT-3/CCNet
    learned-filter shape): ``p = sigmoid(bias + Σ_features w[bucket])``.
    ``weights`` is the dense bucket→weight vector (len = buckets) from
    :func:`train_quality_classifier` — or any upstream trainer.

    The weight vector is bounded by construction, so it ships as a
    broadcast (bucket, w) frame; scoring is the DSIR shuffle shape: one
    exploded-feature broadcast join + one map-side-combined per-doc
    aggregate. Returns (id, n_feats, logit, prob)."""
    buckets = len(weights)
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate(weights)],
        "b long, w double",
    )
    feats = _hashed_features(df, text_col, id_col, buckets)
    z = F.lit(float(bias)) + F.sum("w")
    return (
        feats.join(F.broadcast(wdf), "b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_feats"),
            z.alias("logit"),
        )
        .select(
            id_col,
            "n_feats",
            "logit",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit")))).alias(
                "prob"
            ),
        )
    )


def train_quality_classifier(
    positives: DataFrame,
    negatives: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    iters: int = 8,
    lr: float = 0.5,
) -> tuple[list[float], float]:
    """Full-batch logistic regression over hashed n-gram features —
    the distributed trainer for :func:`classifier_score`. Returns
    (weights, bias).

    Spark-first shape, the same driver/cluster split as the k-means and
    PQ trainers: per round, (1) per-doc logits via the broadcast-join +
    aggregate scoring shape, (2) per-bucket gradient = one more
    broadcast join + aggregate keyed by bucket; only the bounded
    B-sized gradient vector reaches the driver, and the round count
    bounds the number of passes. Gradients are averaged over documents
    (so ``lr`` is scale-free); both frames are persisted as exploded
    features for the duration of training."""
    spark = positives.sparkSession
    pos = _hashed_features(positives, text_col, id_col, buckets)
    neg = _hashed_features(negatives, text_col, id_col, buckets)
    feats = (
        pos.withColumn("y", F.lit(1.0))
        .unionByName(neg.withColumn("y", F.lit(0.0)))
        .withColumn("_k", F.concat_ws("/", F.col(id_col), "y"))
        .persist()
    )
    try:
        n_docs = feats.select("_k").distinct().count()
        if n_docs == 0:
            raise ValueError("no documents with features to train on")
        w = [0.0] * buckets
        bias = 0.0
        for _ in range(iters):
            wdf = spark.createDataFrame(
                [(i, float(x)) for i, x in enumerate(w)],
                "b long, w double",
            )
            # docs (one row per document) feeds BOTH gradient jobs this
            # round — persist so the logit pass runs once, not twice.
            docs = (
                feats.join(F.broadcast(wdf), "b")
                .groupBy("_k")
                .agg(
                    F.first("y").alias("y"),
                    (F.lit(bias) + F.sum("w")).alias("z"),
                )
                .select(
                    "_k",
                    (
                        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))
                        - F.col("y")
                    ).alias("err"),
                )
                .persist()
            )
            grad_rows = (
                feats.join(docs, "_k")
                .groupBy("b")
                .agg(F.sum("err").alias("g"))
                .collect()  # ≤ buckets rows — bounded by construction
            )
            # Bias gradient = Σ err over documents; docs already holds
            # one row per document, so this is a bare aggregate (the
            # earlier distinct+join re-derived what docs already is).
            gbias = docs.agg(F.sum("err")).collect()[0][0]
            docs.unpersist()
            for r in grad_rows:
                w[r["b"]] -= lr * r["g"] / n_docs
            bias -= lr * float(gbias) / n_docs
        return w, bias
    finally:
        feats.unpersist()


def quantile_threshold_select(
    df: DataFrame,
    score_col: str,
    group_col: str,
    keep_frac: float,
) -> DataFrame:
    """DataComp-style per-group quantile selection: within each
    ``group_col`` value (source, language, crawl snapshot), keep the
    top ``keep_frac`` of rows by ``score_col`` — i.e. rows whose score
    is ≥ the group's exact interpolated ``percentile(score,
    1 - keep_frac)``. Adds ``threshold`` (the group's cut) and ``kept``;
    rows are flagged, not dropped.

    Scale shape: ONE hash aggregate computes every group's threshold
    (exact ``percentile`` — groups are few; swap ``percentile_approx``
    when group cardinality is huge), then a BROADCAST join carries the
    per-group scalar back — no window over the full corpus, no global
    sort. The ≥-threshold rule is deterministic under ties (a tie
    group at the cut is kept in full), unlike a row-number top-N."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    q = 1.0 - keep_frac
    thresholds = df.groupBy(group_col).agg(
        F.expr(f"percentile({score_col}, {q!r})").alias("threshold")
    )
    return df.join(F.broadcast(thresholds), group_col).withColumn(
        "kept", F.col(score_col) >= F.col("threshold")
    )


def quantile_bucket_assign(
    df: DataFrame,
    score_col: str,
    group_col: str,
    quantiles: list[float] = (1.0 / 3, 2.0 / 3),
    labels: list[str] = ("head", "middle", "tail"),
    descending: bool = True,
) -> DataFrame:
    """CCNet-style per-group quantile bucketing: split each
    ``group_col`` population into ``len(labels)`` bands by exact
    interpolated percentiles of ``score_col`` (CCNet buckets each language
    into head/middle/tail by LM perplexity and trains on the head).
    ``descending=True`` puts the HIGHEST scores in ``labels[0]``
    (pass the mean log-prob directly: high log-prob = low perplexity
    = head). Adds a ``bucket`` column; rows are labeled, not dropped.

    Scale shape — identical to :func:`quantile_threshold_select` and
    deliberately NOT an ``ntile`` window: one hash aggregate computes
    the (few-groups × few-quantiles) threshold table, a broadcast join
    carries the scalars back, and the band test is a row-local CASE —
    no per-group global sort anywhere. Ties at a boundary land in the
    same band in every engine (value comparison, not row numbering),
    which is what makes the assignment hash-reproducible."""
    if len(quantiles) + 1 != len(labels):
        raise ValueError("need len(labels) == len(quantiles) + 1")
    if sorted(quantiles) != list(quantiles):
        raise ValueError("quantiles must be ascending")
    aggs = [
        F.expr(f"percentile({score_col}, {q!r})").alias(f"_q{i}")
        for i, q in enumerate(quantiles)
    ]
    thresholds = df.groupBy(group_col).agg(*aggs)
    out = df.join(F.broadcast(thresholds), group_col)
    # Band i (ascending) = score <= q_i; descending flips the labels so
    # labels[0] takes the top band. Boundary rule: `<=` on the lower
    # thresholds, consistent in SQL as score <= q_i.
    ordered = list(labels[::-1]) if descending else list(labels)
    expr = F.lit(ordered[-1])
    for i in range(len(quantiles) - 1, -1, -1):
        expr = F.when(
            F.col(score_col) <= F.col(f"_q{i}"), F.lit(ordered[i])
        ).otherwise(expr)
    out = out.withColumn("bucket", expr)
    return out.drop(*[f"_q{i}" for i in range(len(quantiles))])


def calibration_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram for a [0,1]-scored classifier against
    boolean labels — the standard audit before a quality-classifier
    threshold is trusted (Guo et al., ICML'17): per score bin,
    confidence (mean score) vs accuracy (positive fraction), plus each
    bin's Expected-Calibration-Error term ``(n_b/N)·|acc_b − conf_b|``
    (the ECE is the sum of the emitted terms).

    Binning is ``min(floor(score·bins), bins−1)`` — right edge of the
    last bin inclusive; rows with NULL score/label are dropped; scores
    outside [0,1] are an input-contract violation (raise upstream).

    Scale shape: ONE hash aggregate over the corpus into ``bins``
    groups + a single-row total broadcast back — nothing else moves.

    Returns ``(bin, n, conf, acc, ece_term)`` — at most ``bins`` rows.
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    s, l = F.col(score_col), F.col(label_col)
    base = df.filter(s.isNotNull() & l.isNotNull()).select(
        F.least(
            F.floor(s * bins), F.lit(bins - 1)
        ).cast("int").alias("bin"),
        s.cast("double").alias("_s"),
        l.cast("int").alias("_l"),
    )
    agg = base.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("_s").alias("_ss"),
        F.sum("_l").alias("_pos"),
    )
    total = agg.agg(F.sum("n").cast("double").alias("_N"))
    conf = F.col("_ss") / F.col("n")
    acc = F.col("_pos").cast("double") / F.col("n")
    return (
        agg.crossJoin(F.broadcast(total))  # single-row corpus total
        .select(
            "bin",
            F.col("n").cast("long").alias("n"),
            F.round(conf, _DIGITS).alias("conf"),
            F.round(acc, _DIGITS).alias("acc"),
            F.round(
                F.col("n") / F.col("_N") * F.abs(acc - conf), _DIGITS
            ).alias("ece_term"),
        )
    )


def conformal_report(
    cal: DataFrame,
    eval_df: DataFrame,
    score_col: str = "residual",
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal calibration (Vovk et al.; Angelopoulos & Bates
    2023 survey): from a CALIBRATION frame of nonconformity scores
    (e.g. |y − ŷ|), the finite-sample threshold is the k-th SMALLEST
    score with ``k = ⌈(n+1)(1−α)⌉`` — an exact order statistic, not an
    interpolated quantile — and prediction sets ``score ≤ q_hat`` then
    cover with probability ≥ 1−α on exchangeable data. Returns one
    row: ``(n_cal, k, q_hat, n_eval, coverage, target)`` where
    ``coverage`` is the realized fraction of the EVAL frame within the
    threshold (rounded 6dp).

    Degenerate contract: if ``k > n_cal`` (tiny calibration set or α
    too small for it), no finite threshold guarantees coverage —
    ``q_hat`` and ``coverage`` are NULL, never a silently-infinite
    set.

    Scale shape: the k-th order statistic comes from per-VALUE counts
    + one ordered cumulative window over the ≤-distinct-values table —
    the repo's exact-rank discipline (cf. ``correlation.spearman_rho``)
    — never a global row sort; eval coverage is one more aggregate with
    the 1-row threshold broadcast.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    from mhm_data_pipelines_spark.operators.budget import running_total

    # Lazily checkpoint both projections: cal feeds the count table
    # AND the n_cal total, eval feeds the size AND coverage aggregates
    # — without the checkpoint each consumer re-derives the caller's
    # upstream plan (e.g. the model join in q_conformal_coverage).
    c = (
        cal.filter(F.col(score_col).isNotNull())
        .select(F.col(score_col).cast("double").alias("s"))
        .localCheckpoint(eager=False)
    )
    # The count aggregate is itself the expensive input of the prefix
    # sum's jobs — checkpoint it so they evaluate it once.
    counts = (
        c.groupBy("s")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    # cumulative count over the distinct-score table via the
    # two-phase distributed prefix sum — continuous scores can leave
    # the distinct table corpus-sized, so no single-task window here
    cum = running_total(counts, order_by=["s"], value_col="cnt",
                        out_col="cum")
    tot = c.agg(F.count(F.lit(1)).alias("n_cal"))
    k_expr = F.ceil(
        (F.col("n_cal") + 1) * F.lit(round(1.0 - float(alpha), 9))
    ).cast("long")
    kn = tot.select("n_cal", k_expr.alias("k"))
    qhat = (
        cum.crossJoin(F.broadcast(kn))
        .filter(F.col("cum") >= F.col("k"))
        .agg(F.min("s").alias("q_hat"))
    )
    # k > n_cal -> the filter above keeps no rows -> q_hat NULL;
    # (n_cal, k) re-attach from kn so the report stays informative.
    rep = kn.crossJoin(F.broadcast(qhat))
    e = (
        eval_df.filter(F.col(score_col).isNotNull())
        .select(F.col(score_col).cast("double").alias("s"))
        .localCheckpoint(eager=False)
    )
    ev = e.agg(
        F.count(F.lit(1)).alias("n_eval"),
    )
    cov = (
        e.crossJoin(F.broadcast(rep.select("q_hat")))
        .agg(
            F.sum(
                F.when(F.col("s") <= F.col("q_hat"), 1).otherwise(0)
            ).alias("n_in")
        )
    )
    return (
        rep.crossJoin(F.broadcast(ev))
        .crossJoin(F.broadcast(cov))
        .select(
            "n_cal",
            F.when(F.col("k") <= F.col("n_cal"), F.col("k")).alias("k"),
            F.when(
                F.col("k") <= F.col("n_cal"), F.round("q_hat", 6)
            ).alias("q_hat"),
            "n_eval",
            F.when(
                F.col("k") <= F.col("n_cal"),
                F.round(F.col("n_in") / F.col("n_eval"), 6),
            ).alias("coverage"),
            F.lit(round(1.0 - float(alpha), 9)).alias("target"),
        )
    )


def target_encode(
    df: DataFrame,
    category_col: str,
    target_col: str,
    id_col: str,
    folds: int = 5,
    smoothing: float = 20.0,
    seed: int = 42,
) -> DataFrame:
    """Out-of-fold smoothed mean target encoding (the Micci-Barreca
    2001 empirical-Bayes encoder, K-fold regularized as every gradient
    -boosting pipeline ships it): replace a categorical feature by the
    smoothed mean of the target computed WITHOUT the row's own fold,
    so the encoding never leaks a row's own label into its feature.

    For a row in fold f with category c::

        te = (sum_y(c) - sum_y(c, f) + smoothing * mu)
           / (n(c)     - n(c, f)     + smoothing)

    where sums/counts cover rows with a NON-NULL target, and ``mu`` is
    the global target mean (the prior; its inclusion of the row's own
    label is the standard, documented approximation — it is one label
    among all of them). A category living entirely inside one fold
    degrades gracefully to ``mu`` (smoothing > 0 keeps the denominator
    positive). A NULL category is a category (SQL GROUP BY semantics).
    NULL-target rows contribute nothing but still receive an encoding.

    Fold assignment is content-deterministic: ``floor(md5_unit_draw(
    id, seed) * folds)`` — bit-replayable in any md5 engine, stable
    under repartitioning, no RNG state.

    Returns the input rows plus ``fold`` (int) and ``te`` (double).

    Scale shape: ONE hash aggregate to the (category × folds) table,
    window sums over the category to get leave-fold-out totals (the
    window runs on the aggregated table — dimension-sized, never the
    corpus), one single-row prior broadcast, and one broadcast-sized
    equi-join back onto the rows. The corpus is scanned twice (agg +
    join) and shuffled on the join key only if the dimension side ever
    outgrows broadcast; no sorts, no collects.
    """
    if folds < 2:
        raise ValueError(f"folds must be >= 2, got {folds}")
    if not smoothing > 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    from mhm_data_pipelines_spark.operators.sampling import md5_unit_draw

    fold = F.floor(
        md5_unit_draw(F.col(id_col), seed) * F.lit(int(folds))
    ).cast("int")
    rows = df.withColumn("fold", fold)
    y = F.col(target_col).cast("double")

    per_cf = rows.groupBy(
        F.col(category_col).alias("_cat"), F.col("fold").alias("_fold")
    ).agg(
        F.sum(y).alias("_sy"),
        F.count(y).alias("_ny"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_cat")
    loo = per_cf.select(
        "_cat",
        "_fold",
        (F.sum(F.coalesce(F.col("_sy"), F.lit(0.0))).over(w)
         - F.coalesce(F.col("_sy"), F.lit(0.0))).alias("_sy_out"),
        (F.sum("_ny").over(w) - F.col("_ny")).alias("_ny_out"),
    )
    prior = rows.agg(F.avg(y).alias("_mu"))
    enc = (
        loo.crossJoin(F.broadcast(prior))
        .select(
            "_cat",
            "_fold",
            (
                (F.col("_sy_out") + F.lit(float(smoothing)) * F.col("_mu"))
                / (F.col("_ny_out") + F.lit(float(smoothing)))
            ).alias("te"),
        )
    )
    cat_eq = (F.col(category_col).eqNullSafe(F.col("_cat")))
    return (
        rows.join(
            F.broadcast(enc),
            cat_eq & (F.col("fold") == F.col("_fold")),
            "left",
        )
        .drop("_cat", "_fold")
    )


def skyline(
    df: DataFrame,
    metric_cols: list[str],
    id_cols: list[str] | None = None,
    maximize: bool = True,
) -> DataFrame:
    """Pareto-optimal (skyline) rows over ``metric_cols``: keep every
    row no OTHER row strictly dominates — dominance meaning >= on all
    metrics and > on at least one (``maximize=True``; minimize flips
    both). The classic multi-criteria shortlist (Börzsönyi et al.
    2001, "The Skyline Operator"): cheapest-AND-freshest suppliers,
    highest-quality-AND-longest documents, best-loss-AND-smallest
    checkpoints. Duplicate metric points dominate nothing, so whole
    duplicate groups survive together (engine-agnostic contract).

    Rows with a NULL in any metric are dropped up front — NULL can't
    be ordered against a value in a dominance test; filter or impute
    upstream if they matter.

    Scale shape (two-phase, the standard distributed-skyline plan):

    1. LOCAL skylines per input partition via ``mapInPandas`` — a
       numpy lexicographic sort, then one dominance sweep that only
       compares against already-kept points. A globally undominated
       row is undominated in its own partition, so phase 1 never
       drops a skyline member; it typically reduces the corpus by
       orders of magnitude (random data keeps O(log^(d-1) n) points).
    2. GLOBAL sweep over the union of local skylines on ONE partition
       (same numpy kernel). Deliberate single-task stage: the reduced
       set is skyline-sized by construction; a dominance join instead
       would be a cartesian the plan gate forbids. For adversarial
       inputs where the reduced set is still huge (all points on the
       Pareto front), phase 2 cost equals output cost — inherent to
       the operator, not the plan.

    Returns the surviving rows with ``id_cols + metric_cols`` (all
    columns when ``id_cols`` is None).
    """
    import numpy as np
    import pandas as pd

    if not metric_cols:
        raise ValueError("metric_cols must be non-empty")
    keep_cols = (
        list(id_cols) + list(metric_cols) if id_cols is not None
        else df.columns
    )
    base = df.select(*keep_cols).na.drop(subset=list(metric_cols))
    sign = 1.0 if maximize else -1.0
    mcols = list(metric_cols)

    def _sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pdf
        m = pdf[mcols].to_numpy(dtype=np.float64) * sign
        # Lexicographic sort, best-first: a dominator is strictly
        # greater lexicographically, so it always sorts BEFORE the
        # row it dominates — and comparing against KEPT rows only is
        # exact because dominance is transitive (if the dominator was
        # itself dropped, whatever dropped it also dominates this
        # row). np.lexsort keys are last-significant-first.
        order = np.lexsort(
            tuple(-m[:, j] for j in reversed(range(m.shape[1])))
        )
        ms = m[order]
        kept_idx: list[int] = []
        kept_pts: list[np.ndarray] = []
        for i in range(ms.shape[0]):
            p = ms[i]
            if kept_pts:
                kept_arr = np.asarray(kept_pts)
                if bool(
                    (
                        (kept_arr >= p).all(axis=1)
                        & (kept_arr > p).any(axis=1)
                    ).any()
                ):
                    continue
            kept_idx.append(int(order[i]))
            kept_pts.append(p)
        return pdf.iloc[sorted(kept_idx)]

    def _run(batches):
        for pdf in batches:
            yield _sweep(pdf)

    schema = base.schema
    local = base.mapInPandas(_run, schema)
    # Phase 2: one task over the reduced set. coalesce(1) avoids a
    # shuffle (it narrows the upstream stage); the reduced set is
    # skyline-sized, so the single task is cheap by construction.
    return local.coalesce(1).mapInPandas(_run, schema)
