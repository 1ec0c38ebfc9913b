"""Deterministic sampling and dataset splits for training-data pipelines.

No reference counterpart (north-star extension). ``df.sample()`` is
seed-stable only for a fixed partitioning — repartition the input and
the sample changes, which is unacceptable for reproducible training
sets. These operators derive membership from a **content hash of a key
column**, so the decision is a pure projection: reproducible across
partitionings, engines, and re-runs; pushdown-friendly; zero shuffle.

Leakage control: hash the *group* key (e.g. source/site) instead of the
row id and every row of a group lands in the same split — no near-dup
leakage across train/validation boundaries.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6

#: Denominator for hash-bucket fractions (1e6 → 0.0001% resolution).
_BUCKETS = 1_000_000


def md5_unit_draw(key, seed: int = 42):
    """Deterministic unit-interval draw in [0, 1): 60 bits of
    md5("<key>:<seed>") over 2^60 — bit-identical in any engine with
    md5 (the same constant, 16^15 = 2^60, appears in every DuckDB
    oracle twin). THE one place this construction lives; keep new
    samplers on it rather than hand-rolling the substring/conv dance
    again (it already exists specialized in ``_bucket`` for integer
    buckets and in ``weighted_sample`` for the (0, 1] log-draw)."""
    c = key if not isinstance(key, str) else F.col(key)
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(c.cast("string"), F.lit(f":{seed}"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / float(16**15)
    )


def _bucket(
    key: Column | str, seed: int, hash_family: str = "xxhash64"
) -> Column:
    """Uniform bucket in [0, 1e6) from a content hash of ``key``.

    ``hash_family="xxhash64"`` (default): fastest, JVM-side.
    ``hash_family="md5"``: 60 bits of md5 over ``"<key>:<seed>"`` —
    bit-identical in any engine with md5 (DuckDB, Postgres, …), used
    when split membership must be reproducible outside Spark (e.g. the
    correctness oracle, or a reader re-deriving splits downstream).
    Both are pure projections: no shuffle, pushdown-friendly.
    """
    c = F.col(key) if isinstance(key, str) else key
    if hash_family == "xxhash64":
        return F.pmod(F.xxhash64(c, F.lit(seed)), F.lit(_BUCKETS))
    if hash_family == "md5":
        h = F.conv(
            F.substring(F.md5(F.concat(c.cast("string"), F.lit(f":{seed}"))), 1, 15),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(_BUCKETS))
    raise ValueError(f"unknown hash_family: {hash_family!r}")


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    key: str,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Keep ≈``fraction`` of rows, chosen by hash of ``key`` — stable
    under repartition/rerun (unlike ``df.sample``), and a plain filter
    the optimizer can push down."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(
        _bucket(key, seed, hash_family) < int(fraction * _BUCKETS)
    )


def split_column(
    weights: dict[str, float],
    key: Column | str,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> Column:
    """A split-label Column (``'train'``/``'val'``/... per ``weights``,
    which must sum to 1) from the hash of ``key``. Hash a group key
    (source, site, participant) to keep whole groups in one split."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = _bucket(key, seed, hash_family)
    expr: Column | None = None
    cum = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w
        cond = b < int(cum * _BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(last)


def train_val_test_split(
    df: DataFrame,
    key: str,
    weights: dict[str, float] | None = None,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Stamp a ``split`` column (default 80/10/10 train/val/test) keyed
    by ``key``'s hash — deterministic, group-leakage-free when ``key``
    is a group column."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    return df.withColumn(
        "split", split_column(weights, key, seed, hash_family)
    )


def stratified_sample(
    df: DataFrame,
    strata: list[str],
    n_per_stratum: int,
    key: str,
    seed: int = 42,
) -> DataFrame:
    """EXACT per-stratum quotas, deterministically: rows rank inside
    each stratum by content hash (ties → key) and the ``n_per_stratum``
    smallest survive. Strata smaller than the quota pass through whole.

    Cost is one shuffle+sort keyed by the strata — fine while every
    stratum fits an executor. For huge or skewed strata prefer
    ``deterministic_sample`` with ``fraction = quota / count`` per
    stratum: same hash membership, zero sort, quota ± hash noise.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*strata).orderBy(_bucket(key, seed), F.col(key))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def mix_sources(
    df: DataFrame,
    weights: dict[str, float],
    total: int,
    key: str,
    source_col: str = "source",
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Dolma/Pile-style corpus mixing: compose a training set of
    ≈``total`` rows with EXACT per-source quotas ``floor(w_s · total)``,
    deterministically. Rows rank inside their source by content hash
    (ties → key) and the quota smallest survive — reruns and
    repartitionings keep identical rows, and a source smaller than its
    quota passes through whole (the classic under-weight case; upsample
    by repeating the source in ``weights``-space upstream if needed).

    Sources absent from ``weights`` are dropped (quota 0). The quota
    table is ``len(weights)`` literal rows broadcast into the filter;
    the only data movement is the per-source rank shuffle (same shape
    as :func:`stratified_sample`)."""
    from pyspark.sql import Window

    if any(w < 0 for w in weights.values()):
        raise ValueError("mix weights must be non-negative")
    # Decimal-exact quotas: float binary representation makes
    # int(w * total) undershoot for weights like 0.29 (0.29*100 ->
    # 28.999... -> 28). Interpreting the weight via its decimal literal
    # gives floor(w_s * total) exactly as documented; a weight that is
    # an exact multiple of 1/total therefore keeps its full quota.
    quotas = [
        (s, int(Fraction(str(w)) * total)) for s, w in weights.items()
    ]
    quota_df = df.sparkSession.createDataFrame(
        quotas, f"{source_col} string, _quota long"
    )
    w = Window.partitionBy(source_col).orderBy(
        _bucket(key, seed, hash_family), F.col(key)
    )
    return (
        df.join(F.broadcast(quota_df), source_col)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("_quota"))
        .drop("_rk", "_quota")
    )


def balance_classes(
    df: DataFrame,
    label_col: str,
    key: str,
    seed: int = 42,
) -> DataFrame:
    """Downsample every class to the MINORITY class size (exact, hash-
    deterministic) — the classic class-balancing step before training.
    The minority size is a one-row aggregate broadcast into the quota
    filter; membership is the same content-hash rank as
    ``stratified_sample`` so reruns keep identical rows."""
    from pyspark.sql import Window

    quota = (
        df.groupBy(label_col)
        .agg(F.count("*").alias("_n"))
        .agg(F.min("_n").alias("_quota"))
    )
    w = Window.partitionBy(label_col).orderBy(_bucket(key, seed), F.col(key))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .join(F.broadcast(quota))
        .filter(F.col("_rk") <= F.col("_quota"))
        .drop("_rk", "_quota")
    )


def temperature_mix(
    df: DataFrame,
    total: int,
    key: str,
    source_col: str = "source",
    temperature: float = 2.0,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Temperature-based corpus mixing (the mT5/mC4 multilingual
    recipe): per-source sampling weight ∝ ``n_s^(1/T)``, so ``T > 1``
    upweights low-resource sources relative to their natural share and
    ``T → ∞`` approaches uniform. Quotas derive from the data itself —
    unlike :func:`mix_sources` no hand-written weight table is needed.

    Quota arithmetic is INTEGER-EXACT for the default ``T = 2``:
    ``w_s = isqrt(n_s)`` (floor-sqrt of a BIGINT is exact in IEEE
    double for n < 2^52, since sqrt is correctly rounded) and
    ``quota_s = (total * w_s) div Σw`` — integer multiply/divide, no
    float summation order to disagree about, so the same quotas fall
    out of any engine (the DuckDB oracle recomputes them). Other
    temperatures use ``floor(pow(n, 1/T))``, where ``pow`` is not
    guaranteed correctly rounded — cross-engine quota parity may be off
    by one on knife-edge values (documented trade-off). ``total * w_s``
    must fit a signed 64-bit int (holds through 100 TB-scale corpora:
    n_s ≤ 1e13 → w_s ≤ ~3.2e6, total ≤ 1e12).

    Selection inside each source is the same content-hash rank as
    :func:`mix_sources` — deterministic under repartition/rerun; a
    source smaller than its quota passes through whole. One agg over
    sources (metadata-sized) + one per-source rank shuffle.
    """
    from pyspark.sql import Window

    if temperature <= 0:
        raise ValueError("temperature must be positive")
    counts = df.groupBy(source_col).agg(F.count("*").alias("_n"))
    if temperature == 2.0:
        wexpr = F.floor(F.sqrt(F.col("_n"))).cast("long")
    else:
        wexpr = F.floor(
            F.pow(F.col("_n").cast("double"), 1.0 / temperature)
        ).cast("long")
    weighted = counts.withColumn("_w", wexpr)
    # Σw over the (metadata-sized) source table, in-plan: the
    # unpartitioned window is a single-task pass over num_sources rows.
    wsum = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    quota_df = weighted.select(
        source_col,
        F.expr(f"CAST({total} AS BIGINT) * _w").alias("_tw"),
        F.sum("_w").over(wsum).alias("_sw"),
    ).select(
        source_col,
        # `div`, not `/`: Spark's `/` on BIGINTs is DOUBLE division —
        # `div` keeps the quota in exact integer arithmetic.
        F.expr("_tw div _sw").alias("_quota"),
    )
    w = Window.partitionBy(source_col).orderBy(
        _bucket(key, seed, hash_family), F.col(key)
    )
    return (
        df.join(F.broadcast(quota_df), source_col)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("_quota"))
        .drop("_rk", "_quota")
    )


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    key: str,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, algorithm A-ES): every row draws a deterministic uniform
    ``u ∈ (0, 1]`` from a content hash of ``key`` and ranks by
    ``u^(1/w)`` — the ``n`` largest form an exact weighted sample, as
    if rows were drawn one-by-one with probability proportional to
    ``weight_col`` and removed. The log form ``ln(u)/w`` is used (same
    ordering, no underflow for tiny weights).

    Deterministic for the same reasons as :func:`deterministic_sample`
    (pure projection of the key hash — stable across partitionings,
    re-runs, engines with ``hash_family="md5"``). Rows with NULL,
    zero, or negative weight are excluded (zero-weight rows have
    selection probability zero; negative weights are undefined).

    Scale shape: the rank key is a projection; the global top-n is a
    sort-limit, which Spark executes as per-partition TakeOrdered(n) +
    a driver merge of bounded candidate sets — no full global sort, no
    shuffle of the losers. ``n`` must fit in memory ONCE (it is the
    sample you are keeping); for quota-per-group sampling at larger
    sizes use :func:`stratified_sample`'s window shape instead.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    c = F.col(key)
    if hash_family == "xxhash64":
        h = F.pmod(F.xxhash64(c, F.lit(seed)), F.lit(1 << 60))
    elif hash_family == "md5":
        h = F.conv(
            F.substring(
                F.md5(F.concat(c.cast("string"), F.lit(f":{seed}"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    # u in (0, 1]: (h + 1) / 2^60; ln(u)/w is maximized.
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    w = F.col(weight_col).cast("double")
    es_key = F.log(u) / w
    return (
        df.filter(w > 0)
        .withColumn("_es_key", es_key)
        .orderBy(F.desc("_es_key"), c)
        .limit(n)
        .drop("_es_key")
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    n_bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Banded curriculum ordering (Bengio et al. 2009 easy→hard
    schedules, as practiced for LLM data: coarse difficulty phases, not
    a brittle total order): exact-quantile band assignment by
    ``score_col`` (band 0 = easiest ``1/n_bands`` of the data) plus a
    deterministic within-band shuffle key (60 hex chars of
    md5(``id:seed``)) so each phase is internally order-free. The
    training order IS ``(band, order_key)``; write with
    ``repartitionByRange("band", "order_key")`` +
    ``sortWithinPartitions`` — a range exchange, never a global
    single-partition window (this operator emits no positions for
    exactly that reason: a global row_number cannot scale, a sort key
    can).

    Rows with NULL score are dropped (difficulty unknown ⇒ cannot be
    scheduled; filter or impute upstream). Band edges: a row equal to a
    cutpoint belongs to the LOWER band (``score > cut`` counting), and
    cutpoints use linear interpolation (Spark ``percentile`` ↔ DuckDB
    ``quantile_cont``), reproducible across engines.

    Scale shape: cutpoints are ONE aggregate row broadcast back
    (scalar cross join); banding + the shuffle key are then row-local
    expressions — no window, no self-join, no global sort here.
    """
    if n_bands < 2:
        raise ValueError("n_bands must be >= 2")
    s = F.col(score_col).cast("double")
    probs = ", ".join(str(i / n_bands) for i in range(1, n_bands))
    cuts = df.filter(s.isNotNull()).agg(
        F.expr(f"percentile({score_col}, array({probs}))").alias("_cuts")
    )
    band = F.aggregate(
        F.col("_cuts"),
        F.lit(0),
        lambda acc, cut: acc + F.when(s > cut, 1).otherwise(0),
    )
    key = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
    )
    return (
        df.filter(s.isNotNull())
        .crossJoin(F.broadcast(cuts))
        .select(
            "*",
            band.cast("int").alias("band"),
            key.alias("order_key"),
        )
        .drop("_cuts")
    )


def mix_rates(
    df: DataFrame,
    group_col: str,
    target_shares: dict[str, float],
    total: int,
) -> DataFrame:
    """Solve per-source KEEP RATES for an exact target composition —
    the step between "we want 30% web / 20% code / ..." and an actual
    downsampling pass: ``rate_g = min(1, share_g × total / n_g)``.
    A source too small for its requested share caps at rate 1
    (``capped`` = true) and the ACHIEVED mix diverges from the request
    — reported, not hidden, because silently renormalizing would
    up-weight other sources the user never asked to boost (rerun with
    a smaller ``total`` or updated shares to rebalance; cf.
    :func:`temperature_mix`, which derives shares from a temperature
    instead of taking them as given).

    Returns ``(group, n_rows, target_share, rate, expected_rows,
    capped)``; groups present in the data but absent from
    ``target_shares`` get share 0 (dropped), and requested groups
    missing from the data are absent from the output (nothing to
    sample). One count aggregation to n_groups rows; apply the rates
    with :func:`apply_mix`.
    """
    if total <= 0:
        raise ValueError("total must be positive")
    for g, s in target_shares.items():
        if s < 0:
            raise ValueError(f"negative share for {g!r}")
    share = F.coalesce(
        *[
            F.when(F.col(group_col) == g, F.lit(float(s)))
            for g, s in target_shares.items()
        ],
        F.lit(0.0),
    ) if target_shares else F.lit(0.0)
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_rows"))
    rate = F.least(
        F.lit(1.0), F.col("target_share") * total / F.col("n_rows")
    )
    return (
        counts.withColumn("target_share", share)
        .withColumn("rate", rate)
        .select(
            F.col(group_col).alias("group"),
            "n_rows",
            "target_share",
            # EXACT rate — :func:`apply_mix` filters against this, and
            # rounding here would make the applied rate diverge from
            # the solver's solution (and from any oracle computing the
            # unrounded closed form). Round at display time.
            F.col("rate"),
            F.round(F.col("n_rows") * rate, 2).alias("expected_rows"),
            (F.col("target_share") * total > F.col("n_rows")).alias(
                "capped"
            ),
        )
    )


def apply_mix(
    df: DataFrame,
    rates: DataFrame,
    group_col: str,
    key_col: str,
    seed: int = 42,
) -> DataFrame:
    """Apply :func:`mix_rates` output: keep a row iff its
    deterministic md5 unit-interval draw (``md5(key:seed)`` — same
    hash family as :func:`deterministic_sample`, reproducible in any
    engine and under any partitioning) falls below its group's rate.
    The rates table (n_groups rows) joins by broadcast; no shuffle of
    the corpus."""
    draw = md5_unit_draw(key_col, seed)
    r = rates.select(
        F.col("group").alias(group_col), F.col("rate").alias("_rate")
    )
    return (
        df.join(F.broadcast(r), group_col)
        .filter(draw < F.col("_rate"))
        .drop("_rate")
    )


def grouped_kfold(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    seed: int = 42,
    fold_col: str = "fold",
    hash_family: str = "md5",
) -> DataFrame:
    """Leakage-safe k-fold assignment: the fold id in ``[0, k)`` hashes
    the GROUP key, so every row of a group (near-dup cluster rep,
    exact-content fingerprint, source site…) lands in the same fold —
    cross-validation folds that don't leak duplicated content across
    the train/eval boundary, the standard failure mode `split_leakage`
    audits after the fact.

    Pure projection (same scale contract as :func:`split_column`): no
    shuffle, pushdown-friendly, reproducible bit-for-bit outside Spark
    with ``hash_family="md5"`` — downstream readers re-derive folds
    from content alone. The ``% k`` of a uniform [0, 1e6) bucket keeps
    the documented ≤1e-4 relative fold-size bias (1e6 mod k leftover).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    b = _bucket(group_col, seed, hash_family)
    return df.withColumn(fold_col, F.pmod(b, F.lit(k)).cast("int"))


def temporal_embargo_split(
    df: DataFrame,
    ts_col: str,
    test_frac: float = 0.2,
    embargo: str = "7 days",
    split_col: str = "split",
) -> DataFrame:
    """Time-based train/test split with a purge gap (the finance
    "purged/embargoed" CV split, López de Prado 2018): the newest
    ``test_frac`` of rows by timestamp are TEST, training stops
    ``embargo`` BEFORE the test cutoff, and rows inside the gap are
    labeled ``'embargo'`` — they leak near-boundary temporal
    correlations into both sides if kept. The time-series twin of
    hash-based :func:`split_column` (random splits leak future into
    past for forecasting-style tasks).

    The cutoff is the exact interpolated ``(1 - test_frac)`` quantile
    of the epoch-microsecond timestamp (one single-row aggregate,
    broadcast back as a scalar — no sort of the data); the split label
    is then a pure projection. NULL timestamps label NULL.

    Returns ``df`` + ``split_col`` in {'train','embargo','test',NULL}.
    """
    if not 0.0 < test_frac < 1.0:
        raise ValueError(f"test_frac must be in (0,1), got {test_frac}")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cut = df.filter(F.col(ts_col).isNotNull()).agg(
        F.percentile(us, F.lit(1.0 - test_frac)).alias("_cut")
    )
    gap_us = F.lit(int(_parse_interval_us(embargo)))
    return (
        df.crossJoin(F.broadcast(cut))  # single-row scalar cutoff
        .withColumn(
            split_col,
            F.when(F.col(ts_col).isNull(), F.lit(None).cast("string"))
            .when(us >= F.col("_cut"), F.lit("test"))
            .when(us < F.col("_cut") - gap_us, F.lit("train"))
            .otherwise(F.lit("embargo")),
        )
        .drop("_cut")
    )


def _parse_interval_us(interval: str) -> int:
    """'<n> days|hours|minutes|seconds' → microseconds (engine-neutral:
    the embargo must mean the same instant span in the SQL oracle)."""
    qty, unit = interval.split()
    mult = {
        "seconds": 1_000_000,
        "second": 1_000_000,
        "minutes": 60_000_000,
        "minute": 60_000_000,
        "hours": 3_600_000_000,
        "hour": 3_600_000_000,
        "days": 86_400_000_000,
        "day": 86_400_000_000,
    }
    if unit not in mult:
        raise ValueError(f"unsupported embargo unit: {unit!r}")
    return int(qty) * mult[unit]


def popularity_negative_samples(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    k: int = 2,
    seed: int = 42,
    exclude_positive: bool = True,
) -> DataFrame:
    """Popularity-weighted negative sampling for contrastive /
    recommender training (the word2vec ``count^0.75`` scheme,
    Mikolov et al. 2013): for every observed (user, item) pair, draw
    ``k`` negatives from the item-popularity distribution tempered to
    the 3/4 power — uniform sampling over-trains on the torso,
    raw-popularity over-trains on the head; 0.75 is the published
    compromise.

    Determinism & cross-engine parity: draws are
    ``md5_unit_draw(user:item:j)`` (the package's one hash-draw
    construction); the tempered weight is computed as
    ``sqrt(c)·sqrt(sqrt(c))`` — two correctly-rounded IEEE sqrts and
    one multiply, bit-identical in any engine, where ``pow(c, 0.75)``
    is libm-dependent. The cumulative-mass table is a window cumsum
    in item order, so both engines accumulate in the same sequence.

    Scale shape: the draw→item lookup is an INTERVAL search over the
    cumulative popularity table, realized as an equi-join on
    mass-buckets of width ``B = max(weight)`` — every item interval
    spans ≤ 2 buckets (w ≤ B), every draw hashes to exactly one, so
    the join is bounded and never a cross. W and B attach as
    single-row broadcasts. Popularity skew concentrates draws in the
    head items' buckets — that is the SAMPLING DISTRIBUTION doing
    its job, not a defect; AQE splits any hot bucket.

    Returns ``(user, item, draw, neg_item)``; with
    ``exclude_positive`` (default) draws that land on the positive
    item itself are dropped, so a pair can yield < k rows (document
    to consumers; re-drawing would need rejection rounds).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = interactions.filter(
        F.col(user_col).isNotNull() & F.col(item_col).isNotNull()
    ).select(
        F.col(user_col).alias("u"), F.col(item_col).alias("it")
    ).distinct()
    pop = base.groupBy("it").agg(F.count(F.lit(1)).alias("c"))
    wexpr = F.sqrt(F.col("c").cast("double")) * F.sqrt(
        F.sqrt(F.col("c").cast("double"))
    )
    w_cum = (
        Window.partitionBy()
        .orderBy("neg_item")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    iv = pop.select(F.col("it").alias("neg_item"), wexpr.alias("w"))
    iv = iv.withColumn("hi", F.sum("w").over(w_cum)).withColumn(
        "lo", F.col("hi") - F.col("w")
    )
    # W = the LAST cumulative bound (max hi), not an independent
    # sum: a re-summation could differ from the sequential window
    # accumulation by an ulp and strand a u~1 draw past the top
    # interval in one engine only.
    scal = iv.agg(
        F.max("w").alias("B"), F.max("hi").alias("W")
    )
    items_b = (
        iv.crossJoin(F.broadcast(scal))
        .withColumn(
            "_bkt",
            F.explode(
                F.sequence(
                    F.floor(F.col("lo") / F.col("B")).cast("long"),
                    F.floor(F.col("hi") / F.col("B")).cast("long"),
                )
            ),
        )
        .select("neg_item", "lo", "hi", "_bkt")
    )
    draws = (
        base.withColumn(
            "draw", F.explode(F.sequence(F.lit(1), F.lit(int(k))))
        )
        .withColumn(
            "_t",
            md5_unit_draw(
                F.concat_ws(":", F.col("u"), F.col("it"), F.col("draw")),
                seed=seed,
            ),
        )
        .crossJoin(F.broadcast(scal))
        .select(
            "u",
            "it",
            "draw",
            (F.col("_t") * F.col("W")).alias("_tw"),
            F.floor(F.col("_t") * F.col("W") / F.col("B"))
            .cast("long")
            .alias("_bkt"),
        )
    )
    out = draws.join(items_b, "_bkt").filter(
        (F.col("_tw") >= F.col("lo")) & (F.col("_tw") < F.col("hi"))
    )
    if exclude_positive:
        out = out.filter(F.col("neg_item") != F.col("it"))
    return out.select(
        F.col("u").alias(user_col),
        F.col("it").alias(item_col),
        F.col("draw").cast("int").alias("draw"),
        "neg_item",
    )


def ht_estimate(
    sample: DataFrame,
    value_col: str,
    prob_col: str,
) -> DataFrame:
    """Horvitz-Thompson estimation from an unequal-probability sample
    — the read-side completion of this module's samplers: given rows
    that survived sampling WITH their inclusion probabilities, the
    unbiased population total and the Hájek mean:

        ``T̂ = Σ y/π``,   ``N̂ = Σ 1/π``,   ``mean = T̂/N̂``
        ``Var(T̂) = Σ (1−π)/π² · y²``   (Poisson-sampling design)

    so downstream consumers aggregate the 1% sample and still report
    population-scale numbers with a standard error.

    ONE hash aggregate; rows with NULL y/π or π outside (0, 1] are
    dropped (an impossible inclusion probability is a data defect,
    not a weight). Returns one row ``(n_sample, est_total,
    est_population, ht_mean, se_total)``.
    """
    y = F.col(value_col).cast("double")
    p = F.col(prob_col).cast("double")
    base = sample.filter(
        y.isNotNull() & p.isNotNull() & (p > 0) & (p <= 1)
    ).select(y.alias("_y"), p.alias("_p"))
    agg = base.agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.sum(F.col("_y") / F.col("_p")).alias("t_hat"),
        F.sum(F.lit(1.0) / F.col("_p")).alias("n_hat"),
        F.sum(
            (F.lit(1.0) - F.col("_p"))
            / (F.col("_p") * F.col("_p"))
            * F.col("_y")
            * F.col("_y")
        ).alias("v_hat"),
    )
    return agg.select(
        F.col("n_sample").cast("long").alias("n_sample"),
        F.round("t_hat", _DIGITS).alias("est_total"),
        F.round("n_hat", _DIGITS).alias("est_population"),
        F.round(F.col("t_hat") / F.col("n_hat"), _DIGITS).alias(
            "ht_mean"
        ),
        F.round(F.sqrt(F.col("v_hat")), _DIGITS).alias("se_total"),
    )
