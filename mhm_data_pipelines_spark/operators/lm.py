"""Smoothed n-gram language-model scoring: interpolated Kneser-Ney
(bigram, and configurable-order) and configurable-order Stupid Backoff
(order=5 = the CCNet shape; trigram scoring is order=3).

The CCNet pipeline (Wenzek et al. 2020) filters web text by perplexity
under a smoothed 5-gram KenLM (Heafield 2011); the repo's earlier
``doc_lm_score`` / ``doc_bigram_lm`` stop at MLE estimates, which
assign unsmoothed probabilities and cannot score data disjoint from
the training corpus. This module adds the standard industrial scorer
in closed form: interpolated Kneser-Ney (Kneser & Ney 1995; Chen &
Goodman 1999 eq. 4.25) over bigrams —

    P_KN(w2 | w1) = max(c(w1 w2) - D, 0) / c(w1)
                    + D * N1+(w1 *) / c(w1) * P_cont(w2)
    P_cont(w2)    = N1+(* w2) / B

with discount ``D`` (0.75 classic), ``N1+(w1 *)`` = distinct followers
of ``w1``, ``N1+(* w2)`` = distinct predecessors of ``w2``, and ``B``
= distinct bigram types. Every quantity is a COUNT — the whole model
trains in one corpus pass (explode + stacked hash aggregates), and the
closed form means a DuckDB twin can replay it value-for-value, unlike
a binary KenLM artifact.

No reference counterpart (north-star extension per BASELINE.json).

Scale shape: training is one explode + one (w1,w2) hash aggregate,
from which the three marginals derive by re-aggregation of the COUNT
TABLE (vocabulary-sized, orders of magnitude smaller than the corpus
— never a second corpus pass). Scoring re-exploded documents joins
the AQE-sized count tables back; the only broadcast is the 1-row
bigram-type total. Nothing here is quadratic and no Python runs in
the row loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 4


def _ngrams(
    df: DataFrame, id_cols: list[str], tokens_col: str, n: int
) -> DataFrame:
    """Explode a token-array column to (id_cols..., w1..wn) n-gram rows
    (documents with < n tokens contribute none). Map-side only."""
    fields = ", ".join(
        f"{tokens_col}[i + {j}] AS w{j + 1}" for j in range(n)
    )
    ng = F.expr(
        f"transform(sequence(0, size({tokens_col}) - {n}), "
        f"i -> struct({fields}))"
    )
    return (
        df.filter(F.size(tokens_col) >= n)
        .select(*id_cols, F.explode(ng).alias("_ng"))
        .select(
            *id_cols,
            *[F.col(f"_ng.w{j + 1}").alias(f"w{j + 1}") for j in range(n)],
        )
    )


def _bigrams(df: DataFrame, id_cols: list[str], tokens_col: str) -> DataFrame:
    return _ngrams(df, id_cols, tokens_col, 2)


def kn_bigram_counts(train: DataFrame, tokens_col: str = "tk") -> dict:
    """Train the KN count tables from a token-array frame. Returns a
    dict of four frames — ``bigram (w1, w2, c12)``, ``context (w1, c1,
    n1r)``, ``continuation (w2, n1l)``, ``total (_b)`` 1-row — all
    derived from the ONE (w1, w2) aggregate, so training is a single
    corpus pass regardless of corpus size."""
    big = _bigrams(train, [], tokens_col)
    bigram = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    context = bigram.groupBy("w1").agg(
        F.sum("c12").cast("double").alias("c1"),
        F.count("*").cast("double").alias("n1r"),  # N1+(w1 *)
    )
    continuation = bigram.groupBy("w2").agg(
        F.count("*").cast("double").alias("n1l")  # N1+(* w2)
    )
    total = bigram.agg(F.count("*").cast("double").alias("_b"))
    return {
        "bigram": bigram,
        "context": context,
        "continuation": continuation,
        "total": total,
    }


def kn_bigram_doc_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tk",
    train: DataFrame | None = None,
    discount: float = 0.75,
) -> DataFrame:
    """Per-document interpolated-KN bigram score: ``n_bigrams``,
    ``avg_logp`` (mean natural-log ``P_KN``, rounded to 4 dp)
    and ``ppl`` (``exp(-avg_logp)`` of the unrounded mean) — the CCNet
    filter statistic. ``train`` defaults to ``docs`` (self-scored
    corpus); pass a held-out/reference corpus for true perplexity
    filtering, where KN's smoothing is what keeps unseen bigrams
    finite:

    * bigram unseen, context known → the discount-reserved mass times
      the continuation probability (exactly the KN interpolation term);
    * context unknown (OOV ``w1``) → ``P_cont(w2)`` alone;
    * ``w2`` never seen as a continuation → floor ``D / B`` (small
      positive mass so the log stays finite; an explicit <unk> model
      is corpus policy, not engine mechanics).

    Documents with < 2 tokens have no defined bigram score and are
    absent from the output (same contract as the MLE scorer).
    """
    if not 0.0 < discount < 1.0:
        raise ValueError(f"discount must be in (0,1), got {discount}")
    c = kn_bigram_counts(train if train is not None else docs, tokens_col)
    big = _bigrams(docs, [id_col], tokens_col)
    d = F.lit(float(discount))
    pc = F.coalesce(F.col("n1l") / F.col("_b"), d / F.col("_b"))
    p = F.when(
        F.col("c1").isNotNull(),
        F.greatest(F.coalesce(F.col("c12"), F.lit(0)).cast("double") - d, F.lit(0.0))
        / F.col("c1")
        + d * F.col("n1r") / F.col("c1") * pc,
    ).otherwise(pc)
    scored = (
        big.join(c["bigram"], ["w1", "w2"], "left")
        .join(c["context"], "w1", "left")
        .join(c["continuation"], "w2", "left")
        .crossJoin(F.broadcast(c["total"]))  # 1-row scalar
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg(F.log(p)).alias("_m"),
        )
    )
    # ppl derives from the QUANTIZED mean (not the raw float) so the
    # pair (avg_logp, ppl) is a deterministic function of one rounded
    # value — cross-engine hash parity never hinges on exp() of a
    # last-ulp-different double.
    return scored.select(
        id_col,
        "n_bigrams",
        F.round("_m", _DIGITS).alias("avg_logp"),
    ).select(
        id_col,
        "n_bigrams",
        "avg_logp",
        F.round(F.exp(-F.col("avg_logp")), _DIGITS).alias("ppl"),
    )


def kn_doc_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tk",
    train: DataFrame | None = None,
    order: int = 5,
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney at a CONFIGURABLE order — ``order=5``
    is the EXACT shape of CCNet's industrial KenLM filter (Wenzek et
    al. 2020; Heafield 2011), in closed count form:

        P_n(w|ctx_n)   = max(c_n−D,0)/Σc_n + D·N1+(ctx_n·)/Σc_n · P_{n−1}
        P_k (2≤k<n)    = max(N1+(·sfx_k)−D,0)/m_k
                         + D·N1+(ctx_k·)/m_k · P_{k−1}
        P_1(w)         = N1+(·w)/B, floor D/B

    — raw counts at the top, CONTINUATION counts ``N1+(· suffix_k)``
    (distinct left-extensions among (k+1)-gram types) at every middle
    level, the Chen & Goodman 1999 recursion in full. Each level's
    denominator is the row-sum of its own count table (``Σc_n``,
    ``m_k = Σ N1+(·sfx_k)``), so for every seen context each level
    sums to EXACTLY 1 over the vocabulary (tested as an identity).
    Finite fallback chain: unseen context at level k → level k−1;
    unseen base continuation → ``D/B``. Documents with < ``order``
    tokens are absent.

    Scale shape: ``order−1`` corpus explode+agg passes (k-gram counts,
    k = 2..order) — everything else re-aggregates those vocab-sized
    TYPE tables (continuation counts per level, the per-level context
    marginals); scoring joins ``2·order−1`` count tables back
    AQE-sized; only the 1-row bigram-type total ``B`` broadcasts. No
    Python in the row loop; a closed-form twin can replay every float.
    """
    if not 0.0 < discount < 1.0:
        raise ValueError(f"discount must be in (0,1), got {discount}")
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    tr = train if train is not None else docs
    n = order
    d = F.lit(float(discount))
    # raw k-gram count tables, k = 2..n (one corpus explode each)
    raw = {
        k: _ngrams(tr, [], tokens_col, k)
        .groupBy(*[f"w{j + 1}" for j in range(k)])
        .agg(F.count("*").alias("c"))
        for k in range(2, n + 1)
    }
    stream = _ngrams(docs, [id_col], tokens_col, n)
    scored = stream
    # top level: raw counts + re-aggregated context marginal
    top = raw[n].select(
        *[F.col(f"w{j + 1}").alias(f"_t_{j + 1}") for j in range(n)],
        F.col("c").alias("cn"),
    )
    cond = None
    for j in range(n):
        eq = F.col(f"w{j + 1}") == F.col(f"_t_{j + 1}")
        cond = eq if cond is None else cond & eq
    scored = scored.join(top, cond, "left")
    ctx_n = raw[n].groupBy(*[f"w{j + 1}" for j in range(n - 1)]).agg(
        F.sum("c").cast("double").alias("cxn"),
        F.count("*").cast("double").alias(f"n1r_{n}"),
    )
    ctx_n = ctx_n.select(
        *[F.col(f"w{j + 1}").alias(f"_x{n}_{j + 1}") for j in range(n - 1)],
        "cxn",
        f"n1r_{n}",
    )
    cond = None
    for j in range(n - 1):
        eq = F.col(f"w{j + 1}") == F.col(f"_x{n}_{j + 1}")
        cond = eq if cond is None else cond & eq
    scored = scored.join(ctx_n, cond, "left")
    # middle levels k = n-1 .. 2: continuation counts from the
    # (k+1)-gram TYPE table (group by its last k columns), plus that
    # level's context marginal (group the cont table by its first k−1).
    for k in range(n - 1, 1, -1):
        src = raw[k + 1]
        # suffix columns w2..w{k+1} of the (k+1)-gram types -> s0..s{k-1}
        cont = src.groupBy(
            *[F.col(f"w{j + 2}").alias(f"s{j}") for j in range(k)]
        ).agg(F.count("*").cast("double").alias(f"ck{k}"))
        # cont columns s0..s{k-1} correspond to suffix positions
        # (w_{n-k+1}..w_n) of the stream.
        off = n - k
        sel = cont.select(
            *[
                F.col(f"s{j}").alias(f"_c{k}_{j}")
                for j in range(k)
            ],
            f"ck{k}",
        )
        cond = None
        for j in range(k):
            eq = F.col(f"w{off + j + 1}") == F.col(f"_c{k}_{j}")
            cond = eq if cond is None else cond & eq
        scored = scored.join(sel, cond, "left")
        mid = cont.groupBy(*[f"s{j}" for j in range(k - 1)]).agg(
            F.sum(f"ck{k}").cast("double").alias(f"m{k}"),
            F.count("*").cast("double").alias(f"n1r_{k}"),
        )
        mid = mid.select(
            *[
                F.col(f"s{j}").alias(f"_m{k}_{j}")
                for j in range(k - 1)
            ],
            f"m{k}",
            f"n1r_{k}",
        )
        cond = None
        for j in range(k - 1):
            eq = F.col(f"w{off + j + 1}") == F.col(f"_m{k}_{j}")
            cond = eq if cond is None else cond & eq
        scored = scored.join(mid, cond, "left")
    # base level: bigram-type continuation counts
    contw = raw[2].groupBy(F.col("w2").alias("_bw")).agg(
        F.count("*").cast("double").alias("n1l")
    )
    scored = scored.join(contw, F.col(f"w{n}") == F.col("_bw"), "left")
    total = raw[2].agg(F.count("*").cast("double").alias("_b"))
    # nested interpolation, base up
    p = F.coalesce(F.col("n1l") / F.col("_b"), d / F.col("_b"))
    for k in range(2, n):
        p = F.when(
            F.col(f"m{k}").isNotNull(),
            F.greatest(
                F.coalesce(F.col(f"ck{k}"), F.lit(0.0)) - d, F.lit(0.0)
            )
            / F.col(f"m{k}")
            + d * F.col(f"n1r_{k}") / F.col(f"m{k}") * p,
        ).otherwise(p)
    p = F.when(
        F.col("cxn").isNotNull(),
        F.greatest(
            F.coalesce(F.col("cn"), F.lit(0)).cast("double") - d,
            F.lit(0.0),
        )
        / F.col("cxn")
        + d * F.col(f"n1r_{n}") / F.col("cxn") * p,
    ).otherwise(p)
    out = (
        scored.crossJoin(F.broadcast(total))  # 1-row scalar
        .groupBy(id_col)
        .agg(F.count("*").alias("n_ngrams"), F.avg(F.log(p)).alias("_m"))
    )
    return out.select(
        id_col,
        "n_ngrams",
        F.round("_m", _DIGITS).alias("avg_logp"),
    ).select(
        id_col,
        "n_ngrams",
        "avg_logp",
        F.round(F.exp(-F.col("avg_logp")), _DIGITS).alias("ppl"),
    )


def sb_doc_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tk",
    train: DataFrame | None = None,
    order: int = 5,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document Stupid-Backoff score at a CONFIGURABLE order
    (Brants et al. 2007, "Large Language Models in Machine
    Translation") — the web-scale scorer that skips discount
    bookkeeping entirely:

        S(w_n | w_1..w_{n-1}) = c(w_1..w_n) / c(w_1..w_{n-1})  if seen
                              = a * S(w_n | w_2..w_{n-1})       else
        ...
        S(w)                  = c(w) / N, OOV floor 1 / N

    with a = 0.4 as published. Not a probability (doesn't normalize) —
    by design; at Google scale the ranking quality matched KN while
    training stayed embarrassingly parallel, which is exactly the
    100 TB argument. ``order=5`` matches CCNet's industrial filter
    (Wenzek et al. 2020 use a 5-gram KenLM). A k-gram that occurred
    implies its (k-1)-gram prefix occurred (prefix containment), so
    every branch's denominator is always defined.

    ``train`` defaults to ``docs``; pass a disjoint split to exercise
    the backoff chain for real (self-scoring always hits the top
    branch). Returns ``(id_col, n_ngrams, avg_logs, ppl)`` —
    ``avg_logs`` the mean natural-log score rounded to 4 dp,
    ``ppl`` = exp(-avg_logs) of the rounded mean (deterministic pair,
    as in :func:`kn_bigram_doc_scores`). Docs with < ``order`` tokens
    are absent by contract.

    Scale shape: ``order`` map-side explode+agg passes over ONE
    tokenization build the k-gram count tables for k = 1..order (each
    vocab-sized, shrinking as k falls); scoring joins them back
    AQE-sized — for each k the k-gram table joins once as the suffix
    count and once as the (k+1)-branch's context — only the 1-row
    token total broadcasts. 2·order−1 joins total, all on count
    tables orders of magnitude smaller than the corpus; no Python in
    the row loop. Backoff powers of ``alpha`` are LEFT-ASSOCIATED
    float products (a*a*...), replicable bit-for-bit by any engine
    that evaluates the same literal chain.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    tr = train if train is not None else docs
    n = order
    # k-gram count tables, k = 1..n, columns (w1..wk, ck)
    cnt = {
        k: _ngrams(tr, [], tokens_col, k)
        .groupBy(*[f"w{j + 1}" for j in range(k)])
        .agg(F.count("*").alias(f"c{k}"))
        for k in range(1, n + 1)
    }
    total = cnt[1].agg(F.sum("c1").cast("double").alias("_n"))
    stream = _ngrams(docs, [id_col], tokens_col, n)
    scored = stream
    # suffix-k count: the k-gram (w_{n-k+1}..w_n) of each stream row;
    # context-k count: its (k-1)-gram prefix (w_{n-k+1}..w_{n-1}).
    for k in range(n, 0, -1):
        off = n - k  # stream column offset of the suffix k-gram
        sfx = cnt[k].select(
            *[
                F.col(f"w{j + 1}").alias(f"_s{k}_{j + 1}")
                for j in range(k)
            ],
            F.col(f"c{k}").alias(f"sfx{k}"),
        )
        cond = None
        for j in range(k):
            eq = F.col(f"w{off + j + 1}") == F.col(f"_s{k}_{j + 1}")
            cond = eq if cond is None else cond & eq
        scored = scored.join(sfx, cond, "left")
        if k >= 2:
            ctx = cnt[k - 1].select(
                *[
                    F.col(f"w{j + 1}").alias(f"_x{k}_{j + 1}")
                    for j in range(k - 1)
                ],
                F.col(f"c{k - 1}").alias(f"ctx{k}"),
            )
            cond = None
            for j in range(k - 1):
                eq = F.col(f"w{off + j + 1}") == F.col(f"_x{k}_{j + 1}")
                cond = eq if cond is None else cond & eq
            scored = scored.join(ctx, cond, "left")
    # Backoff chain, highest order first. Alpha powers accumulate by
    # left-associated multiplication so the float matches an engine
    # writing the same literal product.
    af = 1.0
    s = None
    for k in range(n, 1, -1):
        # (a^i * c) / ctx, NOT a^i * (c/ctx): keep the multiply-then-
        # divide left association so a SQL twin writing the same
        # literal chain reproduces the float bit-for-bit.
        num = F.col(f"sfx{k}")
        if af != 1.0:
            num = F.lit(af) * num
        branch = num / F.col(f"ctx{k}")
        hit = F.when(F.col(f"sfx{k}").isNotNull(), branch)
        s = hit if s is None else s.when(
            F.col(f"sfx{k}").isNotNull(), branch
        )
        af = af * float(alpha)
    s = s.otherwise(
        F.lit(af)
        * F.coalesce(F.col("sfx1").cast("double"), F.lit(1.0))
        / F.col("_n")
    )
    out = (
        scored.crossJoin(F.broadcast(total))  # 1-row scalar
        .groupBy(id_col)
        .agg(F.count("*").alias("n_ngrams"), F.avg(F.log(s)).alias("_m"))
    )
    return out.select(
        id_col,
        "n_ngrams",
        F.round("_m", _DIGITS).alias("avg_logs"),
    ).select(
        id_col,
        "n_ngrams",
        "avg_logs",
        F.round(F.exp(-F.col("avg_logs")), _DIGITS).alias("ppl"),
    )
