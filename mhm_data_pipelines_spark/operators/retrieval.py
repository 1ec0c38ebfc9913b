"""BM25 full-text retrieval over the corpus — query-time scoring and
top-k, entirely with builtin expressions.

No reference counterpart (north-star LLM-pipeline extension): a
training-data engine needs corpus search for curation, eval-set
construction ("find the docs most similar to this benchmark prompt"),
and targeted decontamination beyond exact n-gram overlap. BM25 is the
standard lexical ranking function (Robertson/Spärck Jones; the Lucene
variant of the idf term).

Scale design — everything narrows *before* it moves:

* Doc tokens explode once, then are immediately filtered to the query's
  terms (a literal ``isin`` — Catalyst pushes it into the Generate), so
  the shuffled relation is ``O(docs_containing_query_terms)``, not the
  corpus token count.
* Per-term document frequencies are an aggregate over that same
  filtered relation — at most ``len(query_terms)`` rows, broadcast back.
* Corpus stats (N, avgdl) are one single-row aggregate, broadcast.
* The final top-k is a TakeOrdered (per-partition top-k, driver merges
  k), not a global sort.

Float determinism: scores involve ``ln`` (not correctly rounded across
engines), so rank/emit on ``round(score, round_scores)`` with doc-id
tie-breaks when hash-exact parity matters (same convention as
``functions.text.tfidf_top_terms``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.functions.text import tokens

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6

__all__ = [
    "pmi_collocations",
    "bm25_scores",
    "bm25_topk",
    "jaccard_topk",
    "phrase_search",
    "rrf_fuse",
]


def _query_terms(query: str | list[str]) -> list[str]:
    terms = query.split() if isinstance(query, str) else list(query)
    out = sorted({t.lower() for t in terms if t})
    if not out:
        raise ValueError("query has no terms")
    return out


def bm25_scores(
    df: DataFrame,
    query: str | list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_scores: int | None = None,
) -> DataFrame:
    """BM25 score of every document that matches ≥1 query term:
    ``(id_col, score, n_terms_matched)``.

    The per-(doc, term) tf frame feeds both the docfreq aggregate and
    the scoring join, so the plan scans + explodes the corpus twice;
    it stays pure re-executable lineage (nothing is pinned to executor
    storage) — checkpoint ``df`` first if its own derivation is the
    expensive part.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))      (Lucene form)

    dl = doc token count, avgdl = corpus mean. Docs matching no term
    are absent (score 0 by definition — union them back if a dense
    result is needed)."""
    terms = _query_terms(query)
    ids = df.select(id_col, F.size(tokens(text_col)).alias("_dl"))
    # One single-row corpus-stats aggregate (N docs, avg doc length).
    stats = ids.agg(
        F.count("*").alias("_n_docs"),
        F.avg("_dl").alias("_avgdl"),
    )
    toks = df.select(
        F.col(id_col),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("term"),
    ).filter(F.col("term").isin(terms))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("_tf"))
    # ≤ len(terms) rows by construction — broadcast back.
    docfreq = tf.groupBy("term").agg(
        F.count_distinct(id_col).alias("_df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    denom = F.col("_tf") + k1 * (
        1.0 - b + b * F.col("_dl") / F.col("_avgdl")
    )
    per_term = idf * (F.col("_tf") * (k1 + 1.0)) / denom
    out = (
        tf.join(F.broadcast(docfreq), "term")
        .join(ids, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.sum(per_term).alias("score"),
            F.count("*").alias("n_terms_matched"),
        )
    )
    if round_scores is not None:
        out = out.withColumn("score", F.round("score", round_scores))
    return out


def bm25_topk(
    df: DataFrame,
    query: str | list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_scores: int | None = 4,
) -> DataFrame:
    """Top-``k`` documents for ``query`` by BM25, deterministically
    (ties → smaller id). ``orderBy().limit()`` compiles to TakeOrdered —
    per-partition top-k then a k-row driver merge, no global sort."""
    scored = bm25_scores(df, query, id_col, text_col, k1, b, round_scores)
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def jaccard_topk(
    df: DataFrame,
    query: str | list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents by query↔document token-SET Jaccard — the
    set-overlap lexical ranking that complements BM25's tf-weighted one
    (BM25 rewards repeated terms; Jaccard rewards coverage relative to
    document vocabulary size). Returns ``(id_col, score,
    n_terms_matched)``; docs sharing no term are absent.

    Scale shape: ZERO shuffles before the top-k. The query term set is
    a literal array, the per-doc intersection is
    ``array_intersect(array_distinct(tokens), lit(terms))`` — a pure
    row-local expression inside whole-stage codegen — and the final
    top-k is a TakeOrdered (per-partition top-k, k-row driver merge).
    No explode, no join: the corpus is scanned once, projected to
    (id, two ints), and only k rows leave the executors."""
    terms = _query_terms(query)
    toks = F.array_distinct(F.transform(tokens(text_col), F.lower))
    inter = F.size(
        F.array_intersect(toks, F.array(*[F.lit(t) for t in terms]))
    )
    union = F.size(toks) + F.lit(len(terms)) - inter
    out = (
        df.select(
            F.col(id_col),
            (inter.cast("double") / union).alias("score"),
            inter.alias("n_terms_matched"),
        )
        .filter(F.col("n_terms_matched") > 0)
    )
    out = out.withColumn("score", F.round("score", _DIGITS))
    return out.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def phrase_search(
    df: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
) -> DataFrame:
    """Exact PHRASE match — the positional query BM25/Jaccard term
    rankings cannot express (["data", "model"] adjacent and in order).
    Returns ``(id_col, n_occurrences)`` for documents containing the
    phrase at least once, ordered by (occurrences desc, id asc);
    ``k`` optionally caps via TakeOrdered.

    Matching is token-exact, not substring ("data model" never matches
    inside "metadata modeling"): ``n_occurrences`` counts every token
    POSITION where the next ``len(phrase)`` tokens equal the phrase —
    a self-overlapping phrase ("a a" in "a a a") counts each start
    (2), the regex-lookahead semantic, chosen because it is exactly
    replayable in engines without lookahead support. Row-local
    array expressions only; the sort is the single Exchange
    (TakeOrdered when ``k`` is set).

    Implementation note: the match vector is built by zipping m
    SHIFTED SLICES of the token array (position i matches iff
    slice_j[i] == term_j for all j), NOT by slicing per candidate
    position inside a lambda — higher-order functions are interpreted
    with no CSE, so a token-array reference inside the lambda
    re-evaluates the tokenize once per position, O(len²) per document
    (measured 8× on this exact query at sf0.1). Here the token
    expression is referenced exactly m times per row."""
    terms = [t.lower() for t in phrase.split() if t]
    if not terms:
        raise ValueError("phrase has no terms")
    m = len(terms)
    tk = F.transform(tokens(text_col), F.lower)
    win = F.greatest(F.size(tk) - m + 1, F.lit(0))
    matches = F.transform(
        F.slice(tk, 1, win), lambda x: x == terms[0]
    )
    def _and_eq(term):
        # closure factory, NOT a default-arg lambda: PySpark reads the
        # lambda's arity to bind zip_with's two variables, and a
        # third (defaulted) parameter breaks the binding.
        return lambda acc, x: acc & (x == term)

    for j in range(1, m):
        matches = F.zip_with(
            matches, F.slice(tk, j + 1, win), _and_eq(terms[j])
        )
    n_occ = F.size(F.filter(matches, lambda b: b))
    out = (
        df.select(
            F.col(id_col), n_occ.cast("long").alias("n_occurrences")
        )
        .filter(F.col("n_occurrences") > 0)
        .orderBy(F.desc("n_occurrences"), F.col(id_col))
    )
    return out.limit(k) if k is not None else out


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k_const: int = 60,
    topk: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09) of
    N ranked lists — the standard hybrid-retrieval combiner (sparse
    BM25 + a second ranking fused without score calibration, since RRF
    consumes only ranks):

        rrf(d) = Σ_lists 1 / (k_const + rank_list(d))

    Each input frame needs ``(id_col, score)``; ranks are assigned
    within each list as ``row_number`` over (score desc, id asc) — the
    repo-wide deterministic tie rule. Returns ``(id_col, rrf_score,
    n_lists)`` ordered by (rrf_score desc, id asc).

    Scale shape: inputs are top-k lists (k rows each — bm25_topk /
    jaccard_topk end in a TakeOrdered), so the single-partition
    ``row_number`` window and the fusion hash-aggregate run on N·k
    rows total, not the corpus. Fusing full corpus-sized rankings
    would instead want rank-by-aggregation; this operator's contract
    is list fusion, matching its retrieval use."""
    if not rankings:
        raise ValueError("rankings is empty")
    w = Window.orderBy(F.desc("score"), F.col(id_col))
    contribs = [
        r.select(id_col, "score")
        .withColumn(
            "_contrib", F.lit(1.0) / (k_const + F.row_number().over(w))
        )
        .select(id_col, "_contrib")
        for r in rankings
    ]
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    out = allc.groupBy(id_col).agg(
        F.sum("_contrib").alias("rrf_score"),
        F.count("*").alias("n_lists"),
    )
    out = out.withColumn("rrf_score", F.round("rrf_score", 8))
    out = out.orderBy(F.desc("rrf_score"), F.col(id_col))
    return out.limit(topk) if topk is not None else out


def pmi_collocations(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 3,
    topk: int = 50,
) -> DataFrame:
    """Corpus-level collocation mining: top-k adjacent-bigram PMI/NPMI.

    The classic vocabulary-curation statistic (Church & Hanks 1990;
    Mikolov et al. 2013 use the same score to decide which bigrams
    become single phrase tokens): a bigram whose observed rate beats
    the independence assumption gets

        ``pmi  = ln( (c_ab / B) / ((c_a / N) * (c_b / N)) )``
        ``npmi = pmi / -ln(c_ab / B)``

    with ``N`` total tokens, ``B`` total adjacent bigrams, ``c_a`` the
    unigram count and ``c_ab`` the bigram count. NPMI normalizes to
    [-1, 1] so a threshold transfers across corpus sizes.

    Scale shape: one explode of the token stream feeds BOTH hash
    aggregates (unigrams + adjacent bigrams — never all token pairs:
    adjacency bounds the pair stream to the corpus length); ``N``/``B``
    are single-row aggregates broadcast back; unigram counts re-attach
    to the (much smaller, ``min_count``-filtered) bigram table by two
    AQE-sized joins; the final top-k is a bounded sort, not a global
    materialization.

    Determinism: rank and emit on ``round(npmi, 6)`` with
    (w1, w2) tie-breaks — ``ln`` is not correctly rounded across
    engines, so raw doubles never decide order.

    Returns ``(w1, w2, c_ab, pmi, npmi)``, npmi desc.
    """
    tk = docs.select(
        F.col(id_col), F.transform(tokens(F.col(text_col)), F.lower).alias("tk")
    )
    uni = tk.select(F.explode("tk").alias("w")).groupBy("w").agg(
        F.count("*").alias("c")
    )
    big = (
        tk.filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tk) - 2), "
                    "i -> struct(tk[i] AS w1, tk[i + 1] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    totals = uni.agg(
        F.sum("c").cast("double").alias("n_tokens")
    ).crossJoin(
        F.broadcast(
            tk.select(
                F.greatest(F.size("tk") - 1, F.lit(0)).alias("nb")
            ).agg(F.sum("nb").cast("double").alias("n_bigrams"))
        )
    )
    scored = (
        big.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    p_ab = F.col("c_ab") / F.col("n_bigrams")
    pmi = F.log(
        p_ab / ((F.col("c_a") / F.col("n_tokens")) * (F.col("c_b") / F.col("n_tokens")))
    )
    npmi = F.round(pmi / -F.log(p_ab), _DIGITS)
    out = scored.select(
        "w1",
        "w2",
        F.col("c_ab").cast("long").alias("c_ab"),
        F.round(pmi, _DIGITS).alias("pmi"),
        npmi.alias("npmi"),
    ).orderBy(F.desc("npmi"), "w1", "w2")
    return out.limit(topk) if topk is not None else out


def doc_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    topk: int = 3,
) -> DataFrame:
    """Per-document keyword extraction: top-k terms by TF-IDF
    (``tf · ln(N/df)``) — the summarize-by-salient-terms primitive for
    corpus browsing and cluster labeling (the per-DOC twin of
    ``functions.text.tfidf_top_terms``'s corpus view).

    One tokenize+explode feeds both the per-(doc, term) TF aggregate
    and the document-frequency aggregate (df re-attaches by term —
    AQE-sized); ranking is a window PARTITIONED BY document (scales
    with docs-per-partition, never a global sort). Rank on
    ``round(score, 6)`` with term tie-break — ``ln`` is not
    correctly rounded cross-engine, raw doubles never decide order.

    Returns ``(id_col, rank, term, score)``, rank 1..topk per doc.
    """
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(
        F.count_distinct(id_col).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))  # single-row corpus size
        .select(
            F.col(id_col),
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")),
                _DIGITS,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(id_col, "rank", "term", "score")
    )
