"""Text-analysis expression builders for large-scale training-data
pipelines: tokenization, quality scoring, language ID, fingerprinting.

No reference counterpart (north-star extension per BASELINE.json). All
hot-path expressions are builtin Column functions — JVM-side, codegen'd —
so they scale to 100 TB of documents without Python in the row loop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.functions.partitioning import spread_small_input

#: Minimal English stopword set for ratio features (deterministic,
#: engine-owned — swap for a real list in production).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization; empty strings dropped (split on runs)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(text)
    stops = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, F.lower(t))))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence
    − punctuation excess. Deterministic and cheap; a stand-in for
    Gopher/C4-style quality rules, structured so each term is a pushdown-
    friendly expression."""
    c = F.col(text) if isinstance(text, str) else text
    n = token_count(c)
    len_term = F.when((n >= 10) & (n <= 1000), F.lit(0.5)).otherwise(F.lit(0.0))
    stop_term = F.when(stopword_ratio(c) > 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    punct_term = F.when(punct_ratio(c) < 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
    return len_term + stop_term + punct_term


def char_ngrams(text: Column | str, n: int = 3, distinct: bool = True) -> Column:
    """Character n-grams (shingles) of the lowercased text — the unit for
    MinHash/Jaccard dedup. Texts shorter than ``n`` yield an empty array
    (``sequence`` would otherwise run *descending*). ``distinct=False``
    keeps duplicate shingles — only useful when the consumer needs
    occurrence counts; duplicate-insensitive consumers (min-over-hashes)
    should keep the default: the per-row hash set costs less than
    hashing the ~30% repeated shingles it drops (measured at sf0.1 in
    ``minhash_signatures``)."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    idx = F.sequence(F.lit(1), F.length(c) - (n - 1))
    grams = F.transform(idx, lambda i: F.substring(c, i, n))
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(F.length(c) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams, for n-gram Jaccard similarity; fewer than
    ``n`` tokens yields an empty array.

    Inlines the tokenize — each reference to the token array re-runs the
    split (HOFs are interpreted, no CSE). When the caller can stage a
    projection, prefer ``tokens(...)`` in one select and
    :func:`ngrams_of_tokens` after a Generate boundary (see
    ``operators.decontam``) — measured ~2× on n-gram-explode pipelines."""
    return ngrams_of_tokens(tokens(text), n)


def ngrams_of_tokens(toks: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams from an ALREADY-TOKENIZED array column —
    the two-stage form of :func:`word_ngrams` for explode pipelines
    where the tokenize should run once per row, not once per reference."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.when(F.size(toks) >= n,
                  F.array_distinct(
                      F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
                  )).otherwise(F.array().cast("array<string>"))


def c4_line_stats(text: Column | str) -> Column:
    """C4-style line-level cleaning diagnostics (Raffel et al. 2020,
    §2.2 heuristics) as one struct column: per-document counts of lines
    kept/dropped by each rule plus the page-level flags. Rules, applied
    per newline-delimited line:

    * terminal punctuation — keep only lines ending in ``.``, ``!``,
      ``?`` or closing quote after one;
    * ≥ 3 words;
    page-level: contains "lorem ipsum" (template junk) or ``{`` (code);
    ``doc_kept`` = ≥ 3 kept lines and neither page flag (the paper uses
    5 sentences on web pages; 3 lines is the line-granular analogue).

    Pure Column expressions (split + filter HOFs) so the whole rule set
    is pushdown-friendly and oracle-reproducible."""
    c = F.col(text) if isinstance(text, str) else text
    lines = F.split(c, r"\n")
    nonblank = F.filter(lines, lambda ln: F.trim(ln) != "")
    term = lambda ln: F.trim(ln).rlike(r'[.!?]["”\']?$')  # noqa: E731
    words = lambda ln: F.size(  # noqa: E731
        F.filter(F.split(F.trim(ln), r"\s+"), lambda t: t != "")
    )
    kept = F.filter(nonblank, lambda ln: term(ln) & (words(ln) >= 3))
    lower = F.lower(c)
    has_lorem = lower.contains("lorem ipsum")
    has_brace = c.contains("{")
    n_kept = F.size(kept)
    return F.struct(
        F.size(nonblank).alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        F.size(
            F.filter(nonblank, lambda ln: ~term(ln))
        ).alias("n_nopunct_lines"),
        F.size(
            F.filter(nonblank, lambda ln: words(ln) < 3)
        ).alias("n_short_lines"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        ((n_kept >= 3) & ~has_lorem & ~has_brace).alias("doc_kept"),
    )


def c4_clean_text(text: Column | str) -> Column:
    """The cleaned page under the same C4 line rules: kept lines
    re-joined with newlines (empty string when nothing survives)."""
    c = F.col(text) if isinstance(text, str) else text
    lines = F.split(c, r"\n")
    term = lambda ln: F.trim(ln).rlike(r'[.!?]["”\']?$')  # noqa: E731
    words = lambda ln: F.size(  # noqa: E731
        F.filter(F.split(F.trim(ln), r"\s+"), lambda t: t != "")
    )
    kept = F.filter(
        lines,
        lambda ln: (F.trim(ln) != "") & term(ln) & (words(ln) >= 3),
    )
    return F.array_join(kept, "\n")


#: Gopher (Rae et al. 2021, Appendix A) "must contain ≥ 2 of" stop set —
#: distinct from the ratio-feature STOPWORDS tuple above by design: the
#: paper names these eight words specifically.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_stats(text: Column | str) -> Column:
    """Gopher-style document quality rule inputs (Rae et al. 2021,
    Appendix A) as one struct column, plus the per-rule pass flags and
    the all-rules verdict. Rules, on whitespace tokens / newline lines:

    * ``50 ≤ n_words ≤ 100000``;
    * ``3 ≤ mean_word_len ≤ 10``;
    * symbol-to-word ratio (``#`` or ``...``/``…``) ≤ 0.1;
    * < 90% of lines start with a bullet (``-``/``*``/``•``);
    * < 30% of lines end with an ellipsis;
    * ≥ 80% of words contain at least one alphabetic character;
    * ≥ 2 distinct words from the 8-word Gopher stop set.

    Pure Column expressions (split/filter/aggregate HOFs — no UDF), so
    the rule set stays inside whole-stage codegen and is exactly
    reproducible by the DuckDB oracle."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n_words = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_word_len = F.when(n_words > 0, total_len / n_words).otherwise(
        F.lit(0.0)
    )
    n_hash = F.size(F.split(c, r"#")) - 1
    n_ellipsis = (F.size(F.split(c, r"\.\.\.")) - 1) + (
        F.size(F.split(c, "…")) - 1
    )
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis) / n_words
    ).otherwise(F.lit(0.0))
    lines = F.filter(F.split(c, r"\n"), lambda ln: F.trim(ln) != "")
    n_lines = F.size(lines)
    bullet_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(
                lines,
                lambda ln: F.substring(F.trim(ln), 1, 1).isin(
                    "-", "*", "•"
                ),
            )
        )
        / n_lines,
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(
                lines,
                lambda ln: F.trim(ln).endswith("...")
                | F.trim(ln).endswith("…"),
            )
        )
        / n_lines,
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))) / n_words,
    ).otherwise(F.lit(0.0))
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    lower_toks = F.transform(toks, F.lower)
    # Count of DISTINCT stop-set members present (iterate the 8-word
    # stop set, not the document) — unambiguous in both engines.
    n_stop_hits = F.size(
        F.filter(stops, lambda s: F.array_contains(lower_toks, s))
    )
    p_words = (n_words >= 50) & (n_words <= 100000)
    p_mean = (mean_word_len >= 3) & (mean_word_len <= 10)
    p_symbol = symbol_ratio <= 0.1
    p_bullet = bullet_frac < 0.9
    p_ellipsis = ellipsis_frac < 0.3
    p_alpha = alpha_frac >= 0.8
    p_stop = n_stop_hits >= 2
    return F.struct(
        n_words.alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_frac, 4).alias("bullet_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_frac"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        n_stop_hits.alias("n_stop_hits"),
        p_words.alias("pass_word_count"),
        p_mean.alias("pass_mean_word_len"),
        p_symbol.alias("pass_symbol_ratio"),
        p_bullet.alias("pass_bullet_lines"),
        p_ellipsis.alias("pass_ellipsis_lines"),
        p_alpha.alias("pass_alpha_words"),
        p_stop.alias("pass_stopwords"),
        (
            p_words
            & p_mean
            & p_symbol
            & p_bullet
            & p_ellipsis
            & p_alpha
            & p_stop
        ).alias("doc_kept"),
    )


def winnow_fingerprints(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every ``k``-gram of the
    lowercased text, slide a ``window`` over the hash sequence, and keep
    the per-window minima as the fingerprint SET — returned as a
    ``fingerprints`` array column alongside ``id_col``. Guarantees any
    match of length ≥ ``window + k - 1`` shares a fingerprint while
    storing ~2/(window+1) of the hashes — the standard substring-robust
    fingerprint for plagiarism/boilerplate detection, where whole-doc
    fingerprints (``fingerprint``) and shingle MinHash (set overlap)
    both miss reordered or embedded copies.

    Hash family: first 60 bits of md5 per k-gram — bit-identical in any
    engine with md5 (cross-engine oracle parity, same scheme as the
    MinHash md5 family). Texts shorter than ``k + window - 1`` chars
    yield an empty array (no full window exists).

    PLAN SHAPE (this is a DataFrame function, not a Column, on
    purpose): the hash array MUST be materialized in its own projection
    before the window-min transform references it. A single composed
    expression embeds the k-gram hashing inside the window transform's
    lambda, where interpreted HOF evaluation recomputes the whole hash
    array per window index — measured 180 s vs 1.7 s at sf0.01 (~100×).
    The two-select form survives CollapseProject because the hash alias
    is referenced more than once (size + slice + guard), which blocks
    inlining of non-cheap expressions. The scan is also spread first:
    per-row hashing is decontam-grade heavy (same A/B rationale).
    """
    spread = spread_small_input(df)
    hashed = spread.select(
        F.col(id_col), kgram_hashes(text_col, k).alias("_h")
    )
    return hashed.select(
        id_col, winnow_from_hashes("_h", window).alias("fingerprints")
    )


def kgram_hashes(text: Column | str, k: int = 8) -> Column:
    """60-bit md5 hash per character ``k``-gram of the lowercased text
    (the winnowing hash sequence; cross-engine-reproducible family).
    Text shorter than ``k`` has no k-grams → empty array. The guard is
    required, not cosmetic: Spark's ``sequence(1, 0)`` DESCENDS
    ([1, 0]), so the unguarded expression emitted two bogus hashes for
    short texts (ADVICE r3)."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - (k - 1)),
        lambda i: F.conv(
            F.substring(F.md5(F.substring(c, i, k)), 1, 15), 16, 10
        ).cast("long"),
    )
    return F.when(F.length(c) >= k, grams).otherwise(
        F.array().cast("array<long>")
    )


def winnow_from_hashes(hashes: Column | str, window: int = 4) -> Column:
    """Distinct per-window minima over an ALREADY-PROJECTED hash-array
    column — the staged second half of :func:`winnow_fingerprints`."""
    h = F.col(hashes) if isinstance(hashes, str) else hashes
    mins = F.transform(
        F.sequence(F.lit(1), F.size(h) - (window - 1)),
        lambda i: F.array_min(F.slice(h, i, window)),
    )
    return F.when(
        F.size(h) >= window, F.array_distinct(mins)
    ).otherwise(F.array().cast("array<long>"))


def fingerprint(text: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint of the *normalized* text
    (lowercase, collapsed whitespace) — stable across engines (MD5), used
    as the exact-dedup key. Normalization is regexp-based (codegen'd
    string ops) rather than a split/filter/concat higher-order pipeline —
    identical output, but stays inside whole-stage codegen."""
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.md5(normalized)


def tfidf_top_terms(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    round_scores: int | None = None,
    min_df: int = 1,
):
    """Top-k TF-IDF terms per document, entirely with builtin ops:
    explode tokens → term frequency per (doc, term) → document frequency
    per term (one agg over the same exploded relation) → idf = ln(N/df)
    → rank per doc. The doc-frequency side is an aggregate over the
    corpus VOCABULARY, which is unbounded on heavy-tailed web text, so
    it carries no broadcast hint — AQE picks broadcast vs shuffle from
    its runtime size. ``min_df`` prunes the vocabulary (and the output:
    terms in fewer than ``min_df`` docs score in nothing) before the
    join when the tail is known to be junk. The single-row ``n_docs``
    aggregate is the only forced broadcast.

    Plain (unsmoothed) idf so the formula is oracle-expressible; ties
    broken by term text. ``round_scores`` ranks on a rounded score —
    cross-engine ``ln`` can differ in the last ulp, so rounding turns
    near-ties into exact ties resolved by the term tie-break.
    """
    from pyspark.sql import Window

    # NOTE: deliberately no spread_small_input here — the token explode
    # is cheap per row and feeds a shuffle (groupBy) regardless; A/B at
    # sf0.1 showed the extra repartition costs ~2× warm. Contrast
    # operators.decontam, whose n-gram build is ~10× heavier per row.
    toks = df.select(
        F.col(id_col),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    docfreq = tf.groupBy("term").agg(
        F.count_distinct(id_col).alias("df")
    )
    if min_df > 1:
        docfreq = docfreq.filter(F.col("df") >= min_df)
    n_docs = df.select(F.count_distinct(id_col).alias("n_docs"))
    score = F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
    if round_scores is not None:
        score = F.round(score, round_scores)
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(id_col, "term", "tf", score.alias("tfidf"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


#: PII patterns, ordered most- to least-specific so earlier redactions
#: can't leave fragments a later pattern half-matches (SSN before the
#: generic phone shape, email before bare domains). Restricted to the
#: regex subset Java (Spark) and RE2 (DuckDB/ripgrep) agree on — no
#: lookaround, no backreferences — so the chain is oracle-reproducible
#: and portable to scanner tooling.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"(\+?\d{1,2}[ -]?)?\(?\d{3}\)?[ -]?\d{3}[ -]?\d{4}\b"),
)


def redact_pii(text: Column | str, replacement: str = "[{kind}]") -> Column:
    """Redact emails / SSNs / IPv4s / phone shapes with per-kind tags
    (``[email]`` …), as a chain of builtin ``regexp_replace`` calls —
    codegen'd string ops, no Python in the row loop, safe to run over
    100 TB of text. ``replacement`` may reference ``{kind}``."""
    c = F.col(text) if isinstance(text, str) else text
    for kind, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, replacement.format(kind=kind))
    return c


def repetition_stats(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Gopher-style repetition signals per document: duplicate-word
    fraction, most-frequent-word share, most-frequent-bigram share.
    High values mark boilerplate/spam for corpus filtering.

    One explode over (lowercased) tokens feeds a (doc, word) count, a
    second over adjacent bigrams feeds a (doc, bigram) count; per-doc
    argmax via ``max_by``-style struct-max (count DESC, token ASC
    tie-break — deterministic and oracle-expressible). Everything is
    partial-aggregated map-side; nothing touches the driver.

    No spread_small_input: per-row cost is one split + two light
    transforms, and both explodes land in shuffles — A/B at sf0.1
    measured the repartition as a net 2× loss (cf. operators.decontam
    where the heavier n-gram build makes it a 4× win)."""
    toks = F.transform(tokens(text_col), F.lower)
    words = df.select(F.col(id_col), F.explode(toks).alias("w"))
    wc = words.groupBy(id_col, "w").agg(F.count("*").alias("c"))
    # Argmax as min(struct(−count, token)): highest count, then FIRST
    # token lexicographically — a plain max(struct(count, token)) would
    # tie-break on the LAST token, which DuckDB's arg_max doesn't match.
    word_stats = wc.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("w"))).alias("_top"),
    )
    # Guard BEFORE exploding: sequence(1, 0) runs *descending* for
    # 1-token docs (same pitfall as char_ngrams). Docs with <2 tokens
    # simply have no bigram row (NULL top_bigram_frac via the left join).
    bigrams = df.filter(F.size(tokens(text_col)) >= 2).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            )
        ).alias("b"),
    )
    bc = bigrams.groupBy(id_col, "b").agg(F.count("*").alias("c"))
    bg_stats = bc.groupBy(id_col).agg(
        F.sum("c").alias("n_bigrams"),
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("b"))).alias("_topb"),
    )
    return (
        word_stats.join(bg_stats, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.round(
                1.0 - F.col("n_distinct") / F.col("n_words"), 4
            ).alias("dup_word_frac"),
            F.col("_top")["w"].alias("top_word"),
            F.round((-F.col("_top")["nc"]) / F.col("n_words"), 4).alias(
                "top_word_frac"
            ),
            F.round(
                (-F.col("_topb")["nc"]) / F.col("n_bigrams"), 4
            ).alias("top_bigram_frac"),
        )
    )


#: Tiny per-language character/stopword profiles for the n-gram heuristic
#: language ID. Real deployments plug in fastText/CLD3 via pandas_udf;
#: this keeps the interface + a deterministic fallback.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "los", "que", "y"),
    "fr": ("le", "la", "les", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": (),  # CJK detected by script below
}


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: CJK script detection, else argmax of
    marker-stopword hits, defaulting to 'en'. Pure Column expression."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.transform(tokens(c), F.lower)
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        if not markers:
            continue
        marks = F.array(*[F.lit(m) for m in markers])
        scores.append(
            F.struct(
                F.size(F.filter(toks, lambda t: F.array_contains(marks, t))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    has_cjk = c.rlike(r"[一-鿿]")
    return F.when(has_cjk, F.lit("zh")).otherwise(
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("en"))
    )


def bpe_pair_counts(
    df,
    text_col: str = "text",
    top_n: int | None = None,
):
    """Adjacent-symbol pair frequencies over the corpus — the counting
    step of byte-pair-encoding tokenizer training (Sennrich et al.
    2016): each word contributes its adjacent character pairs, weighted
    by how often the word occurs. Returns ``(left, right, n)``.

    No reference counterpart (north-star extension: tokenizer training
    is a corpus-scale counting job, exactly this engine's shape). Scale
    design: words collapse to ``(word, count)`` FIRST (one hash-agg;
    vocabulary ≪ token count on natural text), then pairs explode from
    the vocabulary only — pair fan-out is per *distinct word*, and the
    final pair agg is map-side combined. Full BPE training iterates
    merge → recount on the vocabulary table, which is metadata-sized
    (≤ a few million rows at any corpus size) — subsequent iterations
    are cheap; this corpus-scale first pass is the one that needs the
    cluster.

    Pure expressions end-to-end (split/explode/substring/agg); no UDF.
    """
    words = (
        df.select(
            F.explode(
                F.transform(tokens(text_col), F.lower)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )
    # substring is 1-based; position i pairs chars (i, i+1)
    idx = F.sequence(F.lit(1), F.length("word") - 1)
    pairs = words.filter(F.length("word") >= 2).select(
        "wc",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.substring(F.col("word"), i, 1).alias("left"),
                    F.substring(F.col("word"), i + 1, 1).alias("right"),
                ),
            )
        ).alias("p"),
    ).select("wc", "p.left", "p.right")
    out = (
        pairs.groupBy("left", "right")
        .agg(F.sum("wc").alias("n"))
    )
    if top_n is not None:
        out = out.orderBy(F.desc("n"), "left", "right").limit(top_n)
    return out


def bpe_apply(
    text: Column | str, merges: list[tuple[str, str]]
) -> Column:
    """Apply a FIXED, ordered BPE merge list (Sennrich et al. 2016) to
    the lowercased whitespace words of ``text``; returns the flat
    ``array<string>`` of subword tokens. Each word starts as
    space-separated characters; each merge ``(a, b)`` rewrites every
    occurrence of ``"a b"`` to ``"ab"``, in priority order. Applying
    each merge once, globally, in rank order is equivalent to the
    classic lowest-rank-first loop: merges only grow tokens, so a later
    merge can never create an earlier merge's pair, and left-to-right
    replace resolves overlaps the same way the reference
    implementation's leftmost-first merge does.

    Pure Column expressions — a literal ``replace`` chain inside a
    per-word ``transform``, reproducible verbatim in the DuckDB oracle.
    For long merge lists (real tokenizers: 30k+) use a broadcast
    mapInPandas encoder instead; this expression form is exact and
    engine-portable for bounded lists (gate/oracle use)."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)

    def encode_word(w: Column) -> Column:
        spaced = F.trim(F.regexp_replace(w, "(.)", "$1 "))
        for a, b in merges:
            spaced = F.replace(
                spaced, F.lit(f"{a} {b}"), F.lit(f"{a}{b}")
            )
        return spaced

    return F.flatten(
        F.transform(tokens(c), lambda w: F.split(encode_word(w), " "))
    )


def train_bpe(
    df,
    text_col: str = "text",
    n_merges: int = 16,
    max_vocab: int = 100_000,
) -> list[tuple[str, str]]:
    """BPE tokenizer training: the corpus-scale word count runs on the
    cluster (ONE hash aggregate — the only pass over the data), then
    the classic merge loop runs driver-side on the bounded
    (word, count) vocabulary — vocabulary is metadata-sized on natural
    text, and ``max_vocab`` caps it by frequency (TakeOrdered, ties by
    word) as a hard bound. Returns the ordered merge list for
    :func:`bpe_apply`. Ties in pair frequency break lexicographically
    for determinism."""
    rows = (
        df.select(
            F.explode(
                F.transform(tokens(text_col), F.lower)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
        .orderBy(F.desc("wc"), "word")
        .limit(max_vocab)
        .collect()
    )
    vocab = {tuple(r["word"]): int(r["wc"]) for r in rows if r["word"]}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, wc in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + wc
        if not pair_counts:
            break
        best = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )[0]
        if pair_counts[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, wc in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + wc
        vocab = new_vocab
    return merges


def char_entropy(text: Column | str) -> Column:
    """Shannon entropy (bits/char) of the character distribution — the
    expression-only compressibility proxy (low entropy ⇒ repetitive /
    boilerplate text; a standard cheap quality filter next to the
    Gopher rules). Empty text ⇒ 0.0.

    Pure Column pipeline: split to characters, per-char counts via
    aggregate over the distinct set — no explode, no shuffle; one
    projection per document."""
    c = F.col(text) if isinstance(text, str) else text
    # split('', '') yields [''] — one phantom empty-string element —
    # which would make an empty document look like a 1-char doc with
    # entropy 0 (ADVICE r4). Filter it so n = 0 for empty text and the
    # explicit n > 0 guard below takes over.
    chars = F.filter(F.split(c, ""), lambda x: x != "")
    n = F.size(chars).cast("double")
    distinct = F.array_distinct(chars)
    # Σ -p·log2(p) over the distinct characters of the document.
    ent = F.aggregate(
        distinct,
        F.lit(0.0),
        lambda acc, ch: acc
        - (
            F.size(F.filter(chars, lambda x: x == ch)).cast("double") / n
        )
        * F.log2(
            F.size(F.filter(chars, lambda x: x == ch)).cast("double") / n
        ),
    )
    return F.when(n > 0, ent).otherwise(F.lit(0.0))


def doc_char_entropy(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document character entropy as a FRAME op — the scale shape
    for real documents: explode to characters, one (id, char) hash
    aggregate, one per-id aggregate of -p·log2(p). Work is linear in
    corpus characters (the :func:`char_entropy` expression is
    O(distinct·len) per row — fine for short fields, quadratic-ish for
    documents). Returns (id, n_chars_ent, entropy).

    Empty-document contract: NO output row (matching the SQL twin,
    where generate_series(1, 0) emits nothing). split('', '') yields
    [''] — a phantom empty-string char that would otherwise turn every
    empty doc into a wrong (n=1, entropy=0) row (ADVICE r4)."""
    chars = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy(id_col, "ch").agg(F.count("*").alias("c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_chars_ent"),
            F.sum(F.col("c") * F.log2("c")).alias("_clogc"),
        )
        .select(
            id_col,
            "n_chars_ent",
            # Σ -(c/n)log2(c/n) = log2(n) - (Σ c·log2 c)/n
            (
                F.log2("n_chars_ent")
                - F.col("_clogc") / F.col("n_chars_ent")
            ).alias("entropy"),
        )
    )


def compression_stats(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
):
    """Per-document zlib compression stats — the Dolma-family
    compressibility quality filter (ratio ≈ 1 ⇒ incompressible noise,
    low ratio ⇒ repetitive boilerplate). Returns
    (id, n_bytes, n_compressed, ratio) with ratio rounded to 4.

    Python is genuinely required (no zlib in SQL engines), so this is
    an Arrow-batched ``mapInPandas`` — one pass, no shuffle; work is
    linear in corpus bytes and embarrassingly parallel, so the shape
    holds at 100 TB (compression is ~100 MB/s/core; plan partition
    sizes accordingly)."""

    def run(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            n = raw.str.len()
            comp = raw.map(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n,
                    "n_compressed": comp,
                    "ratio": (comp / n.clip(lower=1)).round(4),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        run,
        schema=(
            f"{id_col} {id_type}, n_bytes long, "
            "n_compressed long, ratio double"
        ),
    )


def wordlist_hits(
    text: Column | str,
    words: tuple[str, ...] | list[str],
) -> Column:
    """Token-level blocklist screening (the Dolma/C4 "bad word list"
    rule — word-boundary matching, NOT substring: 'assess' must not
    trip 'ass') as one struct: ``n_hits`` (total matched occurrences),
    ``n_distinct_hits`` (distinct listed words present), ``hit_any``.
    Matching is case-insensitive against whitespace tokens stripped of
    leading/trailing punctuation, so 'Word!' matches 'word'.

    The list embeds as a LITERAL array — the right call for curated
    lists (tens to low thousands of entries; they ride the plan, no
    join). For open-ended vocabularies use the explode + broadcast
    semi-join shape of ``operators.decontam.decontaminate`` instead.
    """
    c = F.col(text) if isinstance(text, str) else text
    # NULL text screens as zero hits (size(NULL) is -1 under the
    # default sizeOfNull config — it must never reach the counters).
    c = F.coalesce(c, F.lit(""))
    lst = F.array(*[F.lit(w.lower()) for w in words])
    toks = F.transform(
        tokens(F.lower(c)),
        lambda t: F.regexp_replace(
            t, r"^[^0-9a-z]+|[^0-9a-z]+$", ""
        ),
    )
    matched = F.filter(toks, lambda t: F.array_contains(lst, t))
    n_hits = F.size(matched)
    n_distinct = F.size(F.array_distinct(matched))
    return F.struct(
        n_hits.cast("long").alias("n_hits"),
        n_distinct.cast("long").alias("n_distinct_hits"),
        (n_hits > 0).alias("hit_any"),
    )


def readability_stats(text: Column | str) -> Column:
    """Flesch reading-ease + Flesch-Kincaid grade as ONE struct-typed
    projection (Flesch 1948; Kincaid 1975) — the classical readability
    screen corpus-quality pipelines run next to gopher_stats (wall-of-
    jargon and OCR-shredded documents land at the extremes).

    Heuristic, engine-portable counting (exactly replayable in SQL):

    * words = whitespace tokens (``tokens``),
    * sentences = runs of ``[.!?]`` , floored at 1,
    * syllables = vowel-GROUP count ``[aeiouy]+`` over the lowercased
      text, plus 1 for every vowel-less word (Flesch counts each word
      as at least one syllable — "Mr" is a syllable, not zero).

    ``flesch = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)``;
    ``fk_grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59``.
    Empty/whitespace-only/NULL text yields words = 0 and NULL
    scores (0/0 is not a document). Pure Column arithmetic over integer counts — the
    per-document doubles are bit-identical in any engine; only
    cross-document aggregation introduces float-order noise.

    Returns ``struct(words, sentences, syllables, flesch, fk_grade)``.
    """
    c = F.col(text) if isinstance(text, str) else text
    lower = F.lower(c)
    toks = tokens(lower)
    # Bind the four integer counts ONCE per row: this struct sits in an
    # INTERPRETED projection (the filter HOF below blocks codegen),
    # which performs no common-subexpression elimination — referencing
    # `words` from the guard conditions and both score formulas
    # re-tokenized the document at every reference (~7 split passes per
    # doc measured). A transform over a one-element array binds the
    # counts to a lambda variable, so tokenize/regex run exactly once.
    counts = F.struct(
        F.size(toks).alias("w"),
        F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), 0)),
        ).alias("s"),
        (
            F.size(F.regexp_extract_all(lower, F.lit(r"[aeiouy]+"), 0))
            + F.size(F.filter(toks, lambda t: ~t.rlike("[aeiouy]")))
        ).alias("syl"),
        c.isNull().alias("isnull"),
    )

    def _scores(b):
        words, sentences, syllables = b["w"], b["s"], b["syl"]
        w = words.cast("double")
        s = sentences.cast("double")
        syl = syllables.cast("double")
        flesch = (
            F.lit(206.835)
            - F.lit(1.015) * (w / s)
            - F.lit(84.6) * (syl / w)
        )
        fk = (
            F.lit(0.39) * (w / s)
            + F.lit(11.8) * (syl / w)
            - F.lit(15.59)
        )
        has_words = words > 0
        return F.struct(
            # size(NULL array) is -1 under Spark's legacy sizeOfNull;
            # a NULL document counts as zero words, like
            # whitespace-only
            F.when(b["isnull"], F.lit(0))
            .otherwise(words)
            .cast("long")
            .alias("words"),
            F.when(has_words, sentences.cast("long")).alias(
                "sentences"
            ),
            F.when(has_words, syllables.cast("long")).alias(
                "syllables"
            ),
            F.when(has_words, flesch).alias("flesch"),
            F.when(has_words, fk).alias("fk_grade"),
        )

    return F.transform(F.array(counts), _scores)[0]
