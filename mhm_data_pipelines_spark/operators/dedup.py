"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

North-star extensions (BASELINE.json) — no reference counterpart. Scale
design notes per operator:

* exact: one hash-groupBy shuffle on a 128-bit fingerprint; never shuffle
  the document text — only (key, doc_id).
* MinHash/LSH: signatures computed with builtin hash/xxhash64 expressions
  (no Python); candidate generation is an equi-join on (band_id,
  band_hash) — a co-partitioned shuffle join whose fan-out is bounded by
  bucket sizes, not O(n²).
* SimHash: 64-bit signature; near-dup = identical signature (or banded
  prefixes for Hamming tolerance).
* verification joins re-read only candidate pairs (semi-join pushdown).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.functions.partitioning import (
    spread_small_input as _spread_small_input,
)
from mhm_data_pipelines_spark.functions.text import (
    char_ngrams,
    fingerprint,
    word_ngrams,
)
from mhm_data_pipelines_spark.functions.vectors import dot, normalize


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of exact duplicates (normalized-text fingerprint): one row
    per duplicated fingerprint with member ids and the kept (min) id."""
    df = _spread_small_input(df)
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_members"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("n_members") > 1)
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id document per distinct normalized text. Shuffles
    only (fingerprint, id); the winning rows are recovered with a
    broadcast-able semi-join instead of shuffling full documents."""
    df = _spread_small_input(df)
    keep = (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


#: Modulus/derivation constants of the md5 MinHash family — shared with
#: the DuckDB oracle (registry), so keep in sync with SQL_MINHASH_NEARDUP.
MINHASH_MD5_P = 2_147_483_647  # 2^31 - 1


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_size: int = 5,
    hash_family: str = "xxhash64",
    attach_empty: bool = True,
) -> DataFrame:
    """MinHash signatures over character shingles, entirely with builtin
    expressions — no Python, no UDF.

    Physical shape chosen for codegen: explode the shingles to one row per
    (doc, shingle), then ONE hash-aggregate computes all ``num_hashes``
    minima (map-side partial aggregation collapses each doc back to a
    single row before any shuffle). Higher-order-function formulations
    (``array_min(transform(...))`` per hash, or a one-pass ``aggregate``/
    ``zip_with`` fold) stay interpreted and measure ~4-6× slower at sf0.1.

    The hash family is derived from two base ``xxhash64`` values per
    shingle: ``h_i = xxhash64(h1, h2, i)`` — the same derived-family idea
    as Spark ML MinHashLSH's ``(a*h + b) mod p`` permutations, but using
    hashing instead of arithmetic so it is ANSI-mode safe (a ``h1 +
    i*h2`` form overflows LONG and errors under ``spark.sql.ansi``).
    Validated against exact shingle Jaccard: at sf0.01 it finds 26 pairs
    ≥0.5 vs 25 true (the naive per-seed family ``xxhash64(shingle, i)``
    is correlated across seeds and returned 244).

    ``hash_family="md5"`` derives the whole family from ONE md5 per
    shingle — two 60-bit halves ``h1, h2`` of the digest feed the
    classic ``(h1 + i*h2) mod p`` permutations (p = 2^31-1; products
    stay ≤ 2^36, so the arithmetic is ANSI/overflow-safe and
    bit-identical in any engine with md5 — this is the cross-engine
    oracle family, see the registry's DuckDB twin).

    A document shorter than ``shingle_size`` has no shingles; with
    ``attach_empty=True`` (the default contract) it keeps a row with an
    all-NULL signature (never band-matches real content). Consumers
    that only ever band/verify — near-dup pipelines, where a NULL
    signature can't produce a pair by construction — pass
    ``attach_empty=False`` to skip the id-join that re-attaches those
    rows: one less shuffle and one less corpus-id scan per build
    (~12% of the sf0.1 near-dup wall).
    """
    df = _spread_small_input(df)
    # distinct=True: a min over hashes is duplicate-insensitive, so
    # per-doc shingle dedup only drops rows (~30% of English 5-grams
    # repeat within a doc) — each dropped row saves the base hash (md5 +
    # two convs on the oracle family) AND all num_hashes agg-side evals.
    # Measured at sf0.1: 1.99 s → 1.27 s (md5), 1.10 → 0.93 (xxhash64)
    # for the signature stage; array_distinct's per-row hash set is far
    # cheaper than what it avoids.
    shingles = char_ngrams(text_col, shingle_size, distinct=True)
    # Base hashes projected ONCE per shingle row — the aggregate exprs
    # then hash only fixed-width longs. Inlining h1/h2 into each of the
    # num_hashes agg expressions re-hashes the string per expression
    # (no CSE across aggregates): measured 3× slower at sf0.1.
    ex = df.select(F.col(id_col), F.explode(shingles).alias("_sh"))
    # Aggregate exprs as SQL text (one F.expr = one py4j round-trip
    # each, vs ~3 per hash for the Column-operator chain — plan
    # construction is rebuilt per call and was ~0.5 s at 32 hashes;
    # see the simhash vote aggregates for the same rationale).
    if hash_family == "xxhash64":
        ex = ex.select(
            id_col,
            F.xxhash64("_sh").alias("_h1"),
            F.xxhash64("_sh", F.lit(1)).alias("_h2"),
        )
        mh_sql = "min(xxhash64(_h1, _h2, {i})) AS _h{i}"
    elif hash_family == "md5":
        p = MINHASH_MD5_P
        hex60 = lambda c, start: F.conv(  # noqa: E731
            F.substring(c, start, 15), 16, 10
        ).cast("long")
        md5c = F.md5("_sh")
        ex = ex.select(
            id_col,
            (hex60(md5c, 1) % F.lit(p)).alias("_h1"),
            (hex60(md5c, 16) % F.lit(p - 1) + 1).alias("_h2"),
        )
        # All operands non-negative, so SQL % (remainder) ≡ pmod here.
        mh_sql = f"min((_h1 + {{i}} * _h2) % {p}) AS _h{{i}}"
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    agg = ex.groupBy(id_col).agg(
        *[F.expr(mh_sql.format(i=i)) for i in range(num_hashes)]
    )
    sigs = agg.select(
        F.col(id_col),
        F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("signature"),
    )
    if not attach_empty:
        return sigs
    # Re-attach shingle-less docs (explode dropped them) so the contract
    # stays one row per input doc. Join carries only ids — never text.
    empty = F.array_repeat(F.lit(None).cast("long"), num_hashes)
    return (
        df.select(id_col)
        .join(sigs, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("signature"), empty).alias("signature"),
        )
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    num_hashes: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` equal bands, hash
    each band, and emit candidate pairs sharing any (band, hash) bucket.

    The pair join is an equi-join on the bucket key → co-partitioned
    shuffle, no cross product. Dedups pairs via id ordering.

    Pass ``num_hashes`` (the signature length) when known — probing it
    from the data costs an extra job over the signature pipeline.

    ``max_bucket_size`` bounds the quadratic bucket fan-out at scale: a
    bucket with m members emits m(m-1)/2 pairs, and boilerplate-heavy
    corpora produce buckets with 10⁵+ members (all mutual near-dups) —
    at 100 TB that join explodes. A bucket over the cap is already a
    dup-cluster, so it short-circuits to STAR pairs (min-id
    representative ↔ each member): m-1 pairs, linear, and downstream
    :func:`~mhm_data_pipelines_spark.operators.components.connected_components`
    recovers the exact same cluster via transitivity. Trade-off: star
    pairs skip the non-representative pairwise edges, so per-pair
    verification (est-Jaccard) sees each member only against the
    representative — acceptable precisely because an over-cap bucket is
    overwhelming agreement by construction. The cap lives in the join
    condition via per-bucket window stats (:func:`_with_bucket_stats`)
    — no detection job, no extra shuffle.
    """
    if num_hashes is None:
        num_hashes = signatures.select(F.size("signature")).first()[0]
    banded = _band_signatures(signatures, id_col, bands, num_hashes)
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if max_bucket_size is None:
        a = banded.alias("a")
    else:
        a = _with_bucket_stats(banded, ["band", "bucket"], id_col).alias("a")
        cond = cond & (
            (F.col("a._cnt") <= max_bucket_size) | (F.col("a._rn") == 1)
        )
    b = banded.alias("b")
    pairs = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    return pairs.distinct()


def _band_signatures(
    signatures: DataFrame, id_col: str, bands: int, num_hashes: int
) -> DataFrame:
    """(id, band, bucket) rows: the signature split into ``bands`` equal
    slices, each hashed to a bucket value. All-NULL signatures
    (shingle-less docs) would band to one shared bucket — dropped here,
    before any fan-out."""
    rows_per_band = num_hashes // bands
    signatures = signatures.filter(
        F.element_at("signature", 1).isNotNull()
    )
    return signatures.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            F.slice(
                                "signature", b * rows_per_band + 1, rows_per_band
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def _with_bucket_stats(
    banded: DataFrame, bucket_keys: list[str], id_col: str
) -> DataFrame:
    """Annotate each banded row with its bucket's member count ``_cnt``
    and the row's id-rank within the bucket ``_rn`` (1 = min id) — ONE
    window over the bucket key, whose shuffle is the SAME partitioning
    the candidate self-join needs, so Catalyst reuses the Exchange and
    the cap costs a per-bucket sort, not an extra job or shuffle.

    This is the r4 hot-bucket mechanism (VERDICT r3 "what's wrong" #3):
    the cap moves INTO the join condition —
    ``(_cnt <= cap) | (_rn == 1)`` on the left side — so under-cap
    buckets emit all pairs and an over-cap bucket emits exactly its
    min-id star edges (m-1, linear), with no construction-time
    detection job (r3: +0.58 s serial per call), no driver collect, and
    no broadcast split. A pathological bucket still costs one in-task
    sort of its m rows — O(m log m), vs the O(m²) join it prevents."""
    w = Window.partitionBy(*bucket_keys).orderBy(id_col)
    return banded.select(
        "*",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1))
        .over(
            w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("_cnt"),
    )


def _split_hot_buckets(
    banded: DataFrame,
    bucket_keys: list[str],
    id_col: str,
    max_bucket_size: int,
) -> tuple[DataFrame, DataFrame]:
    """Lazy in-plan (cold rows, star pairs) split for emitters whose
    bucket fan-out is too fat for the windowed join condition
    (:func:`_with_bucket_stats` measured 5× slower than this on
    winnowing's ~20-member fingerprint buckets at sf0.1, where the pair
    space is ~10⁷ rows): the over-cap key set is a broadcast aggregate
    whose shuffle carries map-side PARTIAL counts per distinct bucket —
    bounded by n/max_bucket_size keys — feeding an anti-join (cold
    side) and a semi-join → min-id star edges (hot side). No
    construction-time job, no driver collect (the r3 eager detection
    ran the upstream pipeline as an extra serial job per call).
    Callers should materialize ``banded`` (lazy ``localCheckpoint``)
    when its upstream is expensive: it feeds the count aggregate, both
    split joins, and the downstream self-join."""
    hot_keys = (
        banded.groupBy(*bucket_keys)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > max_bucket_size)
        .select(*bucket_keys)
    )
    cold = banded.join(F.broadcast(hot_keys), bucket_keys, "left_anti")
    hot = banded.join(F.broadcast(hot_keys), bucket_keys, "left_semi")
    reps = hot.groupBy(*bucket_keys).agg(F.min(id_col).alias("id_a"))
    star = (
        hot.join(F.broadcast(reps), bucket_keys)
        .filter(F.col(id_col) != F.col("id_a"))
        .select("id_a", F.col(id_col).alias("id_b"))
    )
    return cold, star


def _est_jaccard(a: str, b: str) -> Column:
    """Estimated Jaccard of two MinHash signature columns: the share of
    slots where they agree."""
    return (
        F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq))
        / F.size(a)
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 5,
    threshold: float = 0.7,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = 10_000,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidate
    pairs → verification by estimated Jaccard (signature agreement rate)
    ≥ threshold. Returns (id_a, id_b, est_jaccard).

    ``signatures``: precomputed :func:`minhash_signatures` output
    (same num_hashes / shingle_size / hash_family). The signature
    subplan has THREE consumers (banding + both verification sides).
    Computed here it stays lazy — the fastest at the measured scales
    (sf0.1 warm interleaved A/B: 1.54–1.59 s lazy vs 1.69–1.94 s
    checkpointed; recomputing cheap shingle/hash beats block
    write+read) — and leaves nothing behind. When the corpus scan
    dominates, pass ``signatures`` yourself: a lazy
    ``localCheckpoint`` of them gives ONE corpus scan instead of three,
    and a persisted or parquet-backed frame can be reused across
    several downstream ops — the 100 TB pattern, where signatures are
    written once and every dedup/incremental/streaming stage reads
    them.

    ``max_bucket_size`` (default 10k) caps quadratic hot-bucket fan-out
    — see :func:`minhash_lsh_candidates`. Star pairs from capped buckets
    still pass through the est-Jaccard verification below.

    Completeness note (pigeonhole, same trick as
    :func:`simhash_near_duplicates`): a pair with ≥ ``threshold``
    agreement has < ``num_hashes*(1-threshold)+1`` disagreeing slots, so
    whenever ``bands > num_hashes*(1-threshold)`` some band agrees
    fully and banding provably finds the pair — e.g. 32 hashes, 16
    bands, threshold 17/32 is EXACT w.r.t. estimated Jaccard while
    keeping 2-row bands (bucket collision rate ~J², scale-sane; 1-row
    bands are complete at ≥0.5 but collide at rate J — measured 40×
    slower at sf0.1)."""
    if signatures is not None:
        sigs = signatures
    else:
        # attach_empty=False: a shingle-less doc has an all-NULL
        # signature, which _band_signatures drops and which can never
        # satisfy est-Jaccard — re-attaching it is a pure cost here
        # (one id-join shuffle + a second corpus-id scan; ~12% of the
        # sf0.1 warm wall, see minhash_signatures).
        sigs = minhash_signatures(
            df, text_col, id_col, num_hashes, shingle_size, hash_family,
            attach_empty=False,
        )
    cands = minhash_lsh_candidates(
        sigs, id_col, bands, num_hashes=num_hashes,
        max_bucket_size=max_bucket_size,
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", _est_jaccard("sig_a", "sig_b").alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_match_index(
    new_df: DataFrame,
    index_signatures: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 5,
    threshold: float = 0.7,
    hash_family: str = "xxhash64",
    new_signatures: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: match an incoming BATCH against a
    standing signature INDEX (``minhash_signatures`` output, typically a
    parquet table maintained across ingestion runs). Returns
    ``(id_new, id_index, est_jaccard)`` — new docs whose estimated
    Jaccard vs an indexed doc is ≥ ``threshold``. The daily-ingestion
    shape: only the new batch is shingled/hashed; the historical corpus
    contributes nothing but its (num_hashes)-long signatures.

    Same banding completeness as :func:`minhash_near_duplicates`
    (pigeonhole over bands), but the candidate join is new-vs-index, not
    a self-join — no quadratic hot-bucket concern on the batch side.

    Scale design: the new batch's bucket keys — at most
    ``|batch| * bands`` rows, usually tiny — broadcast into a semi-join
    that prunes the index's banded rows BEFORE the pair join, so the
    standing index is filtered scan-side rather than shuffled
    wholesale each run. For a 100 TB index, store the banded
    form bucketed by (band, bucket) (``sources/bucketed.py``) and the
    pair join is shuffle-free on the index side; the signature index
    itself is ~num_hashes longs per doc — ~0.1% of corpus bytes.

    ``index_signatures`` and the new batch must share ``num_hashes``,
    ``shingle_size`` and ``hash_family`` — signatures from different
    parameters never match (min-hash values are family-specific).

    ``new_signatures``: pass the batch's precomputed signature frame to
    skip the internal hashing (and the internal ``persist`` — lifecycle
    is then the CALLER's: persist before, unpersist after the result is
    consumed). The streaming wrapper uses this to hash each micro-batch
    exactly once for both the match and the index append."""
    if new_signatures is not None:
        sigs_new = new_signatures
    else:
        # Lazy by default (the batch-side signature subplan repeats in
        # banding + prune keys + verification — cheap for a daily batch;
        # the r4 internal persist leaked a cached relation per call).
        # Callers with an expensive batch pass ``new_signatures``.
        sigs_new = minhash_signatures(
            new_df, text_col, id_col, num_hashes, shingle_size, hash_family
        )
    banded_new = _band_signatures(sigs_new, id_col, bands, num_hashes)
    banded_idx = _band_signatures(
        index_signatures, id_col, bands, num_hashes
    )
    keys = banded_new.select("band", "bucket").distinct()
    banded_idx = banded_idx.join(
        F.broadcast(keys), ["band", "bucket"], "left_semi"
    )
    a = banded_new.alias("a")
    b = banded_idx.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_new"),
            F.col(f"b.{id_col}").alias("id_index"),
        )
        .distinct()
    )
    sa = sigs_new.select(
        F.col(id_col).alias("id_new"), F.col("signature").alias("sig_a")
    )
    sb = index_signatures.select(
        F.col(id_col).alias("id_index"),
        F.col("signature").alias("sig_b"),
    )
    return (
        cands.join(sa, "id_new")
        .join(sb, "id_index")
        .select(
            "id_new", "id_index", _est_jaccard("sig_a", "sig_b").alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per-bit majority vote of
    token hashes.

    Physical shape mirrors minhash_signatures: explode tokens → one
    hash-aggregate computing all ``bits`` vote sums (codegen, map-side
    partial agg) → bit assembly in a final projection. The folded
    ``aggregate``/``zip_with`` formulation allocates a boxed
    ``bits``-element array per token per row in interpreted eval — at
    local[32] that OOMs a default-size JVM on a few hundred documents.

    ``token_hash``:

    * ``"xxhash64"`` (default, fastest): ``split`` always yields ≥1
      element (empty text → [""]), so every input doc keeps a
      signature row.
    * ``"md5"``: token hash = first 60 bits of md5 — reproducible in
      any engine with md5 (the cross-engine-oracle variant; DuckDB has
      no xxhash64). Caps ``bits`` at 60 and drops empty tokens (engines
      disagree on splitting "" — Spark gives [""], DuckDB []), so
      all-whitespace docs carry no signature.
    """
    df = _spread_small_input(df)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    ex = df.select(F.col(id_col), F.explode(toks).alias("_t"))
    if token_hash == "xxhash64":
        ex = ex.select(id_col, F.xxhash64("_t").alias("_h"))
    elif token_hash == "md5":
        if bits > 60:
            raise ValueError("md5 token hash provides at most 60 bits")
        ex = ex.filter(F.col("_t") != "").select(
            id_col,
            F.conv(F.substring(F.md5("_t"), 1, 15), 16, 10)
            .cast("long")
            .alias("_h"),
        )
    else:
        raise ValueError(f"unknown token_hash: {token_hash!r}")
    # SQL-TEXT expressions, one F.expr per aggregate and ONE for the
    # whole bit assembly: the Column-operator formulation costs ~7 py4j
    # driver round-trips per bit (vote chain) plus ~5 per bit (OR
    # chain) — ~1.5 s of pure plan-construction latency per call at 60
    # bits, REBUILT on every invocation (it dominated the measured
    # "warm" time; execution itself is ~0.3 s at sf0.1). A parsed SQL
    # string is one round-trip regardless of bit count. Same plan, same
    # results; see budget._bucket_sql for the same technique.
    votes = ex.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN ((_h >> {j}) & 1) = 1 "
                f"THEN 1 ELSE -1 END) AS _v{j}"
            )
            for j in range(bits)
        ]
    )
    # shiftleft(1L, j) yields min-long naturally at j=63 — no literal
    # that the SQL parser would reject as overflow.
    sig_sql = " | ".join(
        f"(CASE WHEN _v{j} > 0 THEN shiftleft(CAST(1 AS BIGINT), {j}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return votes.select(
        F.col(id_col), F.expr(sig_sql).alias("simhash")
    )


def simhash_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Documents sharing an identical SimHash (Hamming distance 0) —
    one groupBy on the 64-bit signature. For distance ≤ k see
    :func:`simhash_near_duplicates`."""
    sigs = simhash(df, text_col, id_col)
    return (
        sigs.groupBy("simhash")
        .agg(
            F.count("*").alias("n_members"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("n_members") > 1)
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    token_hash: str = "xxhash64",
    max_bucket_size: int | None = 10_000,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """All pairs within SimHash Hamming distance ≤ ``max_hamming`` —
    EXACT (full recall) below the bucket cap, not a heuristic: the
    signature splits into ``max_hamming + 1`` disjoint bit chunks, and by
    pigeonhole any pair with ≤ ``max_hamming`` differing bits agrees
    exactly on at least one chunk. Candidates are therefore one equi-join
    on (chunk_idx, chunk_value) — co-partitioned shuffle, never
    all-pairs — and the final ``bit_count(xor) <= k`` filter discards
    pigeonhole collisions, so the result equals the brute-force O(n²)
    definition.

    Returns (id_a, id_b, hamming). Scale note: chunk width is
    ``bits // (k+1)``; large ``k`` on small ``bits`` means few bucket
    values and fat buckets — widen ``bits`` (or pre-block by another
    key) before raising ``k`` past ~7 on web-scale corpora.

    ``max_bucket_size`` (default 10k): a chunk bucket over the cap —
    boilerplate corpora put 10⁵+ mutually-near-identical docs in one
    bucket — short-circuits to star pairs against the bucket's min-id
    representative (m-1 edges instead of m²/2; see
    :func:`minhash_lsh_candidates`). Star pairs are still subject to the
    exact ``hamming <= k`` filter, so precision is unchanged; recall for
    over-cap buckets is via the representative (connected-components
    downstream recovers the full cluster).

    ``signatures``: precomputed :func:`simhash` output (same ``bits`` /
    ``token_hash``) — caller-owned lifecycle, same contract as
    :func:`minhash_near_duplicates`.
    """
    # Lazy by default: the token-vote subplan repeats on both self-join
    # sides, which measured FASTER than an internal persist at sf0.1
    # (1.25 s vs 1.43 s warm) and leaves no cached relation behind
    # (the r4 persist leaked one per call — ADVICE r4). Callers with an
    # expensive upstream pass ``signatures`` (persisted/parquet-backed,
    # caller-owned lifecycle).
    if signatures is not None:
        sigs = signatures
    else:
        sigs = simhash(
            df, text_col, id_col, bits=bits, token_hash=token_hash
        )
    return hamming_near_duplicates(
        sigs,
        id_col=id_col,
        hash_col="simhash",
        max_hamming=max_hamming,
        bits=bits,
        max_bucket_size=max_bucket_size,
    )


def hamming_near_duplicates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = 64,
    max_bucket_size: int | None = 10_000,
    salt_buckets: int | None = None,
) -> DataFrame:
    """The pigeonhole chunk-join over ANY precomputed ``bits``-wide
    integer signature column — the machinery behind
    :func:`simhash_near_duplicates`, shared with image perceptual
    hashes (operators/multimodal.py ``ahash_near_duplicates``) and any
    other Hamming-space near-dup signal. Exactness, bucket-cap and
    scale contracts are documented on :func:`simhash_near_duplicates`;
    returns (id_a, id_b, hamming).

    ``salt_buckets`` (guide-§2.5 salting, same contract as
    :func:`embedding_near_duplicates`): when the signature DISTRIBUTION
    is concentrated — perceptual hashes of near-dup-rich image corpora
    land on few distinct values — the (band, chunk) join key has low
    effective cardinality and the quadratic in-bucket fan-out
    serializes onto a handful of tasks. ``S > 1`` salts the left side
    by a deterministic id hash and replicates the right side S ways:
    identical pair output, S× join-input rows, S× the parallelism of
    the pair stage. Leave ``None`` for well-spread signatures (simhash
    over text) where chunk values already spread the work."""
    nb = max_hamming + 1
    base_w, extra = divmod(bits, nb)
    if base_w == 0:
        raise ValueError(f"bits={bits} cannot split into {nb} chunks")
    chunks: list[tuple[int, int, int]] = []  # (idx, offset, width)
    off = 0
    for i in range(nb):
        w = base_w + (1 if i < extra else 0)
        chunks.append((i, off, w))
        off += w

    def chunk_val(offset: int, width: int):
        shifted = F.shiftrightunsigned(F.col(hash_col), offset)
        if offset + width >= 64:
            return shifted  # top chunk: shift already dropped the rest
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    banded = sigs.select(
        id_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        chunk_val(o, w).alias("chunk"),
                    )
                    for i, o, w in chunks
                ]
            )
        ).alias("bb"),
    ).select(id_col, hash_col, "bb.band", "bb.chunk")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    salted = salt_buckets is not None and salt_buckets > 1
    if max_bucket_size is None:
        a_side = banded
    else:
        a_side = _with_bucket_stats(banded, ["band", "chunk"], id_col)
        cond = cond & (
            (F.col("a._cnt") <= max_bucket_size) | (F.col("a._rn") == 1)
        )
    b_side = banded
    if salted:
        from mhm_data_pipelines_spark.session import default_parallelism

        s = int(salt_buckets)
        # Salt AFTER the bucket stats so _cnt/_rn stay per-bucket. The
        # explicit keyed repartition guarantees the pair fan-out runs
        # at session parallelism even under a broadcast plan (where the
        # probe side would inherit the input file's partitioning) and
        # is exempt from AQE byte-based coalescing — the quadratic
        # in-bucket fan-out is invisible to byte estimates (see
        # embedding_near_duplicates).
        p = max(2, default_parallelism(sigs.sparkSession))
        a_side = a_side.withColumn(
            "_u", F.pmod(F.xxhash64(F.col(id_col)), F.lit(s))
        ).repartition(p, F.col("band"), F.col("chunk"), F.col("_u"))
        b_side = b_side.withColumn(
            "_j", F.explode(F.array(*[F.lit(j) for j in range(s)]))
        )
        cond = cond & (F.col("a._u") == F.col("b._j"))
    a = a_side.alias("a")
    b = b_side.alias("b")
    hamming = F.bit_count(
        F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
    )
    # Star edges (over-cap buckets, left side pinned to the min-id
    # representative) flow through the SAME exact hamming filter as
    # pairwise candidates — both sides carry the signature, so no
    # re-attach joins are needed and precision is unchanged.
    pairs = (
        a.join(b, cond)
        .filter(hamming <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
    )
    return pairs.distinct()


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-level PARAGRAPH dedup, first-occurrence-wins (the
    Dolma/C4-family paragraph rule; finer than doc-level exact dedup,
    coarser than substring dedup): every paragraph keeps only its first
    occurrence across the whole corpus — ordered by (doc id, position)
    — and each document is reassembled from its surviving paragraphs in
    original order. Returns (id, n_paras, n_kept, text_dedup); docs
    whose every paragraph was seen earlier come back empty, ready for a
    length filter.

    Scale shape: paragraphs explode to (id, pos, para); the
    first-occurrence winner per normalized-paragraph fingerprint is ONE
    hash aggregate (min struct — no window sort); winners join back on
    the fingerprint (same key → exchange reuse) and reassembly is a
    per-doc hash aggregate. Paragraph text shuffles once for the
    reassembly — inherent to reconstructing documents.
    """
    import re

    return _dedup_units(
        df,
        id_col,
        F.split(F.col(text_col), re.escape(sep)),
        join_sep=sep,
        total_col="n_paras",
    )


def dedup_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level SENTENCE dedup, first-occurrence-wins — the same
    rule as :func:`dedup_paragraphs` one granularity finer (boilerplate
    disclaimer SENTENCES recur across documents whose paragraphs
    differ). Returns (id, n_sents, n_kept, text_dedup).

    Sentences are extracted with ``regexp_extract_all('[^.!?]+[.!?]?')``
    — segments up to and including one terminator. The pattern is
    deliberately RE2-compatible (no lookbehind), so external engines
    can reproduce the segmentation literally. Reassembly joins
    surviving sentences with a single space: original inter-sentence
    whitespace is NOT preserved (documented semantic — the output
    feeds tokenizers, which normalize whitespace anyway).
    """
    units = F.regexp_extract_all(
        F.col(text_col), F.lit(r"[^.!?]+[.!?]?"), 0
    )
    return _dedup_units(
        df, id_col, units, join_sep=" ", total_col="n_sents",
        trim_units=True,
    )


def _dedup_units(
    df: DataFrame,
    id_col: str,
    units: Column,
    join_sep: str,
    total_col: str,
    trim_units: bool = False,
) -> DataFrame:
    """Shared first-occurrence-wins unit dedup (paragraphs, sentences):
    explode ``units`` (an array<string> Column) to (id, pos, unit),
    pick the global first occurrence per normalized-unit fingerprint
    with ONE min-struct hash aggregate (no window sort), join winners
    back on the fingerprint (same key → exchange reuse), reassemble
    per doc in original order with a hash aggregate. Unit text
    shuffles once for the reassembly — inherent to reconstructing
    documents. ``trim_units``: trim each surviving unit before the
    join (sentence extraction keeps leading whitespace; paragraph
    split must preserve text verbatim) — an explicit caller choice,
    not inferred from the separator."""
    paras = df.select(
        F.col(id_col),
        F.posexplode(units).alias("pos", "para"),
    ).filter(F.trim("para") != "")
    keyed = paras.withColumn("_fp", fingerprint("para"))
    first = keyed.groupBy("_fp").agg(
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
        ).alias("_first")
    )
    kept = (
        keyed.join(first, "_fp")
        .filter(
            (F.col(id_col) == F.col("_first.i"))
            & (F.col("pos") == F.col("_first.p"))
        )
        .drop("_fp", "_first")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: F.trim(s["para"]) if trim_units else s["para"],
            ),
            join_sep,
        ).alias("text_dedup"),
    )
    totals = paras.groupBy(id_col).agg(F.count("*").alias(total_col))
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(reassembled, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(total_col, F.lit(0)).alias(total_col),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_bucket_size: int | None = 10_000,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Substring-overlap candidate pairs via shared winnowing
    fingerprints (:func:`~mhm_data_pipelines_spark.functions.text.
    winnow_fingerprints`): docs sharing ≥ ``min_shared`` fingerprints.
    By the winnowing guarantee this catches every pair sharing a
    substring of length ≥ ``window + k - 1`` — including reordered or
    embedded copies that whole-doc and shingle-set dedup miss.

    Same scale shape as the LSH pair emitters: explode fingerprints →
    equi-join on the fingerprint value (co-partitioned shuffle, no
    cross product), with the hot-bucket cap short-circuiting
    boilerplate fingerprints shared by >``max_bucket_size`` docs into
    star edges (those pairs report n_shared=NULL — cluster membership
    via connected components, not a pairwise count).

    Cap caveats (by construction, documented trade-offs): ``n_shared``
    counts COLD fingerprints only, and a non-representative pair whose
    overlap is mostly hot fingerprints can fall under ``min_shared`` —
    it is then reachable only transitively through the hot bucket's
    star representative (run connected components downstream for
    cluster-complete recall). Pairs appearing both ways collapse to
    one row with the cold count kept.

    ``max_doc_freq`` — THE knob that makes this op survive corpus
    growth (r5 scale probe): winnowing's min-of-window selection is
    biased toward globally-small hash values, so fingerprints of
    common substrings land in a fixed FRACTION of documents — bucket
    sizes grow linearly with the corpus and the pair join grows
    QUADRATICALLY (measured 95M candidate pairs at 5k docs → 9.4B at
    50k on the same text distribution; the 10k star cap bounds only
    the extreme head). Fingerprints in more than ``max_doc_freq`` docs
    are DROPPED (MOSS's own over-common-fingerprint rule), not
    star-edged: sharing one vocabulary-noise substring is NOT cluster
    evidence, so a star edge would fuse unrelated docs downstream.
    With df ≤ cap the pair mass is bounded by n_fps·cap²/2 — measured
    30M pairs at 50k docs with cap 128 vs 9.4B uncapped. Mass-copied
    substrings whose fingerprints exceed the cap are span-dedup's job
    (``duplicated_spans``/``excise_spans``), not pairwise overlap's.
    The df aggregate reuses the fingerprint shuffle partitioning and
    broadcasts only the (bounded) hot key set."""
    from mhm_data_pipelines_spark.functions.text import winnow_fingerprints

    fp = winnow_fingerprints(df, id_col, text_col, k, window)
    # explode_OUTER, then drop the null rows: plain explode of a bare
    # staged-alias attribute triggers InferFiltersFromGenerate, whose
    # size(...)>0 predicate gets pushed below the staging projections
    # with the FULL winnow expression inlined — re-hashing the k-gram
    # array per window index inside the filter (measured 193 s vs 3 s at
    # sf0.001). The outer form infers nothing; the null-filter on the
    # generated attribute cannot be pushed below the Generate.
    ex = fp.select(
        F.col(id_col), F.explode_outer("fingerprints").alias("fp")
    ).filter(F.col("fp").isNotNull())
    if max_doc_freq is not None or max_bucket_size is not None:
        # The exploded fingerprint frame feeds the df-filter and/or
        # cap count/anti/semi subtrees plus both self-join sides; the
        # lazy localCheckpoint materializes the expensive winnowing
        # pipeline once (ADVICE r3: the r3 code re-executed it ~3×).
        ex = ex.localCheckpoint(eager=False)
    if max_doc_freq is not None:
        # (doc, fp) rows are distinct (winnow_fingerprints dedups per
        # doc), so count(*) per fp IS document frequency. Hot keys are
        # bounded by total_memberships/max_doc_freq — broadcastable.
        noisy = (
            ex.groupBy("fp")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("fp")
        )
        ex = ex.join(F.broadcast(noisy), "fp", "left_anti")
    if max_bucket_size is None:
        a = ex.alias("a")
        b = ex.alias("b")
        return (
            a.join(
                b,
                (F.col("a.fp") == F.col("b.fp"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
    cold, star = _split_hot_buckets(ex, ["fp"], id_col, max_bucket_size)
    a = cold.alias("a")
    b = cold.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    # A pair can appear BOTH as a cold pair (≥ min_shared shared cold
    # fingerprints) and as a star edge of a hot fingerprint — collapse
    # to one row, preferring the counted form (max ignores the star
    # side's NULL). ADVICE r3: the un-deduped union emitted such pairs
    # twice. Star-only pairs keep n_shared NULL (hot-only overlap —
    # cluster membership via connected components, not a pairwise
    # count).
    return (
        pairs.unionByName(
            star.distinct().withColumn(
                "n_shared", F.lit(None).cast("long")
            )
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("n_shared").alias("n_shared"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard for a (small) candidate-pair set —
    the verification stage after LSH; never run on the cross product."""
    grams = df.select(F.col(id_col), word_ngrams(text_col, n).alias("grams"))
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("grams").alias("g_a"))
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("grams").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        candidate_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.95,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs. With ``block_col`` the join is
    blocked (equi-join on the block key — e.g. an LSH bucket or coarse
    label) so the pair space is per-block, not global. Without it this is
    brute force — correct at test scale, replaced by
    similarity.lsh_bucket_ids blocking at 100 TB.

    ``salt_buckets`` (guide-§2.5 hot-key salting): a blocked self-join's
    execution parallelism is capped by the BLOCK-KEY CARDINALITY — with
    10 coarse labels the quadratic pair fan-out runs on ≤10 tasks (and
    AQE coalesces the byte-small exchange further; measured at the sf1
    probe: ONE 253-second task while 31 cores idled). With
    ``salt_buckets=S > 1`` the left side gets a deterministic
    id-derived salt ``u ∈ [0, S)`` and the right side is replicated S
    ways, so the join key becomes (block, salt) — S× the join-input
    bytes (rows, NOT pairs) buys S× the parallelism of the
    pair-quadratic stage. Each unordered pair is still produced exactly
    once (left row x matches right replica u(x); the id_a < id_b
    condition keeps one orientation). Identical output; derive S from
    the session's parallelism, not a constant.

    OUTPUT-BOUND at scale: emitting every qualifying pair costs what
    the pair count costs — on near-dup-rich corpora that is
    quadratic-in-cluster-size output even though the join itself is
    blocked (88x wall on 10x data with ~14000x the TRUE pairs in the
    sf0.1-to-sf1 probe record of commit 518122b; wall tracks output,
    not compute; re-measure with the sf1 bench.py run and
    scripts/bench_diff.py). For production dedup, aggregate instead of
    emitting: feed these pairs into connected_components /
    *_dedup_keep paths, or cap per-block fan-out upstream."""
    base = df.select(
        F.col(id_col),
        normalize(vec_col).alias("v"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    salted = bool(block_col) and salt_buckets is not None and salt_buckets > 1
    if salted:
        from mhm_data_pipelines_spark.session import default_parallelism

        s = int(salt_buckets)
        # Explicit repartition by the JOIN KEYS with a user-specified
        # count: if the planner picks a broadcast join (small corpus),
        # the probe side would otherwise run at the SCAN's partitioning
        # — one task per input file, salt never consulted (measured: a
        # single 315 s probe task at the sf1 probe). The explicit count
        # is exempt from AQE byte-based coalescing, which would merge
        # these partitions right back (the pair fan-out is per-row
        # QUADRATIC and invisible to byte estimates); the count derives
        # from the session's parallelism, and under a sort-merge plan
        # the exchange doubles as the join's own distribution.
        p = max(2, default_parallelism(df.sparkSession))
        a = (
            base.withColumn(
                "_u", F.pmod(F.xxhash64(F.col(id_col)), F.lit(s))
            )
            .repartition(p, F.col(block_col), F.col("_u"))
            .alias("a")
        )
        b = base.withColumn(
            "_j", F.explode(F.array(*[F.lit(j) for j in range(s)]))
        ).alias("b")
    else:
        a = base.alias("a")
        b = base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    if salted:
        cond = cond & (F.col("a._u") == F.col("b._j"))
    # Both sides are L2-normalized above, so cosine == dot: ONE 64-term
    # fold per pair instead of cosine()'s three (dot + two norms of
    # already-unit vectors) — the per-pair hot path is 3x lighter.
    # Zero vectors normalize to NULL, so NULL-cosine semantics hold.
    sim = dot(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_run: int = 2,
    max_gram_df: int | None = 1000,
) -> DataFrame:
    """Maximal exact duplicated token spans across documents (the
    distributed analogue of Lee et al. 2022's suffix-array substring
    dedup, at token-``k``-gram resolution): every maximal run of ≥
    ``min_run`` consecutive shared ``k``-grams between a document pair,
    reported as (doc_a, doc_b, start_a, start_b, n_grams, span_tokens).
    A shared span of ``t`` tokens surfaces as a diagonal run of
    ``t − k + 1`` matching k-grams, so ``span_tokens = n_grams + k − 1``.

    Scale design — no suffix array, three shuffles, all bounded:

    1. k-grams WITH positions via ``posexplode`` of an expression-built
       key array (zero Python). The key is a rolling hash-of-hashes:
       each token hashes ONCE (``xxhash64``), then each k-gram hashes
       its k token hashes — no gram strings are ever materialized (a
       string-building ``slice``+``array_join`` formulation measured
       3× slower at sf0.1). The staged token-hash array is referenced
       k+2 times, so CollapseProject cannot re-inline it into the gram
       lambda. Join keys stay 8 bytes, the text never shuffles;
       P(any collision) ≈ n²/2⁶⁵, deterministic;
    2. cross-doc candidate matches by equi-join on the gram key;
       boilerplate grams occurring > ``max_gram_df`` times corpus-wide
       are dropped FIRST (window count over the gram key) so no single
       gram fans out quadratically — the documented recall trade-off:
       spans running through ultra-common grams are split or suppressed;
    3. gaps-and-islands consolidation: matches on one (pair, diagonal)
       with consecutive positions collapse via the classic
       ``pos − row_number()`` grouping — a window partitioned by the
       pair, never global.
    """
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    th = F.transform(toks, lambda t: F.xxhash64(t))
    staged = df.select(F.col(id_col).alias("_id"), th.alias("_th"))
    thc = F.col("_th")
    nh = F.size(thc)
    keys = F.when(
        nh >= k,
        F.transform(
            F.sequence(F.lit(1), nh - k + 1),
            lambda i: F.xxhash64(
                *[F.element_at(thc, i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    g = staged.select("_id", F.posexplode(keys).alias("pos0", "gk"))
    # 1-based token offset of the gram start (posexplode is 0-based).
    g = g.select("_id", (F.col("pos0") + 1).alias("pos"), "gk")
    if max_gram_df is not None:
        # Occurrence-count cap (unpartitioned window COUNT over the gram
        # key — one co-partitioned pass, no per-row set materialization).
        w = Window.partitionBy("gk")
        g = (
            g.withColumn("_occ", F.count("*").over(w))
            .filter(F.col("_occ") <= max_gram_df)
            .drop("_occ")
        )
    a, b = g.alias("a"), g.alias("b")
    # (doc, pos) rows are unique in g, so joined (pa, pb) match rows are
    # already distinct — no dedup shuffle needed.
    m = a.join(
        b,
        (F.col("a.gk") == F.col("b.gk"))
        & (F.col("a._id") < F.col("b._id")),
    ).select(
        F.col("a._id").alias("doc_a"),
        F.col("b._id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
        (F.col("b.pos") - F.col("a.pos")).alias("diag"),
    )
    wisl = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        m.withColumn("grp", F.col("pa") - F.row_number().over(wisl))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            F.count("*").alias("n_grams"),
        )
        .filter(F.col("n_grams") >= min_run)
    )
    return runs.select(
        "doc_a",
        "doc_b",
        "start_a",
        "start_b",
        "n_grams",
        (F.col("n_grams") + F.lit(k - 1)).alias("span_tokens"),
    )


def dedup_spans_keep_first(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_run: int = 2,
    max_gram_df: int | None = 1000,
) -> DataFrame:
    """Remove duplicated token spans, keeping the first occurrence (the
    apply step of Lee et al. 2022 substring dedup): every span that
    :func:`duplicate_ngram_spans` reports against a LOWER-id document is
    excised from the higher-id side; the lowest-id holder keeps its
    copy. Returns (id, text, clean_text, n_tokens, n_removed_tokens).

    Scale shape: the spans frame aggregates to one bounded range-list
    per affected document (spans per doc, not tokens); a left join
    hands untouched documents through with zero rewrite cost, and the
    rewrite itself is a pure expression — tokens whose 1-based position
    falls inside any covered range are filtered out, the rest re-join
    with single spaces. (Whitespace is canonicalized in ``clean_text``
    by construction — positions, not characters, are the dedup unit.)
    """
    spans = duplicate_ngram_spans(
        df, text_col, id_col, k, min_run, max_gram_df
    )
    ranges = (
        spans.groupBy(F.col("doc_b").alias("_rid"))
        .agg(
            F.collect_list(
                F.struct(
                    F.col("start_b").cast("long").alias("s"),
                    (F.col("start_b") + F.col("span_tokens"))
                    .cast("long")
                    .alias("e"),
                )
            ).alias("_ranges")
        )
    )
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    base = df.join(
        ranges, df[id_col] == ranges["_rid"], "left"
    ).drop("_rid")
    kept = F.filter(
        F.transform(
            toks, lambda t, i: F.struct(t.alias("t"), (i + 1).alias("p"))
        ),
        lambda s: ~F.exists(
            F.coalesce(
                F.col("_ranges"),
                F.array().cast("array<struct<s:long,e:long>>"),
            ),
            lambda r: (s["p"] >= r["s"]) & (s["p"] < r["e"]),
        ),
    )
    return base.select(
        F.col(id_col),
        F.col(text_col),
        F.array_join(
            F.transform(kept, lambda s: s["t"]), " "
        ).alias("clean_text"),
        F.size(toks).alias("n_tokens"),
        (F.size(toks) - F.size(kept)).alias("n_removed_tokens"),
    )


def _line_rows(
    df: DataFrame, text_col: str, id_col: str, sep: str
) -> DataFrame:
    """Every line of every document as ``(id, pos, ln, _key)``, where
    ``_key`` is the trimmed line."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "ln"),
    ).withColumn("_key", F.trim("ln"))


def _frequent_keys(lines: DataFrame, id_col: str, min_df: int) -> DataFrame:
    """The boilerplate rule over :func:`_line_rows`: each non-blank
    ``_key`` found in at least ``min_df`` distinct documents, with its
    document frequency ``_df``."""
    return (
        lines.filter(F.col("_key") != "")
        .select(id_col, "_key")
        .distinct()
        .groupBy("_key")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= min_df)
    )


def frequent_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 10,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-frequency boilerplate line inventory (the CCNet/
    RefinedWeb "remove lines duplicated across many pages" rule's
    first half): every trimmed non-blank line occurring in at least
    ``min_df`` DISTINCT documents, with its document frequency.
    Returns ``(line, df)`` — the inspection/report surface of
    :func:`remove_frequent_lines`, which drops exactly these lines.

    Scale shape: explode → per-(line, doc) distinct → one count agg;
    the result is the (small) boilerplate vocabulary, never the corpus.
    """
    freq = _frequent_keys(_line_rows(df, text_col, id_col, sep), id_col,
                          min_df)
    return freq.select(F.col("_key").alias("line"), F.col("_df").alias("df"))


def remove_frequent_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 10,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-frequency boilerplate line REMOVAL (CCNet §4.1 /
    RefinedWeb line-wise dedup): drop every line whose trimmed form
    appears in ≥ ``min_df`` distinct documents (nav bars, cookie
    banners, footers — content a per-document rule like
    ``functions.text.c4_line_stats`` cannot see), then reassemble each
    document from its surviving lines in original order. Unlike
    :func:`dedup_paragraphs` (first-occurrence-wins), a frequent line
    is dropped from EVERY document — boilerplate has no canonical
    first owner. Blank lines are structure, not boilerplate: they
    never count toward frequency and are always kept.

    Returns ``(id, n_lines, n_removed, clean_text)``; a document whose
    every line was boilerplate comes back as the empty string, ready
    for a length filter.

    Scale shape: the explode that feeds reassembly also feeds the
    :func:`frequent_lines` rule, which builds the (small) frequent-line
    set; a left join on the trimmed-line key marks drops
    (AQE broadcasts the set when it is small — no assumption that it
    is); reassembly is one per-doc hash aggregate of (pos, line)
    structs. Line text shuffles once for reassembly — inherent to
    rebuilding documents.
    """
    ex = _line_rows(df, text_col, id_col, sep)
    freq = _frequent_keys(ex, id_col, min_df).withColumn(
        "_drop", F.lit(True)
    )
    marked = ex.join(freq.select("_key", "_drop"), on="_key", how="left")
    kept_struct = F.when(
        F.col("_drop").isNull(), F.struct("pos", "ln")
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.count("_drop").alias("n_removed"),
            F.array_sort(F.collect_list(kept_struct)).alias("_kept"),
        )
        .select(
            F.col(id_col),
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("n_removed").cast("long").alias("n_removed"),
            F.array_join(
                F.transform("_kept", lambda s: s["ln"]), sep
            ).alias("clean_text"),
        )
    )
