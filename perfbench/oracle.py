"""DuckDB oracles, built from the same generated inputs the engine reads.

Each ``expect_*`` runs once per process on the generated files; each
``check_*`` compares one pipeline run's output with it and returns a
list of mismatch messages (empty when the output is correct).
Timestamps are epoch seconds in strings; a calendar day is
``floor(ts / 86400)`` in UTC, as the engine's UTC session computes it.
"""

from __future__ import annotations

import glob
import os

import duckdb

_DAY = "CAST(floor(TRY_CAST(timestamp AS DOUBLE) / 86400) AS INTEGER)"
_DATE = f"(DATE '1970-01-01' + {_DAY})"


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'; SET threads = 2")
    return con


def _lake_aggregates(con, relation: str) -> dict:
    rows = con.sql(
        f"""SELECT site, participant_id, metric, count(*),
                   sum(TRY_CAST(value AS DOUBLE)), count(DISTINCT {_DAY})
            FROM {relation} GROUP BY ALL"""
    ).fetchall()
    return {tuple(r[:3]): (r[3], r[4], r[5]) for r in rows}


def _diff_aggregates(want: dict, got: dict) -> list[str]:
    errs = []
    for key in sorted(set(want) | set(got)):
        w, g = want.get(key), got.get(key)
        if w is None or g is None:
            errs.append(f"group {key}: expected {w}, got {g}")
        elif w[0] != g[0] or w[2] != g[2] or abs(w[1] - g[1]) > 1e-6 * max(1.0, abs(w[1])):
            errs.append(f"group {key}: expected {w}, got {g}")
    return errs


# -- lake ----------------------------------------------------------------


def expect_lake(inputs) -> dict:
    """From the raw csv.gz lake: per (site, participant_id, metric) rows,
    value sum and distinct days; the overview (device split) and
    availability tables; the number of weekly summary documents."""
    con = _con()
    con.execute(f"""
        CREATE TEMP TABLE raw AS
        SELECT d.site, d.participant_id, d.metric, timestamp, value, device
        FROM (SELECT regexp_extract(filename,
                         '/study-data/([^/]+)/([^/]+)/([^/]+)/[^/]+$',
                         ['site', 'participant_id', 'metric']) AS d, *
              FROM read_csv('{inputs.root}/study-data/*/*/*/*.csv.gz', header = true,
                            all_varchar = true, union_by_name = true, filename = true))""")
    timed = "(SELECT * FROM raw WHERE TRY_CAST(timestamp AS DOUBLE) IS NOT NULL)"
    overview = con.sql(
        f"""SELECT site, participant_id,
                   CASE WHEN device IS NULL THEN metric ELSE metric || '/' || device END AS m,
                   count(*), CAST(min({_DATE}) AS VARCHAR), CAST(max({_DATE}) AS VARCHAR),
                   count(DISTINCT {_DAY})
            FROM {timed} GROUP BY ALL ORDER BY 1, 2, 3"""
    ).fetchall()
    avail = con.sql(
        f"""SELECT participant_id, CAST({_DATE} AS VARCHAR), count(*)
            FROM {timed} GROUP BY ALL"""
    ).fetchall()
    docs = con.sql(
        f"""SELECT count(DISTINCT (participant_id,
                   strftime(to_timestamp(TRY_CAST(timestamp AS DOUBLE)), '%G-W%V')))
            FROM {timed} WHERE TRY_CAST(value AS DOUBLE) IS NOT NULL"""
    ).fetchone()[0]
    return {
        "files": inputs.files,
        "groups": _lake_aggregates(con, "raw"),
        "overview": [tuple(r) for r in overview],
        "availability": {(p, d): n for p, d, n in avail},
        "dates": sorted({d for _, d, _ in avail}),
        "documents": docs,
    }


def check_lake(expected: dict, result: dict) -> list[str]:
    errs = []
    if result["catalog_files"] != expected["files"]:
        errs.append(f"summary_report counts {result['catalog_files']} files, "
                    f"expected {expected['files']}")
    con = _con()
    errs += _diff_aggregates(expected["groups"], _lake_aggregates(
        con,
        f"read_parquet('{result['compacted']}/**/*.parquet', hive_partitioning = true, "
        "union_by_name = true)",
    ))
    overview = [
        (r["site"], r["participant_id"], r["metric"], r["row_count"],
         str(r["start_date"]), str(r["end_date"]), r["day_count"])
        for r in result["overview"]
    ]
    if overview != expected["overview"]:
        errs.append("overview table differs from the oracle")
    dates = [c for c in result["availability_columns"] if c != "participant_id"]
    if dates != expected["dates"]:
        errs.append(f"availability has {len(dates)} date columns, expected "
                    f"{len(expected['dates'])}")
    cells = {
        (r["participant_id"], d): r[d]
        for r in result["availability"] for d in dates if r[d]
    }
    if cells != expected["availability"]:
        errs.append("availability matrix differs from the oracle")
    n_docs = 0
    for path in glob.glob(os.path.join(result["documents"], "part-*.json")):
        with open(path) as f:
            n_docs += sum(1 for line in f if line.strip())
    if n_docs != expected["documents"]:
        errs.append(f"{n_docs} summary documents, expected {expected['documents']}")
    return errs


# -- corpus_build -------------------------------------------------------

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _tokens_table(con, documents: str) -> None:
    """``toks(doc_id, text, t, embedding)``, ``t`` the whitespace tokens
    as the engine's ``tokens`` splits them."""
    con.execute(f"""
        CREATE TEMP TABLE toks AS
        SELECT doc_id, text, embedding,
               list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS t
        FROM read_parquet('{documents}')""")


def expect_corpus_build(inputs) -> dict:
    """Doc ids that survive 13-gram decontamination against the
    ``doc_id % 97 == 0`` slice, the quality threshold and exact
    (normalized-text) dedup."""
    from pipelines import EVAL_MOD as eval_mod, MIN_QUALITY as min_quality, NGRAM as ngram

    con = _con()
    documents = os.path.join(inputs.root, "documents.parquet")
    _tokens_table(con, documents)
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    ids = con.sql(f"""
        WITH grams AS (
            SELECT DISTINCT doc_id, unnest(list_transform(range(0, len(t) - {ngram - 1}),
                   i -> array_to_string(t[i + 1 : i + {ngram}], ' '))) AS g
            FROM toks WHERE len(t) >= {ngram}),
        dirty AS (
            SELECT DISTINCT a.doc_id FROM grams a
            JOIN (SELECT DISTINCT g FROM grams WHERE doc_id % {eval_mod} = 0) e USING (g)),
        scored AS (
            SELECT doc_id, text,
                   (CASE WHEN len(t) BETWEEN 10 AND 1000 THEN 0.5 ELSE 0.0 END)
                 + (CASE WHEN len(t) > 0 AND len(list_filter(t, w -> lower(w) IN ({stops})))
                                / len(t) > 0.05 THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN length(text) = 0 OR (length(text)
                         - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                                / length(text) < 0.2 THEN 0.2 ELSE 0.0 END) AS q
            FROM toks WHERE doc_id NOT IN (SELECT doc_id FROM dirty))
        SELECT min(doc_id)
        FROM scored WHERE q >= {min_quality}
        GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))""").fetchall()
    return {"documents": documents, "survivors": {r[0] for r in ids}}


#: ``minhash_near_duplicates`` keeps a pair whose estimated Jaccard
#: (signature agreement over 32 hashes) is at least this.
MINHASH_THRESHOLD = 0.7
#: A pair whose exact character-shingle Jaccard is below this floor
#: reaches an estimate of 0.7 with probability about 1e-6.
MIN_TRUE_JACCARD = 0.3
#: kNN pairs at or above this cosine (near-identical vectors) are each
#: other's nearest neighbours and must end in one component.
SURE_COSINE = 0.9999

_SHINGLES = ("list_distinct(list_transform(range(1, length(lower(text)) - 3), "
             "i -> substring(lower(text), i, 5)))")


def _digest(con, relation: str) -> str:
    """md5 over a chunk table in (doc_id, chunk_id) order."""
    return con.sql(
        f"""SELECT md5(string_agg(concat_ws(':', doc_id, chunk_id, n_tokens, chunk_text),
                                  '\n' ORDER BY doc_id, chunk_id))
            FROM {relation}"""
    ).fetchone()[0]


def _components(nodes, edges) -> set:
    """Min id of every connected component of ``edges`` over ``nodes``."""
    parent = {n: n for n in nodes}

    def root(n):
        while parent[n] != n:
            parent[n] = parent[parent[n]]
            n = parent[n]
        return n

    for a, b in edges:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {root(n) for n in nodes}


def check_corpus_build(expected: dict, result: dict) -> list[str]:
    """Every stage's output, stage by stage: the exact-dedup survivors;
    each MinHash and kNN edge (both ends survivors, exact shingle
    Jaccard and cosine recomputed); near-identical vectors linked; the
    components survivors as the min id of every component of the
    program's edges; the budgeted set as the greedy prefix in
    (n_tokens, doc_id) order; and the chunk table as a re-chunking of
    the budgeted texts, compared by digest."""
    from pipelines import CHUNK_OVERLAP, CHUNK_TOKENS, KNN_COSINE

    con = _con()
    _tokens_table(con, expected["documents"])
    p = result["paths"]

    def ids(path):
        return {r[0] for r in con.sql(
            f"SELECT doc_id FROM read_parquet('{path}/*.parquet')").fetchall()}

    errs = []
    survivors = expected["survivors"]
    unique = ids(p["unique"])
    if unique != survivors:
        errs.append(f"{len(unique ^ survivors)} doc ids differ after decontam, "
                    "quality and exact dedup")

    con.execute(f"CREATE TEMP TABLE sh AS SELECT doc_id, {_SHINGLES} AS s FROM toks")
    minhash = con.sql(f"""
        SELECT id_a, id_b, est_jaccard, coalesce(inter / (len(sa) + len(sb) - inter), 0)
        FROM (SELECT e.id_a, e.id_b, e.est_jaccard, a.s AS sa, b.s AS sb,
                     len(list_intersect(a.s, b.s)) AS inter
              FROM read_parquet('{p["minhash_pairs"]}/*.parquet') e
              LEFT JOIN sh a ON a.doc_id = e.id_a LEFT JOIN sh b ON b.doc_id = e.id_b)"""
    ).fetchall()
    knn = con.sql(f"""
        SELECT e.id_a, e.id_b, list_cosine_similarity(a.embedding, b.embedding)
        FROM read_parquet('{p["knn_pairs"]}/*.parquet') e
        LEFT JOIN toks a ON a.doc_id = e.id_a LEFT JOIN toks b ON b.doc_id = e.id_b"""
    ).fetchall()
    edges = [(a, b) for a, b, *_ in minhash + knn]
    if any(a not in survivors or b not in survivors or a == b for a, b in edges):
        errs.append("a near-duplicate edge has an end outside the exact-dedup survivors")
    elif any(est < MINHASH_THRESHOLD or j < MIN_TRUE_JACCARD for _, _, est, j in minhash):
        errs.append(f"a MinHash pair has estimated Jaccard < {MINHASH_THRESHOLD} or exact "
                    f"shingle Jaccard < {MIN_TRUE_JACCARD}")
    elif any(cos < KNN_COSINE - 1e-4 for _, _, cos in knn):
        errs.append(f"a kNN pair has cosine < {KNN_COSINE}")
    else:
        kept = _components(survivors, edges)
        sure = con.sql(f"""
            SELECT a.doc_id, b.doc_id FROM toks a JOIN toks b ON a.doc_id < b.doc_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= {SURE_COSINE}""").fetchall()
        if any(a in kept and b in kept for a, b in sure):
            errs.append("near-identical vectors were not linked by the kNN graph")
        near = ids(p["near_unique"])
        if near != kept:
            errs.append(f"{len(near ^ kept)} doc ids differ after dedup_by_components")

    keep = {r[0] for r in con.sql(f"""
        SELECT doc_id FROM (
            SELECT doc_id, sum(len(t)) OVER (ORDER BY len(t), doc_id
                                             ROWS UNBOUNDED PRECEDING) AS total
            FROM toks WHERE doc_id IN (SELECT doc_id FROM read_parquet(
                '{p["near_unique"]}/*.parquet')))
        WHERE total <= {result["budget"]}""").fetchall()}
    budgeted = ids(p["budgeted"])
    if budgeted != keep:
        errs.append(f"{len(budgeted ^ keep)} doc ids differ after select_to_budget")

    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    con.execute(f"""
        CREATE TEMP TABLE want AS
        WITH c AS (
            SELECT doc_id, t, unnest(range(0, CASE WHEN len(t) <= {CHUNK_TOKENS} THEN 1
                ELSE 1 + CAST(ceil((len(t) - {CHUNK_TOKENS}) / {stride}) AS INTEGER) END))
                AS chunk_id
            FROM toks WHERE doc_id IN (SELECT doc_id FROM read_parquet(
                '{p["budgeted"]}/*.parquet')))
        SELECT doc_id, chunk_id,
               len(t[chunk_id * {stride} + 1 : chunk_id * {stride} + {CHUNK_TOKENS}])
                   AS n_tokens,
               array_to_string(t[chunk_id * {stride} + 1 : chunk_id * {stride} + {CHUNK_TOKENS}],
                               ' ') AS chunk_text
        FROM c""")
    digest = _digest(con, f"read_parquet('{p['chunks']}/*.parquet')")
    if digest != _digest(con, "want"):
        errs.append("chunk table differs from a re-chunking of the budgeted documents")
    first = expected.setdefault("digest", digest)
    if digest != first:
        errs.append(f"output digest {digest} differs from the first run's {first}")
    return errs
