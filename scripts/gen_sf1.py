"""Synthesize an sf1-scale probe dataset (10× sf0.1) for the heavy
bench queries — VERDICT r4 next-step #5 (validate hot-bucket caps /
AQE one order of magnitude up).

NOT driver data: the official testdata stops at sf0.1, so this
generator builds statistically-similar tables (same schemas, same
word-frequency profile sampled from the sf0.1 corpus, deterministic
seed) under a scratch dir. Results go to BENCH_local-style records and
plan dumps (``scripts/dump_plans.py --sf-dir``) — never the driver tail.

Usage: python scripts/gen_sf1.py [dest_dir]   (default /tmp/mhm_sf1)
"""

from __future__ import annotations

import collections
import os
import re
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
N_DOCS = 50_000
N_VECS = 20_000
N_EVENTS = 1_000_000


def main() -> None:
    dest = sys.argv[1] if len(sys.argv) > 1 else "/tmp/mhm_sf1"
    os.makedirs(dest, exist_ok=True)
    rng = np.random.default_rng(20260814)
    con = duckdb.connect()

    # ---- documents: word-salad with the sf0.1 corpus' own unigram
    # distribution and doc-length profile (so shingle/token densities
    # match what the operators see on the real fixture).
    rows = con.sql(
        f"SELECT text, lang, source FROM '{SRC}/documents.parquet'"
    ).fetchall()
    freq: collections.Counter[str] = collections.Counter()
    lengths = []
    langs, sources = set(), set()
    for text, lang, source in rows:
        toks = re.findall(r"\S+", text or "")
        freq.update(toks)
        lengths.append(len(toks))
        langs.add(lang)
        sources.add(source)
    vocab, counts = zip(*freq.most_common(20_000))
    probs = np.asarray(counts, dtype=np.float64)
    probs /= probs.sum()
    vocab = np.asarray(vocab, dtype=object)
    lengths = np.asarray(lengths)
    langs = sorted(langs)
    sources = sorted(sources)

    doc_len = rng.choice(lengths, size=N_DOCS)
    texts = []
    for n in doc_len:
        toks = vocab[rng.choice(len(vocab), size=int(n), p=probs)]
        texts.append(" ".join(toks.tolist()))
    # ~2% exact dups + ~3% near-dups (one token mutated) so the dedup
    # pipelines have real work, at realistic (non-pathological) rates.
    idx = rng.permutation(N_DOCS)
    for i in idx[: N_DOCS // 50]:
        texts[i] = texts[(i + 1) % N_DOCS]
    for i in idx[N_DOCS // 50 : N_DOCS // 20]:
        base = texts[(i + 7) % N_DOCS].split(" ")
        if len(base) > 3:
            base[len(base) // 2] = "mutated"
        texts[i] = " ".join(base)
    # Degenerate rows (VERDICT r5 #7): empty / whitespace-only /
    # single-token / pathological-repetition documents, so the probe
    # corpus exercises the edge contracts the unit tests pin (the r4
    # entropy bug was latent only because no fixture had empty docs).
    # Replacements, not additions — N_DOCS stays stable for ratios.
    texts[int(idx[-1])] = ""
    texts[int(idx[-2])] = "   "
    texts[int(idx[-3])] = "solo"
    texts[int(idx[-4])] = "dup dup dup dup dup dup dup dup"
    # Boilerplate (r7): one fixed 12-token footer PREPENDED to ~3% of
    # docs (1500 >> the 1000 max_gram_df cap), so dup_spans_recall's
    # capped-vs-exact comparison measures a REAL loss at sf1 (at
    # sf0.01/sf0.1 no gram exceeds DF 3 and the cap is inert) and
    # remove_frequent_lines sees a genuinely corpus-frequent line.
    footer = (
        "subscribe to our newsletter for updates terms of service "
        "apply here"
    )
    for i in idx[N_DOCS // 20 : N_DOCS // 20 + 1500]:
        texts[int(i)] = footer + " " + texts[int(i)]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [langs[i] for i in rng.integers(0, len(langs), N_DOCS)]
            ),
            "source": pa.array(
                [sources[i] for i in rng.integers(0, len(sources), N_DOCS)]
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{dest}/documents.parquet")
    print(f"documents: {N_DOCS}")

    # ---- embeddings: same dim + label cardinality as sf0.1, unit-ish
    # gaussian mixture so IVF/PQ lists have realistic structure.
    dim, n_labels = con.sql(
        f"SELECT any_value(len(embedding)), count(DISTINCT label) "
        f"FROM '{SRC}/embeddings.parquet'"
    ).fetchone()
    centers = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, N_VECS)
    vecs = centers[labels] + 0.3 * rng.normal(size=(N_VECS, dim))
    vecs = vecs.astype(np.float32)
    # Degenerate rows: zero-norm vectors must flow through the NULL-
    # cosine contract (never divide-by-zero) at probe scale too.
    vecs[-3:] = 0.0
    tbl = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(
                [v for v in vecs.tolist()], pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(tbl, f"{dest}/embeddings.parquet")
    print(f"embeddings: {N_VECS} dim={dim}")

    # ---- events: 10× rows, same schema/type/user cardinality profile.
    n_users, types = con.sql(
        f"SELECT count(DISTINCT user_id), list(DISTINCT event_type) "
        f"FROM '{SRC}/events.parquet'"
    ).fetchone()
    t0 = np.datetime64("2025-01-01T00:00:00", "us")
    ts = t0 + rng.integers(0, 90 * 86_400_000_000, N_EVENTS).astype(
        "timedelta64[us]"
    )
    # Zipf-skewed user column (VERDICT r6 #7 — exercised at sf1, the
    # gate's sf0.01 data is driver-owned/read-only): a Zipf(1.5) draw
    # over the 10× user space gives one user ~8-10% of all events —
    # the shape that makes AQE skew-join / salting observable and
    # gives skew_report a real number to flag.
    zipf_ranks = rng.zipf(1.5, size=N_EVENTS)
    user_ids = np.minimum(zipf_ranks - 1, n_users * 10 - 1).astype(
        np.int64
    )
    # Degenerate rows: single-event users (no defined TWA/gap/session
    # successor) and NULL values (LOCF must carry across, never deflate
    # the average — ADVICE r5 rollup_ts fix).
    for j in range(5):
        user_ids[j] = n_users * 10 + 1 + j  # ids used exactly once
    values = rng.normal(50, 20, N_EVENTS).astype(object)
    null_at = rng.choice(N_EVENTS, size=N_EVENTS // 1000, replace=False)
    for j in null_at:
        values[j] = None
    tbl = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array(np.sort(ts)),
            "user_id": pa.array(user_ids, pa.int64()),
            "event_type": pa.array(
                [types[i] for i in rng.integers(0, len(types), N_EVENTS)]
            ),
            "value": pa.array(values.tolist(), pa.float64()),
            "props": pa.array(["{}"] * N_EVENTS),
        }
    )
    pq.write_table(tbl, f"{dest}/events.parquet")
    print(f"events: {N_EVENTS}")
    # ---- lineitem + orders: 10 structure-preserving replicas with
    # OFFSET order/part keys (not row duplication — duplicated keys
    # would only multiply edge weights, leaving the co-order graph
    # the same size). 10× orders and 10× parts with identical
    # per-order line structure is the scale-up label_communities
    # needs, and offsetting o_orderkey IDENTICALLY keeps the
    # orders⋈lineitem key space aligned so the join_preflight probe
    # measures a real 10× fact-fact join, not a 90%-miss one.
    # (Dims like customer/part stay symlinked at sf0.1 — sf1
    # fact⋈dim joins are out of the probe contract.)
    def _fresh(path: str) -> str:
        # A pre-existing SYMLINK here (older gen_sf1 linked the
        # TPC-H tables) must be removed before writing: pyarrow
        # writes THROUGH a symlink and would clobber the read-only
        # canonical fixture it points at.
        if os.path.islink(path) or os.path.exists(path):
            os.unlink(path)
        return path

    li = con.sql(
        f"""
        WITH m AS (
          -- one shared order-key modulus from ORDERS (the superset:
          -- orders without lineitems can exceed max(l_orderkey), and
          -- a smaller modulus would let replica key ranges collide)
          SELECT (SELECT max(o_orderkey)
                  FROM '{SRC}/orders.parquet') AS mo,
                 max(l_partkey) AS mp
          FROM '{SRC}/lineitem.parquet'
        )
        SELECT l.* REPLACE (
          l.l_orderkey + r.i * (m.mo + 1) AS l_orderkey,
          l.l_partkey + r.i * (m.mp + 1) AS l_partkey
        )
        FROM '{SRC}/lineitem.parquet' l
        CROSS JOIN m CROSS JOIN range(0, 10) r(i)
        """
    ).arrow()
    pq.write_table(li, _fresh(f"{dest}/lineitem.parquet"))
    print(f"lineitem: {li.num_rows}")

    orders = con.sql(
        f"""
        WITH m AS (
          SELECT max(o_orderkey) AS mo FROM '{SRC}/orders.parquet'
        )
        SELECT o.* REPLACE (
          o.o_orderkey + r.i * (m.mo + 1) AS o_orderkey
        )
        FROM '{SRC}/orders.parquet' o
        CROSS JOIN m CROSS JOIN range(0, 10) r(i)
        """
    ).arrow()
    pq.write_table(orders, _fresh(f"{dest}/orders.parquet"))
    print(f"orders: {orders.num_rows}")

    # The small TPC-H dims aren't needed by the heavy-query probe; link
    # them anyway so registry.load_table works for any query.
    for t in "region nation customer supplier part".split():
        src = f"{SRC}/{t}.parquet"
        dst = f"{dest}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(src, dst)
    print(f"done -> {dest}")


if __name__ == "__main__":
    main()
