"""Seeded input generators, one per workload.

Each generator writes its input under ``dest`` (a scratch directory the
benchmark owns) and returns an :class:`Inputs` record of what it wrote.
The same seed gives byte-identical files: gzip headers carry no mtime or
name, and every random draw comes from one ``numpy`` generator seeded
with the workload's seed.
"""

from __future__ import annotations

import gzip
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus_profile.json")

SITES = ("BER", "LON", "NYC")
#: metric → extra data columns beside ``timestamp`` and ``value``.
METRICS = {
    "heart_rate": ("device",),
    "screen_usage": (),
    "sleep": (),
    "steps": ("device",),
}
DEVICES = ("phone", "watch")
#: The metric whose files sometimes carry one more column (schema drift).
DRIFT_METRIC = "heart_rate"
DAY0 = 1_735_689_600  # 2025-01-01T00:00:00Z
#: Raw lake layout: sites × participants per site × daily files per metric.
N_SITES = 3
N_PARTICIPANTS = 5
N_DAYS = 15
#: Rows in a file of the first participant; see :func:`raw_lake`.
ROWS_PER_FILE = 40
#: Documents in the corpus.
N_DOCS = 1000


@dataclass
class Inputs:
    """What a generator wrote: the path the program reads, and sizes."""

    root: str
    files: int = 0
    rows: int = 0
    bytes: int = 0


def _value(rng: np.random.Generator, metric: str) -> str:
    if rng.random() < 0.005:
        return "NA"  # unparseable reading: try_cast → NULL, never an error
    if metric == "steps":
        return str(int(rng.integers(0, 400)))
    if metric == "heart_rate":
        return f"{rng.normal(72, 9):.1f}"
    return f"{rng.random() * 3:.3f}"


def _day_rows(rng, metric, day, n):
    """``n`` (timestamp, value, device) rows inside one UTC day."""
    secs = np.sort(rng.integers(0, 86_400_000, n)) / 1000.0
    dev = DEVICES[int(rng.integers(0, len(DEVICES)))] if METRICS[metric] else None
    return [
        (f"{DAY0 + day * 86_400 + s:.3f}", _value(rng, metric), dev) for s in secs
    ]


def _participants():
    for s in SITES[:N_SITES]:
        for p in range(N_PARTICIPANTS):
            yield s, f"{s}-{p:03d}"


def raw_lake(dest: str, seed: int) -> Inputs:
    """Raw lake ``study-data/<SITE>/<PID>/<METRIC>/YYYYMMDD_HHMM.csv.gz``:
    one gzip CSV per (site, participant, metric, day). The k-th
    participant's files hold ``ROWS_PER_FILE * (2 + k) / 2`` rows, so
    participants differ in volume and one participant's files sort
    together by size (Spark packs scan tasks by size, and this keeps the
    number of compacted files the same for every seed). The last
    participant's ``heart_rate`` files carry an extra ``confidence``
    column, and one ``sleep`` file per site is named without a timestamp. The layout is
    the same for every seed; the seed draws the timestamps, values and
    devices."""
    rng = np.random.default_rng(seed)
    out = Inputs(root=os.path.join(dest, "raw_lake"))
    for k, (site, pid) in enumerate(_participants()):
        n_rows = ROWS_PER_FILE * (2 + k) // 2
        for metric, extra_cols in METRICS.items():
            d = os.path.join(out.root, "study-data", site, pid, metric)
            os.makedirs(d)
            for day in range(N_DAYS):
                rows = _day_rows(rng, metric, day, n_rows)
                drift = metric == DRIFT_METRIC and k == N_SITES * N_PARTICIPANTS - 1
                header = ["timestamp", "value", *extra_cols]
                if drift:
                    header.append("confidence")
                lines = [",".join(header)]
                for ts, val, dev in rows:
                    cells = [ts, val] + ([dev] if extra_cols else [])
                    if drift:
                        cells.append(f"{rng.random():.2f}")
                    lines.append(",".join(cells))
                if metric == "sleep" and pid.endswith("-000") and day == N_DAYS - 1:
                    name = "manual_export.csv.gz"
                else:
                    hhmm = int(rng.integers(0, 24)) * 100 + int(rng.integers(0, 60))
                    ymd = np.datetime64(DAY0 + day * 86_400, "s").astype(str)[:10]
                    name = f"{ymd.replace('-', '')}_{hhmm:04d}.csv.gz"
                path = os.path.join(d, name)
                with open(path, "wb") as raw, gzip.GzipFile(
                    filename="", mode="wb", fileobj=raw, mtime=0
                ) as gz:
                    gz.write(("\n".join(lines) + "\n").encode())
                out.files += 1
                out.rows += n_rows
                out.bytes += os.path.getsize(path)
    return out


EMBED_DIM = 64
N_CLUSTERS = 16


def corpus(dest: str, seed: int) -> Inputs:
    """Word-salad documents drawn from the unigram and length profile of
    the sf0.1 ``documents`` table, with 2% exact and 3% one-token near
    duplicates, and a 64-d embedding per document from a 16-cluster
    Gaussian mixture in which 2% of vectors copy another one up to
    1e-4 noise (cosine > 0.99)."""
    rng = np.random.default_rng(seed)
    with open(PROFILE) as f:
        prof = json.load(f)
    vocab = np.asarray(sorted(prof["unigrams"]), dtype=object)
    probs = np.asarray([prof["unigrams"][w] for w in vocab], dtype=np.float64)
    probs /= probs.sum()
    lengths = rng.integers(prof["length_min"], prof["length_max"] + 1, N_DOCS)
    texts = [" ".join(vocab[rng.choice(len(vocab), size=int(n), p=probs)])
             for n in lengths]
    perm = rng.permutation(N_DOCS)
    n_exact, n_near = N_DOCS // 50, N_DOCS * 3 // 100
    for i in perm[:n_exact]:
        texts[i] = texts[int(rng.integers(0, N_DOCS))]
    for i in perm[n_exact:n_exact + n_near]:
        toks = texts[int(rng.integers(0, N_DOCS))].split(" ")
        toks[int(rng.integers(0, len(toks)))] = str(vocab[int(rng.integers(0, len(vocab)))])
        texts[i] = " ".join(toks)

    centers = rng.normal(size=(N_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, N_CLUSTERS, N_DOCS)
    vecs = centers[labels] + 0.6 * rng.normal(size=(N_DOCS, EMBED_DIM))
    for i in rng.permutation(N_DOCS)[: N_DOCS // 50]:
        j = int(rng.integers(0, N_DOCS))
        vecs[i] = vecs[j] + 1e-4 * rng.normal(size=EMBED_DIM)
        labels[i] = labels[j]
    table = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    out = Inputs(root=os.path.join(dest, "corpus"))
    os.makedirs(out.root)
    path = os.path.join(out.root, "documents.parquet")
    pq.write_table(table, path)
    out.files, out.rows, out.bytes = 1, N_DOCS, os.path.getsize(path)
    return out


GENERATORS = {
    "lake": raw_lake,
    "corpus_build": corpus,
}
