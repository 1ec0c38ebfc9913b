"""Custom stateful streaming operators (applyInPandasWithState).

Two capabilities the built-in streaming aggregates can't express, added
on top of the ingest layer (SURVEY §2.9):

* ``stateful_sessions`` — gap-based sessionization that EMITS A ROW PER
  CLOSED SESSION carrying arbitrary per-session aggregates
  (count/sum/duration). ``F.session_window`` can only grow windowed
  aggregates and re-emits under update mode; here a session row appears
  exactly once, the moment the gap (or the event-time timeout) closes
  it — the shape downstream training-data jobs want for "one example
  per session".
* ``dedup_stream`` — exactly-once keyed dedup across micro-batches
  bounded by a watermark (built-in ``dropDuplicatesWithinWatermark``,
  wrapped so batch and streaming twins share the call site).

Scale notes: state lives per group in the state store, partitioned by
the grouping key — the same hash partitioning a shuffle would use, so a
1000-executor cluster spreads sessions across the fleet with no
driver-side state. The per-batch work inside the UDF is vectorized
(numpy gap-split), not a per-row Python loop; per-key state is O(1)
(one open session tuple). Event-time timeout + watermark bound state
size for keys that go quiet.
"""

from __future__ import annotations

import warnings
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, sum_value double"
)
#: (start_us, last_us, n, sum_value) of the one open session per key.
_STATE_SCHEMA = "start bigint, last bigint, n bigint, sv double"


def _quiet_state_concat() -> None:
    """Silence, in the Python worker, the pandas ``FutureWarning`` that
    ``applyInPandasWithState``'s own output serializer
    (``pyspark/sql/pandas/serializers.py``) raises when it pads a batch
    with empty rows: "The behavior of DataFrame concatenation with empty
    or all-NA entries is deprecated". Only that message from that module
    is filtered; repeating the call replaces the same filter."""
    warnings.filterwarnings(
        "ignore",
        message="The behavior of DataFrame concatenation with empty or all-NA entries",
        category=FutureWarning,
        module=r"pyspark\.sql\.pandas\.serializers",
    )


def _emit_row(uid: int, start_us: int, end_us: int, n: int, sv: float):
    return pd.DataFrame(
        {
            "user_id": [uid],
            "session_start": [pd.Timestamp(start_us, unit="us")],
            "session_end": [pd.Timestamp(end_us, unit="us")],
            "n_events": [n],
            "sum_value": [sv],
        }
    )


def stateful_sessions(
    stream: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    value: str = "value",
    gap_minutes: float = 30.0,
    watermark: str = "1 day",
) -> DataFrame:
    """One output row per *closed* session: (key, start, end, n_events,
    sum_value). A session closes when a later event arrives past the gap,
    or when event time moves ``gap`` past its last event (timeout) — so
    dangling sessions flush once the watermark passes them, and state
    never outlives its key.

    The reference's batch sessionization (windows over lag(ts)) can't
    run incrementally; this is its streaming twin with identical
    session-boundary semantics (gap strictly greater than
    ``gap_minutes`` starts a new session).
    """
    gap_us = int(gap_minutes * 60 * 1_000_000)

    def fn(
        key_: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        _quiet_state_concat()
        (uid,) = key_
        if state.hasTimedOut:
            start, last, n, sv = state.get
            state.remove()
            yield _emit_row(uid, start, last, n, sv)
            return
        chunks = list(pdfs)
        # Single-chunk groups (the overwhelmingly common case) skip the
        # pd.concat copy — called once per GROUP, so per-call overhead
        # multiplies by the entity count.
        pdf = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        )
        if len(pdf) == 0:  # pragma: no cover - defensive
            return
        pdf = pdf.sort_values(ts, kind="mergesort")
        ts_us = (pdf[ts].astype("int64") // 1000).to_numpy()
        vals = pdf[value].to_numpy(dtype="float64")
        carried: tuple[Any, ...] | None = state.get if state.exists else None
        # Vectorized split: a new session starts where the gap from the
        # previous event exceeds gap_us. Segments are contiguous ranges
        # of the sorted batch.
        new_session = np.empty(len(ts_us), dtype=bool)
        new_session[0] = True
        np.greater(np.diff(ts_us), gap_us, out=new_session[1:])
        seg_starts = np.flatnonzero(new_session)
        seg_ends = np.append(seg_starts[1:], len(ts_us))
        summaries = [
            (
                int(ts_us[a]),
                int(ts_us[b - 1]),
                int(b - a),
                float(vals[a:b].sum()),
            )
            for a, b in zip(seg_starts, seg_ends)
        ]
        # The carried open session participates as an interval summary of
        # its own. Late-but-within-watermark events may land anywhere
        # relative to it, so a plain "does the first batch event extend
        # the carried end?" check is wrong two ways: session_end could
        # regress below the carried `last` (prematurely re-arming the
        # event-time timeout), and the carried span [start, last] can
        # bridge batch segments that sit > gap apart from each other.
        # A gap-tolerant interval merge over (carried + batch segments),
        # sorted by start, handles every arrival order with one pass.
        if carried is not None:
            summaries.append(
                (int(carried[0]), int(carried[1]), int(carried[2]), float(carried[3]))
            )
            summaries.sort(key=lambda s: (s[0], s[1]))
        merged: list[tuple[int, int, int, float]] = [summaries[0]]
        for s in summaries[1:]:
            cur = merged[-1]
            if s[0] <= cur[1] + gap_us:
                merged[-1] = (
                    cur[0],
                    max(cur[1], s[1]),
                    cur[2] + s[2],
                    cur[3] + s[3],
                )
            else:
                merged.append(s)
        for closed in merged[:-1]:
            yield _emit_row(uid, *closed)
        open_seg = merged[-1]
        state.update(open_seg)
        # Flush the open session once event time passes last + gap.
        state.setTimeoutTimestamp(open_seg[1] // 1000 + gap_us // 1000)

    return (
        # Only (key, ts, value) reach the stateful shuffle / Python
        # workers (guide §4 column pruning — fn reads nothing else).
        stream.select(key, ts, value)
        .withWatermark(ts, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            _OUT_SCHEMA,
            _STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "5 minutes",
    watermark: str = "1 day",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with the right
    events of the same key that occur at-or-after it, within
    ``max_delay`` (e.g. "errors within 5 minutes of a purchase").

    Both sides carry watermarks and the join condition bounds the event
    time range, so Spark can expire buffered state: each side's buffer
    holds at most ``watermark + max_delay`` of data per key — the
    requirement for an unbounded-stream join to run forever. Right
    columns come back ``right_prefix``-renamed (stream-stream joins
    forbid ambiguous references).
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    r = r.select([F.col(c).alias(f"{right_prefix}{c}") for c in r.columns])
    cond = (
        (F.col(key) == F.col(f"{right_prefix}{key}"))
        & (
            F.col(f"{right_prefix}{right_ts}")
            >= F.col(left_ts)
        )
        & (
            F.col(f"{right_prefix}{right_ts}")
            <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return l.join(r, cond, "inner")


def dedup_stream(
    stream: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: first arrival of each key wins; duplicate
    arrivals within the watermark horizon are dropped. State is one
    entry per key, expired past the watermark — the streaming twin of
    operators.dedup.dedup_exact for the at-least-once-delivery case."""
    return stream.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def neardup_stream(
    stream: DataFrame,
    index_path: str,
    checkpoint: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 5,
    threshold: float = 0.7,
    hash_family: str = "xxhash64",
    update_index: bool = True,
):
    """Streaming NEAR-dup detection: each micro-batch of documents is
    matched against the standing MinHash signature index at
    ``index_path`` via :func:`~mhm_data_pipelines_spark.operators.dedup.
    minhash_match_index` (only the batch is hashed), matches append to
    ``out_path``, and — with ``update_index`` — the batch's own
    signatures append to the index so later batches dedup against
    earlier ones. The streaming twin of the incremental ingestion
    pipeline; :func:`dedup_stream` handles the EXACT-key case with
    per-key state, while near-dup state lives in the index table (far
    too wide for the state store: num_hashes longs per historical doc).

    foreachBatch is the right harness: the banded join + verify is a
    batch plan per micro-batch. Both the matches and the index are
    written as per-epoch partials (``sources.io._write_epoch``, the
    idempotency rule of ``sources.io``), and a replayed batch matches
    against the index WITHOUT its own earlier epoch, so it neither adds
    rows twice nor matches its documents against themselves. Readers
    load the directory roots (partition discovery surfaces ``batch_id``
    as a column; consumers of the index use only id + signature).

    Each micro-batch is hashed exactly ONCE: the persisted signature
    frame feeds the match (via ``new_signatures``) and the index
    append, then unpersists — per-batch executor storage is bounded.

    Batch-INTERNAL near-dups are intentionally not emitted here — run
    ``minhash_near_duplicates`` on the batch inside a custom
    ``foreachBatch`` if the arrival unit can contain its own dups.
    Returns the unstarted ``DataStreamWriter``.
    """
    from pyspark.errors import AnalysisException

    from mhm_data_pipelines_spark.operators.dedup import (
        minhash_match_index,
        minhash_signatures,
    )
    from mhm_data_pipelines_spark.sources.io import _write_epoch

    def emit(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        try:
            index = spark.read.parquet(index_path).filter(
                F.col("batch_id") != batch_id
            )
            have_index = True
        except AnalysisException as exc:
            # Only "index not created yet" is expected; a corrupt or
            # transiently unreadable index must FAIL the batch, not
            # silently match against nothing.
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            have_index = False
        sigs = minhash_signatures(
            batch, text_col, id_col, num_hashes, shingle_size, hash_family
        ).persist()
        try:
            if have_index:
                matches = minhash_match_index(
                    batch,
                    index,
                    text_col,
                    id_col,
                    num_hashes,
                    bands,
                    shingle_size,
                    threshold,
                    hash_family,
                    new_signatures=sigs,
                )
                _write_epoch(matches, out_path, batch_id)
            elif batch_id == 0:
                # Materialize the matches root even when batch 0 has no
                # index to match against, so readers never hit
                # PATH_NOT_FOUND on a stream that produced no matches.
                id_t = dict(batch.dtypes)[id_col]
                _write_epoch(
                    spark.createDataFrame(
                        [],
                        f"id_new {id_t}, id_index {id_t}, "
                        "est_jaccard double",
                    ),
                    out_path,
                    batch_id,
                )
            if update_index:
                _write_epoch(sigs, index_path, batch_id)
        finally:
            sigs.unpersist()

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(emit)
    )


def compact_signature_index(
    spark,
    index_path: str,
    target_files: int = 8,
) -> int:
    """Compact a :func:`neardup_stream` signature index: a long-running
    stream leaves one ``batch_id=N`` directory per micro-batch, each a
    few small files — after 10⁴ batches the index read spends more time
    listing than scanning. Merges every batch partition into a single
    ``batch_id=-1`` partition (the reserved "compacted epoch"; real
    batch ids are non-negative, so later appends never collide) of
    ``target_files`` files, committed by ``sources.io._rewrite_partitions``
    (every old ``batch_id=*`` dir retired, ``batch_id=-1`` published).
    Returns the number of batch directories retired.

    Operational contract: run while the stream is STOPPED (between
    restarts). Compacting under a live stream races the in-flight
    epoch's append.
    """
    from mhm_data_pipelines_spark.sources.io import _rewrite_partitions

    df = spark.read.parquet(index_path)
    retire = sorted({f.rsplit("/", 2)[-2] for f in df.inputFiles()})
    _rewrite_partitions(
        df.withColumn("batch_id", F.lit(-1)).coalesce(target_files),
        index_path,
        "batch_id",
        retire,
        keep_empty=False,
    )
    return len(retire)


_HOLT_OUT_SCHEMA = (
    "user_id bigint, n_points bigint, level double, trend double"
)
#: (n, s, b) — the running Holt recursion state per key.
_HOLT_STATE_SCHEMA = "n bigint, s double, b double"


def holt_stream(
    stream: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order_id: str = "event_id",
    value: str = "value",
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Streaming Holt linear-trend smoothing — the incremental twin of
    ``timeseries.holt_trend``: per key, the coupled (level, trend)
    recursion advances as micro-batches arrive, and each batch emits
    the key's running ``(n_points, level, trend)`` snapshot (append
    sink: the row with the max ``n_points`` per key is the current
    state; with an availableNow drain over static files that is the
    final state).

    BATCH-SPLIT INVARIANCE, to the bit: the recursion is applied with
    the exact float expression tree of the batch operator — including
    the classical init, where the SECOND point first materializes
    ``b₁ = x₂ − s₁`` and then runs the standard update against it — so
    any partitioning of an in-order series into micro-batches yields
    identical doubles to one batch pass (test-asserted). In-order is
    the contract: events are sorted by ``(ts, order_id)`` WITHIN a
    batch, and cross-batch reordering is upstream's watermark problem
    (same contract as every incremental recursion — a late point
    cannot be retro-inserted into an exponential smoother without
    replaying the series).

    State is three scalars per key (``NoTimeout`` — retention is
    bounded by entity count, not event volume, the cheapest state
    shape a stateful operator can have).
    """
    a = float(alpha)
    g = float(beta)
    if not 0.0 < a <= 1.0 or not 0.0 < g <= 1.0:
        raise ValueError("alpha and beta must be in (0, 1]")

    def fn(
        key_: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        _quiet_state_concat()
        (uid,) = key_
        chunks = list(pdfs)
        # Single-chunk groups (the overwhelmingly common case) skip the
        # pd.concat copy — called once per GROUP, so per-call overhead
        # multiplies by the entity count.
        pdf = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        )
        if len(pdf) == 0:  # pragma: no cover - defensive
            return
        pdf = pdf[pdf[value].notna()].sort_values(
            [ts, order_id], kind="mergesort"
        )
        if len(pdf) == 0:
            return
        xs = pdf[value].to_numpy(dtype="float64")
        if state.exists:
            n, s, b = state.get
            n, s, b = int(n), float(s), float(b)
        else:
            n, s, b = 0, 0.0, 0.0
        i = 0
        if n == 0:
            s, b, n = xs[0], 0.0, 1
            i = 1
        for t in range(i, len(xs)):
            if n == 1:
                b = xs[t] - s  # classical init: b1 = x2 - x1
            s_new = a * xs[t] + (1.0 - a) * (s + b)
            b = g * (s_new - s) + (1.0 - g) * b
            s = s_new
            n += 1
        state.update((n, s, b))
        yield pd.DataFrame(
            {
                "user_id": [uid],
                "n_points": [n],
                "level": [s],
                "trend": [b],
            }
        )

    # Project to exactly the columns the state function reads BEFORE
    # the stateful shuffle (guide §4: Spark cannot see inside the
    # Python function, so unused event columns would be shuffled AND
    # Arrow-shipped per group otherwise).
    return (
        stream.select(key, ts, order_id, value)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            _HOLT_OUT_SCHEMA,
            _HOLT_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


_EWMA_ANOM_OUT_SCHEMA = (
    "user_id bigint, n_points bigint, mean double, var double, "
    "n_anomalies bigint"
)
#: (n, m, v, k) — running EWMA mean/variance + cumulative anomaly count.
_EWMA_ANOM_STATE_SCHEMA = "n bigint, m double, v double, k bigint"


def ewma_anomaly_stream(
    stream: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order_id: str = "event_id",
    value: str = "value",
    alpha: float = 0.25,
    threshold: float = 3.0,
) -> DataFrame:
    """Streaming EWMA anomaly detection — the incremental sibling of
    ``timeseries.rolling_zscore``: per key, an exponentially-weighted
    mean and variance advance point by point, and a point is counted
    anomalous when its deviation from the PRE-UPDATE state exceeds
    ``threshold`` sigmas (scoring against the pre-update state keeps
    the anomaly from damping its own alarm). Each batch emits the
    key's running ``(n_points, mean, var, n_anomalies)`` snapshot
    (append sink; max-``n_points`` row per key = current state).

    The exact recursion (replayed verbatim by the gate's recursive
    SQL oracle — batch-split bit-invariance follows from applying the
    identical float expression tree, same contract as
    :func:`holt_stream`):

        ``d = x − m;  anomalous ⇔ n ≥ 2 and v > 0 and d² > th²·v``
        ``m ← m + α·d;  v ← (1−α)·(v + α·d²)``

    (West-style EWMV — the variance update uses the pre-update
    deviation). First point initializes ``m = x, v = 0``. In-order
    delivery is the contract, as for every incremental recursion.
    State is four scalars per key (``NoTimeout`` — entity-bounded).
    """
    a = float(alpha)
    th = float(threshold)
    if not 0.0 < a <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if th <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")

    def fn(
        key_: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        _quiet_state_concat()
        (uid,) = key_
        chunks = list(pdfs)
        # Single-chunk groups (the overwhelmingly common case) skip the
        # pd.concat copy — called once per GROUP, so per-call overhead
        # multiplies by the entity count.
        pdf = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        )
        if len(pdf) == 0:  # pragma: no cover - defensive
            return
        pdf = pdf[pdf[value].notna()].sort_values(
            [ts, order_id], kind="mergesort"
        )
        if len(pdf) == 0:
            return
        xs = pdf[value].to_numpy(dtype="float64")
        if state.exists:
            n, m, v, k = state.get
            n, m, v, k = int(n), float(m), float(v), int(k)
        else:
            n, m, v, k = 0, 0.0, 0.0, 0
        i = 0
        if n == 0:
            m, v, n = xs[0], 0.0, 1
            i = 1
        for t in range(i, len(xs)):
            d = xs[t] - m
            if v > 0.0 and d * d > th * th * v:
                k += 1
            m = m + a * d
            v = (1.0 - a) * (v + a * d * d)
            n += 1
        state.update((n, m, v, k))
        yield pd.DataFrame(
            {
                "user_id": [uid],
                "n_points": [n],
                "mean": [m],
                "var": [v],
                "n_anomalies": [k],
            }
        )

    # Same column pruning as holt_stream: ship only what fn reads.
    return stream.select(key, ts, order_id, value).groupBy(
        key
    ).applyInPandasWithState(
        fn,
        _EWMA_ANOM_OUT_SCHEMA,
        _EWMA_ANOM_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
