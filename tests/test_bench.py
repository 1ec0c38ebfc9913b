"""bench.py's per-key measurement and scripts/bench_diff.py's counter
report."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

from conftest import SF_DIR

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_diff():
    spec = importlib.util.spec_from_file_location(
        "bench_diff", os.path.join(_ROOT, "scripts", "bench_diff.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_measure_records_counters_and_stream_batches(spark):
    sys.path.insert(0, _ROOT)
    import bench

    counters = bench.SparkCounters(spark)
    ledger = bench.StreamLedger()
    spark.streams.addListener(ledger)
    try:
        batch = bench.measure(spark, SF_DIR, "overview_stats", counters, ledger)
        stream = bench.measure(spark, SF_DIR, "stream_holt", counters, ledger)
    finally:
        spark.streams.removeListener(ledger)

    assert set(batch["counters"]) == set(bench.COUNTER_FIELDS)
    for field in ("jobs", "stages", "tasks"):
        assert batch["counters"][field] >= 1, field
    assert batch["stream_batches"] == []
    assert batch["rows"] > 0 and batch["cold"] > 0 and batch["warm"] > 0

    batches = stream["stream_batches"]
    assert len(batches) >= 1
    events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert sum(b["input_rows"] for b in batches) == events
    # The micro-batch jobs run under the stream's own job group; the
    # key's counters add them to the jobs of its own group.
    assert stream["counters"]["jobs"] > counters.read("bench:stream_holt")["jobs"]


def _record(path, counters, warm):
    doc = {"queries": dict(warm), "queries_warm": dict(warm),
           "counters": counters}
    path.write_text(json.dumps(doc))
    return str(path)


def test_bench_diff_names_counter_changes(tmp_path, monkeypatch, capsys):
    mod = _bench_diff()
    base = {
        "k_core": {"jobs": 27, "stages": 27, "tasks": 33,
                   "shuffle_bytes": 470000, "spill_bytes": 0},
        "url_filter": {"jobs": 5, "stages": 5, "tasks": 8,
                       "shuffle_bytes": 0, "spill_bytes": 0},
    }
    moved = json.loads(json.dumps(base))
    moved["k_core"]["jobs"] = 33
    warm = {"k_core": 1.0, "url_filter": 0.5}
    a = _record(tmp_path / "a.json", base, warm)
    b = _record(tmp_path / "b.json", moved, warm)
    c = _record(tmp_path / "c.json", base, warm)

    assert mod.counter_changes(base, moved) == ["k_core: jobs 27 -> 33"]
    assert mod.counter_changes(base, base) == []

    monkeypatch.setattr(sys, "argv", ["bench_diff.py", a, b])
    assert mod.main() == 0  # the exit code stays wall-based
    out = capsys.readouterr().out
    assert "counters: 1 of 2 shared keys differ" in out
    assert "k_core: jobs 27 -> 33" in out
    assert out.index("k_core: jobs") < out.index("query ")

    monkeypatch.setattr(sys, "argv", ["bench_diff.py", a, c])
    assert mod.main() == 0
    out = capsys.readouterr().out
    assert "counters: 0 of 2 shared keys differ" in out
    assert "->" not in out
