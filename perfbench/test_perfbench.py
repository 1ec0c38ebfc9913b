"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench -q

They need neither Spark nor the engine package.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os

import pytest

import gen
import run
from spans import Span, Tracer, self_times
from probe import plan_nodes


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_seed_fixes_generated_bytes(tmp_path, workload):
    make = gen.GENERATORS[workload]
    a = make(str(tmp_path / "a"), 7)
    b = make(str(tmp_path / "b"), 7)
    c = make(str(tmp_path / "c"), 8)
    assert a.files == b.files and a.rows == b.rows and a.bytes == b.bytes > 0
    assert _tree_digest(a.root) == _tree_digest(b.root)
    assert _tree_digest(a.root) != _tree_digest(c.root)


def test_raw_lake_has_drift_and_untimestamped_files(tmp_path):
    inputs = gen.raw_lake(str(tmp_path), 3)
    paths = [os.path.join(d, n) for d, _, files in os.walk(inputs.root) for n in files]
    assert len(paths) == inputs.files
    assert sum(p.endswith("manual_export.csv.gz") for p in paths) == gen.N_SITES
    headers = set()
    for p in paths:
        with gzip.open(p, "rt") as f:
            headers.add(f.readline().strip())
    assert "timestamp,value,device,confidence" in headers
    assert "timestamp,value,device" in headers


def _benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    values = dict.fromkeys(run.END_TO_END, 1.0)
    printed = run.end_to_end_metrics(values)
    assert {k: v["unit"] for k, v in printed.items()} == spec
    with pytest.raises(ValueError):
        run.end_to_end_metrics({"run_s": 1.0})


def test_per_layer_names_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    tracer = Tracer()
    for i in range(2):
        with tracer.span("pipeline", f"run{i}"):
            for layer in ("operators.compact.compact_lake",
                          "operators.components.dedup_by_components",
                          "operators.components.dedup_by_components"):
                with tracer.span(layer, f"run{i}") as sp:
                    pass
                sp.metrics = {"s": 1.0 + i, "jobs": 3.0, "not_reported": 9.0}
    samples = {False: [{"wall": 2.0}], True: [{"wall": 2.5}]}
    printed = run.layer_metrics(tracer, samples, 0.6, 1.25)
    assert {k: v["unit"] for k, v in printed.items()} == spec
    # medians over runs; a layer called twice in a run is summed
    assert printed["operators.compact.compact_lake.s"]["value"] == 1.5
    assert printed["operators.components.dedup_by_components.jobs"]["value"] == 6.0
    assert printed["session.get_spark.s"]["value"] == 0.6
    assert printed["bench.trace_overhead_s"]["value"] == 0.5
    assert printed["operators.similarity.knn_graph.s"]["value"] == 0.0


def test_benchmark_json_contract():
    spec = _benchmark_json()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25
    assert len(spec["per_layer"]) <= 128


def _span(name, start, end, parent):
    return Span(name, start, end, parent, "r")


def test_self_times_on_synthetic_tree():
    spans = [
        _span("root", 0.0, 10.0, None),     # 0
        _span("a", 1.0, 4.0, 0),            # 1
        _span("a.x", 1.5, 2.0, 1),          # 2
        _span("a.y", 1.8, 3.0, 1),          # 3 overlaps a.x
        _span("b", 3.5, 6.0, 0),            # 4 overlaps a
        _span("c", 9.0, 12.0, 0),           # 5 runs past the root
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(3.0 - (3.0 - 1.5))
    assert st[2] == pytest.approx(0.5)
    assert st[3] == pytest.approx(1.2)
    assert st[4] == pytest.approx(2.5)
    assert st[5] == pytest.approx(3.0)


def test_tracer_nests_and_dumps(tmp_path):
    tracer = Tracer()
    with tracer.span("outer", "r1"):
        with tracer.span("inner", "r1"):
            pass
    assert [s.parent for s in tracer.spans] == [None, 0]
    out = tmp_path / "spans.json"
    tracer.dump(str(out), workload="w")
    doc = json.loads(out.read_text())
    assert doc["workload"] == "w"
    assert [s["name"] for s in doc["spans"]] == ["outer", "inner"]
    assert doc["spans"][0]["self_s"] <= doc["spans"][0]["end"] - doc["spans"][0]["start"]


def test_plan_nodes_counts_scans_and_joins():
    tree = """AdaptiveSparkPlan isFinalPlan=false
+- Project [a#1]
   +- SortMergeJoin [k#1], [k#2], FullOuter
      :- Sort [k#1 ASC NULLS FIRST], false, 0
      :  +- Exchange hashpartitioning(k#1, 8)
      :     +- *(1) FileScan parquet [k#1] Batched: true
      +- BroadcastHashJoin [k#2], [k#3], Inner, BuildRight
         :- FileScan parquet [k#2] Batched: true
         +- BroadcastExchange HashedRelationBroadcastMode
            +- FileScan parquet [k#3] Batched: true"""
    assert plan_nodes(tree) == (3, 2)
