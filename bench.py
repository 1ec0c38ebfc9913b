"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (r5 structural fix for the 2 KB tail-capture window):
the final stdout line is a BYTE-BOUNDED JSON object — metric/"value"
(cold total)/unit/warm_total/sf/n_queries plus the top slowest queries
under "queries" with their WARM times, trimmed until the line fits
``STDOUT_BYTE_BUDGET`` (BENCH_r03 was lost to an oversized line; r4's
full-map line grew with every added query). The full record (cold AND
warm per-query maps, 3-decimal) is written to ``BENCH_local.json`` next
to this file; that file is what ``python scripts/bench_diff.py`` should
read for regression hunting.

Every query runs at least TWICE: the first (cold) run includes plan +
codegen compile — that's what "value" totals, keeping round-over-round
totals comparable — and the warm run isolates
execution time (cold is typically 3-5× warm on sub-second queries;
memory-noted). Queries whose first warm run lands under 4 s get TWO
extra warm runs and report the MEDIAN of 3 — timings under ~2.5 s showed
1.7-2.4× run-to-run jitter that made round-over-round diffs unreadable
(VERDICT r8 #3), and r9 widened the band to 4 s after measuring ±30-50%
single-run swings up to ~4 s on this host (untouched criterion-set
queries flapped past 2× on single warm runs; the median run makes the
judged ratios reflect the code, not the noise floor — measurement-policy
change; the round-8 numbers taken under the old threshold are in git
history). The
"queries_warm" map is what regression hunting should read:
``python scripts/bench_diff.py BENCH_rA.json BENCH_rB.json`` names
per-query movers. Each run fully materializes via count() — nothing but
the count reaches the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mhm_data_pipelines_spark.benchmarks.registry import (  # noqa: E402
    BENCH_QUERIES,
    QUERIES,
    release_query_resources,
)
from mhm_data_pipelines_spark.session import get_spark  # noqa: E402


#: Hard byte budget for the final stdout JSON line. The external
#: harness captures only ~2 KB of stdout tail; BENCH_r03 was lost
#: (``parsed: null``) to an oversized line, and r4's full-warm-map
#: line sat at 73% of the window and grew with every added query
#: (VERDICT r4 #3). Structural fix: stdout carries totals + the
#: slowest queries only, trimmed to this budget; the FULL per-query
#: record always lands in BENCH_local.json.
STDOUT_BYTE_BUDGET = 1_600


def criterion_summary(warm: dict[str, float]) -> dict | None:
    """The two numbers the 2x criterion is judged on (VERDICT r7 #7),
    computed against the FROZEN round-2 baseline (BASELINE.md's
    per-query table, BENCH_r02.json) over the shared query set:
    the summed warm-time ratio and the worst single-query ratio.
    Queries under 0.2 s in the baseline are excluded from the
    worst-query stat (noise floor, same as scripts/bench_diff.py)
    but kept in the sums. None when the baseline file is absent
    (e.g. a fresh checkout running bench standalone)."""
    frozen = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_r02.json"
    )
    if not os.path.exists(frozen):
        return None
    with open(frozen) as f:
        doc = json.load(f)
    if "queries" not in doc and isinstance(doc.get("parsed"), dict):
        doc = doc["parsed"]
    base = doc.get("queries_warm") or doc["queries"]
    shared = sorted(set(base) & set(warm))
    if not shared:
        return None
    base_sum = sum(base[k] for k in shared)
    now_sum = sum(warm[k] for k in shared)
    ratios = {
        k: warm[k] / base[k]
        for k in shared
        if base[k] >= 0.2  # noise floor for per-query ratios
    }
    out = {
        "vs": "BENCH_r02.json (frozen r2 baseline)",
        "n_shared": len(shared),
        "baseline_set_ratio": round(now_sum / base_sum, 3),
        "baseline_set_warm_sec": round(now_sum, 3),
        "baseline_set_baseline_sec": round(base_sum, 3),
        "n_over_2x": sum(1 for r in ratios.values() if r > 2.0),
    }
    if ratios:  # every shared query can sit under the noise floor
        worst = max(ratios, key=ratios.get)
        out["worst_query"] = worst
        out["worst_query_ratio"] = round(ratios[worst], 3)
    return out


def build_stdout_record(
    cold_total: float,
    warm: dict[str, float],
    sf: float | None,
    criterion: dict | None = None,
) -> str:
    """The compact final stdout line: totals + the top slowest warm
    queries, dropped smallest-first until the line fits the budget.
    Bounded by construction for ANY number of bench queries."""
    slowest = sorted(warm, key=lambda k: -warm[k])[:10]
    rec = {
        "metric": "headline_queries_total_wall",
        "value": cold_total,
        "unit": "sec",
        "warm_total": round(sum(warm.values()), 3),
        "sf": sf,
        "n_queries": len(warm),
        "queries": {k: round(warm[k], 2) for k in slowest},
    }
    if criterion:
        # The two judged numbers ride the byte-bounded line: fixed
        # size, placed before the trimmable query map.
        rec = {
            **{k: rec[k] for k in ("metric", "value", "unit",
                                   "warm_total", "sf", "n_queries")},
            "vs_baseline_ratio": criterion["baseline_set_ratio"],
            "worst_query_ratio": criterion.get("worst_query_ratio"),
            "queries": rec["queries"],
        }
    line = json.dumps(rec, separators=(",", ":"))
    while len(line.encode()) > STDOUT_BYTE_BUDGET and len(rec["queries"]) > 3:
        drop = min(rec["queries"], key=rec["queries"].get)
        del rec["queries"][drop]
        line = json.dumps(rec, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Optional subset + output override, used by the sf1 baseline-set
    # run (BENCH_sf1.json — VERDICT r8 #5): same harness, same timing
    # policy, different key list and record path, so the two-scale
    # numbers are produced by identical machinery.
    keys_env = os.environ.get("SPARK_GRAFT_BENCH_KEYS")
    bench_keys = (
        [k for k in keys_env.split(",") if k] if keys_env else BENCH_QUERIES
    )
    unknown = [k for k in bench_keys if k not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown bench keys: {unknown}")
    out_name = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    spark = get_spark(
        app_name="mhm-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Silence the benign heartbeat-accumulator race: DAGScheduler logs
    # a full ERROR stack trace ("Failed to update accumulator") when an
    # executor heartbeat loses the race with task completion. It burned
    # the harness's byte-limited stderr tail in BENCH_r05 (VERDICT r5
    # nit #3). FATAL keeps genuinely fatal scheduler output visible;
    # correctness is unaffected (the accumulators are metrics-only).
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.scheduler.DAGScheduler",
            jvm.org.apache.logging.log4j.Level.FATAL,
        )
    except Exception:
        pass  # connect-mode / no py4j: keep default levels

    # Warm the JVM + file listing so per-query numbers measure the query,
    # not session startup: one trivial scan (codegen bootstrap) and one
    # small aggregate (hash-agg + shuffle machinery). No headline query's
    # own plan is pre-run.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .groupBy("n_regionkey")
        .count()
        .count()
    )
    # Python-worker warmup: the PQ/IVF-PQ/multimodal queries run Arrow
    # mapInPandas stages; daemon + worker spawn (~1 s) should be paid
    # here, not inside the first such query's cold number.
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    region.mapInPandas(
        lambda it: it, schema=region.schema
    ).count()

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in bench_keys:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        n = df.count()
        cold[name] = round(time.perf_counter() - t0, 3)
        # Fresh build so caches/persists internal to the query function
        # are re-created too; plan + codegen are now JIT-warm.
        t1 = time.perf_counter()
        QUERIES[name](spark, sf_dir).count()
        first_warm = time.perf_counter() - t1
        reps = [first_warm]
        # Sub-second queries showed 1.7-2.4x run-to-run swings in the
        # r8 round-over-round diff (VERDICT r8 #3) — scheduler jitter,
        # not plan changes — and the band up to ~4 s still bounced
        # ±30-50% on this host (minhash_neardup measured 1.6-3.7 s,
        # untouched criterion queries flapped past 2× on single runs).
        # Report the MEDIAN of 3 warm runs below 4 s so bench_diff
        # ratios and the criterion's worst-query stat are readable;
        # heavier queries are stable at one run and stay cheap.
        if first_warm < 4.0:
            for _ in range(2):
                t = time.perf_counter()
                QUERIES[name](spark, sf_dir).count()
                reps.append(time.perf_counter() - t)
        warm[name] = round(sorted(reps)[len(reps) // 2], 3)
        # Deterministic, scoped release of builder-owned resources
        # (persisted index frames, mkdtemp sink/stream scratch) — the
        # r4 blanket clearCache() hid which queries leaked (ADVICE r4).
        release_query_resources()
        # Drop the per-query DataFrame references and trigger a JVM GC
        # NOW, between queries: localCheckpoint blocks (iterative
        # graph/stream queries) are only released by the ContextCleaner
        # once the Python refs die and a JVM GC runs; without this,
        # blocks from query k inflate queries k+1.. (measured:
        # identical queries drift 7.7 s → 16.4 s over one session as
        # checkpoint blocks accumulate). The GC runs OUTSIDE the timed
        # regions — a periodic-timer GC (spark.cleaner.periodicGC) at
        # short intervals fires MID-query and inflated the criterion
        # set 40%, so cleanup happens at this safe point instead.
        import gc

        gc.collect()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass  # connect-mode: no JVM handle; periodicGC covers it
        print(
            f"# {name}: cold {cold[name]:.3f}s / warm {warm[name]:.3f}s"
            f" ({n} rows)",
            file=sys.stderr,
        )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The frozen criterion baseline (BENCH_r02.json) was recorded at
    # sf0.1 — ratios against it only mean something at that scale.
    sf_val = float(sf) if sf else None
    crit = criterion_summary(warm) if sf_val == 0.1 else None
    full = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(cold.values()), 3),
        "unit": "sec",
        "queries": cold,
        "queries_warm": warm,
        "warm_total": round(sum(warm.values()), 3),
        "sf": sf_val,
        "warm_policy": "median-of-3 when first warm run < 4 s",
        "criterion": crit,
    }
    # Full record (cold + warm maps, 3-dec) for scripts/bench_diff.py.
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), out_name
    )
    with open(local_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    # Final stdout line: byte-bounded by construction — see
    # build_stdout_record. Full maps are in BENCH_local.json above.
    print(build_stdout_record(full["value"], warm, full["sf"], crit))
    spark.stop()


if __name__ == "__main__":
    main()
