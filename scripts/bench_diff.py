"""Bench record diff: counters first, then walls.

Usage: python scripts/bench_diff.py BENCH_OLD.json BENCH_NEW.json
       [--threshold 1.3] [--metric warm|cold]
       python scripts/bench_diff.py BENCH_NEW.json
       (one file: compares against the FROZEN baseline — BENCH_r02.json,
        the per-query table written into BASELINE.md)

Lists every key whose ``counters`` (jobs, stages, tasks, shuffle and
spill bytes; see bench.py) differ between the two records — counters
reproduce exactly, so any difference is a plan or data change. Then
compares per-key walls and prints movers sorted by ratio, from the warm
map ("queries_warm") when both files have it, else the cold map
("queries"). Exit code 1 when any key's wall regresses past the
threshold (so a CI step can gate on it); counter differences are
reported, not gated.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def read(path: str) -> dict:
    with open(path) as f:
        raw = f.read().strip()
    try:
        doc = json.loads(raw)  # a bench.py record or pretty-printed JSON
    except json.JSONDecodeError:
        doc = json.loads(raw.splitlines()[-1])  # JSON line after noise
    if "queries" not in doc and isinstance(doc.get("parsed"), dict):
        doc = doc["parsed"]  # driver-wrapped BENCH_r{N}.json
    return doc


def walls(doc: dict, metric: str) -> dict[str, float]:
    if metric == "warm":
        return doc.get("queries_warm") or doc["queries"]
    return doc["queries"]


def counter_changes(old: dict, new: dict) -> list[str]:
    """One line per key, present in both ``counters`` maps, whose
    counters differ: ``key: field old -> new, ...``."""
    lines = []
    for key in sorted(set(old) & set(new)):
        o, n = old[key], new[key]
        moved = [
            f"{f} {o.get(f)} -> {n.get(f)}"
            for f in sorted(set(o) | set(n))
            if o.get(f) != n.get(f)
        ]
        if moved:
            lines.append(f"{key}: " + ", ".join(moved))
    return lines


#: The written baseline (BASELINE.md "Frozen per-query baseline"):
#: round-2 bench at sf0.1, local[32]. One-file invocations diff vs this.
FROZEN_BASELINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCH_r02.json",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("files", nargs="+", metavar="BENCH.json",
                    help="OLD NEW, or just NEW (diffs vs frozen baseline)")
    ap.add_argument("--threshold", type=float, default=1.3)
    ap.add_argument("--metric", choices=["warm", "cold"], default="warm")
    ap.add_argument(
        "--min-sec",
        type=float,
        default=0.2,
        help="ignore queries faster than this in BOTH rounds (noise floor)",
    )
    args = ap.parse_args()
    if len(args.files) == 1:
        old_path, new_path = FROZEN_BASELINE, args.files[0]
        print(f"(diffing against frozen baseline {old_path})")
    elif len(args.files) == 2:
        old_path, new_path = args.files
    else:
        ap.error("expected one or two BENCH files")

    old_doc, new_doc = read(old_path), read(new_path)
    old_c, new_c = old_doc.get("counters", {}), new_doc.get("counters", {})
    changed = counter_changes(old_c, new_c)
    print(
        f"counters: {len(changed)} of {len(set(old_c) & set(new_c))} "
        f"shared keys differ"
    )
    for line in changed:
        print(f"  {line}")

    old = walls(old_doc, args.metric)
    new = walls(new_doc, args.metric)

    rows = []
    for name in sorted(set(old) & set(new)):
        o, n = old[name], new[name]
        if max(o, n) < args.min_sec:
            continue
        rows.append((n / o if o else float("inf"), name, o, n))
    rows.sort(reverse=True)

    regressed = [r for r in rows if r[0] >= args.threshold]
    improved = [r for r in rows if r[0] <= 1 / args.threshold]
    print(f"{'query':<28} {'old':>8} {'new':>8} {'ratio':>7}")
    for ratio, name, o, n in rows:
        flag = " <-- REGRESSED" if ratio >= args.threshold else (
            " (improved)" if ratio <= 1 / args.threshold else ""
        )
        print(f"{name:<28} {o:>8.3f} {n:>8.3f} {ratio:>6.2f}x{flag}")
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    if only_old:
        print(f"dropped queries: {', '.join(only_old)}")
    if only_new:
        print(f"new queries: {', '.join(only_new)}")
    print(
        f"summary: {len(regressed)} regressed >= {args.threshold}x, "
        f"{len(improved)} improved, {len(rows)} compared "
        f"({args.metric} times)"
    )
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
