"""scripts/scale_probe.py's own lists agree with the committed
SCALE_PROBE.json it writes."""

from __future__ import annotations

import importlib.util
import os

_SP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "scale_probe.py",
)


def _probe_mod():
    spec = importlib.util.spec_from_file_location("scale_probe", _SP)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _repo_json(name: str):
    import json

    path = os.path.join(os.path.dirname(_SP), "..", name)
    with open(path) as f:
        return json.load(f)


def test_heavy_keys_have_committed_probe_results():
    """HEAVY membership alone is not evidence — the committed
    SCALE_PROBE.json must actually hold an sf0.1 AND sf1 result for
    every HEAVY key (VERDICT r6 #1: two r6 keys sat in HEAVY for a
    round with no committed probe, invisible to CI)."""
    probed = _repo_json("SCALE_PROBE.json")
    missing = sorted(
        k
        for k in _probe_mod().HEAVY
        if k not in probed
        or "sf0.1" not in probed[k]
        or "sf1" not in probed[k]
    )
    assert not missing, (
        f"HEAVY keys with no committed sf0.1+sf1 probe result in "
        f"SCALE_PROBE.json — re-run scripts/scale_probe.py and commit: "
        f"{missing}"
    )


def test_superlinear_probes_are_annotated():
    """Any probed key whose sf1 ratio exceeds 10x on 10x data must
    carry a CERTIFIED_COST rationale in scripts/scale_probe.py
    (VERDICT r7 #3) — an expected certification cost is documented,
    an unexpected one fails CI."""
    mod = _probe_mod()
    probes = _repo_json("SCALE_PROBE.json")
    unexplained = sorted(
        k
        for k, rec in probes.items()
        if rec.get("ratio_10x_data", 0) > 10
        and k not in mod.CERTIFIED_COST
    )
    assert not unexplained, (
        f"probe ratios >10x on 10x data with no CERTIFIED_COST "
        f"annotation: {unexplained}"
    )
    stale = sorted(
        k
        for k in mod.CERTIFIED_COST
        if k in probes and probes[k].get("ratio_10x_data", 0) <= 10
    )
    assert not stale, (
        f"CERTIFIED_COST annotations for keys no longer over 10x — "
        f"delete the stale rationale: {stale}"
    )
