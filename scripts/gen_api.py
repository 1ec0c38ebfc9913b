"""Generate API.md — the public-API index (VERDICT r7 #8): for every
module in the package, each public function/class with its signature
and docstring first line, grouped by subpackage. Pure static walk
(ast — no imports, no Spark session), so it runs in milliseconds and
can't drift from the committed source.

Usage: python scripts/gen_api.py   (writes API.md at the repo root)
A freshness check lives in tests/test_api_doc.py.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "mhm_data_pipelines_spark")

#: Subpackage presentation order + one-line purpose.
SECTIONS = [
    ("sources", "Reading and writing data (lake scan, catalog, formats)"),
    ("operators", "Batch operators (the engine surface)"),
    ("functions", "Column-level expression helpers"),
    ("plans", "Declarative extraction specs (the reference's config DSL)"),
    ("streaming", "Structured Streaming ingestion + stateful operators"),
    ("", "Top-level modules (session, CLI)"),
]

#: Modules never part of the public API surface.
SKIP_MODULES = {"__init__"}


def first_line(doc: str | None) -> str:
    if not doc:
        return ""
    line = doc.strip().splitlines()[0].strip()
    return line


def signature(fn: ast.FunctionDef) -> str:
    a = fn.args
    parts: list[str] = []
    pos = a.posonlyargs + a.args
    n_defaults = len(a.defaults)
    for i, arg in enumerate(pos):
        has_default = i >= len(pos) - n_defaults
        parts.append(arg.arg + ("=…" if has_default else ""))
    if a.vararg:
        parts.append("*" + a.vararg.arg)
    elif a.kwonlyargs:
        parts.append("*")
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        parts.append(arg.arg + ("=…" if d is not None else ""))
    if a.kwarg:
        parts.append("**" + a.kwarg.arg)
    return f"({', '.join(parts)})"


def module_entries(path: str) -> tuple[str, list[str]]:
    """(module docstring first line, markdown rows for public defs)."""
    with open(path) as f:
        tree = ast.parse(f.read())
    rows: list[str] = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.name.startswith("_"):
                continue
            rows.append(
                f"- `{node.name}{signature(node)}` — "
                f"{first_line(ast.get_docstring(node))}"
            )
        elif isinstance(node, ast.ClassDef):
            if node.name.startswith("_"):
                continue
            rows.append(
                f"- `class {node.name}` — "
                f"{first_line(ast.get_docstring(node))}"
            )
            for sub in node.body:
                if (
                    isinstance(sub, ast.FunctionDef)
                    and not sub.name.startswith("_")
                ):
                    rows.append(
                        f"  - `.{sub.name}{signature(sub)}` — "
                        f"{first_line(ast.get_docstring(sub))}"
                    )
    return first_line(ast.get_docstring(tree)), rows


def build() -> str:
    out: list[str] = [
        "# API index",
        "",
        "Generated by `python scripts/gen_api.py` — do not edit by hand.",
        "Every public function/class in `mhm_data_pipelines_spark`, with",
        "signature (defaults elided as `…`) and docstring first line.",
        "Full semantics live in the module docstrings; reference-parity",
        "anchors (`file:line` into the reference repo) live in the",
        "individual docstrings.",
        "",
    ]
    n_mod = n_sym = 0
    for sub, blurb in SECTIONS:
        base = os.path.join(PKG, sub) if sub else PKG
        mods = sorted(
            m
            for m in os.listdir(base)
            if m.endswith(".py") and m[:-3] not in SKIP_MODULES
            and os.path.isfile(os.path.join(base, m))
        )
        if not mods:
            continue
        title = f"mhm_data_pipelines_spark.{sub}" if sub else (
            "mhm_data_pipelines_spark (top level)"
        )
        out += [f"## {title}", "", f"_{blurb}_", ""]
        for m in mods:
            if not sub and m in ("cli.py", "session.py"):
                pass  # top level keeps only these two + benchmarks note
            elif not sub:
                continue
            doc, rows = module_entries(os.path.join(base, m))
            n_mod += 1
            n_sym += len(rows)
            out += [f"### `{sub + '.' if sub else ''}{m[:-3]}` — {doc}", ""]
            out += rows or ["- (no public symbols)"]
            out.append("")
    out += [
        "## mhm_data_pipelines_spark.benchmarks",
        "",
        "_Query registry backing `__spark_entry__.py` and `bench.py`:_",
        "`registry.QUERIES` (key → query builder), `registry.ORACLES`",
        "(key → DuckDB twin SQL), `registry.BENCH_QUERIES` (keys timed",
        "by `bench.py`), all three filled by one",
        "`registry.query(q_<key>, oracle, bench=...)` line per key;",
        "`registry.GATE_PRIORITY` is the driver-verified window.",
        "",
        f"_{n_mod} modules, {n_sym} public symbols._",
        "",
    ]
    return "\n".join(out)


def main() -> None:
    text = build()
    with open(os.path.join(ROOT, "API.md"), "w") as f:
        f.write(text)
    print(f"wrote API.md ({len(text.splitlines())} lines)")


if __name__ == "__main__":
    main()
