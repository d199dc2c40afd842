"""Guard: every public top-level def and class in ``crawlers_spark/``
(outside the ``queries.py`` registry) has a caller outside its own body
in the package, ``run_crawl.py``, ``__spark_entry__.py``, ``oracle/`` or
the non-test ``perfbench/`` files. Code that only its own tests run is
deleted, not kept; the allowlist names the exceptions and why."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "crawlers_spark"

_STREAM_REASON = "COVERAGE evidence for a SURVEY §2 streaming row; kept until the floor is re-based"
ALLOWLIST = {
    "streaming.micro_batch.stream_events_daily": _STREAM_REASON,
    "streaming.micro_batch.stream_event_sessions": _STREAM_REASON,
    "streaming.micro_batch.stream_view_purchase_join": _STREAM_REASON,
    "streaming.micro_batch.stream_crawl": _STREAM_REASON,
    "streaming.micro_batch.stream_politeness_schedule": _STREAM_REASON,
    "streaming.micro_batch.stream_dedup_exact": _STREAM_REASON,
    "streaming.micro_batch.stream_heavy_hitters": _STREAM_REASON,
    "streaming.micro_batch.stream_circuit_breaker": _STREAM_REASON,
    "streaming.micro_batch.stream_rate_shaper": _STREAM_REASON,
    "operators.similarity.cosine_topk": "exact baseline of the ivf_topk recall test",
}


def _caller_files() -> list[Path]:
    files = [*PKG.rglob("*.py"), ROOT / "run_crawl.py", ROOT / "__spark_entry__.py",
             *(ROOT / "oracle").rglob("*.py")]
    files += [p for p in (ROOT / "perfbench").rglob("*.py") if not p.name.startswith("test_")]
    return files


def _references(tree: ast.AST) -> dict[str, list[int]]:
    """name -> line numbers where it is loaded, used as an attribute or
    imported."""
    refs: dict[str, list[int]] = defaultdict(list)
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id].append(node.lineno)
        elif isinstance(node, ast.Attribute):
            refs[node.attr].append(node.lineno)
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                refs[alias.name].append(node.lineno)
    return refs


def _unreferenced() -> set[str]:
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _caller_files()}
    refs = {p: _references(t) for p, t in trees.items()}
    out = set()
    for path, tree in trees.items():
        if not path.is_relative_to(PKG) or path.name == "queries.py":
            continue
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_"):
                continue
            lo = min([node.lineno, *(d.lineno for d in node.decorator_list)])
            called = any(
                not (p == path and lo <= line <= node.end_lineno)
                for p, r in refs.items() for line in r.get(node.name, ())
            )
            if not called:
                out.add(f"{module}.{node.name}")
    return out


def test_every_public_def_has_a_caller():
    unreferenced = _unreferenced()
    orphans = sorted(unreferenced - ALLOWLIST.keys())
    assert not orphans, (
        f"package code no caller reaches (delete it, or allowlist it with a reason): {orphans}"
    )
    stale = sorted(ALLOWLIST.keys() - unreferenced)
    assert not stale, f"allowlisted names that are gone or now have a caller: {stale}"
