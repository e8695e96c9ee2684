"""Guard against package surface that only tests reach.

Every top-level definition of ``insurance_helper_spark`` (function, class
or module-level constant) must be reachable from real callers. Roots are
the modules' non-definition code (imports, registrations, ``__all__``),
every decorated definition (``@register`` queries, UDTFs), and all code
of ``bench.py``, ``__spark_entry__.py``, ``tools/`` and ``perfbench/``.
A definition is reached when reached code names it; its own body is
then scanned in turn. Names count as Python identifiers in code and as
identifier-shaped words inside string literals (so a name inside
f-string SQL counts); comments and docstrings do not count, because a
docstring that mentions a function is not a caller. Matching is by bare
name, so a collision can only keep a definition, never flag one.

A definition nothing reaches is either deleted, together with the tests
that exist only for it, or named in ``SURFACE_ALLOWLIST`` with the
reason it stays.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "insurance_helper_spark"
CALLERS = [
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
    *sorted((REPO / "tools").rglob("*.py")),
    *sorted((REPO / "perfbench").rglob("*.py")),
]

# Definitions that stay whether or not the scan reaches them, keyed by
# dotted module path inside the package, with the reason each one stays.
# Every entry must name an existing definition, so deleting one prunes
# the list.
SURFACE_ALLOWLIST = {
    "__version__": "package metadata",
    "streaming.ops.interval_join": "called by the registered stream_* queries",
    "streaming.ops.enrich_with_dim": "called by the registered stream_enrich_dim query",
    "streaming.ops.corpus_ingest_stream": "driven by tools/stream_scale_probe.py",
    "streaming.ops.drift_gate_stream": "driven by tools/stream_scale_probe.py",
    "streaming.ops.read_ingested_corpus": "read-back half of corpus_ingest_stream",
    "streaming.ops.read_ingested_fingerprints": "read-back half of corpus_ingest_stream",
    "streaming.ops.trending_vocabulary": "read-back half of drift_gate_stream's term partials",
    "streaming.ops.drift_reports": "read-back half of drift_gate_stream",
    "streaming.ops._read_manifest": "compaction-manifest reader behind trending_vocabulary",
    "streaming.ops._live_filter": "live-partition filter behind trending_vocabulary",
    "streaming.ops.read_event_stream": "file-source helper the streaming tests drive operators with",
    "streaming.ops.run_to_memory": "memory-sink helper the streaming tests drain operators into",
    "plans.metrics.with_observation": "observation metrics for the pipeline stages",
    "sources.bucketed.write_bucketed": "bucketed staging route for a partitioned checkpoint",
    "sources.bucketed.colocated_join": "bucketed staging route for a partitioned checkpoint",
    "queries.similarity_queries.pca_plan_sweep_frames": "the pre-collect frames the plan sweep checks",
    "sources.object_store.s3a_conf": "mirrors the reference's object-store surface (SURVEY W3)",
    "sources.object_store.delete": "mirrors the reference's object-store surface (SURVEY W3)",
    "sources.object_store.list_keys": "mirrors the reference's object-store surface (SURVEY W3)",
    "sources.schema_infer.apply_schema": "mirrors the reference's schema-enforcement step (SURVEY F3)",
    "functions.udtfs.register_udtfs": "the documented SQL entry point for the UDTFs",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _is_docstring(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Expr)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
    )


def _names(node: ast.AST) -> set[str]:
    """Identifiers that ``node`` names: Name and Attribute nodes, imported
    names, and identifier-shaped words in string literals. Bare string
    statements (docstrings) are skipped."""
    out: set[str] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if _is_docstring(n):
            continue
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(a.name.rsplit(".", 1)[-1] for a in n.names)
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(_IDENT.findall(n.value))
        stack.extend(ast.iter_child_nodes(n))
    return out


def _definitions_and_roots() -> tuple[dict[str, tuple[str, ast.AST]], set[str]]:
    """Top-level definitions as {dotted key: (bare name, node)}, and the
    names that root code mentions."""
    defs: dict[str, tuple[str, ast.AST]] = {}
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        prefix = "" if module == "__init__" else module.removesuffix(".__init__") + "."
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if stmt.decorator_list:
                    roots |= _names(stmt)
                else:
                    defs[prefix + stmt.name] = (stmt.name, stmt)
                continue
            targets = []
            if isinstance(stmt, ast.Assign):
                targets = stmt.targets
            elif isinstance(stmt, ast.AnnAssign):
                targets = [stmt.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            if names and len(names) == len(targets) and names != ["__all__"]:
                for name in names:
                    defs[prefix + name] = (name, stmt)
            else:
                roots |= _names(stmt)
    for path in CALLERS:
        roots |= _names(ast.parse(path.read_text()))
    return defs, roots


def _unreached(defs: dict[str, tuple[str, ast.AST]], roots: set[str]) -> set[str]:
    reached: set[str] = set()
    seen = set(roots)
    frontier = seen
    while frontier:
        new: set[str] = set()
        for key, (name, node) in defs.items():
            if key not in reached and name in frontier:
                reached.add(key)
                new |= _names(node)
        frontier = new - seen
        seen = seen | frontier
    return set(defs) - reached


def test_every_package_definition_is_reached_or_allowlisted():
    defs, roots = _definitions_and_roots()
    stale = sorted(set(SURFACE_ALLOWLIST) - set(defs))
    assert not stale, f"SURFACE_ALLOWLIST names definitions that no longer exist: {stale}"
    unreached = sorted(_unreached(defs, roots) - set(SURFACE_ALLOWLIST))
    assert not unreached, (
        "top-level package definitions that no package module, tool, perfbench "
        f"file, bench.py or __spark_entry__.py reaches: {unreached} — delete them "
        "with the tests that exist only for them, or add each to "
        "SURFACE_ALLOWLIST with the reason it stays"
    )
