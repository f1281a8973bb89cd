"""Every module of the package is reachable from a declared surface,
and every top-level def of the package is named somewhere.

The declared surfaces are the query contract (``__spark_entry__.py``),
the bench CLI (``bench.py``), the batch runner CLI (``runner.py``) and the
``streaming``/``sinks`` exports. A module that only tests import is dead
weight: wire it into a surface or delete it with its tests. The walk reads
``import``/``from`` statements with ``ast`` (including those inside
functions) and never imports anything, so it needs no Spark.

A top-level def that no ``.py`` file of the repo names — as an
identifier, an attribute, an import or a string literal (registries and
``getattr`` lookups name functions by string) — is dead code. The def
statement itself does not count; a use from tests does. A def that
only tests name must be listed in ``TEST_ONLY``, and that list only
shrinks.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "mini_data_platform_spark"

ROOTS = [
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / PACKAGE / "runner.py",
    REPO / PACKAGE / "streaming" / "__init__.py",
    REPO / PACKAGE / "sinks" / "__init__.py",
]


def _module_file(name):
    """The package file that module ``name`` loads, or None."""
    if name != PACKAGE and not name.startswith(PACKAGE + "."):
        return None
    base = REPO.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported_names(path):
    """Dotted module names ``path`` imports, with every parent package
    (importing ``a.b.c`` runs ``a`` and ``a.b`` first) and, for ``from m
    import x``, the candidate submodule ``m.x``."""
    here = list(path.parent.relative_to(REPO).parts)  # relative-import base
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            found = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = here[: len(here) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            found = [mod] + [f"{mod}.{alias.name}" for alias in node.names]
        else:
            continue
        for name in found:
            parts = name.split(".")
            names.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return names


def reachable_files():
    seen = set()
    todo = list(ROOTS)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(path):
            target = _module_file(name)
            if target is not None and target not in seen:
                todo.append(target)
    return seen


def test_every_package_module_is_reachable_from_a_declared_surface():
    reached = reachable_files()
    orphans = sorted(
        str(p.relative_to(REPO))
        for p in (REPO / PACKAGE).rglob("*.py")
        if p not in reached
    )
    assert not orphans, f"modules no declared surface imports: {orphans}"


def _named(tree):
    """Every name ``tree`` uses: identifiers, attributes, imported names
    and string literals."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
            names.add(node.asname or node.name)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names.add(node.value)
    return names


def _trees():
    return {
        p: ast.parse(p.read_text(), filename=str(p))
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    }


def _package_defs(trees, named):
    """``path:def`` of every package top-level def not in ``named``."""
    return sorted(
        f"{p.relative_to(REPO)}:{node.name}"
        for p, tree in trees.items()
        if p.is_relative_to(REPO / PACKAGE)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name not in named
    )


def test_every_package_def_is_named_somewhere():
    trees = _trees()
    named = set().union(*(_named(t) for t in trees.values()))
    unnamed = _package_defs(trees, named)
    assert not unnamed, f"top-level defs no file names: {unnamed}"


#: Package top-level defs that only files under ``tests/`` name. The list
#: may only shrink: wire such a def into a surface, or delete it with its
#: tests, and take it off the list.
TEST_ONLY = {
    "mini_data_platform_spark/functions/text.py:fingerprint",
    "mini_data_platform_spark/metrics.py:start_metrics_server",
    "mini_data_platform_spark/operators/bloomjoin.py:build_bloom_words",
    "mini_data_platform_spark/operators/bloomjoin.py:might_contain",
    "mini_data_platform_spark/operators/clean.py:clean_sales",
    "mini_data_platform_spark/operators/incremental.py:compact_index",
    "mini_data_platform_spark/operators/incremental.py:vacuum_index",
    "mini_data_platform_spark/operators/invindex.py:invindex_add",
    "mini_data_platform_spark/operators/ivm.py:compact_view",
    "mini_data_platform_spark/operators/ivm.py:vacuum_view",
    "mini_data_platform_spark/operators/mergetable.py:compact_table",
    "mini_data_platform_spark/operators/mergetable.py:vacuum_table",
    "mini_data_platform_spark/operators/multimodal.py:binary_stats",
    "mini_data_platform_spark/operators/multimodal.py:fake_resizer",
    "mini_data_platform_spark/operators/multimodal.py:resize_images",
    "mini_data_platform_spark/operators/pq.py:ivfpq_index_add",
    "mini_data_platform_spark/operators/pq.py:pq_encode_expr",
    "mini_data_platform_spark/operators/pq.py:pq_reconstruct_expr",
    "mini_data_platform_spark/operators/similarity.py:centroids_to_frame",
    "mini_data_platform_spark/operators/sketch.py:cms_estimate",
    "mini_data_platform_spark/operators/sketch.py:kmv_merge",
    "mini_data_platform_spark/runner.py:reprocess_failed",
    "mini_data_platform_spark/sinks/layout.py:read_day_partitioned",
    "mini_data_platform_spark/sinks/layout.py:read_zordered",
    "mini_data_platform_spark/sinks/layout.py:update_bloom_manifest",
    "mini_data_platform_spark/sinks/layout.py:write_day_partitioned",
    "mini_data_platform_spark/sinks/layout.py:write_zordered",
    "mini_data_platform_spark/streaming/ivm.py:maintain_histogram_stream",
    "mini_data_platform_spark/streaming/neardup.py:export_index_seed",
}


def test_test_only_defs_only_shrink():
    trees = _trees()
    in_tests, outside = set(), set()
    for p, tree in trees.items():
        (in_tests if p.is_relative_to(REPO / "tests") else outside).update(
            _named(tree)
        )
    test_only = {
        d for d in _package_defs(trees, outside)
        if d.rsplit(":", 1)[1] in in_tests
    }
    new = sorted(test_only - TEST_ONLY)
    stale = sorted(TEST_ONLY - test_only)
    assert not new, f"defs only tests name, not in TEST_ONLY: {new}"
    assert not stale, f"TEST_ONLY defs no longer test-only: {stale}"
