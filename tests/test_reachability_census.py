"""Reachability census: every function and class the package defines must be
reachable by name from something that runs the engine, not only from tests.

The runners are ``__spark_entry__.py`` (the 103 queries), both spark-submit
jobs, the bench harnesses, ``scripts/`` and ``perfbench/``. The census is
name-based and over-approximates: a module-level definition is reached when
reached code names it (as a bare name, an attribute or an import), and a
reached module's top-level statements count as reached code. Nested
functions and methods ride with their enclosing definition.

A definition that tests reach but no runner does is a test-only alternate;
delete it with the tests that check nothing else. The allowlist holds the
deliberate exceptions, each with its reason: an oracle twin, a reference
that tests compare against, or the sole port of a reference capability
that COVERAGE.md names.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "pdf_extraction_ai_agent_spark"
RUNNERS = ("__spark_entry__.py", "bench.py", "bench_extra.py", "jobs", "scripts", "perfbench")
TESTS = ("tests", "perfbench/tests")

# "<module path under the package>::<name>" -> why no runner needs it. An
# entry also covers the helpers only it reaches.
ALLOWLIST = {
    "oracle/reference_extractor.py::extract_tagged_pdf":
        "oracle twin of operators/extract.py::extract_tagged_pdf_text",
    "operators/similarity.py::embedding_near_dup_pairs_allpairs":
        "recall reference: the all-pairs answer q36's blocked kernel is compared against",
    "operators/dedup.py::signature_state_union":
        "reference for incremental dedup: the one-shot set q52's per-run pairs must union to",
    "operators/registry.py::search_files":
        "sole port of reference capability F6 (registry search with LOB aliases)",
    "operators/carrier.py::carrier_from_filename":
        "sole port of reference capability F10 (carrier from filename)",
    "operators/classify.py::classify_lob_from_name":
        "sole port of reference capability C3 (LOB from sheet/file name)",
    "sources/excel.py::format_elapsed":
        "sole port of reference capability U12 (elapsed-time format)",
}


def _python_files(root: Path, rels) -> list[Path]:
    out = []
    for rel in rels:
        p = root / rel
        out.extend([p] if p.is_file() else sorted(p.rglob("*.py")))
    return out


def _names(nodes) -> set[str]:
    """Every identifier the nodes mention: names, attributes, imports."""
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                out.update((n.module or "").split("."))
                out.update(a.name for a in n.names)
            elif isinstance(n, ast.Import):
                for a in n.names:
                    out.update(a.name.split("."))
    return out


def _split_module(tree: ast.Module):
    """(module-level definitions, the other top-level statements)."""
    defs = [s for s in tree.body if isinstance(s, (ast.FunctionDef, ast.ClassDef))]
    return defs, [s for s in tree.body if s not in defs]


def census(root: Path = ROOT, runners=RUNNERS, tests=TESTS, allowlist=ALLOWLIST):
    """(package definitions no runner reaches, mapped to "tests" when only
    tests reach them and to "nothing" otherwise; allowlist entries that
    are undefined or runner-reached). What an allowlist entry reaches
    counts as reached."""
    pkg = root / PACKAGE
    test_files = set(_python_files(root, tests))
    runner_files = [p for p in _python_files(root, runners) if p not in test_files]

    modules = {}  # path under the package -> (defs, other top-level statements)
    for path in sorted(pkg.rglob("*.py")):
        modules[path.relative_to(pkg).as_posix()] = _split_module(ast.parse(path.read_text()))
    defined = {f"{rel}::{d.name}" for rel, (defs, _) in modules.items() for d in defs}
    by_name: dict[str, list[tuple[str, ast.AST]]] = {}
    by_module_name: dict[str, list[str]] = {}
    for rel, (defs, _) in modules.items():
        for d in defs:
            by_name.setdefault(d.name, []).append((rel, d))
        parts = rel[: -len(".py")].split("/")
        stem = parts[-2] if parts[-1] == "__init__" and len(parts) > 1 else parts[-1]
        by_module_name.setdefault(stem, []).append(rel)

    def reach(work: list[str]) -> set[str]:
        hit: set[str] = set()
        seen_names: set[str] = set()
        seen_mods: set[str] = set()

        def enter(rel: str) -> None:
            # a module runs its top level, and its packages' __init__ first
            parts = rel.split("/")
            chain = ["/".join(parts[:i] + ["__init__.py"]) for i in range(len(parts))]
            for m in chain + [rel]:
                if m in modules and m not in seen_mods:
                    seen_mods.add(m)
                    work.extend(_names(modules[m][1]))

        while work:
            n = work.pop()
            if n in seen_names:
                continue
            seen_names.add(n)
            for rel in by_module_name.get(n, ()):
                enter(rel)
            for rel, d in by_name.get(n, ()):
                hit.add(f"{rel}::{d.name}")
                enter(rel)
                work.extend(_names([d]))
        return hit

    def names_in(files) -> list[str]:
        return [n for f in files for n in _names([ast.parse(f.read_text())])]

    from_runners = reach(names_in(runner_files))
    from_allowlist = reach([k.split("::")[1] for k in allowlist])
    from_tests = reach(names_in(sorted(test_files)))
    unreached = {
        key: "tests" if key in from_tests else "nothing"
        for key in sorted(defined - from_runners - from_allowlist)
    }
    stale = sorted(k for k in allowlist if k not in defined or k in from_runners)
    return unreached, stale


def test_every_package_definition_is_reachable_from_a_runner():
    unreached, stale = census()
    assert not unreached, (
        "package definitions no runner reaches; delete them with the tests "
        "that check nothing else, or allowlist a twin/reference with its "
        "reason:\n  " + "\n  ".join(f"{k} (reached from {v})" for k, v in unreached.items())
    )
    assert not stale, f"allowlist entries that are gone or that a runner reaches: {stale}"


def test_census_flags_a_function_only_a_test_calls(tmp_path):
    """The census itself: on a toy tree, a package function only a test
    calls is flagged, one a runner reaches through another module is not,
    and one nothing names is flagged as reached from nothing."""
    pkg = tmp_path / PACKAGE / "ops"
    pkg.mkdir(parents=True)
    (tmp_path / PACKAGE / "__init__.py").write_text("")
    (pkg / "__init__.py").write_text("")
    (pkg / "core.py").write_text(
        "from .helpers import used_helper\n"
        "TABLE = {'k': lambda: used_helper()}\n"
        "def run():\n    return TABLE\n"
        "def only_tested():\n    return 1\n"
        "def dead():\n    return 2\n"
    )
    (pkg / "helpers.py").write_text("def used_helper():\n    return 0\n")
    (tmp_path / "jobs").mkdir()
    (tmp_path / "jobs" / "job.py").write_text(
        f"from {PACKAGE}.ops.core import run\nrun()\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_x.py").write_text(
        f"from {PACKAGE}.ops.core import only_tested\n"
    )
    got = census(tmp_path, runners=("jobs",), tests=("tests",), allowlist={})
    assert got == ({"ops/core.py::dead": "nothing", "ops/core.py::only_tested": "tests"}, [])
    allowed = {"ops/core.py::only_tested": "a reference", "ops/core.py::run": "stale"}
    got = census(tmp_path, runners=("jobs",), tests=("tests",), allowlist=allowed)
    assert got == ({"ops/core.py::dead": "nothing"}, ["ops/core.py::run"])
