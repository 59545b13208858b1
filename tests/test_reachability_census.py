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

The flag census does the same for options, which the name-based census
cannot see behind: every parameter defaulting to True, False or None, and
every string-default parameter that its def's body compares (``==``,
``!=``, ``in``) against a literal, must get at least two values from runner
files and package code (tests do not count). A string default the body
never compares, such as a column name, is not an option. Call sites are matched by name (a bare name, an attribute, or
the class name for ``__init__``); a site gives the constant it passes, the
default when it omits the argument, and any value for a non-constant
argument, ``*args`` or ``**kwargs``. An argument forwarding a parameter of
the enclosing def gives that parameter's values, found the same way. A flag
with one value in use is a constant: delete the other branch.
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


# Flag census: every package option (a parameter whose default is True, False
# or None, or a string default the body compares against a literal) needs
# runners that give it at least two values; an option with one value in use
# is a constant. Test-data writers and the reference twin are out of scope.
FLAG_SCOPE_EXCLUDED = ("fixtures/", "oracle/")

# "<module path under the package>::<qualified def name>(<param>)" -> why
# runners give it one value only.
FLAG_ALLOWLIST = {
    **{
        f"{k}(max_bucket)": "heavy-key guard no query enables; ROADMAP direction 5 replaces it"
        for k in (
            "operators/dedup.py::lsh_candidates",
            "operators/dedup.py::incremental_lsh_candidates",
            "operators/similarity.py::embedding_near_dup_pairs",
        )
    },
    **{
        f"{k}(doc_cte)": "oracle-twin hook that lets test_differential_sql run "
                         "the DuckDB SQL over its own table"
        for k in ("entry_queries_ext2.py::_q28_sql", "entry_queries_ext6.py::_q42_sql")
    },
    "operators/dedup.py::jaccard_pairs(unit)":
        "the quadratic 'word' form is the verification baseline tests compare "
        "the shingle candidate form against",
    "operators/multimodal.py::render_pdf_pages(impl)":
        "sole port of the reference renderer (PyMuPDF); runners here can run "
        "only the 'fixture' rung",
}

ANY = "<any>"  # a non-constant argument, *args or **kwargs


def _literal(node) -> str:
    return repr(node.value) if isinstance(node, ast.Constant) else ANY


def _is_literal(node) -> bool:
    """A constant, or a tuple, list or set of constants."""
    if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        return all(isinstance(e, ast.Constant) for e in node.elts)
    return isinstance(node, ast.Constant)


def _is_option(d: "_Def", p: str, default) -> bool:
    """An on/off flag (default True, False or None), or a string option:
    a string default that the def's own body compares against a literal."""
    if not isinstance(default, ast.Constant):
        return False
    if any(default.value is v for v in (True, False, None)):
        return True
    return isinstance(default.value, str) and p in d.compared


class _Def:
    """One function or method: its parameters with their default
    expressions (None when required), and the ones a call fills by
    position."""

    def __init__(self, node, qualname: str, rel: str | None, is_method: bool):
        a = node.args
        positional = a.posonlyargs + a.args
        defaults = [None] * (len(positional) - len(a.defaults)) + list(a.defaults)
        self.params = {p.arg: d for p, d in zip(positional, defaults)}
        self.params.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults)})
        self.positional = [p.arg for p in positional]
        static = any(getattr(d, "id", None) == "staticmethod" for d in node.decorator_list)
        if is_method and not static:
            self.positional = self.positional[1:]  # self/cls is bound at the call
        self.qualname, self.rel = qualname, rel
        # a parameter assigned in the body no longer forwards what callers passed
        self.rebound = {n.id for n in ast.walk(node)
                        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}
        # parameters the body compares (==, !=, in, not in) against a literal
        self.compared = {
            side.id
            for n in ast.walk(node) if isinstance(n, ast.Compare)
            for left, op, right in zip([n.left] + n.comparators, n.ops, n.comparators)
            if isinstance(op, (ast.Eq, ast.NotEq, ast.In, ast.NotIn))
            for side, other in ((left, right), (right, left))
            if isinstance(side, ast.Name) and _is_literal(other)
        }


def _scan(tree: ast.AST, rel: str | None, defs: list, calls: list) -> None:
    """Collect every def (with the name its callers use) and every call
    (with the stack of defs that encloses it)."""

    def visit(node, stack: list, cls: str | None, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                d = _Def(child, prefix + child.name, rel, cls is not None)
                call_name = cls if cls is not None and child.name == "__init__" else child.name
                defs.append((call_name, d))
                visit(child, stack + [d], None, d.qualname + ".")
            elif isinstance(child, ast.ClassDef):
                visit(child, stack, child.name, prefix + child.name + ".")
            else:
                if isinstance(child, ast.Call):
                    f = child.func
                    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                    if name:
                        calls.append((name, child, stack))
                visit(child, stack, cls, prefix)

    visit(tree, [], None, "")


def flag_census(root: Path = ROOT, runners=RUNNERS, tests=TESTS,
                allowlist=FLAG_ALLOWLIST, exempt=ALLOWLIST):
    """(in-scope flags runners give fewer than two values, mapped to the
    sorted values they do get; allowlist entries that are not in-scope
    flags or that now get two values). Parameters of ``exempt``
    definitions are out of scope."""
    pkg = root / PACKAGE
    test_files = set(_python_files(root, tests))
    runner_files = [p for p in _python_files(root, runners) if p not in test_files]
    defs: list[tuple[str, _Def]] = []
    calls: list[tuple[str, ast.Call, list]] = []
    for path in sorted(pkg.rglob("*.py")):
        _scan(ast.parse(path.read_text()), path.relative_to(pkg).as_posix(), defs, calls)
    for path in runner_files:
        _scan(ast.parse(path.read_text()), None, defs, calls)
    by_name: dict[str, list[_Def]] = {}
    for name, d in defs:
        by_name.setdefault(name, []).append(d)

    sites: dict[int, list] = {}  # id(def) -> [(call, enclosing defs)]
    for name, call, stack in calls:
        for d in by_name.get(name, ()):
            sites.setdefault(id(d), []).append((call, stack))

    def arg_at(call: ast.Call, d: _Def, p: str):
        """The expression passed for ``p`` at ``call``, its default when
        omitted (None when required), or ANY."""
        for kw in call.keywords:
            if kw.arg == p:
                return kw.value
        if p in d.positional:
            i = d.positional.index(p)
            starred = [j for j, a in enumerate(call.args) if isinstance(a, ast.Starred)]
            if starred and starred[0] <= i:
                return ANY
            if i < len(call.args):
                return call.args[i]
        if any(kw.arg is None for kw in call.keywords):
            return ANY
        return d.params[p]

    memo: dict = {}
    previous: dict = {}
    active: set = set()

    def values(d: _Def, p: str) -> set:
        """Every value callers give ``p``; a forwarded parameter of the
        enclosing def contributes that parameter's values."""
        key = (id(d), p)
        if key in memo:
            return memo[key]
        if key in active:  # a forwarding cycle: the previous round's answer
            return previous.get(key, set())
        active.add(key)
        out: set = set()
        for call, stack in sites.get(id(d), ()):
            expr = arg_at(call, d, p)
            if expr is None:  # required and not passed: a same-named def's call
                continue
            outer = isinstance(expr, ast.Name) and next(
                (e for e in reversed(stack) if expr.id in e.params and expr.id not in e.rebound),
                None,
            )
            out |= values(outer, expr.id) if outer else {_literal(expr)}
        active.discard(key)
        memo[key] = out
        return out

    flags = {
        f"{d.rel}::{d.qualname}({p})": (d, p)
        for _, d in defs
        if d.rel is not None and not d.rel.startswith(FLAG_SCOPE_EXCLUDED)
        and f"{d.rel}::{d.qualname.split('.')[0]}" not in exempt
        for p, default in d.params.items()
        if _is_option(d, p, default)
    }
    while True:  # to a fixpoint: forwarding cycles see the previous round
        memo = {}
        got = {k: values(d, p) for k, (d, p) in flags.items()}
        if memo == previous:
            break
        previous = memo
    few = {k: sorted(v) for k, v in sorted(got.items()) if ANY not in v and len(v) < 2}
    flagged = {k: v for k, v in few.items() if k not in allowlist}
    stale = sorted(k for k in allowlist if k not in few)
    return flagged, stale


def test_every_engine_flag_has_runners_for_two_values():
    flagged, stale = flag_census()
    assert not flagged, (
        "flags runners give one value only (or none); make each a constant "
        "and delete the tests that only switch it, or allowlist it with its "
        "reason:\n  " + "\n  ".join(f"{k}: {v}" for k, v in flagged.items())
    )
    assert not stale, f"flag allowlist entries that are gone or that runners now switch: {stale}"


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


def test_flag_census_flags_a_flag_only_a_test_switches(tmp_path):
    """The flag census itself: on a toy tree, a flag only a test switches
    is flagged, one a runner switches through a forwarding wrapper is not
    (while a forwarded flag no runner switches still is), and an allowlist
    entry for a flag runners switch is reported stale. A string default the
    body compares against a literal is an option too (``render``'s branch
    only a test takes is flagged, ``mode``'s two runner values are not),
    and one it never compares, a column name, is out of scope."""
    pkg = tmp_path / PACKAGE / "ops"
    pkg.mkdir(parents=True)
    (tmp_path / PACKAGE / "__init__.py").write_text("")
    (pkg / "__init__.py").write_text("")
    (pkg / "core.py").write_text(
        "def kernel(x, fast=False, tidy=True):\n    return x\n"
        "def wrapper(x, fast=False, tidy=True):\n    return kernel(x, fast=fast, tidy=tidy)\n"
        "def only_tested(x, strict=False):\n    return x\n"
        "def render(x, impl='fast'):\n    return x + 1 if impl == 'slow' else x\n"
        "def mode(x, how='a'):\n    return x if how in ('a', 'b') else None\n"
        "def label(x, col='name'):\n    return (x, col)\n"
    )
    (tmp_path / "jobs").mkdir()
    (tmp_path / "jobs" / "job.py").write_text(
        f"from {PACKAGE}.ops.core import label, mode, only_tested, render, wrapper\n"
        "wrapper(1)\nwrapper(2, fast=True)\nonly_tested(3)\n"
        "render(4)\nmode(5)\nmode(6, how='b')\nlabel(7)\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_x.py").write_text(
        f"from {PACKAGE}.ops.core import only_tested, render\n"
        "only_tested(3, strict=True)\nrender(4, impl='slow')\n"
    )
    kw = dict(runners=("jobs",), tests=("tests",), exempt={})
    flagged = {
        "ops/core.py::kernel(tidy)": ["True"],
        "ops/core.py::only_tested(strict)": ["False"],
        "ops/core.py::render(impl)": ["'fast'"],
        "ops/core.py::wrapper(tidy)": ["True"],
    }
    assert flag_census(tmp_path, allowlist={}, **kw) == (flagged, [])
    stale = {"ops/core.py::kernel(fast)": "switched by a runner"}
    assert flag_census(tmp_path, allowlist=stale, **kw) == (flagged, ["ops/core.py::kernel(fast)"])
