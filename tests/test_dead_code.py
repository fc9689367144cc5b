"""Guards: every top-level definition in `data_quality_spark/` has a caller
outside the tests, and every `bool` option is used both ways.

A definition (function, class, or module-level name) counts as used when
some non-test file reaches it by name (a `Name` load, an attribute, or a
`from ... import`) outside the definition's own body.  Docstrings, comments
and other strings are not references.  A query function registered with
`@_register(...)` is reached through the `QUERIES` registry.  The few
definitions that are kept without such a caller are listed in `EXEMPT`
with the reason.

A parameter with a `bool` default, in a function that non-test code calls,
is an option: those calls must pass it at least two distinct values, or
the branch for the other value is a second path that nothing selects.  Calls are
matched by function name; an omitted argument counts as the default, and
an argument that is not a literal (or a `*args`/`**kwargs` call) counts as
using both values.  Options kept without such callers are listed in
`OPTION_EXEMPT` with the reason."""

import ast
import fnmatch
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "data_quality_spark"
# where production code lives: the package, the bench scripts, the
# maintenance scripts, the benchmark harness and the driver entry point
REFERENCE_PATHS = (PACKAGE, "bench", "bench.py", "scripts", "perfbench", "__spark_entry__.py")
# decorators that put the function into a registry
REGISTRARS = {"_register"}

EXEMPT = {
    "schema.gen_rows_local": "test fixture: the local twin of synthesize_pages that tests build pages with",
    "checkpoint.load_progress": "the reader for bucket commits (the format write side is production)",
    "streaming.*": "streaming dedup and sessionization, VERDICT §2.11; a contract row is a carried ROADMAP item",
    "sources.avro.read_avro_split": "own VERDICT §2.10 row (splittable Avro reader)",
    "sources.readers.read_csv_inferred": "own VERDICT §2.10 row (CSV with schema inference)",
    "operators.htmltext.extract_text_str": "Python reference the JVM extraction cascade is compared against",
    "scrub.scrub_str": "Python reference the JVM scrub cascade is compared against",
    "analyze.analyze_text": "perfbench reads the UDF's metrics by this name",
    "functions.textstats.compute_features_py": "perfbench times this kernel",
    "langid._get_model": "perfbench times this kernel",
    "perplexity._get_lm": "perfbench times this kernel",
    "perplexity._MAX_CHARS": "perfbench times this kernel",
    "operators.matching.cluster_matches": "perfbench patches it to count connected-components jobs",
    "operators.pagerank.pagerank_fixed": "perfbench patches it to count PageRank jobs",
}


OPTION_EXEMPT = {
    "operators.multimodal.extract_media_features.use_real_decoder":
        "library-gated swap-in for a real image decoder; ROADMAP leaves library-gated paths out of scope",
}


def _module_name(path: Path, package: Path) -> str:
    rel = path.relative_to(package).with_suffix("")
    return ".".join(rel.parts)


def _definitions(tree: ast.Module):
    """(name, first line, last line, node) of each module-level definition,
    looking inside top-level `if`/`try`/`with` blocks."""
    stack = list(tree.body)
    while stack:
        node = stack.pop(0)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno, node.end_lineno, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node.lineno, node.end_lineno, node
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            for field in ("body", "orelse", "finalbody", "handlers"):
                for child in getattr(node, field, []):
                    stack.extend(child.body if isinstance(child, ast.ExceptHandler) else [child])


def _references(tree: ast.AST):
    """(name, line) of every by-name reference in `tree`."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                yield alias.name, node.lineno


def _registered(node) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id in REGISTRARS:
            return True
    return False


def _python_files(root: Path, paths) -> list[Path]:
    files = []
    for p in paths:
        p = root / p
        if p.is_dir():
            files.extend(sorted(p.rglob("*.py")))
        elif p.is_file():
            files.append(p)
    return files


def dead_definitions(root: Path, package: str = PACKAGE, reference_paths=REFERENCE_PATHS) -> list[str]:
    """`module.name` of every top-level definition under `root/package` that
    no file under `reference_paths` references outside its own body."""
    pkg = root / package
    refs: dict[str, list[tuple[Path, int]]] = {}
    for path in _python_files(root, reference_paths):
        for name, line in _references(ast.parse(path.read_text())):
            refs.setdefault(name, []).append((path, line))
    dead = []
    for path in sorted(pkg.rglob("*.py")):
        for name, first, last, node in _definitions(ast.parse(path.read_text())):
            if (name.startswith("__") and name.endswith("__")) or _registered(node):
                continue
            if not any(p != path or not first <= line <= last for p, line in refs.get(name, [])):
                dead.append(f"{_module_name(path, pkg)}.{name}")
    return sorted(set(dead))


def _exempt(qualname: str) -> bool:
    return any(fnmatch.fnmatchcase(qualname, pat) for pat in EXEMPT)


def _bool_options(fn) -> dict[str, tuple[int | None, bool]]:
    """{name: (positional index or None, default)} of `fn`'s parameters
    whose default is a `bool` literal."""
    a = fn.args
    positional = a.posonlyargs + a.args
    out = {}
    for arg, d in zip(positional[len(positional) - len(a.defaults):], a.defaults):
        if isinstance(d, ast.Constant) and isinstance(d.value, bool):
            out[arg.arg] = (positional.index(arg), d.value)
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if isinstance(d, ast.Constant) and isinstance(d.value, bool):
            out[arg.arg] = (None, d.value)
    return out


def _passed(call: ast.Call, name: str, index: int | None, default: bool):
    """The literal value `call` gives parameter `name`, or None when it is
    not a literal."""
    if any(isinstance(a, ast.Starred) for a in call.args) or any(k.arg is None for k in call.keywords):
        return None
    value = next((k.value for k in call.keywords if k.arg == name), None)
    if value is None and index is not None and index < len(call.args):
        value = call.args[index]
    if value is None:
        return default
    return value.value if isinstance(value, ast.Constant) else None


def single_valued_options(root: Path, package: str = PACKAGE, reference_paths=REFERENCE_PATHS) -> list[str]:
    """`module.function.param` of every `bool`-default parameter of a
    function under `root/package` that files under `reference_paths` call,
    where all those calls pass it the same literal value."""
    pkg = root / package
    calls: dict[str, list[ast.Call]] = {}
    for path in _python_files(root, reference_paths):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(node)
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or fn.name not in calls:
                continue
            for name, (index, default) in _bool_options(fn).items():
                values = {_passed(c, name, index, default) for c in calls[fn.name]}
                if None not in values and len(values) < 2:
                    found.append(f"{_module_name(path, pkg)}.{fn.name}.{name}")
    return sorted(found)


def test_guard_finds_unreferenced_definitions(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (tmp_path / "tests").mkdir()
    (pkg / "core.py").write_text(
        '"""Mentions unused_doc in the docstring."""\n'
        "LIMIT = 3\n"
        "UNUSED_CONST = 4\n"
        "def used():\n"
        "    return LIMIT\n"
        "def unused_doc():\n"
        '    """unused_doc calls itself."""\n'
        "    return unused_doc()  # unused_doc\n"
        "def only_tests():\n"
        "    return 1\n"
        "def via_attr():\n"
        "    return 2\n"
        "@_register('q')\n"
        "def registered_query(spark, sf):\n"
        "    return used()\n"
        "if True:\n"
        "    def in_if():\n"
        "        return 'via_attr'\n"
    )
    (pkg / "sub" / "use.py").write_text("from pkg.core import used\nimport pkg.core as c\nc.via_attr()\n")
    (tmp_path / "tests" / "test_core.py").write_text("from pkg.core import only_tests, unused_doc\n")
    assert dead_definitions(tmp_path, "pkg", ("pkg",)) == [
        "core.UNUSED_CONST", "core.in_if", "core.only_tests", "core.unused_doc",
    ]
    # a file outside the reference paths is not a caller; one inside is
    assert "core.only_tests" not in dead_definitions(tmp_path, "pkg", ("pkg", "tests"))


def test_every_definition_has_a_production_caller():
    dead = [q for q in dead_definitions(ROOT) if not _exempt(q)]
    assert not dead, (
        f"{len(dead)} top-level definitions have no caller outside the tests; delete them "
        f"(and their tests) or give them a production caller: {dead}"
    )


def test_exemptions_name_existing_definitions():
    pkg = ROOT / PACKAGE
    defined = {
        f"{_module_name(path, pkg)}.{name}"
        for path in pkg.rglob("*.py")
        for name, *_ in _definitions(ast.parse(path.read_text()))
    }
    missing = [pat for pat in EXEMPT if not fnmatch.filter(defined, pat)]
    assert not missing, f"EXEMPT names definitions that no longer exist: {missing}"


def test_option_guard_finds_single_valued_options(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (tmp_path / "tests").mkdir()
    (pkg / "core.py").write_text(
        "def both(x, fast=False):\n    return x\n"
        "def only_default(x, fast=False):\n    return x\n"
        "def only_true(x, *, strict=False, n=3):\n    return x\n"
        "def positional(x, exact=True):\n    return x\n"
        "def computed(x, exact=True):\n    return x\n"
        "def uncalled(x, exact=True):\n    return x\n"
        "def only_tests(x, exact=True):\n    return x\n"
    )
    (pkg / "use.py").write_text(
        "import pkg.core as c\n"
        "c.both(1)\nc.both(2, fast=True)\n"
        "c.only_default(1)\nc.only_default(2, fast=False)\n"
        "c.only_true(1, strict=True)\n"
        "c.positional(1, False)\nc.positional(2)\n"
        "c.computed(1, exact=len('ab') > 1)\n"
    )
    (tmp_path / "tests" / "test_core.py").write_text("from pkg.core import only_tests\nonly_tests(1, False)\n")
    assert single_valued_options(tmp_path, "pkg", ("pkg",)) == [
        "core.only_default.fast", "core.only_true.strict",
    ]
    # a file outside the reference paths is not a caller; one inside is
    assert single_valued_options(tmp_path, "pkg", ("pkg", "tests")) == [
        "core.only_default.fast", "core.only_tests.exact", "core.only_true.strict",
    ]


def test_every_bool_option_is_used_both_ways():
    found = [q for q in single_valued_options(ROOT) if q not in OPTION_EXEMPT]
    assert not found, (
        f"{len(found)} bool options receive one value from every production caller; make the "
        f"chosen behaviour the only one and delete the parameter: {found}"
    )


def test_option_exemptions_name_existing_options():
    assert set(OPTION_EXEMPT) <= set(single_valued_options(ROOT))
