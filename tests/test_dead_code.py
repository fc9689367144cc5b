"""Guards: every top-level definition in `data_quality_spark/` has a caller
outside the tests, and every option takes two values in production.

A definition (function, class, or module-level name) counts as used when
some non-test file reaches it by name (a `Name` load, an attribute, or a
`from ... import`) outside the definition's own body.  Docstrings, comments
and other strings are not references.  A query function registered with
`@_register(...)` is reached through the `QUERIES` registry.  The few
definitions that are kept without such a caller are listed in `EXEMPT`
with the reason.

A parameter with a literal default (`bool`, `int`, `float`, `str`, `bytes`,
`None`, a negative number, or the capitalized name of a module-level
constant), in a function that non-test code calls, is an option: those
calls must pass it at least two distinct values, or it is a constant
spelled as a parameter and the code for any other value is a path that
nothing selects.  A call is matched to a function through the calling
file's own bindings (its imports, or a bare name inside the defining
module); any other attribute call matches nothing.  An omitted argument
counts as the default, and an argument that is not a literal (or a
`*args`/`**kwargs` call) counts as using two values.  Code strings run as
`python -c` are invisible here, so production code calls the package from
ordinary functions.  Options kept without such callers are listed in
`OPTION_EXEMPT` with the reason; every entry in either exemption list
must still exempt something."""

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
}


# Each reason is one of: a safety test needs another value to reach a fault
# or a bound; a test must build an input shape production has to handle; it
# selects a reference feature with a VERDICT row; it is a deployment setting.
OPTION_EXEMPT = {
    "checkpoint.run_with_checkpoint.fail_after_bucket":
        "safety test: the kill/resume fault injection (tests/test_checkpoint.py)",
    "operators.matching.cluster_matches.max_iter":
        "safety test: the loud non-convergence raise (tests/test_matching.py)",
    "sources.avro.write_container.records_per_block":
        "input shape: multi-block container files for read_avro_split (tests/test_avro.py)",
    "operators.matching.mfb_match_merge.timestamp_col":
        "reference feature: the MFB most_recent/most_ancient merge rules (VERDICT §2.5 MFBRecordMerger)",
    "operators.matching.mfb_match_merge.source_col":
        "reference feature: the MFB most_trusted_source merge rule (VERDICT §2.5 MFBRecordMerger)",
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


def _literal(node):
    """A hashable key for `node` when it is a literal (a constant, a negated
    number, or the name of a module-level constant, spelled in capitals),
    else None.  The type is part of the key, so `True` and `1` differ."""
    if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
        inner = _literal(node.operand)
        return inner and ("-",) + inner
    if isinstance(node, ast.Constant):
        return type(node.value).__name__, node.value
    if isinstance(node, ast.Name) and node.id.isupper():
        return "name", node.id
    return None


def _options(fn) -> dict[str, tuple[int | None, tuple]]:
    """{name: (positional index or None, default key)} of `fn`'s parameters
    whose default is a literal."""
    a = fn.args
    positional = a.posonlyargs + a.args
    out = {}
    for arg, d in zip(positional[len(positional) - len(a.defaults):], a.defaults):
        if (key := _literal(d)) is not None:
            out[arg.arg] = (positional.index(arg), key)
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if (key := _literal(d)) is not None:
            out[arg.arg] = (None, key)
    return out


def _passed(call: ast.Call, name: str, index: int | None, default: tuple):
    """The literal key of the value `call` gives parameter `name`, or None
    when it is not a literal."""
    if any(isinstance(a, ast.Starred) for a in call.args) or any(k.arg is None for k in call.keywords):
        return None
    value = next((k.value for k in call.keywords if k.arg == name), None)
    if value is None and index is not None and index < len(call.args):
        value = call.args[index]
    if value is None:
        return default
    return _literal(value)


def _dotted(node) -> list[str] | None:
    """`a.b.c` of a Name/Attribute chain as ["a", "b", "c"], else None."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    return [node.id, *reversed(parts)] if isinstance(node, ast.Name) else None


def _bindings(tree: ast.Module, module: str | None, package: str) -> dict[str, list[str]]:
    """{local name: the package path it is bound to} of the file's imports
    (absolute, and relative when the file is the package's `module`)."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                path = a.name.split(".")
                if path[0] == package:
                    # `import pkg.x as m` binds m to pkg.x; `import pkg.x` binds pkg
                    out[a.asname or package] = path[1:] if a.asname else []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if module is None:
                    continue
                base = module.split(".")[: -node.level]
            elif (node.module or "").split(".")[0] == package:
                base = []
            else:
                continue
            path = base + [p for p in (node.module or "").split(".") if p][0 if node.level else 1:]
            for a in node.names:
                out[a.asname or a.name] = path + [a.name]
    return out


def option_values(root: Path, package: str = PACKAGE, reference_paths=REFERENCE_PATHS) -> dict[str, set]:
    """{`module.function.param`: the literal keys production calls pass it}
    for every literal-default parameter of a function under `root/package`
    that files under `reference_paths` call; a key of None stands for a
    value that is not a literal.  A call reaches a function through the
    calling file's bindings only: a bare name inside the defining module, a
    `from ... import name [as a]`, or `m.name(...)` after `import ...` /
    `from ... import module as m`, relative imports included."""
    pkg = root / package
    functions = {}
    for path in sorted(pkg.rglob("*.py")):
        tree, module = ast.parse(path.read_text()), _module_name(path, pkg)
        fn_types = (ast.FunctionDef, ast.AsyncFunctionDef)
        # a nested function is reached by its bare name inside its module;
        # a top-level function of the same name wins
        nested = [fn for fn in ast.walk(tree) if isinstance(fn, fn_types)]
        top = [fn for _name, _first, _last, fn in _definitions(tree) if isinstance(fn, fn_types)]
        functions.update((f"{module}.{fn.name}", fn) for fn in nested + top)
    calls: dict[str, list[ast.Call]] = {}
    for path in _python_files(root, reference_paths):
        module = _module_name(path, pkg) if path.is_relative_to(pkg) else None
        tree = ast.parse(path.read_text())
        bound = _bindings(tree, module, package)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or (parts := _dotted(node.func)) is None:
                continue
            if parts[0] in bound:
                target = ".".join(bound[parts[0]] + parts[1:])
            elif module is not None and len(parts) == 1:
                target = f"{module}.{parts[0]}"
            else:
                continue
            if target in functions:
                calls.setdefault(target, []).append(node)
    out = {}
    for target, node_calls in calls.items():
        for name, (index, default) in _options(functions[target]).items():
            out[f"{target}.{name}"] = {_passed(c, name, index, default) for c in node_calls}
    return out


def single_valued_options(root: Path, package: str = PACKAGE, reference_paths=REFERENCE_PATHS) -> list[str]:
    """`module.function.param` of every literal-default parameter of a
    function under `root/package` that files under `reference_paths` call,
    where all those calls pass it the same literal value."""
    return sorted(q for q, values in option_values(root, package, reference_paths).items()
                  if None not in values and len(values) < 2)


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
    # an entry must name a definition that exists AND has no production
    # caller: one whose definition gained a caller exempts nothing
    dead = dead_definitions(ROOT)
    stale = [pat for pat in EXEMPT if not fnmatch.filter(dead, pat)]
    assert not stale, f"EXEMPT entries that exempt nothing (gone, or called by production now): {stale}"


def test_option_guard_finds_single_valued_options(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (tmp_path / "tests").mkdir()
    (pkg / "core.py").write_text(
        "LIMIT = 5\n"
        "def both(x, fast=False):\n    return x\n"
        "def only_default(x, fast=False):\n    return x\n"
        "def only_true(x, *, strict=False, n=3):\n    return x\n"
        "def positional(x, exact=True):\n    return x\n"
        "def computed(x, exact=True):\n    return x\n"
        "def uncalled(x, exact=True):\n    return x\n"
        "def only_tests(x, exact=True):\n    return x\n"
        "def ints(x, k=3, lo=-1, cap=LIMIT):\n    return x\n"
        "def strs(x, col='doc_id', mode='a', sep=''):\n    return x\n"
        "def nones(x, path=None, size=None, seed=None):\n    return x\n"
        "def floats(x, t=0.5, w=1.0):\n    return x\n"
    )
    (pkg / "use.py").write_text(
        "import pkg.core as c\n"
        "c.both(1)\nc.both(2, fast=True)\n"
        "c.only_default(1)\nc.only_default(2, fast=False)\n"
        "c.only_true(1, strict=True)\n"
        "c.positional(1, False)\nc.positional(2)\n"
        "c.computed(1, exact=len('ab') > 1)\n"
        # k: 3 and 4; lo: always -1; cap: LIMIT by name both times
        "c.ints(1)\nc.ints(2, k=4, lo=-1, cap=LIMIT)\n"
        # col: always 'doc_id'; mode: 'a' and 'b'; sep: '' and a variable
        "c.strs(1, 'doc_id', sep=c.LIMIT)\nc.strs(2, mode='b')\n"
        # path: None and a str; size: always 8; seed: None twice
        "c.nones(1, size=8)\nc.nones(2, 'out', 8)\n"
        # t: 0.5 and 0.9; w: 1.0 is not 1 (the type is part of the value)
        "c.floats(1, w=1)\nc.floats(2, 0.9)\n"
    )
    (tmp_path / "tests" / "test_core.py").write_text("from pkg.core import only_tests\nonly_tests(1, False)\n")
    assert single_valued_options(tmp_path, "pkg", ("pkg",)) == [
        "core.ints.cap", "core.ints.lo", "core.nones.seed", "core.nones.size",
        "core.only_default.fast", "core.only_true.n", "core.only_true.strict", "core.strs.col",
    ]
    # a file outside the reference paths is not a caller; one inside is
    assert "core.only_tests.exact" in single_valued_options(tmp_path, "pkg", ("pkg", "tests"))


def test_option_guard_resolves_calls_through_imports(tmp_path):
    # two modules define run(x, fast=False); each is called with one value,
    # so pooling the calls by bare name would hide both
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "a.py").write_text("def run(x, fast=False):\n    return x\n")
    (pkg / "b.py").write_text(
        "def run(x, fast=False):\n    return x\n"
        "def helper(x, n=2):\n    return run(x)\n"
    )
    (pkg / "sub" / "c.py").write_text(
        "from ..b import helper as h\n"
        "h(1)\nh(2, n=2)\n"
    )
    (tmp_path / "use.py").write_text(
        "import subprocess\n"
        "from pkg.a import run\n"
        "import pkg.b\n"
        "from pkg import b as mod_b\n"
        "run(1, fast=True)\nrun(2, True)\n"
        "pkg.b.run(3)\nmod_b.run(4, fast=False)\n"
        # an attribute call on anything else reaches no package function
        "subprocess.run(['ls'], check=True)\nsubprocess.run(['ls'])\n"
    )
    assert single_valued_options(tmp_path, "pkg", ("pkg", "use.py")) == [
        "a.run.fast", "b.helper.n", "b.run.fast",
    ]


def test_every_option_takes_two_values():
    found = [q for q in single_valued_options(ROOT) if q not in OPTION_EXEMPT]
    assert not found, (
        f"{len(found)} options receive one value from every production caller; make the "
        f"value a constant, delete the code only other values reached, and delete the "
        f"parameter: {found}"
    )


def test_option_exemptions_name_existing_options():
    assert set(OPTION_EXEMPT) <= set(single_valued_options(ROOT))
