"""Every module and every top-level definition under ``igtdetect_spark/``
is reached from a program that runs it, so code that only tests call
cannot build up in the package; every defaulted parameter in it is set by
some call and every ``PipelineConfig`` field by an ini option or a
program, so options that nothing selects cannot build up either; and
every name a package module imports is used.

The module walk follows ``import`` / ``from`` statements (function-local
ones too) with ``ast``, and counts a string constant of the form
``"igtdetect_spark.<module>"`` as an edge: that is how a module is named
to Spark (``spark.python.daemon.module``) or to ``importlib``. The
definition walk resolves each name and ``module.attr`` reference through
the file's imports to the definition it names. The options check
matches calls to definitions by name. Nothing is imported and no Spark
session is started.
"""

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "igtdetect_spark"
ENTRY_POINTS = (
    "bench.py",
    "__spark_entry__.py",
    f"{PKG}/cli.py",
    f"{PKG}/entry_queries.py",
    "perfbench/*.py",
    "tools/*.py",
)
_NAMED_MODULE = re.compile(rf"{PKG}(\.\w+)+")


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _module_path(name: str) -> Path | None:
    base = REPO.joinpath(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _repo_files(*skip: str) -> list[Path]:
    """Every ``.py`` file in the repo outside hidden directories and the
    directories named in ``skip``."""
    return [
        p for p in REPO.rglob("*.py")
        if not any(
            part.startswith(".") or part in skip
            for part in p.relative_to(REPO).parts
        )
    ]


def _from_module(node: ast.ImportFrom, path: Path) -> str:
    """The dotted module a ``from`` import in ``path`` reads from."""
    if not node.level:
        return node.module
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    parts = package.split(".")
    parts = parts[: len(parts) - (node.level - 1)]
    return ".".join(parts + ([node.module] if node.module else []))


def _named(path: Path):
    """Dotted names ``path`` imports or names; a ``from`` import yields the
    package and each ``package.name``, since a name may be a submodule."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = _from_module(node, path)
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if _NAMED_MODULE.fullmatch(node.value):
                yield node.value


def _reached() -> set[Path]:
    todo = [p for g in ENTRY_POINTS for p in sorted(REPO.glob(g))]
    seen = set(todo)
    while todo:
        for dotted in _named(todo.pop()):
            # importing a.b.c imports a and a.b too; a name that is an
            # attribute, not a module, resolves to no path and stops here
            parts = dotted.split(".")
            for i in range(1, len(parts) + 1):
                p = _module_path(".".join(parts[:i]))
                if p is not None and p not in seen:
                    seen.add(p)
                    todo.append(p)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    reached = _reached()
    unreached = sorted(
        _module_name(p) for p in (REPO / PKG).rglob("*.py") if p not in reached
    )
    assert not unreached, (
        "modules no entry point imports (delete them, or import them from "
        f"the code that needs them): {unreached}"
    )


# Defaulted parameters no call has to set, each with its reason.
def _exempt(rel: str, fn: str, arg: str) -> bool:
    # the frozen oracle SQL text is spelled from these helpers' parameters
    if rel == f"{PKG}/entry_queries.py" and fn.startswith("_sql_"):
        return True
    # reference implementations the tests compare against
    if rel.startswith(f"{PKG}/oracle/"):
        return True
    # the console entry point reads sys.argv when argv is not given
    if (rel, fn, arg) == (f"{PKG}/cli.py", "main", "argv"):
        return True
    # the bucketed plan is the only hot-key cure for as-of joins, kept for
    # skewed inputs the benchmark does not have
    return (rel, fn, arg) == (f"{PKG}/operators/asof.py", "asof_join",
                              "bucket_width_sec")


def _callee(func) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls():
    """name -> (keywords passed, most positionals passed, takes-all):
    takes-all when some call forwards ``*args`` or ``**kwargs``."""
    kws, npos, takes_all = {}, {}, set()
    for path in _repo_files():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            name, args = _callee(node.func), node.args
            if name == "partial" and args:
                name, args = _callee(args[0]), args[1:]
            if name is None:
                continue
            for k in node.keywords:
                if k.arg is None:
                    takes_all.add(name)
                else:
                    kws.setdefault(name, set()).add(k.arg)
            if any(isinstance(a, ast.Starred) for a in args):
                takes_all.add(name)
            npos[name] = max(npos.get(name, 0), len(args))
    return kws, npos, takes_all


def _defaulted(tree):
    """(lineno, name callers use, function name, positional index or None,
    parameter) for every defaulted parameter of every function and method."""
    def visit(node, cls):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.ClassDef):
                yield from visit(ch, ch.name)
            elif isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from params(ch, cls)
                yield from visit(ch, None)
            else:
                yield from visit(ch, cls)

    def params(fn, cls):
        a = fn.args
        pos = a.posonlyargs + a.args
        static = any(
            isinstance(d, ast.Name) and d.id == "staticmethod"
            for d in fn.decorator_list
        )
        # a method's callers do not pass self/cls
        off = 1 if cls is not None and not static else 0
        called = cls if cls is not None and fn.name == "__init__" else fn.name
        first = len(pos) - len(a.defaults)
        for i, x in enumerate(pos[first:], first):
            yield fn.lineno, called, fn.name, i - off, x.arg
        for x, d in zip(a.kwonlyargs, a.kw_defaults):
            if d is not None:
                yield fn.lineno, called, fn.name, None, x.arg

    yield from visit(tree, None)


def test_every_defaulted_parameter_is_set_by_some_call():
    kws, npos, takes_all = _calls()
    unset = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        for line, called, fn, i, arg in _defaulted(tree):
            if (
                called in takes_all
                or arg in kws.get(called, ())
                or (i is not None and npos.get(called, 0) > i)
                or _exempt(rel, fn, arg)
            ):
                continue
            unset.append(f"{rel}:{line} {fn}({arg})")
    assert not unset, (
        f"{len(unset)} defaulted parameters no call sets (make each a "
        "constant in the body, or set it where it is needed):\n"
        + "\n".join(unset)
    )


# -- definitions -------------------------------------------------------------

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _imports(path: Path, tree) -> dict[str, set[str]]:
    """local name -> dotted names it may be bound to, from every import in
    the file (function-local ones too)."""
    out: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                local = a.asname or a.name.split(".")[0]
                out.setdefault(local, set()).add(a.name if a.asname else local)
        elif isinstance(node, ast.ImportFrom):
            base = _from_module(node, path)
            for a in node.names:
                out.setdefault(a.asname or a.name, set()).add(
                    f"{base}.{a.name}"
                )
    return out


class _Program:
    """Top-level definitions of the package and of the programs that run
    it, with each reference resolved through the imports to the
    definition it names."""

    def __init__(self, files):
        self.defs, self.imports, self.trees = {}, {}, {}
        for path in files:
            mod = _module_name(path)
            tree = ast.parse(path.read_text(), str(path))
            self.trees[mod] = tree
            self.defs[mod] = {
                n.name: n for n in tree.body if isinstance(n, _DEFS)
            }
            self.imports[mod] = _imports(path, tree)

    def resolve(self, dotted: str, depth: int = 0):
        """(module, definition) pairs a dotted name may denote."""
        parts = dotted.split(".")
        for i in range(len(parts) - 1, 0, -1):
            mod = ".".join(parts[:i])
            if mod not in self.defs:
                continue
            name, rest = parts[i], parts[i + 1:]
            if name in self.defs[mod]:
                yield mod, name
            elif depth < 8:  # a re-export: follow the module's own import
                for target in self.imports[mod].get(name, ()):
                    yield from self.resolve(
                        ".".join([target, *rest]), depth + 1
                    )
            return

    def references(self, mod: str, node):
        """Definitions the code under ``node`` names, in module ``mod``."""
        for sub in ast.walk(node):
            if isinstance(sub, ast.Attribute):
                chain = []
                base = sub
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                if isinstance(base, ast.Name):
                    for target in self.imports[mod].get(base.id, ()):
                        yield from self.resolve(
                            ".".join([target, *reversed(chain)])
                        )
            elif isinstance(sub, ast.Name):
                if sub.id in self.defs[mod]:
                    yield mod, sub.id
                for target in self.imports[mod].get(sub.id, ()):
                    yield from self.resolve(target)

    def roots(self, mod: str, whole: bool):
        """What runs when ``mod`` is imported: its module-level statements,
        the decorators of its definitions and its dunders; every definition
        when ``whole``."""
        for stmt in self.trees[mod].body:
            if not isinstance(stmt, _DEFS):
                yield from self.references(mod, stmt)
            elif whole or (
                stmt.name.startswith("__") and stmt.name.endswith("__")
            ):
                yield mod, stmt.name
            else:
                for d in stmt.decorator_list:
                    yield from self.references(mod, d)


def _unreached_definitions() -> list[str]:
    """Top-level package definitions no entry point reaches. The programs
    outside the package are roots whole; tests are not roots."""
    programs = [
        p for g in ENTRY_POINTS for p in sorted(REPO.glob(g))
        if not p.relative_to(REPO).as_posix().startswith(f"{PKG}/")
    ]
    package = sorted((REPO / PKG).rglob("*.py"))
    prog = _Program(programs + package)
    todo = []
    for p in programs:
        todo.extend(prog.roots(_module_name(p), whole=True))
    for p in package:
        mod = _module_name(p)
        # the reference implementations the tests compare against
        todo.extend(prog.roots(mod, whole=mod.startswith(f"{PKG}.oracle")))
    seen = set()
    while todo:
        key = todo.pop()
        if key in seen:
            continue
        seen.add(key)
        mod, name = key
        todo.extend(prog.references(mod, prog.defs[mod][name]))
    return sorted(
        f"{_module_name(p)}.{name}"
        for p in package
        for name in prog.defs[_module_name(p)]
        if (_module_name(p), name) not in seen
    )


def test_every_package_definition_is_reached_from_an_entry_point():
    unreached = _unreached_definitions()
    assert not unreached, (
        "top-level definitions only tests reach (delete them, or call "
        f"them from the code that needs them): {unreached}"
    )


# -- config fields -----------------------------------------------------------


def _unset_config_fields() -> list[str]:
    """``PipelineConfig`` fields ``load_ini`` never reads and no non-test
    ``PipelineConfig(...)`` / ``.with_(...)`` call sets by keyword."""
    tree = ast.parse((REPO / PKG / "config.py").read_text())
    top = {n.name: n for n in tree.body if isinstance(n, _DEFS)}
    fields = [
        s.target.id for s in top["PipelineConfig"].body
        if isinstance(s, ast.AnnAssign)
    ]
    # load_ini names each option it reads as a string
    read = {
        n.value for n in ast.walk(top["load_ini"])
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }
    set_by_call = {
        k.arg
        for path in _repo_files("tests")
        for n in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(n, ast.Call)
        and _callee(n.func) in ("PipelineConfig", "with_")
        for k in n.keywords
    }
    return [f for f in fields if f not in read | set_by_call]


def test_every_config_field_is_read_or_set():
    unset = _unset_config_fields()
    assert not unset, (
        "PipelineConfig fields no ini option and no program sets (delete "
        f"each with the branch it selects): {unset}"
    )


# -- imports -----------------------------------------------------------------


def _unused_imports() -> list[str]:
    """Names a package module imports and never uses. Package
    ``__init__`` files may re-export; ``from __future__`` binds nothing."""
    unused = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                bound = [a.asname or a.name.split(".")[0] for a in node.names]
            elif (
                isinstance(node, ast.ImportFrom)
                and node.module != "__future__"
            ):
                bound = [a.asname or a.name for a in node.names]
            else:
                continue
            rel = path.relative_to(REPO).as_posix()
            unused.extend(
                f"{rel}:{node.lineno} {b}" for b in bound if b not in used
            )
    return unused


def test_every_import_is_used():
    unused = _unused_imports()
    assert not unused, f"imported names never used: {unused}"
