"""Every module under ``igtdetect_spark/`` is reached from a program that
runs it, so code that only tests call cannot build up in the package; and
every defaulted parameter in it is set by some call, so options that
nothing selects cannot build up either.

The walk follows ``import`` / ``from`` statements (function-local ones
too) with ``ast``, and counts a string constant of the form
``"igtdetect_spark.<module>"`` as an edge: that is how a module is named
to Spark (``spark.python.daemon.module``) or to ``importlib``. The options check
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


def _named(path: Path):
    """Dotted names ``path`` imports or names; a ``from`` import yields the
    package and each ``package.name``, since a name may be a submodule."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module
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
    files = [
        p for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    ]
    for path in files:
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
