"""Every module under ``igtdetect_spark/`` is reached from a program that
runs it, so code that only tests call cannot build up in the package.

The walk follows ``import`` / ``from`` statements (function-local ones
too) with ``ast``, and counts a string constant of the form
``"igtdetect_spark.<module>"`` as an edge: that is how a module is named
to Spark (``spark.python.daemon.module``) or to ``importlib``. Nothing is
imported and no Spark session is started.
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
