"""Every package module is reached from something the repo ships.

The roots are the driver entry (``__spark_entry__.py``), the bench CLIs,
the replica builder, the spark-submit jobs and the benchmark of record.
The scan reads only the AST: it collects every ``import`` and
``from … import`` of a root, those inside functions included, resolves
relative imports, and follows imports through package modules to a fixed
point. A module that only tests import fails here; test tooling belongs
under ``tests/``.

The same AST read also pins how driver-side rows enter Spark: only
``session.local_frame`` calls ``createDataFrame``.
"""
from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "post_ocr_corretion_spark"


def _roots() -> list[Path]:
    top = [REPO / n for n in ("__spark_entry__.py", "bench.py", "bench_extra.py", "make_replica.py")]
    return top + sorted((REPO / "jobs").glob("*.py")) + sorted((REPO / "perfbench").glob("*.py"))


def _package_modules() -> dict[str, Path]:
    modules = {}
    for path in (REPO / PACKAGE).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules[".".join(parts)] = path
    return modules


def _imported_names(path: Path, module: str | None) -> set[str]:
    """Dotted names ``path`` imports; ``module`` is its own dotted name
    (None for a root script) and anchors relative imports."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                assert module is not None, f"relative import in root {path}"
                package = module if path.name == "__init__.py" else module.rpartition(".")[0]
                base = ".".join(package.split(".")[: len(package.split(".")) - node.level + 1])
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            names.add(base)
            # ``from pkg import name`` may name a submodule.
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def reached_modules() -> set[str]:
    modules = _package_modules()
    reached: set[str] = set()
    frontier = [(path, None) for path in _roots()]
    while frontier:
        path, module = frontier.pop()
        for name in _imported_names(path, module):
            parts = name.split(".")
            # Importing a.b.c runs a and a.b too.
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules and prefix not in reached:
                    reached.add(prefix)
                    frontier.append((modules[prefix], prefix))
    return reached


def test_every_package_module_is_reached_from_a_shipped_root():
    unreached = sorted(set(_package_modules()) - reached_modules())
    assert not unreached, "modules no shipped root imports: " + ", ".join(
        m.removeprefix(PACKAGE + ".") for m in unreached
    )


def test_driver_rows_enter_spark_only_through_local_frame():
    """``createDataFrame`` on Python rows scans a pickled RDD and forks a
    Python worker pool for it; ``session.local_frame`` hands the rows to
    the JVM as one Arrow table. Only ``local_frame`` may call it."""
    paths = [REPO / "__spark_entry__.py", *sorted((REPO / "jobs").glob("*.py")), *sorted((REPO / PACKAGE).rglob("*.py"))]
    calls = []
    for path in paths:
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path == REPO / PACKAGE / "session.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                    allowed.update(range(fn.lineno, fn.end_lineno + 1))
        calls += [
            f"{path.relative_to(REPO)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and node.lineno not in allowed
        ]
    assert not calls, "createDataFrame outside session.local_frame: " + ", ".join(sorted(calls))
