"""The Table 1 system's import closure, and every package import resolving.

Importing the batch API, the CLI, ``streaming_tableone`` and the
test-data generators loads exactly these package modules; no Table 1
path reaches ``operators/``. A module-level import of any other family
from the Table 1 path grows the set and fails here, so deleting a family
that no Table 1 path reaches leaves this test unchanged.

Many package imports are lazy (inside a function), so a deletion that
misses one fails only when something calls that function. The static
scan parses every import of the package, in the package itself and in
everything that uses it, and checks that each one resolves.
"""

from __future__ import annotations

import ast
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

ENTRY_POINTS = [
    "tableone_pyspark_spark",
    "tableone_pyspark_spark.__main__",
    "tableone_pyspark_spark.streaming.stream_stats",
    "tableone_pyspark_spark.sources.testdata",
]

CLOSURE = {
    "tableone_pyspark_spark",
    "tableone_pyspark_spark.__main__",
    "tableone_pyspark_spark.core",
    "tableone_pyspark_spark.core.engine",
    "tableone_pyspark_spark.core.hypothesis",
    "tableone_pyspark_spark.core.memo",
    "tableone_pyspark_spark.core.sanitize",
    "tableone_pyspark_spark.core.special",
    "tableone_pyspark_spark.core.sufficient",
    "tableone_pyspark_spark.sources",
    "tableone_pyspark_spark.sources.testdata",
    "tableone_pyspark_spark.streaming",
    "tableone_pyspark_spark.streaming.stream_stats",
}


def test_table1_import_closure():
    # a fresh interpreter: the other tests of a pytest run import more
    code = (
        "import importlib, json, sys\n"
        f"for m in {ENTRY_POINTS!r}:\n"
        "    importlib.import_module(m)\n"
        "print(json.dumps(sorted(k for k in sys.modules\n"
        "    if k.split('.')[0] == 'tableone_pyspark_spark')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    loaded = set(json.loads(out.splitlines()[-1]))
    assert loaded == CLOSURE, {
        "extra": sorted(loaded - CLOSURE),
        "missing": sorted(CLOSURE - loaded),
    }


PKG = "tableone_pyspark_spark"
SCANNED = [PKG, "tests", "perfbench", "scripts"]


def _module_path(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _top_level_names(path: Path) -> set[str]:
    """Names a module defines at top level; ``if``/``try`` bodies count,
    they still run at import."""
    names: set[str] = set()
    todo = list(ast.parse(path.read_text(), str(path)).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(
                (a.asname or a.name).split(".")[0] for a in node.names
            )
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(
                    n.id for n in ast.walk(t) if isinstance(n, ast.Name)
                )
        elif isinstance(node, (ast.If, ast.Try)):
            todo.extend(node.body + node.orelse)
            todo.extend(getattr(node, "finalbody", []))
            for h in getattr(node, "handlers", []):
                todo.extend(h.body)
    return names


def _package_of(path: Path) -> list[str]:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    return parts if path.name == "__init__.py" else parts[:-1]


def unresolved_imports() -> tuple[int, list[str]]:
    """(files scanned, one ``file:line: problem`` per import of the
    package that does not resolve)."""
    files = [ROOT / "__spark_entry__.py"]
    for d in SCANNED:
        files.extend(sorted((ROOT / d).rglob("*.py")))
    defs: dict[Path, set[str]] = {}
    bad = []
    for path in files:
        rel = path.relative_to(ROOT)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                wanted = [(a.name, None) for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                if node.level:
                    pkg = _package_of(path)
                    pkg = pkg[: len(pkg) - node.level + 1]
                    mod = ".".join(pkg + ([mod] if mod else []))
                wanted = [(mod, a.name) for a in node.names]
            else:
                continue
            for mod, name in wanted:
                if mod.split(".")[0] != PKG:
                    continue
                where = f"{rel}:{node.lineno}"
                path_of = _module_path(mod)
                if path_of is None:
                    bad.append(f"{where}: no module {mod}")
                    continue
                if name is None or _module_path(f"{mod}.{name}"):
                    continue
                if path_of not in defs:
                    defs[path_of] = _top_level_names(path_of)
                if name not in defs[path_of]:
                    bad.append(f"{where}: {mod} defines no {name}")
    return len(files), bad


def test_every_package_import_resolves():
    n_files, bad = unresolved_imports()
    assert n_files > 100
    assert bad == [], "\n".join(bad)
