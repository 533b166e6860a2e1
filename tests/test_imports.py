"""Static import check: every engine import resolves, with no Spark.

Many imports in this repo are lazy (inside functions), so a module that
is moved or deleted breaks them only when the function runs.  This test
walks the source with ``ast`` and resolves each ``s2geometry_spark``
(and ``__spark_entry__``) import, and each name imported from one, with
``importlib``.  Importing the package pulls in pyspark but starts no
JVM, so a broken import fails here with its file and line instead of
surfacing later as a failed Spark test.
"""

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LOCAL = {"s2geometry_spark", "__spark_entry__"}


def _sources() -> list[Path]:
    files = [ROOT / "__spark_entry__.py"]
    for d in ("s2geometry_spark", "jobs", "scripts"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _package(path: Path) -> str:
    """Dotted package a file's relative imports resolve against."""
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1])


def _imports(path: Path):
    """(line, module, names) per import; names is empty for ``import m``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield node.lineno, a.name, []
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                pkg = _package(path).split(".")
                base = pkg[: len(pkg) - node.level + 1]
                mod = ".".join(base + ([mod] if mod else []))
            yield node.lineno, mod, [a.name for a in node.names]


def _unresolved(mod: str, names: list[str]) -> list[str]:
    try:
        m = importlib.import_module(mod)
    except ImportError as exc:
        return [f"{mod} ({exc})"]
    missing = []
    for n in names:
        if n == "*" or hasattr(m, n):
            continue
        is_pkg = hasattr(m, "__path__")
        if not is_pkg or importlib.util.find_spec(f"{mod}.{n}") is None:
            missing.append(f"{mod}.{n}")
    return missing


def test_every_engine_import_resolves():
    files = _sources()
    checked, bad = 0, []
    for path in files:
        for line, mod, names in _imports(path):
            if mod.split(".")[0] not in LOCAL:
                continue
            checked += 1
            for miss in _unresolved(mod, names):
                bad.append(f"{path.relative_to(ROOT)}:{line}: {miss}")
    assert len(files) > 50 and checked > 100, (len(files), checked)
    assert not bad, "unresolved imports:\n" + "\n".join(bad)


# Engine modules that only the tests use, as fixtures: the s2text_format
# parser and S2Testing::Fractal.
TEST_FIXTURES = {"s2geometry_spark.kernels.textformat", "s2geometry_spark.kernels.fractal"}


def test_every_engine_module_is_reached():
    """Every engine module is imported, directly or through other engine
    modules, by an entry point: the driver module, ``bench.py``, ``jobs/``,
    ``scripts/`` or ``perfbench/``.  A module that only its own tests
    import is code no query, job or benchmark runs."""
    modules = {}
    for path in (ROOT / "s2geometry_spark").rglob("*.py"):
        pkg = _package(path)
        modules[pkg if path.stem == "__init__" else f"{pkg}.{path.stem}"] = path
    todo = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("jobs", "scripts", "perfbench"):
        todo += sorted((ROOT / d).rglob("*.py"))
    reached = set()
    while todo:
        for _, mod, names in _imports(todo.pop()):
            parts = mod.split(".")
            # importing a.b.c runs a and a.b too; ``from a import b`` may name module a.b
            hits = [".".join(parts[:i]) for i in range(1, len(parts) + 1)]
            hits += [f"{mod}.{n}" for n in names]
            for m in hits:
                if m in modules and m not in reached:
                    reached.add(m)
                    todo.append(modules[m])
    assert TEST_FIXTURES <= modules.keys() - reached, "a fixture module is reached or gone"
    unreached = sorted(modules.keys() - reached - TEST_FIXTURES)
    assert not unreached, "no entry point imports:\n" + "\n".join(unreached)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    """PySpark's worker calls ``importlib.invalidate_caches()`` before each
    task; the engine's guard keeps an unchanged zip from being re-read
    each time, and a rewritten or deleted one still behaves as before."""
    import sys
    import zipfile
    import zipimport

    import s2geometry_spark

    guard = zipimport.zipimporter.invalidate_caches
    assert hasattr(guard, "stdlib") == (sys.version_info < (3, 13))
    importlib.reload(s2geometry_spark)
    assert zipimport.zipimporter.invalidate_caches is guard, "installed twice"

    archive = tmp_path / "guarded.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zg_one.py", "X = 1\n")
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zg_one").X == 1
        assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(str(archive)) <= 1, reads

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zg_one.py", "X = 1\n")
            z.writestr("zg_two.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module("zg_two").Y == 2

        archive.unlink()
        importlib.invalidate_caches()
    finally:
        for name in ("zg_one", "zg_two"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
