"""Session factory: the package zip shipped to executors."""

from __future__ import annotations

import ast
import importlib
import os
import sys
import tempfile
import time
import zipfile
import zipimport
from pathlib import Path

from __spider_spark.functions.worker import drop_zip_finders
from __spider_spark.session import _default_driver_memory, _package_zip

REPO = Path(__file__).resolve().parents[1]


def test_package_zip_ships_this_checkouts_sources(tmp_path, monkeypatch):
    """A zip another checkout left in the shared temp dir — even one newer
    than every source here — must never be what this checkout ships."""
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    stale = tmp_path / "__spider_spark_pyfiles.zip"
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("__spider_spark/operators/seen.py", "# another checkout\n")
    future = time.time() + 3600
    os.utime(stale, (future, future))
    srcs = {str(p.relative_to(REPO)) for p in
            (REPO / "__spider_spark").rglob("*.py")
            if "__pycache__" not in p.parts}
    with zipfile.ZipFile(_package_zip()) as z:
        assert set(z.namelist()) == srcs
        for name in z.namelist():
            assert z.read(name) == (REPO / name).read_bytes(), name


def _imported_modules(path: Path, module: str) -> set[str]:
    """Every module an ``import`` in ``path`` names, relative imports
    resolved against ``module``'s package, with each name's parents."""
    package = module if path.name == "__init__.py" else module.rpartition(".")[0]
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return {".".join(n.split(".")[:i + 1])
            for n in names for i in range(n.count(".") + 1)}


def test_every_package_module_is_reachable():
    """Each module under the package is imported, directly or through
    other package modules, by the crawl, the queries, the scripts or the
    benchmarks: code that only its own tests call has no home here."""
    def name(p):
        return ".".join(p.relative_to(REPO).with_suffix("").parts
                        ).removesuffix(".__init__")
    package = {name(p): p for p in (REPO / "__spider_spark").rglob("*.py")
               if "__pycache__" not in p.parts}
    roots = [REPO / "__spark_entry__.py", REPO / "main.py",
             REPO / "bench.py", REPO / "bench_extra.py",
             *sorted((REPO / "scripts").glob("*.py")),
             *sorted((REPO / "perfbench").glob("*.py"))]
    todo = [(p, name(p)) for p in roots]
    reached: set[str] = set()
    while todo:
        path, module = todo.pop()
        for m in _imported_modules(path, module) & package.keys() - reached:
            reached.add(m)
            todo.append((package[m], m))
    unreached = sorted(m for m, p in package.items()
                       if p.name != "__init__.py" and m not in reached)
    assert not unreached, f"nothing outside the tests imports {unreached}"


def test_package_udfs_use_the_package_decorator():
    """Every Arrow UDF in the package is made with
    ``functions/worker.pandas_udf``, which drops the worker's zip finders;
    one made with pyspark's ``pandas_udf`` or ``udf`` would re-read
    pyspark.zip and the spark-core jar in every task again."""
    banned = {"pandas_udf", "udf"}
    offenders = []
    for path in sorted((REPO / "__spider_spark").rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        if rel == "__spider_spark/functions/worker.py":
            continue
        tree = ast.parse(path.read_text())
        aliases = set()  # names bound to pyspark.sql.functions, e.g. F
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom):
                continue
            if node.module == "pyspark.sql.functions":
                offenders += [f"{rel}: import {a.name}"
                              for a in node.names if a.name in banned]
            elif node.module == "pyspark.sql":
                aliases.update(a.asname or a.name for a in node.names
                               if a.name == "functions")
        offenders += [
            f"{rel}:{node.lineno}: {node.value.id}.{node.attr}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr in banned
            and isinstance(node.value, ast.Name) and node.value.id in aliases]
    assert not offenders, offenders


def test_drop_zip_finders(tmp_path):
    """Only zip finders go: other finders, loaded modules and later
    imports from the same zip are unaffected."""
    archive = tmp_path / "zipped_mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_first.py", "X = 1\n")
        z.writestr("zipped_second.py", "Y = 2\n")
    saved = list(sys.path)
    sys.path.insert(0, str(archive))
    try:
        first = importlib.import_module("zipped_first")
        assert isinstance(sys.path_importer_cache[str(archive)],
                          zipimport.zipimporter)
        others = {p: f for p, f in sys.path_importer_cache.items()
                  if not isinstance(f, zipimport.zipimporter)}
        drop_zip_finders()
        assert not [p for p, f in sys.path_importer_cache.items()
                    if isinstance(f, zipimport.zipimporter)]
        for p, f in others.items():
            assert sys.path_importer_cache[p] is f, p
        assert sys.modules["zipped_first"] is first
        assert importlib.import_module("zipped_second").Y == 2
    finally:
        sys.path[:] = saved
        for m in ("zipped_first", "zipped_second"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_default_driver_memory_fits_the_machine():
    """The default heap fits the machine: at least 1g, never more than its
    physical memory."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    got = _default_driver_memory()
    assert got.endswith("g")
    assert 1 <= int(got[:-1]) and int(got[:-1]) * 2**30 <= phys
