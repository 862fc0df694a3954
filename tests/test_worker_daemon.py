"""The local-mode Python worker daemon (ocr_spark/worker_daemon.py): which
archives it drops from the worker path, what workers load afterwards, and
that the modules ``python -m`` imports first stay import-free."""

from __future__ import annotations

import ast
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
from pyspark.sql.functions import arrow_udf

import ocr_spark
from ocr_spark import session, worker_daemon


def _zip(path, files: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def test_drops_only_archives_whose_packages_are_installed_at_same_version(tmp_path, monkeypatch):
    v1, v2 = b'__version__ = "1.0"\n', b'__version__ = "2.0"\n'
    site = tmp_path / "site"
    (site / "pkg").mkdir(parents=True)
    (site / "pkg" / "__init__.py").write_bytes(b"")
    (site / "pkg" / "version.py").write_bytes(v1)
    same = _zip(
        tmp_path / "same.zip", {"pkg/__init__.py": b"", "pkg/version.py": v1, "pkg/sub/mod.py": b""}
    )
    other = _zip(tmp_path / "other.zip", {"pkg/__init__.py": b"", "pkg/version.py": v2})
    extra = _zip(
        tmp_path / "extra.zip",
        {"pkg/__init__.py": b"", "pkg/version.py": v1, "solo/__init__.py": b"", "solo/version.py": v1},
    )
    jar = _zip(tmp_path / "core.jar", {"META-INF/MANIFEST.MF": b"", "org/x/Y.class": b"\xca\xfe"})
    broken = tmp_path / "broken.zip"  # end record intact, central directory not
    broken.write_bytes(open(same, "rb").read().replace(b"PK\x01\x02", b"XX\x01\x02"))
    broken = str(broken)
    missing = str(tmp_path / "missing.zip")
    path = [str(site), same, other, extra, jar, broken, missing]
    assert zipfile.is_zipfile(broken)
    assert worker_daemon.redundant_archives(path) == [same, jar]

    cache = {p: zipimport.zipimporter(p) for p in (same, other, extra, jar)}
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    assert worker_daemon.drop_redundant_archives() == [same, jar]
    assert sys.path == [str(site), other, extra, broken, missing]
    assert set(sys.path_importer_cache) == {other, extra}


def test_workers_load_installed_pyspark_and_keep_no_spark_archive(spark):
    """Under build_session's local master the workers run the ocr_spark
    daemon: pyspark comes from its package directory, and no zipimporter
    is left over Spark's archives.  Only files added to the session
    (``addPyFile``, under the SparkFiles root) may keep one."""
    assert spark.conf.get("spark.python.daemon.module") == "ocr_spark.worker_daemon"

    @arrow_udf("string")
    def probe(ids: pa.Array) -> pa.Array:
        import sys
        import zipimport

        import pyspark
        from pyspark import SparkFiles

        root = SparkFiles.getRootDirectory()
        spark_zips = sorted(
            v.archive
            for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter) and not v.archive.startswith(root)
        )
        return pa.array([f"{pyspark.__file__}|{len(spark_zips)}|{spark_zips}"] * len(ids))

    rows = {r[0] for r in spark.range(64, numPartitions=4).select(probe("id")).collect()}
    assert rows
    for row in rows:
        pyspark_file, n_zips, _archives = row.split("|", 2)
        assert os.path.isfile(pyspark_file), row  # not a path inside an archive
        assert int(n_zips) == 0, row


def test_daemon_set_only_where_python_m_finds_ocr_spark(tmp_path, monkeypatch):
    """The daemon starts with the driver's working directory and
    environment; a driver that only put ocr_spark on its own sys.path
    (workers get it per task through addPyFile) keeps the stock daemon."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(ocr_spark.__file__)))
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(tmp_path)
    assert not session._daemon_finds_ocr_spark()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._daemon_finds_ocr_spark()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert session._daemon_finds_ocr_spark()


def _module_level_imports(tree: ast.Module) -> list[str]:
    """Modules imported by statements that run on import (function and
    class bodies excluded)."""
    out: list[str] = []
    todo = list(tree.body)
    while todo:
        node = todo.pop()
        if isinstance(node, ast.Import):
            out += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            out.append("." * node.level + (node.module or ""))
        elif not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            todo += [c for c in ast.iter_child_nodes(node) if isinstance(c, (ast.stmt, ast.excepthandler))]
    return out


def test_daemon_entry_modules_import_nothing_from_ocr_spark_or_pyspark():
    for mod in (ocr_spark, worker_daemon):
        with open(mod.__file__, encoding="utf-8") as f:
            imports = _module_level_imports(ast.parse(f.read()))
        bad = [m for m in imports if m.startswith((".", "ocr_spark", "pyspark"))]
        assert bad == [], (mod.__file__, bad)
