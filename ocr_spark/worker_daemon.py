"""Python worker daemon for local-mode sessions: ``python -m ocr_spark.worker_daemon``.

Spark launches every Python worker with its own archives ahead of
site-packages on ``sys.path``: ``$SPARK_HOME/python/lib/pyspark.zip``, the
py4j source zip and the spark-core jar.  At the start of every task
pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's central
directory — one importer per imported pyspark subpackage, ~0.25 s per
task in all (0.16-0.48 s over 28 tasks on a 4-vCPU host).

When every Python package in an archive is importable from a directory
later on the path, with the same ``version.py``, the archive adds nothing
but that cost.  This daemon drops such archives (and their cached
importers) before pyspark is imported, then runs the stock
``pyspark.daemon.manager()``; forked workers inherit the trimmed path, so
they load the installed pyspark and keep no ``zipimporter``.  Any other
archive stays: a host whose only pyspark is the zip behaves as the stock
daemon does.

Keep this module (and ``ocr_spark/__init__.py``, which ``-m`` imports
first) free of module-level imports from ``ocr_spark`` and ``pyspark``:
the path must be trimmed before pyspark loads.
"""

from __future__ import annotations

import os
import sys
import zipfile


def _same_version(archive: zipfile.ZipFile, pkg: str, dirs: list[str]) -> bool:
    """Does the first directory holding package ``pkg`` carry the same
    ``version.py`` bytes as ``archive``?"""
    try:
        ours = archive.read(f"{pkg}/version.py")
    except KeyError:
        return False
    for d in dirs:
        if os.path.isfile(os.path.join(d, pkg, "__init__.py")):
            try:
                with open(os.path.join(d, pkg, "version.py"), "rb") as f:
                    return f.read() == ours
            except OSError:
                return False
    return False


def redundant_archives(path: list[str]) -> list[str]:
    """The archive entries of ``path`` whose Python packages are all
    importable, at the same ``version.py``, from its directory entries.
    An archive with no Python file (a jar) is redundant."""
    dirs = [p for p in path if os.path.isdir(p)]
    out = []
    for entry in path:
        if not (os.path.isfile(entry) and zipfile.is_zipfile(entry)):
            continue
        try:
            with zipfile.ZipFile(entry) as z:
                pkgs = {n.split("/", 1)[0] for n in z.namelist() if n.endswith((".py", ".pyc"))}
                if all(_same_version(z, pkg, dirs) for pkg in pkgs):
                    out.append(entry)
        except (OSError, zipfile.BadZipFile):
            pass  # unreadable here: leave it to the import system, as before
    return out


def drop_redundant_archives() -> list[str]:
    """Remove the redundant archives from ``sys.path`` and their importers
    from ``sys.path_importer_cache`` (runpy's import of this package made
    them before the module body ran)."""
    drop = redundant_archives(sys.path)
    sys.path[:] = [p for p in sys.path if p not in drop]
    for entry in drop:
        sys.path_importer_cache.pop(entry, None)
    return drop


def main() -> None:
    drop_redundant_archives()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
