"""The Python worker daemon of fermor_spark sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark starts it as ``python -m fermor_spark.worker_daemon`` in place of
``pyspark.daemon``. Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and
``py4j-<version>-src.zip`` first on the daemon's ``PYTHONPATH``. Each
Python task ends pyspark's ``worker_util.setup_spark_files`` with
``importlib.invalidate_caches()``, and on Python 3.11 every
``zipimporter`` then re-reads its archive's central directory (1,328
entries for ``pyspark.zip``). With the zips and the jar below on the
path, one call took 157-191 ms of CPU in a pandas-UDF worker on a
4-core host, for any row count; without them, about 0.1 ms.

So, before anything imports pyspark, the daemon drops the pyspark and
py4j zips from ``sys.path`` (and their cached importers), then runs
``pyspark.daemon.manager()``. The workers it forks inherit the path. The
zips go only when the copies that would be imported instead are the
same releases: the installed pyspark's ``__version__`` equals the one in
the zip's ``pyspark/version.py``, and the installed py4j's equals the
version in the py4j zip's file name. Otherwise ``sys.path`` stays as
Spark set it.

Spark also puts the spark-core jar on the path, for deployments that
ship pyspark inside it. Spark 4.1.2's jar holds 5,359 entries and no
Python file, yet it gets two zipimporters (the stdlib's ``copy`` module
probes for Jython's ``org.python.core``, which finds the jar's ``org``
directory), and each re-reads that directory on every task too. When
the zips go, so does every jar entry that holds no Python file.

Standard library only: importing pyspark here, or in
``fermor_spark/__init__.py``, before the path is settled would load it
from the zip.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import zipfile

_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip$")
_VERSION = re.compile(r"""^__version__\b[^=]*=\s*["']([^"']+)["']""", re.M)


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def zip_versions(path: list[str]) -> dict[str, tuple[str, str | None]]:
    """``{entry: (package, version)}`` for the pyspark and py4j zips on
    ``path``; a version that cannot be read is None."""
    found = {}
    for entry in path:
        name = os.path.basename(entry)
        if name == "pyspark.zip":
            try:
                with zipfile.ZipFile(entry) as zf:
                    source = zf.read("pyspark/version.py").decode()
            except (OSError, KeyError, zipfile.BadZipFile, UnicodeDecodeError):
                source = ""
            found[entry] = ("pyspark", _version(source))
        elif m := _PY4J_ZIP.search(name):
            found[entry] = ("py4j", m.group(1))
    return found


def installed_versions(path: list[str]) -> dict[str, str | None]:
    """The versions of the pyspark and py4j packages that ``path`` would
    import (None when it has none), read from their ``version.py``
    without importing them."""
    found = {}
    for package in ("pyspark", "py4j"):
        spec = importlib.machinery.PathFinder.find_spec(package, path)
        source = ""
        for location in (spec and spec.submodule_search_locations) or ():
            try:
                with open(os.path.join(location, "version.py")) as fh:
                    source = fh.read()
                break
            except OSError:
                pass
        found[package] = _version(source)
    return found


def python_free_jars(path: list[str]) -> list[str]:
    """The ``.jar`` entries of ``path`` that hold no Python file."""
    found = []
    for entry in path:
        if entry.endswith(".jar"):
            try:
                with zipfile.ZipFile(entry) as zf:
                    names = zf.namelist()
            except (OSError, zipfile.BadZipFile):
                continue
            if not any(n.endswith((".py", ".pyc")) for n in names):
                found.append(entry)
    return found


def zips_to_drop(zips: dict[str, tuple[str, str | None]],
                 installed: dict[str, str | None]) -> list[str]:
    """The guard: every zip entry of ``zips`` when each zip's package is
    installed at the zip's version, else none."""
    if all(version is not None and installed.get(package) == version
           for package, version in zips.values()):
        return list(zips)
    return []


def settle_path() -> list[str]:
    """Drop the pyspark and py4j zips, and the jars that hold no Python
    file, from ``sys.path`` when the guard passes, with the importers
    cached for them and for the directories inside them; return the
    entries dropped."""
    zips = zip_versions(sys.path)
    jars = python_free_jars(sys.path)
    rest = [p for p in sys.path if p not in zips and p not in jars]
    drop = zips_to_drop(zips, installed_versions(rest))
    if drop:
        drop += jars
        sys.path[:] = rest
        for key in [k for k in sys.path_importer_cache
                    if any(k == e or k.startswith(e + os.sep) for e in drop)]:
            del sys.path_importer_cache[key]
    return drop


if __name__ == "__main__":
    settle_path()
    from pyspark.daemon import manager

    manager()
