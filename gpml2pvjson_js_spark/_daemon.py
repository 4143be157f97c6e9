"""Spark's Python daemon, importing pyspark and py4j from the
interpreter's installed packages.

    python -m gpml2pvjson_js_spark._daemon pyspark.worker

Spark starts its Python daemon with its own entries at the front of
`sys.path`: `$SPARK_HOME/python/lib/pyspark.zip`, the
`py4j-*-src.zip` beside it and the `spark-core_*.jar` (a fallback
home of pyspark, with no Python in a stock distribution). The zips
hold sources only, so every daemon compiles pyspark before it forks a
worker, and every task's `importlib.invalidate_caches()` (in
`pyspark.worker_util.setup_spark_files`) re-reads the directory of
each zip once per zipimporter. This module drops those entries, and
every cached importer, before it imports pyspark, then runs
`pyspark.daemon.manager()`; the workers the daemon forks inherit the
path.

An entry is dropped only when the rest of the path installs the same
package in the same version (each `version.py` read as text; neither
copy is imported to decide). The jar goes with `pyspark.zip`. Every
other entry stays, so the user's `PYTHONPATH` and the pyFiles a task
adds are untouched. `session.get_spark` sets `spark.python.daemon.module`
to this module (see its docstring for when).
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile

# Spark's own path entries (file-name patterns) and the package each
# one is on the path for
SPARK_ENTRIES = (("pyspark.zip", "pyspark"), ("py4j-*-src.zip", "py4j"),
                 ("spark-core_*.jar", "pyspark"))
_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)""",
                      re.M)


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m and m.group(1)


def _zip_version(entry: str, package: str) -> str | None:
    try:
        with zipfile.ZipFile(entry) as z:
            return _version(z.read(f"{package}/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(path: list[str], package: str) -> str | None:
    """The version of the first directory copy of `package` on `path`:
    the one an import finds once Spark's entries are gone."""
    for entry in path:
        try:
            with open(os.path.join(entry, package, "version.py"),
                      encoding="utf-8") as f:
                return _version(f.read())
        except OSError:
            continue
    return None


def spark_entries(path: list[str]) -> dict[str, str]:
    """Spark's own entries of `path`: entry -> its package."""
    return {entry: package for entry in path
            for pattern, package in SPARK_ENTRIES
            if fnmatch.fnmatch(os.path.basename(entry), pattern)}


def worker_path(path: list[str]) -> list[str]:
    """`path` without Spark's entries of each package whose zip the
    rest of `path` installs in the same version."""
    own = spark_entries(path)
    rest = [entry for entry in path if entry not in own]
    drop = set()
    for package in set(own.values()):
        entries = [e for e, p in own.items() if p == package]
        zips = [e for e in entries if e.endswith(".zip")]
        installed = _installed_version(rest, package)
        if zips and installed and all(
                _zip_version(z, package) == installed for z in zips):
            drop.update(entries)
    return [entry for entry in path if entry not in drop]


def main() -> None:
    sys.path[:] = worker_path(sys.path)
    sys.path_importer_cache.clear()
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()
