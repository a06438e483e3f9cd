"""Python-worker daemon that runs pyspark from its installed package.

Spark starts its python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the spark-core jar at the head of ``PYTHONPATH``, so the
workers import pyspark from the zip.  Every worker calls
``importlib.invalidate_caches()`` at the start of every task
(``pyspark/worker_util.py:setup_spark_files``), and on CPython 3.11 each
cached ``zipimporter`` then re-reads its archive's whole central directory:
with the 16 importers a worker caches, 180-620 ms per task before its
first batch (measured on a 4-core box).

Run as ``spark.python.daemon.module`` (``get_spark`` sets it), this module
drops those archives from ``sys.path`` before pyspark is first imported,
together with their cached importers and the ``org`` namespace module that
stdlib ``copy``'s Jython probe finds in the jar, and then runs pyspark's own
daemon.  It does so only when pyspark and py4j import from the rest of the
path as packages of the archives' versions (same ``version.py``); otherwise
the path stays as it is.  Either way the daemon has imported the
``open_parse_spark`` package (``python -m`` imports a module's parents
first; the package imports no pyspark), and its forked workers inherit it.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder
from typing import List


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def _installed_matches(pkg: str, archives: List[str], rest: List[str]) -> bool:
    """True when ``pkg`` imports from ``rest`` as a package on disk whose
    ``version.py`` equals the one in the archive that holds ``pkg``."""
    spec = PathFinder.find_spec(pkg, rest)
    if spec is None or not spec.submodule_search_locations:
        return False
    member = f"{pkg}/version.py"
    for archive in archives:
        try:
            with zipfile.ZipFile(archive) as zf:
                archived = zf.read(member)
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
        try:
            with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as fh:
                return fh.read() == archived
        except OSError:
            return False
    return False


def drop_spark_archives() -> None:
    """Drop Spark's pyspark/py4j zips and spark-core jar from ``sys.path``
    when pyspark and py4j import from what is left at the archives'
    versions, and forget what the process already found inside them: their
    cached importers and any module loaded from them.  Otherwise leave
    ``sys.path`` as it is."""
    dropped = [p for p in sys.path if _is_spark_archive(p)]
    kept = [p for p in sys.path if p not in dropped]
    if not dropped or not all(_installed_matches(pkg, dropped, kept) for pkg in ("pyspark", "py4j")):
        return

    def inside(p) -> bool:
        return isinstance(p, str) and any(p == a or p.startswith(a + os.sep) for a in dropped)

    for name, mod in list(sys.modules.items()):
        spec = getattr(mod, "__spec__", None)
        where = [getattr(mod, "__file__", None), *(getattr(spec, "submodule_search_locations", None) or ())]
        if any(inside(p) for p in where):
            del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if inside(k)]:
        del sys.path_importer_cache[key]
    sys.path[:] = kept


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark.daemon import manager

    manager()
