"""pyspark daemon whose workers import pyspark from the installed package.

Every Python-UDF task ends pyspark's ``setup_spark_files`` with
``importlib.invalidate_caches()``. On CPython 3.11 that makes every
zipimporter in ``sys.path_importer_cache`` re-read its archive's whole
directory. A worker holds one per imported package directory of
``pyspark.zip`` (1,328 entries) and ``py4j-*-src.zip``, and two for the
``spark-core`` jar that Spark also puts on the worker path (5,359
entries, no Python in it): 170-210 ms CPU per task on a 4-vCPU VM, paid
by every route, enrich and decode task.

Run as the daemon module (``spark.python.daemon.module``), this drops
those archives from ``sys.path``, and every importer cached for them or
for a directory inside them, then runs ``pyspark.daemon``. Its forked
workers inherit the trimmed path. The archives go only when the rest of
the path finds pyspark and py4j and the found ``pyspark/version.py`` is
the one inside the dropped ``pyspark.zip``; otherwise the path stays as
Spark built it. ``session.build_spark`` selects this module only for the
``local[N]`` master it picks itself. It imports only the standard
library before the hand-off, so no module is loaded from the archives.
"""

from __future__ import annotations

import fnmatch
import os
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    """One of the archives PythonUtils.sparkPythonPath puts on a worker's
    path."""
    name = os.path.basename(entry)
    return any(fnmatch.fnmatchcase(name, pat) for pat in
               ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar"))


def trimmed_path(path: list[str]) -> list[str]:
    """`path` without Spark's archives when the remaining entries import
    the same pyspark version and a py4j; otherwise `path` itself."""
    keep = [p for p in path if not _is_spark_archive(p)]
    shipped = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not shipped:
        return path
    pyspark = PathFinder.find_spec("pyspark", keep)
    if (pyspark is None or pyspark.origin is None
            or PathFinder.find_spec("py4j", keep) is None):
        return path
    try:
        with zipfile.ZipFile(shipped[0]) as z:
            want = z.read("pyspark/version.py")
        got = pyspark.loader.get_data(
            os.path.join(os.path.dirname(pyspark.origin), "version.py"))
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return keep if got == want else path


def main() -> None:
    keep = trimmed_path(sys.path)
    gone = [p for p in sys.path if p not in keep]
    sys.path[:] = keep
    for key in [k for k in sys.path_importer_cache
                if any(k == g or k.startswith(g + os.sep) for g in gone)]:
        del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
