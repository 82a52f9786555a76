"""Spark's Python worker daemon, with pyspark imported from its installed directory.

Spark puts its own archives first on every Python worker's ``sys.path``:
``pyspark.zip``, ``py4j-*-src.zip`` and the spark-core jar. Each task's
start-up calls ``importlib.invalidate_caches()``, which on CPython 3.10+
makes every zip importer re-read its archive's central directory: 0.14–0.25
CPU s per task on a 4-core host, with 16 zip importers. When the same
pyspark and py4j are installed as directories, this module drops the
archives before pyspark is imported and then runs Spark's own daemon, whose
forked workers run the same code with no zip importer.
``session.get_spark`` sets it as ``spark.python.daemon.module``.
"""

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def kept_path(path: list[str]) -> list[str]:
    """``path`` without its archives, or ``path`` unchanged.

    The archives go only when ``pyspark`` and ``py4j`` both resolve from the
    directory entries, every archive carries nothing but those two, and each
    archive's ``version.py`` equals the installed one byte for byte. The
    worker checks only the Python version against the driver's, so this
    check is what keeps mismatched worker code out.
    """
    archives = [p for p in path if os.path.isfile(p)]
    dirs = [p for p in path if p not in archives]
    installed = {}
    try:
        for pkg in ("pyspark", "py4j"):
            spec = PathFinder.find_spec(pkg, dirs)
            if spec is None or spec.origin is None:
                return path
            with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
                installed[pkg] = f.read()
        for archive in archives:
            with zipfile.ZipFile(archive) as z:
                carried = {n.split("/")[0] for n in z.namelist() if n.endswith((".py", ".pyc"))}
                if not carried <= installed.keys() or any(
                    z.read(f"{pkg}/version.py") != installed[pkg] for pkg in carried
                ):
                    return path
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return dirs


if __name__ == "__main__":
    kept = kept_path(sys.path)
    dropped = tuple(p for p in sys.path if p not in kept)
    for key in [k for k in sys.path_importer_cache if k.startswith(dropped)]:
        del sys.path_importer_cache[key]
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()
