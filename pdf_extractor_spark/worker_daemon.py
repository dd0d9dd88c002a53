"""Entry module of the Python worker daemon (``spark.python.daemon.module``,
set by ``session.get_spark``).

Spark starts ``pyspark.daemon`` with ``$SPARK_HOME/python/lib/pyspark.zip``
first on ``PYTHONPATH``. That zip holds only sources, so such a daemon
compiles pyspark on every start (each new SparkContext starts one; ~1 s
of wall on 4 vCPUs), and each worker it forks carries ~12 MB more RSS
than one forked from a daemon that imports the installed pyspark's
cached bytecode. Before it imports pyspark, this
module moves behind the installed packages every ``sys.path`` archive that
holds no Python module (the Spark jar) or holds only packages whose
installed twin has a byte-identical ``version.py`` (pyspark.zip, py4j's
zip). Every other archive and every other entry keeps its place, so an
executor without such a twin imports exactly what it imported before.
"""
from __future__ import annotations

import os
import sys
import zipfile


def _movable(archive: str, dirs: list[str]) -> bool:
    """Whether ``archive`` holds no Python module, or only packages whose
    first package of the same name under ``dirs`` has the same
    ``version.py`` bytes. An archive that cannot be read stays."""
    try:
        with zipfile.ZipFile(archive) as zf:
            names = set(zf.namelist())
            tops = {n.split("/", 1)[0] if "/" in n else None
                    for n in names if n.endswith((".py", ".pyc"))}
            if None in tops:  # a top-level module has no version to compare
                return False
            for pkg in tops:
                twin = next((d for d in dirs if os.path.isfile(
                    os.path.join(d, pkg, "__init__.py"))), None)
                version = os.path.join(twin or "", pkg, "version.py")
                if (twin is None or f"{pkg}/version.py" not in names
                        or not os.path.isfile(version)):
                    return False
                with open(version, "rb") as fh:
                    if fh.read() != zf.read(f"{pkg}/version.py"):
                        return False
    except (OSError, zipfile.BadZipFile):
        return False
    return True


def installed_first(path: list[str]) -> list[str]:
    """``path`` with its movable archives moved to the end, each group in
    its own order."""
    archives = {p for p in path if os.path.isfile(p) and zipfile.is_zipfile(p)}
    dirs = [p or os.getcwd() for p in path
            if p not in archives and os.path.isdir(p or os.curdir)]
    moved = [p for p in path if p in archives and _movable(p, dirs)]
    return [p for p in path if p not in moved] + moved


if __name__ == "__main__":
    sys.path[:] = installed_first(sys.path)
    from pyspark import daemon

    daemon.manager()
