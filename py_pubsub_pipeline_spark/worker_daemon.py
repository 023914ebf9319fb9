"""Spark's Python worker daemon, started with Spark's redundant archives
taken off ``sys.path``.

Spark puts ``pyspark.zip``, the py4j source zip and the ``spark-core``
jar at the front of every Python worker's ``sys.path``. Each Python task
then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 every
cached ``zipimporter`` re-reads its archive's central directory there:
1,328 entries for ``pyspark.zip``, 5,359 for the jar, about 160 ms per
task. When the same packages are installed as directories, those
archives add nothing, so this module drops them before it runs Spark's
own daemon; ``session.get_spark`` selects it with
``spark.python.daemon.module``. An archive is dropped only when it
provably adds nothing importable: it holds no Python code, or each
top-level package in it has a ``version.py`` byte-identical to that of
the package a directory on ``sys.path`` provides. Every other archive,
``addPyFile`` zips included, stays.

Run as ``python -m py_pubsub_pipeline_spark.worker_daemon <worker
module>``, the command line Spark gives its own ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _installed_version(package: str, dirs: list[str]) -> bytes | None:
    """``version.py`` of ``package`` as ``dirs`` would import it."""
    spec = PathFinder.find_spec(package, dirs)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as fh:
            return fh.read()
    except OSError:
        return None


def redundant(archive: str, dirs: list[str]) -> bool:
    """True when every Python package in ``archive`` imports from
    ``dirs`` at the same version (vacuously, when it holds none)."""
    try:
        with zipfile.ZipFile(archive) as z:
            names = z.namelist()
            tops = {n.split("/")[0] for n in names if n.endswith((".py", ".pyc"))}
            for top in tops:
                packed = f"{top}/version.py"
                if packed not in names or z.read(packed) != _installed_version(top, dirs):
                    return False
    except (OSError, zipfile.BadZipFile):
        return False
    return True


def strip_redundant_archives(path: list[str], importer_cache: dict) -> list[str]:
    """Remove redundant archives from ``path`` (in place) and their
    importers from ``importer_cache``; return the removed entries."""
    dirs = [p for p in path if os.path.isdir(p or os.curdir)]
    dropped = [p for p in path if os.path.isfile(p) and redundant(p, dirs)]
    for p in dropped:
        path.remove(p)
        for key in [k for k in importer_cache if k == p or k.startswith(p + os.sep)]:
            del importer_cache[key]
    return dropped


if __name__ == "__main__":
    # runpy cached importers for every archive while it located this
    # module; pyspark must not be imported before they are gone.
    strip_redundant_archives(sys.path, sys.path_importer_cache)
    # Forked workers resolve this package through sys.path, as under
    # Spark's own daemon, so a zip the session ships still comes first.
    del sys.modules[__spec__.parent]
    from pyspark import daemon

    daemon.manager()
