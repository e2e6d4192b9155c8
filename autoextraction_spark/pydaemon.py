"""Python-worker daemon of this engine's sessions (``spark.python.daemon.module``).

Spark starts it as ``python -m autoextraction_spark.pydaemon pyspark.worker``
with its own archives at the head of ``PYTHONPATH``:
``$SPARK_HOME/python/lib/pyspark.zip``, the ``py4j-*-src.zip`` beside it and
the spark-core jar. Every python task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on Python 3.11 each ``zipimporter`` re-reads its whole archive directory
on that call: ~16 importers over those three archives, 130-300 ms per task on
a 4-vCPU VM, against ~10 ms of JVM CPU.

When the pyspark and py4j that the rest of ``sys.path`` would import are
directory installs of the archives' own releases (a pip install next to the
driver's), this module drops Spark's archives from ``sys.path`` and from
``sys.path_importer_cache`` before anything imports pyspark, then runs
``pyspark.daemon``. Forked workers import the same pyspark from that
directory, and the per-task invalidation touches no archive. In every other
case ``sys.path`` stays exactly as Spark set it. Only Spark's own archives
are ever dropped, never a ``--py-files`` zip or this package's zip.

Nothing here may import pyspark at module level."""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from fnmatch import fnmatch

_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""", re.M)


def spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """Entries of ``path`` that are Spark's own archives: ``pyspark.zip`` and
    ``py4j-*-src.zip`` in ``$SPARK_HOME/python/lib`` and the jars in
    ``$SPARK_HOME/jars`` (compared after resolving symlinks)."""
    if not spark_home:
        return []
    home = os.path.realpath(spark_home)
    lib, jars = os.path.join(home, "python", "lib"), os.path.join(home, "jars")
    out = []
    for p in path:
        parent, name = os.path.split(os.path.realpath(p))
        if (parent == lib and (name == "pyspark.zip" or fnmatch(name, "py4j-*-src.zip"))) or (
            parent == jars and name.endswith(".jar")
        ):
            out.append(p)
    return out


def _first_release(entries: list[str], pkg: str) -> tuple[str | None, bool]:
    """``(__version__, from_directory)`` of ``pkg`` as imported from the first
    of ``entries`` that holds it; ``(None, False)`` when none does or its
    ``version.py`` cannot be read."""
    for p in entries:
        d = p or "."
        try:
            if os.path.isdir(d):
                if not os.path.isfile(os.path.join(d, pkg, "__init__.py")):
                    continue
                with open(os.path.join(d, pkg, "version.py"), encoding="utf-8") as f:
                    text = f.read()
            elif zipfile.is_zipfile(d):
                with zipfile.ZipFile(d) as z:
                    if f"{pkg}/__init__.py" not in z.namelist():
                        continue
                    text = z.read(f"{pkg}/version.py").decode("utf-8")
            else:
                continue
        except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
            return None, False
        m = _VERSION.search(text)
        return (m.group(1) if m else None), os.path.isdir(d)
    return None, False


def archives_to_drop(path: list[str], spark_home: str | None) -> list[str]:
    """Spark's archives on ``path`` when, without them, pyspark and py4j
    import from directories at the archives' versions; otherwise ``[]``."""
    archives = spark_archives(path, spark_home)
    rest = [p for p in path if p not in archives]
    for pkg in ("pyspark", "py4j"):
        bundled, _ = _first_release(archives, pkg)
        installed, from_dir = _first_release(rest, pkg)
        if bundled is None or installed != bundled or not from_dir:
            return []
    return archives


def main() -> None:
    drop = set(archives_to_drop(sys.path, os.environ.get("SPARK_HOME")))
    if drop:
        sys.path[:] = [p for p in sys.path if p not in drop]
        # runpy created zipimporters over these while it looked this module up
        for key in list(sys.path_importer_cache):
            if any(key == a or key.startswith(a + os.sep) for a in drop):
                del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
