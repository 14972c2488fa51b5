"""Python worker daemon that imports pyspark from site-packages.

Spark starts each worker daemon with its own archives first on
``PYTHONPATH``: ``pyspark.zip``, the py4j zip and the ``spark-core`` jar.
Every package imported from a zip gets a zipimporter of its own, and
before each task the worker calls ``importlib.invalidate_caches()``,
which makes Python 3.11 re-read the archive's directory once per
zipimporter: about 0.16-0.21 s of CPU per task with the 16 that importing
pyspark from the zip leaves.

This module drops those archives from ``sys.path`` and their cached
importers from ``sys.path_importer_cache`` before anything imports
pyspark, then runs :func:`pyspark.daemon.manager`, so the workers import
the installed pyspark and hold no zipimporter. It does so only when the
installed pyspark has the version of ``pyspark.zip``; otherwise it keeps
Spark's path and says so in one line on stderr (stdout carries the
daemon's port to the JVM). :func:`~cloudfront_kinesis_log_lambda_spark.session.get_spark`
selects it through ``spark.python.daemon.module`` on a local master.

Run as ``python -m cloudfront_kinesis_log_lambda_spark.daemon``, it
imports the package ``__init__`` first, which therefore must not import
pyspark.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipfile


def _spark_archives(path: list[str]) -> list[str]:
    """The entries of ``path`` that are Spark's archives: ``pyspark.zip``,
    the py4j zip and jars."""
    return [
        p for p in path
        if p.endswith(".jar") or os.path.basename(p) == "pyspark.zip"
        or (os.path.basename(p).startswith("py4j") and p.endswith(".zip"))
    ]


def _zip_version(archive: str) -> str | None:
    """``__version__`` of ``pyspark/version.py`` inside ``archive``."""
    try:
        with zipfile.ZipFile(archive) as z:
            text = z.read("pyspark/version.py").decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = re.search(r"""^__version__\b[^=]*=\s*['"]([^'"]+)['"]""", text, re.M)
    return m.group(1) if m else None


def installed_version() -> str | None:
    try:
        return importlib.metadata.version("pyspark")
    except importlib.metadata.PackageNotFoundError:
        return None


def use_installed_pyspark(path: list[str], cache: dict) -> bool:
    """Drop Spark's archives from ``path`` and ``cache`` if the installed
    pyspark has ``pyspark.zip``'s version; return whether it did."""
    archives = _spark_archives(path)
    zip_ = next((p for p in archives if os.path.basename(p) == "pyspark.zip"), None)
    if zip_ is None:
        return False
    shipped, installed = _zip_version(zip_), installed_version()
    if installed is None or installed != shipped:
        print(
            f"cloudfront_kinesis_log_lambda_spark.daemon: installed pyspark "
            f"{installed} != {zip_} {shipped}; workers import from the zip",
            file=sys.stderr,
        )
        return False
    path[:] = [p for p in path if p not in archives]
    for p in archives:
        cache.pop(p, None)
    return True


if __name__ == "__main__":
    use_installed_pyspark(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()
