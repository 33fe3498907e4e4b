"""Ship this package to Python workers.

Python UDF closures (pandas UDFs, ``mapInPandas``) that reference
module-level helpers are pickled *by reference*: the worker re-imports
``ydb_vector_search_demo_spark``. That works only if the package is on
the worker's ``sys.path`` — true when the driver runs from the repo
root, false for an external driver launched elsewhere (and on a real
cluster unless the package was shipped with ``--py-files``).

``ensure_package_on_workers`` is the programmatic equivalent of
``--py-files``: zip the package once per session and ``addPyFile`` it,
so every UDF-bearing operator works wherever the driver starts.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

_SENTINEL = "_ydb_vector_search_demo_spark_shipped"
_LOCK = threading.Lock()


def ensure_package_on_workers(spark: SparkSession | None = None) -> None:
    """Zip this package and addPyFile it (idempotent per SparkContext).

    Without ``spark``, uses the thread's active session or else the
    process's default one (``SparkSession.active()``): a thread that did
    not create the session has no active session of its own, and its
    UDFs need the package shipped all the same."""
    if spark is None:
        try:
            spark = SparkSession.active()
        except PySparkRuntimeError:  # no session in this process yet
            return
    sc = spark.sparkContext
    with _LOCK:
        if getattr(sc, _SENTINEL, False):
            return
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        zip_path = os.path.join(
            tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}-pyfiles.zip"
        )
        with zipfile.ZipFile(zip_path, "w") as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_dir):
                for fname in filenames:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, fname)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
        sc.addPyFile(zip_path)
        setattr(sc, _SENTINEL, True)
