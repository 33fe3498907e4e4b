"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB posture (SURVEY.md §7.4): AQE on (runtime
re-planning, skew-join handling, partition coalescing), Arrow for the few
pandas-UDF boundaries, and shuffle partitions sized by the caller (tests
use the local core count; a real cluster would use 2-3x total cores).

Also the one locked get-or-build behind every session-scope cache in the
package (``_get_or_build``, ``_get_or_write``, ``_evict``): this module
imports nothing from the package, so every cache owner can use it.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ydb-vector-search-demo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


# Session-scope get-or-build caches (IVF/tree indexes, BM25 postings,
# normalized/rotated/graph stores, kNN-graph edges, the catalog's pinned
# graph). Each owner keeps its own dict; ``_CACHE_LOCK`` guards every
# dict, and a per-key build lock makes concurrent callers of one key
# share a single build. Entries live until the owner's ``clear_*``.
_BUILD_LOCKS: dict[tuple, threading.Lock] = {}
_CACHE_LOCK = threading.Lock()


def _get_or_build(cache: dict, key, build):
    """``cache[key]``, calling ``build()`` on a miss — once, however
    many threads ask at the same time."""
    with _CACHE_LOCK:
        build_lock = _BUILD_LOCKS.setdefault((id(cache), key), threading.Lock())
    with build_lock:
        with _CACHE_LOCK:
            if key in cache:
                return cache[key]
        value = build()
        with _CACHE_LOCK:
            cache[key] = value
    return value


def _evict(cache: dict, release=None, when=None) -> None:
    """Drop the entries of ``cache`` whose key passes ``when`` (all by
    default) under the cache lock, calling ``release(value)`` on each."""
    with _CACHE_LOCK:
        for key in [key for key in cache if when is None or when(key)]:
            value = cache.pop(key)
            if release is not None:
                release(value)


def _get_or_write(cache: dict, kind: str, key, write) -> str:
    """:func:`_get_or_build` for a persisted store: ``write(path)`` runs
    once per key at a deterministic temp-dir path, which is returned."""
    tag = hashlib.md5(repr(key).encode()).hexdigest()[:10]
    path = f"{tempfile.gettempdir()}/{kind}_{tag}"

    def build() -> str:
        write(path)
        return path

    return _get_or_build(cache, key, build)
