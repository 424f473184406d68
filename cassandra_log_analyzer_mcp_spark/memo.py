"""The session memo and the process work root.

Build-once state (cached frames, trained index state, landed fixture
paths) is kept in one store keyed by the Spark application id, so a
stopped-and-restarted context is never handed a frame or a path built
on the old one, and ``session.clear_caches`` releases all of it with
one ``clear()``.

Scratch files (silver tables, persisted indexes, stream checkpoints
and landings) go under one process work root. A root this module makes
itself is removed at exit; a root under ``SPARK_GRAFT_LANDING_DIR``
(shared storage on a real cluster) belongs to the deployment.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

#: (applicationId, name, key) -> built value
_STORE: dict[tuple[str, str, Any], Any] = {}
_ROOT: str | None = None


def memo(spark: SparkSession, name: str, key: Any, build: Callable[[], T]) -> T:
    """``build()``'s value, built once per (application, name, key)."""
    k = (spark.sparkContext.applicationId, name, key)
    if k not in _STORE:
        _STORE[k] = build()
    return _STORE[k]


def memoized(fn: Callable[..., T]) -> Callable[..., T]:
    """Decorate ``fn(spark, *args)`` to build once per session and args."""
    name = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, *args: Any) -> T:
        return memo(spark, name, args, lambda: fn(spark, *args))

    return wrapper


def landed(
    spark: SparkSession, kind: str, key: Any, write: Callable[[str], None]
) -> str:
    """Land one fixture once per (session, kind, key): the first call
    runs ``write(path)`` into a fresh ``path`` under the work root;
    later calls return that path."""

    def land() -> str:
        path = os.path.join(work_dir(kind), kind)
        write(path)
        return path

    return memo(spark, kind, key, land)


def entries() -> list[tuple[str, str, Any]]:
    """The (applicationId, name, key) of every memo entry."""
    return list(_STORE)


def clear() -> None:
    """Drop every memo entry; the next call rebuilds it."""
    _STORE.clear()


def work_root() -> str:
    """This process's work root, made on first use."""
    global _ROOT
    if _ROOT is None:
        base = os.environ.get("SPARK_GRAFT_LANDING_DIR") or None
        if base:
            os.makedirs(base, exist_ok=True)
        _ROOT = tempfile.mkdtemp(prefix="spark_graft_", dir=base)
        if not base:
            atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def work_path(name: str, sf_dir: str | None = None) -> str:
    """The fixed path ``name`` under the work root, suffixed with the
    data directory's name when ``sf_dir`` is given."""
    if sf_dir is not None:
        name += "_" + os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    return os.path.join(work_root(), name)


def work_dir(prefix: str) -> str:
    """A fresh, empty directory under the work root."""
    d = work_path(f"{prefix}_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    return d
