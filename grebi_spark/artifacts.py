"""Session artifacts: build once per Spark application, serve many queries.

GrEBI builds its stores once and queries them many times (stages 07 →
08). Every shared artifact here — a built graph, a staged directory, a
trained index, a fitted centroid list, a table handle — is produced by a
builder ``f(spark, ...)`` decorated with :func:`artifact`, the package's
one memo. Its contract:

* **key** — the Spark application id + the builder's qualified name +
  its remaining arguments (bound against the signature, defaults
  applied). A restarted session rebuilds; two builders never share a
  slot.
* **re-registration** — the storage level of a DataFrame value, or of
  each DataFrame inside a tuple value, is recorded at build time. On a
  hit, a frame that was persisted at build and now reads NONE (after
  ``spark.catalog.clearCache()``) is re-persisted at that same level. A
  frame that was not persisted at build (a ``localCheckpoint``) is never
  persisted.
* **stamp** — ``@artifact(stamp="path")`` names an argument that holds
  a file or directory path. The max mtime over the path and everything
  beneath it, walked recursively, is recorded at build time; a hit whose
  stamp has moved rebuilds.

:func:`peek` and :func:`forget` expose the registry to tests. The
registry takes no lock: builders run on the driver thread that calls
them, and no caller shares an artifact across threads.
"""

from __future__ import annotations

import functools
import inspect
import os
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame


@dataclass
class _Entry:
    value: object
    stamp: int | None
    persisted: list  # [(frame, storage level at build)]


_REGISTRY: dict[tuple, _Entry] = {}


def _file_stamp(path: str) -> int | None:
    """Max mtime (ns) over ``path`` and every file and directory beneath
    it; None when the path does not exist."""
    try:
        stamp = os.stat(path).st_mtime_ns
    except OSError:
        return None
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                stamp = max(stamp, os.stat(os.path.join(root, name)).st_mtime_ns)
            except OSError:
                pass  # removed mid-walk: the parent's mtime moved instead
    return stamp


def _frames(value) -> tuple:
    if isinstance(value, DataFrame):
        return (value,)
    if isinstance(value, tuple):
        return tuple(v for v in value if isinstance(v, DataFrame))
    return ()


def _bind(builder, spark, args, kwargs) -> dict:
    bound = builder.__signature__.bind(spark, *args, **kwargs)
    bound.apply_defaults()
    return bound.arguments


def _key(builder, spark, bound: dict) -> tuple:
    rest = tuple(bound.items())[1:]  # the spark argument is the app id
    return (spark.sparkContext.applicationId, builder.__artifact_name__, rest)


def artifact(fn=None, *, stamp: str | None = None):
    """Memoise the builder ``fn(spark, ...)`` per Spark application (see
    the module docstring for the key, re-registration and stamp rules)."""
    if fn is None:
        return functools.partial(artifact, stamp=stamp)

    @functools.wraps(fn)
    def wrapper(spark, *args, **kwargs):
        bound = _bind(wrapper, spark, args, kwargs)
        key = _key(wrapper, spark, bound)
        st = _file_stamp(bound[stamp]) if stamp else None
        ent = _REGISTRY.get(key)
        if ent is not None and ent.stamp == st:
            for df, level in ent.persisted:
                if df.storageLevel == StorageLevel.NONE:
                    df.persist(level)
            return ent.value
        value = fn(spark, *args, **kwargs)
        levels = [(df, df.storageLevel) for df in _frames(value)]
        _REGISTRY[key] = _Entry(
            value, st, [(df, lv) for df, lv in levels if lv != StorageLevel.NONE]
        )
        return value

    wrapper.__signature__ = inspect.signature(fn)
    wrapper.__artifact_name__ = f"{fn.__module__}.{fn.__qualname__}"
    return wrapper


def peek(builder, spark, *args, **kwargs):
    """The value ``builder(spark, *args, **kwargs)`` would return from the
    registry, or None when it has not been built — never builds."""
    ent = _REGISTRY.get(_key(builder, spark, _bind(builder, spark, args, kwargs)))
    return None if ent is None else ent.value


def forget(*builders) -> None:
    """Drop every entry of the given builders (all of them when none are
    given), in every application, so the next call rebuilds."""
    names = {b.__artifact_name__ for b in builders}
    for key in [k for k in _REGISTRY if not names or k[1] in names]:
        del _REGISTRY[key]
