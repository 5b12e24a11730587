"""The engine's one registry of per-session memos.

A query builder that derives the same state on every invocation (the ANN
corpus, an IVF / PQ / SQ8 build, an LSH or TF-IDF index, a score frame,
the media corpus, a routing decision, a table frame) asks for it with
``memo(spark, key, build)``: the first call builds and stores the value,
later calls in the same session return the stored one. ``key`` is a
tuple whose first item names the memo; hits and misses are counted per
name (:func:`counts`).

``handles(spark, key)`` gives a query a fresh list for the persist
handles an operator hands back (``persisted_out``), after releasing the
list its previous invocation got, so only the latest run's persists stay
live.

``clear()`` ends every memo's lifecycle at once: it unpersists each
persisted (``is_cached``) DataFrame found in a stored value, walking
tuples and lists, or calls the ``release`` the entry was stored with,
then forgets everything. Lazy frames, localCheckpointed frames and
driver-side values hold no cache, so they are simply dropped.

Entries are keyed by the ``SparkSession`` object: a DataFrame is bound to
its session, so a memoized frame never reaches another session's plans.
Query builders run on the driver's calling thread; the registry takes no
lock.

Two module-level caches stay outside the registry on purpose, because
neither depends on a session: ``tables._SCHEMA_CACHE`` (the inferred
parquet schema per file path) and the LUT caches in ``functions/jpeg.py``
(pure constants).
"""

from __future__ import annotations

from collections import Counter
from typing import Any, Callable

_ENTRIES: dict[tuple, tuple[Any, Callable[[Any], None] | None]] = {}
_HITS: Counter[str] = Counter()
_MISSES: Counter[str] = Counter()


def memo(
    spark, key: tuple, build: Callable[[], Any], release: Callable[[Any], None] | None = None
) -> Any:
    """The value stored under (*spark*, *key*), built by ``build()`` and
    stored on the first call. *release* replaces the default unpersist
    at :func:`clear` for values that own something other than cached
    frames (a directory on disk)."""
    entry = _ENTRIES.get((spark, key))
    if entry is not None:
        _HITS[key[0]] += 1
        return entry[0]
    _MISSES[key[0]] += 1
    value = build()
    _ENTRIES[(spark, key)] = (value, release)
    return value


def handles(spark, key: tuple) -> list:
    """A fresh ``persisted_out`` list for *key*, after unpersisting the
    list handed out by the previous call."""
    entry = _ENTRIES.get((spark, key))
    if entry is not None:
        _release(*entry)
    out: list = []
    _ENTRIES[(spark, key)] = (out, None)
    return out


def clear() -> None:
    """Release every stored value and forget all entries."""
    for entry in _ENTRIES.values():
        _release(*entry)
    _ENTRIES.clear()


def counts() -> tuple[Counter[str], Counter[str]]:
    """Copies of the (hits, misses) counters, per memo name."""
    return _HITS.copy(), _MISSES.copy()


def _release(value: Any, release: Callable[[Any], None] | None) -> None:
    if release is not None:
        release(value)
    elif isinstance(value, (tuple, list)):
        for item in value:
            _release(item, None)
    elif getattr(value, "is_cached", False):
        try:
            value.unpersist()
        except Exception:  # session already stopped — nothing to release
            pass
