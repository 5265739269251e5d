"""Build-once caches for derived data.

A `Memo` maps a key to a value built at most once. There are two
owners:

- one `Memo` per `OnionGraph` instance holds its persisted views
  (symmetrized, canonical, degree, int-keyed and oriented endpoints);
- one `Memo` per live SparkContext (`session_memo`) holds the
  session-wide shared state: table readers, the persisted base and
  derived graphs, the co-supply pairs and trained codebooks.

Builds run under a lock private to their key, never under a shared
one, so a Spark job building one entry does not hold up a lookup or
a build of another. A value is published only once its build has
returned; a build that raises publishes nothing and the next caller
retries. `None` is a value like any other.

Spark's CacheManager keeps one entry per distinct plan, so two memos
(say two OnionGraphs over the same frames) that persist identical
views share one cached relation. Each published value counts one
hold on every cached frame inside it; a release unpersists a frame
only when it lets go of the last hold on that relation.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame


class Memo:
    def __init__(self):
        self._lock = threading.Lock()
        self._values: dict[Hashable, Any] = {}
        self._building: dict[Hashable, threading.Lock] = {}

    def __contains__(self, key: Hashable) -> bool:
        with self._lock:
            return key in self._values

    def __len__(self) -> int:
        with self._lock:
            return len(self._values)

    def get(self, key: Hashable, build: Callable[[], Any]) -> Any:
        """The value under `key`, calling `build()` on first use.
        Concurrent first callers of one key wait for a single build."""
        with self._lock:
            if key in self._values:
                return self._values[key]
            key_lock = self._building.setdefault(key, threading.Lock())
        with key_lock:
            with self._lock:
                if key in self._values:
                    return self._values[key]
            value = build()
            _hold(value)
            with self._lock:
                self._values[key] = value
                self._building.pop(key, None)
        return value

    def release(self) -> None:
        """Forget every entry and unpersist the frames and graphs it
        held (inside tuples and dicts too). Every part is released
        even if one fails; the first failure is raised afterwards."""
        with self._lock:
            values = list(self._values.values())
            self._values.clear()
        error = None
        for v in _parts(values):
            try:
                _release(v)
            except Exception as e:  # noqa: BLE001
                error = error or e
        if error is not None:
            raise error


_holds_lock = threading.Lock()
# (application id, semantic plan hash) -> holds on that cached relation
_holds: dict[tuple[str, int], int] = {}


def _parts(value: Any) -> list:
    if isinstance(value, dict):
        value = list(value.values())
    if isinstance(value, (tuple, list)):
        return [p for v in value for p in _parts(v)]
    return [value]


def _plan_key(df: DataFrame) -> tuple[str, int]:
    return df.sparkSession.sparkContext.applicationId, df.semanticHash()


def _hold(value: Any) -> None:
    for df in _parts(value):
        if isinstance(df, DataFrame) and df.is_cached:
            key = _plan_key(df)
            with _holds_lock:
                _holds[key] = _holds.get(key, 0) + 1


def _release(v: Any) -> None:
    if isinstance(v, DataFrame) and v.is_cached:
        key = _plan_key(v)
        with _holds_lock:
            left = _holds.pop(key, 1) - 1
            if left:
                _holds[key] = left
        if left:
            return  # another holder still uses the relation
    if hasattr(v, "unpersist"):
        v.unpersist()


_session_lock = threading.Lock()
_session: tuple[str, Memo] | None = None


def session_memo(spark) -> Memo:
    """The memo owned by `spark`'s SparkContext. It is keyed on the
    context's application id, so once a context is stopped and a new
    one started, the old memo is released and a fresh one serves the
    new context; no frame of a stopped context is ever served."""
    global _session
    app_id = spark.sparkContext.applicationId
    old = None
    with _session_lock:
        if _session is None or _session[0] != app_id:
            old, _session = _session, (app_id, Memo())
        memo = _session[1]
    if old is not None:
        try:
            old[1].release()
        except Exception:  # noqa: BLE001 — its context is already gone
            pass
    return memo
