"""Cache lifetimes: the one module that decides how long a cache lives.

Spark's CacheManager holds a persisted DataFrame's blocks until an explicit
unpersist — going out of scope in Python frees nothing, and the
ContextCleaner never touches catalog-registered caches. Operators such as
MinHash LSH (shingle + band frames) and the range-partitioned window
operators legitimately persist mid-pipeline, but in a long-lived session those blocks
pile up and measurably slow *unrelated* later queries (observed 10-20x on
window/CDC queries at sf0.1 once the LSH caches were resident).

Data caches live in a *scope*. ``scoped_persist`` is a drop-in persist that
records the frame in the current scope, which a ``ContextVar`` holds;
``cache_scope()`` opens a fresh scope and unpersists everything recorded in
it when the block exits, error or not. ``PipelineGraph.run`` opens one per
stage (flow + write) inside the stage's own thread, so a stage that
finishes frees only its own frames while its siblings still run (unless
two stages persist the very same plan, which Spark caches once);
``streaming_curate`` opens one per micro-batch. A unit's footprint is its
own work, and a failing unit leaks nothing. Frames recorded outside any
``cache_scope()`` go to the process scope; the query registry
(plans/queries.py::register) releases it at each new query, so a
sequential runner — the driver's correctness loop, perfbench, driver-sim —
keeps a one-query footprint, and the returned DataFrame stays cached until
the caller has consumed it and invoked the next query.

Expression memos — analyzed table plans, inferred schemas, built Column
trees — live in ``session_memo``: one dict keyed by the active Spark
application. py4j-backed objects are only valid for the JVM gateway that
built them, so a miss drops every entry of any other application.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar
from typing import TypeVar

from pyspark import SparkContext
from pyspark.sql import DataFrame

_T = TypeVar("_T")

_PROCESS_SCOPE: list[DataFrame] = []
_SCOPE: ContextVar[list[DataFrame]] = ContextVar("cache_scope", default=_PROCESS_SCOPE)
_MEMO: dict[tuple[str, Hashable], object] = {}
_MEMO_LOCK = threading.RLock()  # a miss iterates the dict to evict


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() the frame and record it in the current cache scope."""
    df = df.persist()
    _SCOPE.get().append(df)
    return df


def release_scoped(blocking: bool = False) -> None:
    """Unpersist every frame recorded in the current scope so far.

    Safe to call repeatedly; ignores frames whose session is already gone.
    """
    frames = _SCOPE.get()
    while frames:
        try:
            frames.pop().unpersist(blocking)
        except Exception:
            pass


@contextmanager
def cache_scope() -> Iterator[None]:
    """Scope the ``scoped_persist`` calls made inside the block: their frames
    are unpersisted when it exits, including on an exception. Frames of
    enclosing scopes are untouched."""
    token = _SCOPE.set([])
    try:
        yield
    finally:
        try:
            release_scoped()
        finally:
            _SCOPE.reset(token)


def _application_id() -> str:
    sc = SparkContext._active_spark_context
    return sc.applicationId if sc is not None else ""


def session_memo(key: Hashable, build: Callable[[], _T]) -> _T:
    """``build()``'s value for ``key`` under the active Spark application,
    built once. A miss first drops every entry of any other application.
    Callers lead ``key`` with their own name so memos never collide."""
    app = _application_id()
    with _MEMO_LOCK:
        if (app, key) not in _MEMO:
            for stale in [k for k in _MEMO if k[0] != app]:
                del _MEMO[stale]
            _MEMO[(app, key)] = build()
        return _MEMO[(app, key)]  # type: ignore[return-value]


__all__ = ["cache_scope", "release_scoped", "scoped_persist", "session_memo"]
