"""The one way an operator caches an intermediate.

Every persist/unpersist in the engine goes through this module (a
guard test enforces it). Two lifetimes:

- ``pin(name, df, fill=...)`` / ``pin_keyed(name, key, build,
  fill=...)`` — a cache that must OUTLIVE the function: the operator
  returns a lazy frame whose execution reads the pinned intermediate.
  One live generation per name (see ``pin``); ``release(name)`` ends a
  generation early once everything derived from it is collected.
- ``with held(df, fill=...) as df:`` — a cache that lives only inside
  the function: all consumption (collects, driver loops, a returned
  local frame) happens inside the block, and the cache is dropped on
  exit, exception included. Prefer it to ``pin`` whenever the
  function materializes everything it needs before returning.

``fill`` is chosen by the call site, never by the user:

- ``fill=True`` runs one cheap ``count()`` job right away. Use it
  when the cache has two or more consumers in ONE job (a self-join,
  both sides of a join, several union branches): AQE runs the job's
  map stages concurrently, and tasks racing on an unfilled cached
  partition each compute it (measured 2-10x kernel recompute on the
  minhash self-join); the count fills every partition exactly once.
- ``fill=False`` leaves the first consumer to fill it — right when
  the consumers run as separate jobs, one after another, or when an
  eager scalar on the cache is needed anyway.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LIVE_CACHES: dict[str, DataFrame] = {}
_PIN_KEYS: dict[str, object] = {}
_PIN_LOCK = threading.Lock()


def _filled(df: DataFrame, fill: bool) -> DataFrame:
    if fill:
        df.count()
    return df


def _swap(name: str, df: DataFrame, key: object = None) -> DataFrame:
    """Install `df` as the live generation of `name`: unpersist the old
    generation, THEN persist the new one, all under the lock. The order
    matters when both share a plan (two threads rebuilding one key):
    Spark's cache is keyed by plan, so unpersisting the old frame after
    persisting the new one would drop the new one's cache too."""
    with _PIN_LOCK:
        old = _LIVE_CACHES.pop(name, None)
        if old is not None:
            old.unpersist()
        df = df.persist()
        _LIVE_CACHES[name] = df
        _PIN_KEYS[name] = key
        return df


def pin(name: str, df: DataFrame, *, fill: bool) -> DataFrame:
    """Generation cache: persist `df` under `name`, releasing the
    PREVIOUS invocation's cache of the same name first.

    These operators return lazy frames whose execution reads a pinned
    intermediate (signatures/tokens), so the cache must outlive the
    function — but without a release point, every invocation leaks one
    cached frame for the session lifetime (bench loops, long-lived
    sessions). One live generation per name caps that: repeat calls
    reclaim their predecessor, and an unusual interleave (consuming an
    older call's frame after a newer call) only loses the cache, not
    correctness — the lineage recomputes. The swap itself is guarded
    by a driver-side lock so concurrent operators (e.g. two registry
    queries driven from different threads under the FAIR scheduler)
    can't race the pop/persist and corrupt the dict; the fill runs
    outside it."""
    return _filled(_swap(name, df), fill)


def pin_keyed(
    name: str, key: object, build: Callable[[], DataFrame], *, fill: bool
) -> DataFrame:
    """Cross-query generation cache: like pin, but REUSES the live
    generation when `key` (e.g. the sf_dir) matches instead of
    rebuilding — for intermediates several registry queries share
    (the co-purchase weighted edge frame). A stale key rebuilds.
    `build` is a thunk so a cache hit never constructs the plan.

    An external clearCache() (bench.py's cold-per-sample contract)
    drops the storage level behind our back; a hit must RE-PERSIST
    then, or the consumer's fill runs uncached and the multi-reference
    join recomputes the kernel once per reference — the exact
    regression pin never had (it re-persists every call; measured on
    dedup_minhash_lsh: ~2.0 s cold vs ~1.2 s with the re-persist,
    sf0.1). With ``fill=True`` a hit still runs the count: on a live
    cache it is a cheap scan, after a clearCache it refills."""
    with _PIN_LOCK:
        live = _LIVE_CACHES.get(name)
        if live is not None and _PIN_KEYS.get(name) == key:
            lvl = live.storageLevel
            if not (lvl.useMemory or lvl.useDisk):
                live = live.persist()
                _LIVE_CACHES[name] = live
        else:
            live = None
    return _filled(live if live is not None else _swap(name, build(), key), fill)


def release(name: str) -> None:
    """Explicitly end a pin's generation: pop the registry entry AND
    unpersist in one place — for operators whose consumption of the
    pinned frame is fully EAGER (collected inside the function), where
    holding the cache for the session adds nothing. Keeps the pin
    invariant (the registry only ever lists live generations) instead
    of unpersisting behind its back."""
    with _PIN_LOCK:
        _PIN_KEYS.pop(name, None)
        df = _LIVE_CACHES.pop(name, None)
        if df is not None:
            df.unpersist()


@contextmanager
def held(df: DataFrame, *, fill: bool) -> Iterator[DataFrame]:
    """Function-local cache: persist `df` (filled now when `fill`),
    yield it, and unpersist it when the block exits — normally or by
    an exception. Frames derived from it must be materialized inside
    the block; after it they recompute from lineage."""
    df = df.persist()
    try:
        yield _filled(df, fill)
    finally:
        df.unpersist()
