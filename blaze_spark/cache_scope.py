"""Cache lifetime: one owner for every persisted pipeline intermediate.

An operator that reads an intermediate more than once persists it inside
a scope::

    with cache_scope() as scope:
        sigs = scope.persist(signatures(t))
        pairs = band_pairs(sigs)
        return Table(scope.attach(pairs), "candidates")

- ``scope.persist(df)`` registers the plan in the refcount, then persists.
- ``scope.attach(result, *upstreams)`` hands the scope's caches, plus any
  that ``upstreams`` carry, to the frame the caller keeps.  They ride in
  ``result._blaze_caches`` and are unpersisted once the last frame
  holding them is collected.  Table ops carry them onto derived frames
  (``Table._new``), so ``out.sort(...)`` keeps them.
- Leaving the scope releases every registration when an exception
  escapes, or when nothing was attached (a construction-only scope, such
  as an eager fit's working set).

Why a refcount: Spark's CacheManager keys cached data by CANONICALIZED
PLAN, so two logically-identical persisted frames (two constructions of
the same entry held at once, or two operators persisting the same
sub-frame) share ONE JVM cache entry, and persist() on the second is a
no-op.  A plain per-object release would kill the shared entry when the
FIRST frame dies and silently un-cache the survivor, whose plan then
re-derives the whole subtree.  Release therefore counts registrations per
plan key and unpersists only when the last one goes.  A frame that is
already cached under a key the refcount never saw is a caller's raw
persist: the scope leaves it alone (their entry, their lifetime).

Each release runs at most once, and its once-only check and its
decrement share one critical section: finalizers run on whichever thread
triggers GC, so two releases may race.
"""

from __future__ import annotations

import threading
import weakref

__all__ = ["cache_scope", "carry"]

# live registrations per (JVM session identity, analyzed-plan
# semanticHash, output dtypes)
_CACHE_REFS: dict = {}
_CACHE_LOCK = threading.Lock()


def _cache_key(df):
    """Refcount key for a persisted frame.  semanticHash is 32-bit; the
    schema shrinks the collision surface between distinct plans without
    changing the sharing of genuinely identical plans (same plan, same
    schema).  Raises on Spark Connect frames (no ``_jdf``)."""
    jdf = df._jdf
    return (jdf.sparkSession().hashCode(),
            jdf.queryExecution().analyzed().semanticHash(),
            tuple(df.dtypes))


def _is_cached(df) -> bool:
    """Whether the JVM CacheManager holds ``df``'s plan (whoever
    persisted it)."""
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk or lvl.useOffHeap


def _caches_of(df) -> list | None:
    # instance dict, not getattr: DataFrame.__getattr__ resolves column
    # names through the schema, which the relational path should not pay
    return getattr(df, "__dict__", {}).get("_blaze_caches")


def _hold(holder, caches) -> None:
    mine = _caches_of(holder)
    if mine is None:
        mine = holder._blaze_caches = []
    for c in caches:
        if not any(c is m for m in mine):
            mine.append(c)


def carry(holder, *sources):
    """Add the caches that ``sources`` hold to ``holder``'s, so a frame
    derived from a cache-holding result keeps those caches alive.
    Returns ``holder``."""
    for src in sources:
        caches = _caches_of(src)
        if caches and src is not holder:
            _hold(holder, caches)
    return holder


class _Registration:
    """One refcount registration of a persisted frame."""

    __slots__ = ("key", "target", "done", "armed")

    def __init__(self, key, target):
        # target: the JVM handle (classic), so a finalizer on the cached
        # frame need not keep the frame alive; the frame itself on Connect
        self.key, self.target = key, target
        self.done = self.armed = False

    def release(self, df=None) -> None:
        with _CACHE_LOCK:
            if self.done:
                return
            self.done = True
            if self.key is not None:
                live = _CACHE_REFS.get(self.key, 1) - 1
                if live > 0:
                    _CACHE_REFS[self.key] = live
                    return  # an identical frame still holds the entry
                _CACHE_REFS.pop(self.key, None)
        try:
            (self.target if df is None else df).unpersist(False)
        except Exception:
            pass  # session already stopped


class CacheScope:
    """Owner of the persists made inside one ``with cache_scope()``."""

    def __init__(self):
        self._held: list = []  # (frame, _Registration)
        self._attached = False

    def persist(self, df):
        """Register ``df``'s plan, then persist it.  Returns ``df``."""
        try:
            key = _cache_key(df)
        except AttributeError:
            key = None  # Spark Connect: per-object release
        if not (key is not None and key in _CACHE_REFS) and _is_cached(df):
            return df  # a caller's raw persist: left alone
        if key is not None:
            with _CACHE_LOCK:
                _CACHE_REFS[key] = _CACHE_REFS.get(key, 0) + 1
        df.persist()
        try:
            target = df._jdf
        except AttributeError:
            target = df
        self._held.append((df, _Registration(key, target)))
        return df

    def attach(self, result, *upstreams):
        """Hand the scope's caches, and those ``upstreams`` carry, to
        ``result`` (the frame the caller keeps).  Returns ``result``."""
        carry(result, *upstreams)
        for cached, reg in self._held:
            _hold(result, (cached,))
            if reg.armed:
                continue
            # classic: release when the cached frame dies, i.e. when the
            # last holder drops it.  Connect: the release pins the frame,
            # so a finalizer on it would never fire -- use the holder
            weakref.finalize(result if reg.target is cached else cached,
                             reg.release)
            reg.armed = True
        self._attached = True
        return result

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if exc_type is not None or not self._attached:
            for df, reg in self._held:
                reg.release(df)
        return False


def cache_scope() -> CacheScope:
    """A scope that owns the persists made through it (module doc)."""
    return CacheScope()
