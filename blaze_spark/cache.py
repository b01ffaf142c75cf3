"""Cache ownership: the one place that persists and releases a frame.

Operators that reuse a materialized intermediate hold it through one
form::

    with owned_cache(df) as c:
        ...                           # build the result from df
        return c.transfer(result)     # the result now owns the cache

Leaving the block without ``transfer`` (the construction scope, or an
exception) releases the block's reference; ``transfer`` hands it to the
result frame, which releases it when the frame is collected.  Derived
results keep their parents' caches through :func:`carry`, which
``Table`` derivations call themselves.

Spark's CacheManager keys cached data by CANONICALIZED PLAN, so two
logically-identical persisted frames (two constructions of the same
entry held at once, or two operators persisting the same sub-frame)
share ONE JVM cache entry — persist() on the second is a no-op.  A
per-object release would kill the shared entry when the FIRST holder
dies, silently un-caching the survivor (its plan degrades to the naive
re-derivation).  References are therefore counted per plan key, and
the entry is unpersisted only when the LAST reference goes.  Mutations
hold ``_CACHE_LOCK``: releases run in finalizers on whichever thread
triggers GC.

``Table.cache()``/``Table.persist()`` stay raw: they are the
user-facing ``CachedDataset`` API, and a plan the user persisted is
borrowed here, never released.
"""

from __future__ import annotations

import threading
import weakref

_CACHE_REFS: dict = {}
_CACHE_LOCK = threading.Lock()


def _cache_key(df):
    """Refcount key for a persisted frame: (JVM session identity,
    semanticHash of the analyzed plan, output dtypes).  semanticHash is
    32-bit — adding the schema shrinks the collision surface between
    distinct plans sharing one count without changing the sharing
    behavior for genuinely identical plans (same plan ⇒ same schema).
    Raises on Spark Connect frames (no ``_jdf``); callers fall back to
    per-object release."""
    jdf = df._jdf
    return (jdf.sparkSession().hashCode(),
            jdf.queryExecution().analyzed().semanticHash(),
            tuple(df.dtypes))


def _plan_is_cached(df) -> bool:
    """Whether the CacheManager holds ``df``'s plan — asked through the
    plan, so an identical frame persisted as another Python object
    counts (the per-object ``is_cached`` flag would not)."""
    level = df.storageLevel
    return level.useMemory or level.useDisk or level.useOffHeap


def _release(key, done, target) -> None:
    """Drop one reference; unpersist ``target`` (a frame or its JVM
    handle) once the plan key has none left.  Test-and-set under the
    lock: two threads releasing the same reference decrement once."""
    with _CACHE_LOCK:
        if done:
            return
        done.append(True)
        if key is not None:
            live = _CACHE_REFS.get(key, 1) - 1
            if live > 0:
                _CACHE_REFS[key] = live  # an identical frame holds it
                return
            _CACHE_REFS.pop(key, None)
    try:
        target.unpersist(False)
    except Exception:
        pass  # session already stopped


def _frame(x):
    from .core import Table
    return x.df if isinstance(x, Table) else x


# The caches a holder keeps alive ride in its ``_blaze_caches``, read
# through vars(), not getattr: a missing attribute on a DataFrame falls
# back to a column lookup that fetches the schema from the JVM.
def _hold(holder, cached) -> None:
    caches = vars(holder).setdefault("_blaze_caches", [])
    if not any(c is cached for c in caches):
        caches.append(cached)


class CacheOwner:
    """One reference to a persisted frame; see :func:`owned_cache`."""

    def __init__(self, df):
        self.df = df
        # set once this owner holds no reference: released, borrowed,
        # or (df None) never acquired
        self._done: list = []
        self._transferred = False
        self._key = None
        if df is None:
            self._done.append(True)
            return
        try:
            self._key = _cache_key(df)
        except Exception:
            pass  # Spark Connect: per-object release
        if self._key is not None:
            with _CACHE_LOCK:
                if self._key in _CACHE_REFS:
                    _CACHE_REFS[self._key] += 1
                    return  # already persisted under the refcount
            if _plan_is_cached(df):
                # a raw caller persist the refcount never saw: their
                # entry, their lifetime — borrow it, never release it
                self._done.append(True)
                return
            # register BEFORE persist(), so a concurrent last release
            # of the identical plan cannot unpersist into the gap
            with _CACHE_LOCK:
                _CACHE_REFS[self._key] = _CACHE_REFS.get(self._key, 0) + 1
        df.persist()

    def release(self) -> None:
        """Drop this owner's reference now (idempotent)."""
        _release(self._key, self._done, self.df)

    def transfer(self, result):
        """Hand this owner's reference to ``result`` (a Table or a
        DataFrame) and return it.  The cached frame rides in the result
        frame's ``_blaze_caches``, and the release runs when the last
        holder drops the cached frame — the finalizer sits on the cached
        frame and captures only its JVM handle.  The result frame, not
        a Table wrapper, is the holder: callers keep ``.df`` and drop
        the Table."""
        if self._done:
            return result  # nothing owned: borrowed, or no frame
        holder = _frame(result)
        _hold(holder, self.df)
        try:
            jdf = self.df._jdf
        except Exception:
            # Spark Connect: no JVM handle to capture, and a closure
            # over the cached frame would pin it — release when this
            # holder dies instead
            weakref.finalize(holder, _release, self._key, self._done,
                             self.df)
        else:
            weakref.finalize(self.df, _release, self._key, self._done,
                             jdf)
        self._transferred = True
        return result

    def __enter__(self) -> "CacheOwner":
        return self

    def __exit__(self, *exc) -> bool:
        if not self._transferred:
            self.release()
        return False


def owned_cache(df) -> CacheOwner:
    """Persist ``df`` under the plan-keyed refcount for a ``with``
    block; ``None`` owns nothing (an operator whose cache is
    conditional).  Acquiring is decided here:

    - a plan the refcount already holds gains one reference and is not
      persisted again;
    - a plan cached by a raw caller persist is borrowed: no persist, no
      release;
    - otherwise the key is registered at one, then ``df`` persisted.
    """
    return CacheOwner(df)


def carry(out, *holders):
    """Keep the caches riding on ``holders`` (Tables or DataFrames)
    alive for as long as ``out`` (a Table or DataFrame) is — the one
    propagation call, so a chained operator (LSH candidates → n-gram
    verify) or an entry's final ``orderBy`` keeps the upstream caches
    until ITS caller is done.  Returns ``out``."""
    dst = _frame(out)
    for h in holders:
        for c in vars(_frame(h)).get("_blaze_caches", ()):
            _hold(dst, c)
    return out
