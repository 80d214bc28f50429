"""(path, size, mtime_ns)-keyed caches for file-metadata planning work.

The planning workers Spark launches for ``schema()`` / ``partitions()``
are REUSED processes (observed: the same ``create_data_source`` /
``plan_data_source_read`` workers serve successive queries), and
executor read tasks re-parse the same file header once per partition.
Caching ``read_metadata`` (and the O(file-bytes) SPSS RLE recovery-point
scan) on a stat fingerprint makes every repeat plan/read of an unchanged
file hit a dict instead of the filesystem; replacing the file (new size
or mtime_ns) invalidates naturally — the semantics the session-scoped
parquet DataFrame cache in tables.py already established.

Metadata objects are treated as immutable after construction (the only
attribute writes live inside the ``read_metadata`` builders themselves);
a cached instance is therefore safe to share across queries.
"""

from __future__ import annotations

import os
from functools import wraps

_MAXSIZE = 64


def bounded_put(cache: dict, key, value, maxsize: int = _MAXSIZE) -> None:
    """Insert into a FIFO-bounded memo dict, evicting the oldest entries
    first. Callers include maintenance._run_jobs worker threads, so
    concurrent evictions can race on the same FIFO head: the pop default
    swallows a lost key race, and the try/except covers iter() itself
    (emptied or resized by a peer between iter and next) — a lost race
    is a no-op, and a double-insert just overwrites with an equal value."""
    while len(cache) >= maxsize:
        try:
            cache.pop(next(iter(cache)), None)
        except (StopIteration, RuntimeError):
            break
    cache[key] = value


def stat_keyed_cache(fn=None, *, maxsize=_MAXSIZE):
    """Cache ``fn(path, *args, **kwargs)`` keyed by the path's
    (realpath, size, mtime_ns) stat fingerprint plus the remaining
    arguments. FIFO-bounded at ``maxsize`` entries per function (64
    default; pass a small value for functions whose entries are large —
    the SAS page index caps one entry at ~6 MB, so 64 of them would pin
    ~384 MB per reused worker). A path that cannot be stat'ed bypasses
    the cache so the wrapped function raises its native error."""
    if fn is None:  # used as @stat_keyed_cache(maxsize=N)
        return lambda f: stat_keyed_cache(f, maxsize=maxsize)
    cache: dict = {}

    @wraps(fn)
    def wrapper(path, *args, **kwargs):
        try:
            real = os.path.realpath(path)
            st = os.stat(real)
        except OSError:
            return fn(path, *args, **kwargs)
        key = (real, st.st_size, st.st_mtime_ns, args, tuple(sorted(kwargs.items())))
        try:
            hit = cache.get(key)
        except TypeError:  # unhashable extra arg — bypass
            return fn(path, *args, **kwargs)
        if hit is not None:
            return hit
        out = fn(path, *args, **kwargs)
        bounded_put(cache, key, out, maxsize)
        return out

    wrapper._cache = cache  # test/introspection hook
    return wrapper
