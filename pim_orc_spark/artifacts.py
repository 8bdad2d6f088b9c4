"""Session-scoped resident artifacts.

Production systems maintain certain derived structures as persistent
artifacts beside the data — MinHash signature indexes, IVF/PQ
quantizer codebooks — and queries consume them; rebuilding per query
is the anomaly. ``cached_artifact`` is the one shared cache for these:
keyed by (family, Spark applicationId, table directory, directory
mtime), with entries owned by OTHER applications evicted on every
access — a stopped app's localCheckpoint blocks died with it, and
keeping its handles (or its numpy codebooks) would pin memory forever
in a long-lived driver process that restarts Spark sessions. The
mtime component means an in-place rewrite of the table directory
(files added/removed) invalidates the artifact instead of silently
serving a stale index. Within one application the entries are bounded
by |families| × |table directories| (a handful of fixture dirs here;
a deployment's artifact store is the durable version of exactly this
map).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from typing import Any

from pim_orc_spark.fsutil import table_version

_STORE: dict[tuple[str, str, str, float], Any] = {}
_LOCK = threading.Lock()
# Distinguish "not cached" from "build() legitimately returned None" —
# with a plain .get(None) a None-valued artifact would rebuild on
# every access.
_MISS = object()


def cached_artifact(
    family: str,
    spark: Any,
    sf_dir: str,
    build: Callable[[], Any],
    probe: Callable[[Any], bool] | None = None,
) -> Any:
    """Return the (family, application, table, mtime) artifact,
    building it once per application; artifacts of dead applications
    or superseded table versions are evicted. ``probe`` (optional)
    validates a cached entry before reuse — e.g. touching a
    localCheckpoint-backed DataFrame whose blocks an executor loss
    could have destroyed (checkpoint blocks are NOT fault-tolerant);
    a failing or raising probe evicts and rebuilds instead of letting
    every later reuse fail unrecoverably.
    """
    from pim_orc_spark.session import application_id

    app = application_id(spark)
    key = (family, app, os.path.abspath(sf_dir), table_version(sf_dir))
    with _LOCK:
        stale_keys = [
            k
            for k in _STORE
            if k[1] != app or (k[:3] == key[:3] and k != key)
        ]
        for stale in stale_keys:
            del _STORE[stale]
        cached = _STORE.get(key, _MISS)
    if cached is not _MISS and probe is not None:
        try:
            ok = probe(cached)
        except Exception:
            ok = False
        if not ok:
            with _LOCK:
                _STORE.pop(key, None)
            cached = _MISS
    if cached is _MISS:
        # build OUTSIDE the lock (builds run Spark jobs; holding the
        # lock would serialize unrelated families). Two threads may
        # race the same build; first-put wins — both results are
        # equivalent by construction.
        built = build()
        with _LOCK:
            cached = _STORE.setdefault(key, built)
    return cached


def clear() -> None:
    """Drop every cached artifact (bench hygiene: lets a harness
    measure cold-build cost or release pinned localCheckpoint blocks
    between timing passes)."""
    with _LOCK:
        _STORE.clear()
