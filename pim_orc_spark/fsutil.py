"""Shared filesystem helpers for locally-cached table materializations.

``atomic_build`` is the single authority for the temp-dir + marker +
rename cache protocol used by every materialized artifact (ORC copies,
the evolved-table cache, the pre-split stream source, the maintenance
rewrites). One implementation so a protocol fix lands everywhere at
once (round-5 review: three inline copies had drifted into a shared
TOCTOU race). ``table_version`` is, for the same reason, the single
version stamp every table-keyed cache uses, and ``versioned_memo`` the
single in-process get-or-build over it.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable
from typing import TypeVar

MARKER = "_BUILD_COMPLETE"

T = TypeVar("T")


def table_version(path: str) -> int:
    """Version stamp for a table path (a directory or a single file):
    the max of the path's own mtime and, for a directory, every direct
    entry's mtime, in integer NANOSECONDS (st_mtime_ns — the float
    st_mtime would alias two generations written within its ~µs
    resolution, and truncating to whole seconds aliases anything
    inside one second). The directory mtime alone changes only on
    entry add/remove/rename; an in-place same-name file rewrite moves
    only the file's own mtime, so per-entry stats are required for
    rewrites to invalidate. (Stats are shallow — one listdir, no
    recursion — because every fixture table is a flat directory or a
    single file; granularity is the filesystem's.) 0 when the path
    does not exist."""
    try:
        mt = os.stat(path).st_mtime_ns
        if os.path.isdir(path):
            for name in os.listdir(path):
                try:
                    mt = max(
                        mt,
                        os.stat(os.path.join(path, name)).st_mtime_ns,
                    )
                except OSError:
                    continue
        return mt
    except OSError:
        return 0


def versioned_memo(
    cache: dict[str, tuple[int, T]], path: str, build: Callable[[], T]
) -> T:
    """``build()``'s value for the current generation of ``path``,
    computed once per generation: one ``table_version`` stat plus one
    dict lookup per call. ``cache`` maps a path to (version, value), so
    a rewrite REPLACES the superseded generation's entry instead of
    pinning it beside the new one."""
    version = table_version(path)
    hit = cache.get(path)
    if hit is not None and hit[0] == version:
        return hit[1]
    value = build()
    cache[path] = (version, value)
    return value


def atomic_build(path: str, build: Callable[[str], None]) -> str:
    """Build the cache directory ``path`` exactly once, race-safely.

    Protocol: build into a private temp dir (marker written inside,
    AFTER the build body succeeds), then ``os.rename`` into place.
    rename fails if the destination exists, so exactly one builder
    wins. A loser whose rename fails re-checks the marker: if present,
    a complete build won the race — discard ours; if absent, the
    destination is a STALE half-build from an interrupted process —
    atomically STEAL it aside with a second rename (only one stealer
    can succeed), delete it, and retry once.

    The old inline pattern (rmtree the stale dir BEFORE building) had
    a TOCTOU hole: a slow loser's pre-build marker check could pass,
    then its rmtree deleted the winner's just-completed directory.
    Here nothing is ever deleted at ``path`` except via the atomic
    steal-rename, which cannot target a directory that carries the
    marker at steal time without the stealer having already lost the
    marker re-check — and a winner's marker is renamed into place
    together with its data, never added to a visible directory.
    """
    marker = os.path.join(path, MARKER)
    if os.path.exists(marker):
        return path
    # pid alone is not unique enough: two THREADS of one process
    # building the same cache would share a tmp path and interleave
    # their writes before the rename
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex}"
    try:
        build(tmp)
        with open(os.path.join(tmp, MARKER), "w") as fh:
            fh.write("ok\n")
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    for _attempt in (0, 1):
        try:
            os.rename(tmp, path)
            return path
        except OSError:
            if os.path.exists(marker):
                # a complete build won the race; ours is redundant
                shutil.rmtree(tmp, ignore_errors=True)
                return path
            # stale half-build: steal it aside atomically, then retry
            dead = f"{path}.dead.{os.getpid()}.{uuid.uuid4().hex}"
            try:
                os.rename(path, dead)
            except OSError:
                # another process stole or replaced it — loop to retry
                continue
            shutil.rmtree(dead, ignore_errors=True)
    # both attempts failed and no marker appeared
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(marker):
        return path
    raise OSError(f"atomic_build could not install {path}")


def versioned_cache_dir(root: str, sf_dir: str, name: str) -> str:
    """Cache path for a materialization DERIVED from ``sf_dir``, keyed
    by the source directory's version stamp (``table_version`` — max
    of the dir's and every direct entry's mtime, integer ns so two
    generations inside the same second still get distinct keys).

    The driver regenerates /root/testdata between rounds, and round 3
    proved storage details drift (the events timestamp encoding
    changed). A marker-complete cache from the previous generation
    would silently serve stale bytes against fresh oracles; folding
    the stamp into the path makes a regenerated source miss the cache
    by construction — no invalidation protocol, just a different key.
    Old generations' directories leak until /tmp is cleared, which is
    the standard cache-key trade."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(
        root, f"{sf_tag}.v{table_version(sf_dir)}", name
    )


def vacuum_cache_root(root: str, current_sf_dirs: list[str]) -> dict:
    """VACUUM for the version-stamped cache tree: remove every
    generation directory under ``root`` whose stamp is not the CURRENT
    stamp of any directory in ``current_sf_dirs`` — the retention job
    (Delta/Iceberg VACUUM) that pairs with versioned_cache_dir's
    leak-by-design keying.

    Safety: only entries matching the ``<tag>.v<stamp>`` shape are
    candidates (a foreign directory in the root is never touched), the
    live generation of each source is kept by construction, and
    removal reuses the atomic steal-rename (rename aside, then rmtree)
    so a concurrent builder that just installed a marker can never
    have a half-removed directory observed at the original path.

    Returns {"kept": [...], "removed": [...], "reclaimed_bytes": n}.
    """
    keep = {
        os.path.basename(
            os.path.dirname(versioned_cache_dir(root, sf_dir, "x"))
        )
        for sf_dir in current_sf_dirs
    }
    report = {"kept": [], "removed": [], "reclaimed_bytes": 0}
    if not os.path.isdir(root):
        return report
    for entry in sorted(os.listdir(root)):
        path = os.path.join(root, entry)
        if not os.path.isdir(path):
            continue
        tag, sep, stamp = entry.rpartition(".v")
        if not sep or not tag or not stamp.isdigit():
            continue  # not a versioned generation — never touch
        if entry in keep:
            report["kept"].append(entry)
            continue
        size = 0
        for dirpath, _dirnames, filenames in os.walk(path):
            for fn in filenames:
                try:
                    size += os.path.getsize(os.path.join(dirpath, fn))
                except OSError:
                    pass
        dead = f"{path}.dead.{os.getpid()}.{uuid.uuid4().hex}"
        try:
            os.rename(path, dead)
        except OSError:
            continue  # raced with a rebuild — skip this generation
        shutil.rmtree(dead, ignore_errors=True)
        report["removed"].append(entry)
        report["reclaimed_bytes"] += size
    return report
