"""User-owned on-disk cache root for derived fixtures and indexes.

Every cache this engine materializes (timestamp-cast events copies,
stream-source directories, seqfile/parquet round-trip fixtures, the
persisted IVF index) used to live at fixed world-writable
``/tmp/hfs_*`` paths — on a shared host another user can pre-create
such a path and poison the cache (ADVICE r4).  All of
them now live under ONE per-user root created with mode 0700:

* ``$HFS_CACHE_DIR`` when set (explicit operator choice), else
* ``<tmpdir>/hfs_cache_<uid>``.

If the root exists but is owned by someone else (squatted), fall back
to a fresh private ``mkdtemp`` — caching degrades to per-process, but
nothing is ever read from or written to a directory we don't own.

``materialize(parts, build)`` is the one way a cached fixture is built
and published: it owns the hit rule, the private build location and
the atomic publish, and it verifies the published path before handing
it out.  ``sf_key`` is the one spelling of a testdata directory inside
a cache path.  ``run_dir(prefix)`` is the one place a query gets a
directory that lives only as long as the interpreter.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from typing import Callable

_ROOT: str | None = None


def cache_root() -> str:
    """The per-user cache root (created on first use, mode 0700)."""
    global _ROOT
    if _ROOT is not None:
        return _ROOT
    root = os.environ.get("HFS_CACHE_DIR") or os.path.join(
        tempfile.gettempdir(), f"hfs_cache_{os.getuid()}"
    )
    try:
        os.makedirs(root, mode=0o700, exist_ok=True)
        # lstat + symlink rejection: os.stat follows symlinks, so an
        # attacker could pre-create the root as a symlink to a directory
        # the victim owns (passing a stat-based uid check) and redirect
        # cache reads/writes there (ADVICE r5 #2).
        st = os.lstat(root)
        if os.path.islink(root) or not os.path.isdir(root):
            raise PermissionError(f"cache root {root} is not a real directory")
        if st.st_uid != os.getuid():
            raise PermissionError(f"cache root {root} not owned by uid {os.getuid()}")
    except (OSError, PermissionError):
        root = tempfile.mkdtemp(prefix="hfs_cache_")
    _ROOT = root
    return root


def cache_path(*parts: str) -> str:
    """Join ``parts`` under the cache root (no directory creation)."""
    return os.path.join(cache_root(), *parts)


def run_dir(prefix: str) -> str:
    """A fresh directory under the cache root, removed at interpreter
    exit and not before: the DataFrames a query returns read it lazily."""
    path = tempfile.mkdtemp(prefix=prefix, dir=cache_root())
    atexit.register(shutil.rmtree, path, True)
    return path


def sf_key(sf_dir: str) -> str:
    """Cache-path component naming a testdata directory."""
    return sf_dir.strip("/").replace("/", "_")


def _populated(path: str) -> bool:
    """A non-empty file, or a directory holding a data entry (names
    starting with ``.`` or ``_`` are markers and checksums, not data)."""
    if os.path.isfile(path):
        return os.path.getsize(path) > 0
    return os.path.isdir(path) and any(
        not f.startswith((".", "_")) for f in os.listdir(path)
    )


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.lexists(path):
        os.unlink(path)


def materialize(parts: tuple[str, ...], build: Callable[[str], object]) -> str:
    """Return ``cache_path(*parts)``, building it first on a miss.

    ``build(tmp)`` writes the fixture (a file or a directory) at a
    private sibling path; it is then renamed into place, so readers
    never see partial output.  A rename that fails because a concurrent
    builder published first discards ``tmp`` and serves the winner's
    copy.  Either way the published path is checked before it is
    returned: an unpopulated result raises instead of yielding empty
    reads downstream."""
    final = cache_path(*parts)
    if _populated(final):
        return final
    os.makedirs(os.path.dirname(final), exist_ok=True)
    tmp = final + "." + uuid.uuid4().hex[:8]
    try:
        build(tmp)
    except BaseException:
        _remove(tmp)
        raise
    try:
        os.rename(tmp, final)
    except OSError:
        _remove(tmp)
    if not _populated(final):
        raise RuntimeError(
            f"cache publish failed: {final!r} is missing or unpopulated"
        )
    return final
