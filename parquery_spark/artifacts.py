"""Stat-keyed artifacts: the models, indexes and re-laid tables that
registry queries build once per version of their source tables and then
read like any other input (through ``relations.get_relation``).

This module is the only code that knows their lifecycle:

- **the name** — ``<tempdir>/pqs_<prefix>_<10 hex>``, the hex an md5 of
  every source table's stat identity (through :mod:`parquery_spark.fs`,
  so a non-local ``sf_dir`` keys the same way a local one does) and a
  logic tag;
- **atomic publish** — build into a private directory, then one rename;
- **the owner check** on every reuse;
- **the sweeps** on every publish: stale versions of the same prefix and
  a per-uid byte budget over all prefixes;
- **clearing** (:func:`clear`), the ``--fresh-artifacts`` reset of
  ``bench.py`` and ``scripts/plan_audit.py``.

``TMPDIR`` picks the root (``tempfile.gettempdir()``).
"""

from __future__ import annotations

import fcntl
import glob
import hashlib
import os
import re
import shutil
import tempfile
import uuid
from typing import IO, Callable, Sequence

from parquery_spark import fs

#: a published artifact's basename: prefix, then the 10-hex stat key
_NAME = re.compile(r"pqs_.+_[0-9a-f]{10}")


def artifact(
    sf_dir: str,
    tables: str | Sequence[str],
    tag: str,
    prefix: str,
    build: Callable[[str], None],
    marker: str = "_SUCCESS",
) -> str:
    """The path of the artifact built by ``build`` from ``tables`` (names
    of ``<table>.parquet`` files under ``sf_dir``), building and
    publishing it first when no complete copy exists.

    The key folds each source table's identity (canonical path, mtime,
    size) with ``tag``, a logic version: bump the tag whenever the
    building logic changes, or a stale artifact silently masks the new
    code.  For one local table the key string is the one artifacts have
    always used, so artifacts already on disk stay valid.

    ``build(tmp_dir)`` must leave ``tmp_dir/marker`` present (Spark's
    committer writes ``_SUCCESS`` at every output root; multi-directory
    artifacts name the LAST-written subpath, e.g. ``"codebook/_SUCCESS"``).
    """
    if isinstance(tables, str):
        tables = [tables]
    idents = []
    for table in tables:
        src = os.path.join(sf_dir, f"{table}.parquet")
        mtime_ns, size = fs.stat(src)
        idents.append(f"{fs.canonical(src)}|{mtime_ns}|{size}")
    key = hashlib.md5("|".join([*idents, tag]).encode()).hexdigest()[:10]
    final_dir = os.path.join(tempfile.gettempdir(), f"pqs_{prefix}_{key}")
    return _materialize_once(final_dir, build, marker)


def _materialize_once(final_dir: str, build, marker: str = "_SUCCESS") -> str:
    """Publish a stat-keyed fixture directory ATOMICALLY: build into a
    private tmp root, then one ``os.rename`` to the final path.

    The naive pattern — check ``final/marker``, else run a multi-file
    Spark write INTO ``final`` — has two races that bit this repo (gate
    and scale_smoke running concurrently saw FAILED_READ_FILE): a reader
    can list the directory mid-write, and two builders can interleave
    file sets.  Build-then-rename closes both: readers only ever see a
    complete artifact (the marker is inside the renamed tree), and when
    two builders race, the rename loser discards its (bit-equivalent —
    content is a pure function of the stat key) copy.

    ``build(tmp_dir)`` must leave ``tmp_dir/marker`` present; a build that
    raises leaves nothing behind.  A half-written ``final_dir`` from a
    crashed legacy run (no marker) is cleared before publishing.
    """
    if os.path.exists(os.path.join(final_dir, marker)):
        _check_artifact_owner(final_dir)
        return final_dir
    # unique per ATTEMPT (not per process): two threads of one session
    # racing the same fixture must not share a build root
    tmp = f"{final_dir}.build-{uuid.uuid4().hex[:12]}"
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if not os.path.exists(os.path.join(tmp, marker)):
        raise OSError(
            f"fixture builder for {final_dir!r} did not produce {marker!r}"
        )
    if os.path.isdir(final_dir) and not os.path.exists(
        os.path.join(final_dir, marker)
    ):
        shutil.rmtree(final_dir, ignore_errors=True)
    try:
        os.rename(tmp, final_dir)
    except OSError:
        # Either we lost the publish race (the winner's artifact is
        # equivalent — content is a pure function of the stat key) or the
        # rename genuinely failed (EACCES, EXDEV, ...).  Distinguish by
        # re-checking the marker: a missing artifact here would otherwise
        # surface much later as a confusing read error far from the cause.
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(final_dir, marker)):
            raise
        _check_artifact_owner(final_dir)  # the race winner must be us-ish
    # GC runs only on the build path (a fresh corpus version just
    # published), never on the stat-only hot path
    _sweep_stale_versions(final_dir)
    _sweep_global_budget(final_dir)
    return final_dir


def _sweep_stale_versions(final_dir: str, max_versions: int = 8) -> None:
    """Reap STALE corpus versions of the artifact prefix just published:
    keep the ``max_versions`` most-recently-built sibling directories
    (``{prefix}_{10-hex-stat-tag}``), delete the rest.  Without this the
    stat-keyed scheme accumulates one directory per (corpus version ×
    logic tag) forever.

    Safety: (a) runs only when a NEW version was just built — a steady
    workload never deletes anything; (b) never deletes across uids (the
    ``_check_artifact_owner`` rule applied to deletion); (c) the default
    keeps 8 versions because up to ~5 tags per prefix are legitimately
    live at once (three test SFs + the ×10/×100 scale-smoke corpora),
    and the one-workload-at-a-time rule (NOTES.md) means nothing is
    mid-read while a build publishes."""
    m = re.fullmatch(r"(.*)_[0-9a-f]{10}", final_dir)
    if not m:
        return
    prefix = m.group(1)
    sibs = []
    for d in glob.glob(prefix + "_" + "[0-9a-f]" * 10):
        if d == final_dir or not os.path.isdir(d):
            continue
        try:
            st = os.stat(d)
        except OSError:
            continue
        if hasattr(os, "getuid") and st.st_uid != os.getuid():
            continue  # never cross-uid delete
        sibs.append((st.st_mtime, d))
    sibs.sort(reverse=True)
    # the just-published artifact counts toward the budget
    for _, d in sibs[max_versions - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def _sweep_global_budget(
    final_dir: str, budget_bytes: int | None = None
) -> None:
    """Per-uid TOTAL-bytes budget across ALL stat-keyed artifact prefixes
    (VERDICT r10 #7): the per-prefix keep-8 sweep bounds versions per
    prefix, but the number of prefixes grows with the query surface, so
    the combined /tmp footprint was unbounded globally.  On publish, if
    this uid's artifact directories under the same temp root together
    exceed the budget (``PARQUERY_SPARK_ARTIFACT_BUDGET_BYTES``, default
    4 GiB), reap OLDEST-FIRST by mtime until back under it.

    Same guards as the per-prefix sweep: runs only on the build path;
    only directories matching the ``pqs_{...}_{10-hex}`` naming scheme;
    never across uids; never the just-published artifact (every other
    artifact is rebuildable from its stat key, so reclamation costs a
    rebuild, never correctness)."""
    if budget_bytes is None:
        budget_bytes = int(
            os.environ.get(
                "PARQUERY_SPARK_ARTIFACT_BUDGET_BYTES", str(4 << 30)
            )
        )
    root = os.path.dirname(final_dir)
    entries = []
    for d in glob.glob(os.path.join(root, "pqs_*")):
        if not os.path.isdir(d) or not _NAME.fullmatch(os.path.basename(d)):
            continue
        try:
            st = os.stat(d)
        except OSError:
            continue
        if hasattr(os, "getuid") and st.st_uid != os.getuid():
            continue  # never cross-uid delete
        size = 0
        for dirpath, _dirs, files in os.walk(d, onerror=lambda e: None):
            for f in files:
                try:
                    size += os.lstat(os.path.join(dirpath, f)).st_size
                except OSError:
                    pass
        entries.append((st.st_mtime, size, d))
    total = sum(s for _, s, _ in entries)
    if total <= budget_bytes:
        return
    entries.sort()  # oldest first
    for _, size, d in entries:
        if d == final_dir:
            continue
        shutil.rmtree(d, ignore_errors=True)
        total -= size
        if total <= budget_bytes:
            break


def _check_artifact_owner(final_dir: str) -> None:
    """Stat-keyed artifacts live at predictable names under the shared
    /tmp; on a multi-user host another local user could squat/poison the
    path and queries would silently read foreign data.  Trust a
    pre-existing artifact only if we own it."""
    st = os.stat(final_dir)
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise PermissionError(
            f"artifact directory {final_dir!r} is owned by uid "
            f"{st.st_uid}, not this process (uid {os.getuid()}) — "
            "refusing to read a foreign /tmp artifact; remove it or set "
            "a private TMPDIR"
        )


def clear() -> IO:
    """Delete this uid's ``pqs_*`` entries under the temp root, so every
    artifact is rebuilt (and its cost attributed to its owning query) by
    the run that follows — the ``--fresh-artifacts`` flag of
    ``bench.py`` and ``scripts/plan_audit.py``.

    A per-uid lockfile (``pqs_audit.<uid>.lock``, opened ``O_NOFOLLOW``
    and owner-checked: a fixed name in a shared directory is a squatting
    surface) is taken exclusively and returned: hold it open while the run
    reads artifacts, so a second clearing run fails fast instead of
    deleting them under it.  Scale-smoke fixtures (``*smoke*``: minutes of
    table writes to rebuild, and not artifacts) and the lockfile are kept.
    Raises ``RuntimeError`` when another process holds the lock."""
    root = tempfile.gettempdir()
    lock_path = os.path.join(root, f"pqs_audit.{os.getuid()}.lock")
    fd = os.open(lock_path, os.O_CREAT | os.O_WRONLY | os.O_NOFOLLOW, 0o600)
    lock = os.fdopen(fd, "w")
    if os.fstat(fd).st_uid != os.getuid():
        lock.close()
        raise RuntimeError(f"{lock_path} is owned by another uid; refusing")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        lock.close()
        raise RuntimeError(
            f"another fresh-artifacts run holds {lock_path}; "
            "refusing to race artifact deletion"
        ) from None
    for path in glob.glob(os.path.join(root, "pqs_*")):
        name = os.path.basename(path)
        if "smoke" in name or name.startswith("pqs_audit."):
            continue
        try:
            if os.lstat(path).st_uid != os.getuid():
                continue  # never cross-uid delete
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
        except FileNotFoundError:
            pass  # gone since the listing
    return lock
