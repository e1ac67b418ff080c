"""Filesystem abstraction for driver-side pre-flight checks.

The tolerant-schema pre-flight (missing-file skip/raise, footer schema
reads, size gates, glob expansion, cache stat keys) must work for any URI
the Spark cluster itself can read — ``s3a://``, ``hdfs://``, ``gs://``,
``file://`` — not only POSIX paths.  Raw ``os.*`` calls report *missing*
for every such URI, which under ``handle_missing_file=True`` turned an
EXISTING object-store file into a silent empty result (the one known way
this engine could answer *wrong* rather than fail — VERDICT r5 §1).

Resolution order per path:

1. **Local fast path** — no scheme, or ``file:``/``local:``: plain
   ``os.*`` (zero overhead; the reference's own scope, local/NFS only —
   reference: parquery/aggregate.py:142-215 assumes local paths).
2. **Hadoop FileSystem via the active SparkSession** — the cluster's own
   connectors and credentials, authoritative for anything Spark can scan
   (``s3a``, ``hdfs``, ``abfss``, ``gs``…).  Driver-side metadata calls
   only — exists/stat/glob, no data movement.
3. **pyarrow.fs** — covers ``s3``/``gs``/``hdfs`` without a JVM round
   trip, used when the JVM lacks a connector for the scheme.

One probe answers for a path, :func:`stat`: ``(mtime_ns, size)``, or
``FileNotFoundError`` when a backend reports the path absent, or plain
``OSError`` when NO backend can answer.  That last answer means *unknown*,
never *missing*: the path is assumed present, so the Spark scan raises the
real error (no connector, no credentials, genuinely absent object) — fail
loud, not empty.  :func:`exists` is a reading of that answer.
"""

from __future__ import annotations

import glob as _glob
import os
import re
import shutil
from typing import Sequence

_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*)://")

#: schemes that resolve through plain os.* after prefix stripping
_LOCAL_SCHEMES = {"file", "local"}

#: pyarrow.fs scheme aliases (s3a/s3n are Hadoop spellings of s3).  No
#: ``viewfs``: its mount table lives only in the Hadoop client
#: configuration, so pyarrow's HDFS client can never resolve it.
_PYARROW_SCHEMES = {"s3": "s3", "s3a": "s3", "s3n": "s3", "gs": "gs",
                    "gcs": "gs", "hdfs": "hdfs"}


def scheme_of(path: str) -> str | None:
    m = _SCHEME_RE.match(path)
    return m.group(1).lower() if m else None


def is_local(path: str) -> bool:
    """True when the path resolves through POSIX ``os.*`` calls.  A
    ``file://host/path`` URI with a non-empty authority is NOT local —
    ``os.*`` cannot serve a remote host, so it routes through the Hadoop
    backend (whose LocalFileSystem understands the authority form)."""
    s = scheme_of(path)
    if s is None:
        return True
    if s not in _LOCAL_SCHEMES:
        return False
    rest = path[len(s) + 3:]
    return rest == "" or rest.startswith("/")


def local_part(path: str) -> str:
    """Strip a ``file://``-style prefix so ``os.*`` accepts the path."""
    s = scheme_of(path)
    if s in _LOCAL_SCHEMES:
        rest = path[len(s) + 3:]
        # file:///abs/path (empty authority) -> /abs/path; the rare
        # file://host/path form is rejected by is_local() and resolves
        # through the remote backends instead of reaching os.*
        if not rest.startswith("/"):
            rest = "/" + rest
        return rest
    return path


def canonical(path: str) -> str:
    """Cache-key identity: abspath for local paths, verbatim URI for
    remote (URIs are already absolute; ``os.path.abspath`` would mangle
    them into ``$CWD/s3a:/…``)."""
    if is_local(path):
        return os.path.abspath(local_part(path))
    return path


# ---------------------------------------------------------------------------
# remote backends
# ---------------------------------------------------------------------------

def _active_spark():
    """The already-created SparkSession, or None — pre-flight must never
    *create* a session just to stat a path (callers that reach the scan
    stage create one anyway)."""
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is None:  # active is thread-local; fall back to the singleton
            s = getattr(SparkSession, "_instantiatedSession", None)
        return s
    except Exception:  # pragma: no cover - no JVM yet
        return None


def _hadoop_ops(path: str):
    """(fs, jpath) for the path's scheme via the active session's Hadoop
    configuration, or None when no session/connector is available."""
    spark = _active_spark()
    if spark is None:
        return None
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs, jpath
    except Exception:
        return None


def _pyarrow_ops(path: str):
    """(pyarrow FileSystem, in-fs path) or None."""
    s = scheme_of(path)
    mapped = _PYARROW_SCHEMES.get(s or "")
    if mapped is None:
        return None
    try:
        from pyarrow import fs as pafs

        uri = path if s == mapped else mapped + path[len(s):]
        return pafs.FileSystem.from_uri(uri)
    except Exception:
        return None


# test seam: tests install a fake remote filesystem here, keyed by scheme.
# Each value implements stat(path)->(mtime_ns, size) (raising as
# :func:`stat` does) / glob(pattern)->list[str] / open_input(path)->binary
# file object.
_TEST_FILESYSTEMS: dict[str, object] = {}


# ---------------------------------------------------------------------------
# public probes
# ---------------------------------------------------------------------------

def stat(path: str) -> tuple[int, int]:
    """``(mtime_ns, size_bytes)``.  Raises ``FileNotFoundError`` when a
    backend reports the path absent, and plain ``OSError`` when no backend
    can answer (the path's state is unknown)."""
    if is_local(path):
        st = os.stat(local_part(path))
        return st.st_mtime_ns, st.st_size
    fake = _TEST_FILESYSTEMS.get(scheme_of(path) or "")
    if fake is not None:
        return fake.stat(path)
    h = _hadoop_ops(path)
    if h is not None:
        try:
            st = h[0].getFileStatus(h[1])
            return int(st.getModificationTime()) * 1_000_000, int(st.getLen())
        except Exception as exc:
            jexc = getattr(exc, "java_exception", None)
            jvm = _active_spark()._jvm
            if jexc is not None and jvm.py4j.reflection.TypeUtil.isInstanceOf(
                    "java.io.FileNotFoundException", jexc):
                raise FileNotFoundError(f"File {path} does not exist") from None
    pa = _pyarrow_ops(path)
    if pa is not None:
        try:
            from pyarrow import fs as pafs

            info = pa[0].get_file_info(pa[1])
        except Exception:
            info = None
        if info is not None and info.type == pafs.FileType.NotFound:
            raise FileNotFoundError(f"File {path} does not exist")
        if info is not None:
            return int(info.mtime_ns or 0), int(info.size or 0)
    raise OSError(f"cannot stat {path}: no filesystem backend for scheme "
                  f"{scheme_of(path)!r}")


def exists(path: str) -> bool:
    """False only when a backend reports the path absent (:func:`stat`); a
    path no backend can answer for is assumed present, so the Spark scan
    raises the real error instead of the result being silently empty."""
    try:
        stat(path)
    except FileNotFoundError:
        return False
    except OSError:
        pass
    return True


def getsize(path: str) -> int:
    return stat(path)[1]


def glob(pattern: str) -> list[str] | None:
    """Expand a glob pattern, sorted.  Local patterns use ``glob.glob``;
    remote patterns use Hadoop ``globStatus`` (the exact semantics Spark's
    own file index applies).  Returns **None** when no backend can expand
    the pattern — the caller passes the pattern through to Spark verbatim
    (its reader globs natively) rather than treating it as zero matches."""
    if is_local(pattern):
        pref = pattern[: len(pattern) - len(local_part(pattern))]
        return [pref + p for p in sorted(_glob.glob(local_part(pattern)))]
    fake = _TEST_FILESYSTEMS.get(scheme_of(pattern) or "")
    if fake is not None:
        return fake.glob(pattern)
    h = _hadoop_ops(pattern)
    if h is not None:
        try:
            hits = h[0].globStatus(h[1])
            if hits is None:
                return []
            return sorted(str(s.getPath().toString()) for s in hits)
        except Exception:
            pass
    return None


def open_input(path: str):
    """Binary readable for driver-side footer/header reads (parquet
    schema, CSV header, JSON sample).  Raises ``OSError`` when no backend
    can open the path."""
    if is_local(path):
        return open(local_part(path), "rb")
    fake = _TEST_FILESYSTEMS.get(scheme_of(path) or "")
    if fake is not None:
        return fake.open_input(path)
    pa = _pyarrow_ops(path)
    if pa is not None:
        try:
            return pa[0].open_input_file(pa[1])
        except Exception:
            pass
    h = _hadoop_ops(path)
    if h is not None:
        try:
            size = int(h[0].getFileStatus(h[1]).getLen())
            spark = _active_spark()
            return _JStream(h[0].open(h[1]), size, spark._jvm)
        except Exception:
            pass
    raise OSError(f"cannot open {path}: no filesystem backend for scheme "
                  f"{scheme_of(path)!r}")


def link_or_copy(src: str, dst: str) -> None:
    """Put the bytes of ``src`` at the local path ``dst``: a hardlink when
    ``src`` is local (zero copy, and the link pins the file version), else,
    or where the filesystem refuses the link, a byte copy read through
    :func:`open_input`."""
    if is_local(src):
        try:
            os.link(local_part(src), dst)
            return
        except OSError:
            pass
    with open_input(src) as fin, open(dst, "wb") as fout:
        shutil.copyfileobj(fin, fout, 1 << 20)


class _JStream:
    """Minimal seekable binary reader over a Hadoop FSDataInputStream —
    just enough surface for pyarrow's footer reader (read/seek/tell/
    close/closed; pyarrow wraps arbitrary Python file objects via
    PythonFile, which checks ``closed`` before every call and seeks from
    the END to find the footer — hence the size)."""

    def __init__(self, jstream, size: int, jvm):
        self._j = jstream
        self._size = size
        self._jvm = jvm
        self._pos = 0
        self.closed = False

    def read(self, n=-1):
        # CRITICAL: never read through a py4j out-parameter buffer — py4j
        # passes byte[] arguments BY VALUE, so JVM-side writes into the
        # buffer are silently dropped and the caller would see NUL bytes
        # instead of file data (ADVICE r6).  Instead the JVM RETURNS the
        # bytes: IOUtils.toByteArray(stream, len) (commons-io ships with
        # Hadoop) and py4j converts the returned byte[] to Python bytes.
        avail = max(self._size - self._pos, 0)
        if n is None or n < 0:
            n = avail
        n = min(n, avail)
        if n == 0:
            return b""
        try:
            self._j.seek(self._pos)
            data = bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(self._j, n)
            )
        except Exception as exc:
            raise OSError(
                f"JVM stream read failed at pos={self._pos} len={n}: {exc}"
            ) from exc
        if len(data) != n:
            # fail loud rather than hand a truncated/garbage buffer to the
            # footer parser (short reads must not look like real content)
            raise OSError(f"short JVM stream read: wanted {n}, got {len(data)}")
        self._pos += n
        return data

    def seek(self, offset, whence=0):
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        elif whence == 2:
            self._pos = self._size + offset
        else:  # pragma: no cover
            raise ValueError(f"invalid whence: {whence}")
        return self._pos

    def tell(self):
        return self._pos

    def seekable(self):
        return True

    def readable(self):
        return True

    def writable(self):
        return False

    def close(self):
        self.closed = True
        try:
            self._j.close()
        except Exception:  # pragma: no cover
            pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
