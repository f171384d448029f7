"""One fingerprint for a file-backed source.

``source_signature(path)`` changes whenever the data a reader would see
at ``path`` changes: it covers every data file's relative name, size
and mtime plus a hash of its parquet footer. The footer closes the
``cp -p`` hole of a bare ``(mtime, size)`` key: a rewrite that keeps
both still carries new row-group offsets and column statistics in its
footer. Caches of things derived from a source (an inferred schema, a
materialized edge table) key on it.
"""

from __future__ import annotations

import hashlib
import os

_PARQUET_MAGIC = b"PAR1"


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips: ``_SUCCESS``, ``.crc`` files,
    ``_temporary`` dirs — but not hive dirs such as ``_c=1``."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(path: str) -> list[str]:
    """The files a parquet read of ``path`` lists, relative to it."""
    if not os.path.isdir(path):
        return [""]
    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = sorted(d for d in dirnames if not _hidden(d))
        rel = os.path.relpath(dirpath, path)
        out.extend(
            os.path.normpath(os.path.join(rel, f))
            for f in sorted(filenames)
            if not _hidden(f)
        )
    return out


def _footer_digest(path: str, size: int) -> bytes:
    """Hash of the parquet footer (thrift metadata + length + magic);
    empty for a file too short or without the parquet magic."""
    if size < 12:
        return b""
    with open(path, "rb") as fh:
        fh.seek(size - 8)
        tail = fh.read(8)
        n = int.from_bytes(tail[:4], "little")
        if tail[4:] != _PARQUET_MAGIC or n > size - 12:
            return b""
        fh.seek(size - 8 - n)
        return hashlib.blake2b(fh.read(n + 8), digest_size=8).digest()


def source_signature(path: str) -> str:
    """Hex fingerprint of the file or directory at ``path``: relative
    names, sizes, mtimes and footer hashes of its data files. Raises
    ``OSError`` when ``path`` cannot be read; callers that can run
    without a cache fall back to an uncached read."""
    path = os.path.abspath(path)
    h = hashlib.blake2b(path.encode(), digest_size=12)
    for rel in _data_files(path):
        f = os.path.join(path, rel) if rel else path
        st = os.stat(f)
        h.update(f"\0{rel}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
        h.update(_footer_digest(f, st.st_size))
    return h.hexdigest()
