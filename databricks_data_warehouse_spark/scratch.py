"""Scratch fixtures: directories and tables derived from source files,
built once and reused.

Every fixture follows one policy.

- **Key.** A fixture lives in ``<scratch root>/<kind>_<key>``. The key
  hashes ``kind``, the :func:`~.signature.source_signature` of each
  source file the build reads, and the caller's ``params`` (layout,
  thresholds, an implementation hash). A rewrite of any declared
  source, even one that keeps its size and mtime, gets a new key, so a
  fixture is never served from a changed source. A build must declare
  every file it reads.
- **Publish with one rename.** When nothing is published under the
  key, ``build`` runs against a private staging directory in the same
  root, and one ``os.rename`` publishes it. A published directory is
  therefore always complete. A build that raises publishes nothing,
  and the next call rebuilds. A builder whose rename loses to a
  concurrent builder deletes its staging directory and uses the
  winner's copy, which was built from the same sources and params.
  No staging directory outlives the call.
- **Content that does not name its own path.** The rename moves the
  build to a new path, so what it writes must not record the staging
  path. ManagedTable manifests hold location-relative paths, so a
  table built in staging reads the same after the rename. CONVERT is
  the exception: its manifest records the adopted raw files by
  absolute path. A CONVERTed fixture therefore publishes its raw
  directory first, as its own :func:`scratch_dir`, and converts over
  the published path.

The scratch root is ``streaming.windows._scratch_root()``, looked up
at each call.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import tempfile
from typing import Callable, Iterable

from .signature import source_signature


def inputs(sf_dir: str, *names: str) -> list[str]:
    """Paths of the named ``<name>.parquet`` tables under ``sf_dir``."""
    return [os.path.join(sf_dir, f"{n}.parquet") for n in names]


def _root() -> str:
    from .streaming import windows

    return windows._scratch_root()


def _published_path(kind: str, sources: Iterable[str], params) -> str:
    h = hashlib.blake2b(kind.encode(), digest_size=8)
    for src in sources:
        h.update(b"\0" + source_signature(src).encode())
    h.update(b"\0" + repr(params).encode())
    return os.path.join(_root(), f"{kind}_{h.hexdigest()}")


@contextlib.contextmanager
def scratch_tmp(prefix: str):
    """A private directory in the scratch root (a build's staging
    directory, a stream checkpoint), removed on exit."""
    root = _root()
    os.makedirs(root, exist_ok=True)
    d = tempfile.mkdtemp(prefix=f".{prefix}-", dir=root)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _publish(final: str, build: Callable[[str], object]) -> str:
    if os.path.isdir(final):
        return final
    with scratch_tmp(f"staging-{os.path.basename(final)}") as staging:
        build(staging)
        try:
            os.rename(staging, final)
        except OSError:
            if not os.path.isdir(final):
                raise
    return final


def scratch_dir(
    kind: str, sources: Iterable[str], params, build: Callable[[str], object]
) -> str:
    """The published directory for (``kind``, ``sources``, ``params``),
    running ``build(staging_dir)`` first when none is published."""
    return _publish(_published_path(kind, sources, params), build)


def scratch_table(
    spark,
    kind: str,
    sources: Iterable[str],
    params,
    build: Callable[[object], object],
    name: str | None = None,
    **table_kwargs,
):
    """A ManagedTable over the published directory for (``kind``,
    ``sources``, ``params``). When none is published, ``build`` receives
    a table handle over the staging directory and runs its commits
    there. ``name`` defaults to the directory name; ``table_kwargs`` go
    to both handles."""
    from .sources.tables import ManagedTable

    final = _published_path(kind, sources, params)
    name = name or os.path.basename(final)
    _publish(
        final, lambda d: build(ManagedTable(spark, name, d, **table_kwargs))
    )
    return ManagedTable(spark, name, final, **table_kwargs)


@contextlib.contextmanager
def race(loser, *winners: Callable[[], object]):
    """Make the loser's manifest claims lose real version races: before
    its i-th claim, ``winners[i]()`` commits against the same base.
    Yields the list of winners that have fired, so a caller can assert
    that the race happened."""
    orig = loser._write_manifest
    fired: list = []

    def interposed(*a, **k):
        if len(fired) < len(winners):
            w = winners[len(fired)]
            fired.append(w)
            w()
        return orig(*a, **k)

    loser._write_manifest = interposed
    try:
        yield fired
    finally:
        del loser._write_manifest
