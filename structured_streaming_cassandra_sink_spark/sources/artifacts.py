"""Warehouse artifacts: the one lifecycle of every once-per-snapshot build.

The engine persists derived tables that are built once per source
snapshot and read by every later probe: the LSH, IVF and PQ indexes,
the near-dup graph, the DPP month layout and the converged stream-row
tables. Each lives at ``spark-warehouse/<name>/<sf>`` under the repo
root (anchored at the package, so the caller's cwd does not matter).

- :func:`publish` stages a build in a unique ``.build-*`` sibling,
  stamps it with a ``SOURCE.json`` fingerprint of the tables it read,
  and swaps it in by pointer; a failed build removes its staging dir.
- :func:`current` tells a probe whether the published artifact was built
  from the live source files; if not, the probe rebuilds.

This is the replay-safe, atomically published output of *Structured
Streaming* (SIGMOD 2018) applied to derived batch tables: a reader sees
the old version or the new one, never a partial one.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from .tables import _data_files

_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)
_MARKER = "SOURCE.json"


def artifact_dir(name: str, sf_dir: str) -> str:
    """Published path of artifact ``name`` built from the tables in ``sf_dir``."""
    return os.path.join(_WAREHOUSE, name, os.path.basename(os.path.normpath(sf_dir)))


def _fingerprint(sf_dir: str, tables: tuple[str, ...]) -> dict:
    """Per-file ``(file, mtime_ns, size)`` of each source table, as JSON
    stores it. The source data can be regenerated under the same path; a
    persisted artifact that outlives its source must rebuild, not serve
    rows that no longer exist. Per-FILE entries, not directory totals: a
    total (size sum, max mtime) false-matches data restored with
    timestamp-preserving tools (cp -p, rsync -a, tar) whenever the totals
    collide. Paths are absolute, so two spellings of one ``sf_dir`` share
    a marker. Raises ``OSError`` when a table path is missing."""
    sf_dir = os.path.abspath(sf_dir)
    fp = {t: _data_files(os.path.join(sf_dir, f"{t}.parquet")) for t in tables}
    return json.loads(json.dumps(fp))


def current(final_dir: str, sf_dir: str, tables: tuple[str, ...]) -> bool:
    """True iff ``final_dir`` holds a published artifact whose recorded
    fingerprint matches the live ``tables``. :func:`publish` writes the
    marker after the build's last write and swaps the whole directory in,
    so a matching marker also proves the artifact is complete. A missing
    or corrupt marker, or a missing table, reads as stale."""
    try:
        with open(os.path.join(final_dir, _MARKER)) as fh:
            return json.load(fh) == _fingerprint(sf_dir, tables)
    except (OSError, ValueError):
        return False


def publish(
    final_dir: str,
    sf_dir: str,
    tables: tuple[str, ...],
    write: Callable[[str], object],
) -> str:
    """Build an artifact with ``write(staging_dir)`` and publish it at
    ``final_dir``.

    The fingerprint of ``tables`` is taken before ``write`` runs, so a
    source rewritten mid-build leaves a marker that reads stale. The
    staging dir is unique per build (pid and a random suffix), so two
    concurrent builds of one artifact never share it; if ``write`` raises,
    the staging dir is removed and the published version is untouched."""
    fp = _fingerprint(sf_dir, tables)
    tmp = f"{final_dir}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        os.makedirs(tmp)
        write(tmp)
        with open(os.path.join(tmp, _MARKER), "w") as fh:
            json.dump(fp, fh)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    _atomic_publish(tmp, final_dir)
    return final_dir


def _atomic_publish(tmp_dir: str, final_dir: str) -> None:
    """Publish a finished build directory by POINTER SWAP.

    Spark's `mode("overwrite")` deletes the destination FIRST and then
    writes — a concurrent probe that lists the dir in that window sees
    an empty/partial artifact and dies with UNABLE_TO_INFER_SCHEMA. A
    rename PAIR (final→trash, tmp→final) still has a gap where the path
    does not exist. The gapless form is a publish-by-pointer: the
    published path is a SYMLINK; each build lands in an immutable
    ``.pub-*`` sibling and one `os.rename` of a pre-made symlink flips
    the pointer — readers either resolve the old version or the new
    one, never nothing. (On an object store this maps to the usual
    publish-by-pointer manifest commit.)

    Retention: the previous version's dir survives one more publish, so
    a reader that resolved the pointer just before the swap can finish
    its scan; older ``.pub-*`` dirs are GC'd. Staging dirs belong to
    their build: :func:`publish` removes its own when the build fails,
    and this function never touches another build's."""
    parent = os.path.dirname(final_dir) or "."
    base = os.path.basename(final_dir)
    os.makedirs(parent, exist_ok=True)

    # migrate a legacy real-directory layout (pre-pointer builds) into a
    # version dir; the one-time gap only exists for layouts written by
    # the old scheme
    if os.path.isdir(final_dir) and not os.path.islink(final_dir):
        os.rename(final_dir, f"{final_dir}.pub-legacy-{uuid.uuid4().hex[:8]}")

    prev = os.path.realpath(final_dir) if os.path.islink(final_dir) else None

    pub_dir = f"{final_dir}.pub-{uuid.uuid4().hex[:8]}"
    os.rename(tmp_dir, pub_dir)
    link_tmp = f"{final_dir}.lnk-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    os.symlink(os.path.abspath(pub_dir), link_tmp)
    os.rename(link_tmp, final_dir)  # the atomic pointer swap

    keep = {os.path.abspath(pub_dir)}
    if prev is not None:
        keep.add(os.path.abspath(prev))
    for d in os.listdir(parent):
        p = os.path.join(parent, d)
        if d == base:
            continue
        if d.startswith(f"{base}.lnk-") and os.path.islink(p):
            os.remove(p)  # stale pointer from a crashed publish
        elif (
            d.startswith(f"{base}.pub-")
            and not os.path.islink(p)
            and os.path.isdir(p)
            and os.path.abspath(p) not in keep
        ):
            shutil.rmtree(p, ignore_errors=True)
