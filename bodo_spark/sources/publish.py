"""The one directory-publish protocol for every mutable table and store.

A publish takes the table's single-writer lock (``<path>.__lock``),
runs the caller's write into a staging sibling, then swaps by renames
-- the whole directory, or only named hive partition directories --
keeping what they replace in a backup sibling until the swap is done.
The backup is then dropped, or kept as ``archive/gen-NNNN`` when
history is retained. Siblings are named ``<path>.__cow_<kind>_<id>``.

The planned renames are journaled first; removing the journal is the
commit point. A failed rename undoes the completed ones, newest first,
and so does the next lock entry after a writer died mid-swap: every
staging write runs under the lock, so a ``__cow_`` sibling seen on
lock entry belongs to a dead writer. Local filesystem only; the
reference gets commits, rollback and expiry from Iceberg
(bodo/io/iceberg/merge_into.py:33).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import shutil
import time
import uuid
from typing import Callable

_COW = ".__cow_"
_GEN_RE = re.compile(r"gen-(\d{4,})$")


class ConcurrentWriteError(RuntimeError):
    """A second writer holds (or took) the table's publish lock.

    The reference gets real commit-conflict detection from Iceberg's
    optimistic transactions (reference bodo/io/iceberg/merge_into.py:33
    commits through the catalog, which rejects a stale snapshot); plain
    parquet directories have no catalog, so the engine enforces the
    SINGLE-WRITER contract explicitly -- every mutation of a table or
    store (publish_dir, publish_partitions, MoR apply/compact, stored
    index appends, bloom index appends) takes a lockfile for the
    duration of the operation and a concurrent mutator raises THIS
    instead of silently folding past or double-publishing. Readers
    never take the lock (swaps stay atomic renames)."""


@contextlib.contextmanager
def publish_lock(path: str, *, owner: str = ""):
    """Single-writer lockfile scoped to one table/store directory:
    ``O_CREAT|O_EXCL`` on ``<path>.__lock`` is atomic on POSIX (and on
    the object-store emulations that matter), so exactly one mutator
    enters; the file records pid/owner for the error message. A dead
    writer's lock is not broken automatically -- the next mutator
    raises with its identity, and the operator removes the stale file
    after confirming the writer is gone (auto-breaking on pid-liveness
    would be wrong across hosts). On entry, publish siblings a dead
    writer left behind are recovered (see the module docstring)."""
    norm = path.rstrip("/")
    lock = f"{norm}.__lock"
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:
            with open(lock) as f:
                holder = f.read().strip()
        except OSError:
            holder = "<unreadable>"
        raise ConcurrentWriteError(
            f"another writer holds {lock} ({holder}) -- concurrent "
            "mutations of one table are unsupported (single-writer "
            "contract); retry after it finishes, or remove the "
            "lockfile if that writer crashed") from None
    try:
        os.write(fd, json.dumps(
            {"pid": os.getpid(), "owner": owner,
             "ts": int(time.time())}).encode())
        os.close(fd)
        _recover(norm)
        yield
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def publish_dir(path: str, write: Callable[[str], None], *, owner: str,
                retain_history: bool = False) -> int | None:
    """Replace the directory at ``path`` with what ``write(staging)``
    writes, under the lock. With ``retain_history`` the superseded
    content becomes the next ``archive/gen-NNNN`` and the live archive
    carries over (history is linear, never nested); without it the old
    content, archive included, is deleted. Returns the archived
    generation number, or None."""
    norm = path.rstrip("/")
    with publish_lock(norm, owner=owner):
        staging = _stage(norm, write)
        backup = _sibling(norm, "backup")
        moves = [(norm, backup), (staging, norm)]
        gen = None
        if retain_history:
            gens = store_generations(norm)
            gen = (gens[-1] + 1) if gens else 0
            arch = os.path.join(norm, "archive")
            if os.path.isdir(arch):
                moves.insert(0, (arch, os.path.join(staging, "archive")))
            else:
                os.makedirs(os.path.join(staging, "archive"), exist_ok=True)
            moves.append((backup, os.path.join(arch, f"gen-{gen:04d}")))
        _swap(norm, moves, leftovers=[staging, backup])
        return gen


def publish_partitions(path: str, write: Callable[[str], None],
                       names: list[str], *, owner: str) -> None:
    """Replace only the partition directories ``names`` (``col=value``)
    of the table at ``path`` with those ``write(staging)`` writes, under
    the lock. A named partition absent from staging is removed; other
    partition directories are never touched."""
    norm = path.rstrip("/")
    with publish_lock(norm, owner=owner):
        staging = _stage(norm, write)
        backup = _sibling(norm, "partbak")
        os.makedirs(backup)
        moves = []
        for name in sorted(names):
            if os.path.isdir(os.path.join(norm, name)):
                moves.append((os.path.join(norm, name),
                              os.path.join(backup, name)))
            if os.path.isdir(os.path.join(staging, name)):
                moves.append((os.path.join(staging, name),
                              os.path.join(norm, name)))
        _swap(norm, moves, leftovers=[staging, backup])


def _sibling(norm: str, kind: str) -> str:
    return f"{norm}{_COW}{kind}_{uuid.uuid4().hex[:8]}"


def _stage(norm: str, write: Callable[[str], None]) -> str:
    staging = _sibling(norm, "staging")
    try:
        write(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return staging


def _rename(src: str, dst: str) -> None:
    """Every table/store directory move (same filesystem: atomic)."""
    os.rename(src, dst)


def _swap(norm: str, moves: list[tuple[str, str]], *,
          leftovers: list[str]) -> None:
    """Run the planned renames; on failure undo the completed ones. The
    journal lets a later lock entry do the same undo after a crash."""
    journal = _sibling(norm, "journal")
    with open(journal, "w") as f:
        json.dump([[os.path.abspath(s), os.path.abspath(d)]
                   for s, d in moves], f)
    done = False
    try:
        for src, dst in moves:
            _rename(src, dst)
        done = True
    finally:
        if not done:
            _undo(moves)  # if this raises, the journal stays for recovery
        os.remove(journal)
        for d in leftovers:
            shutil.rmtree(d, ignore_errors=True)


def _undo(moves) -> None:
    """Reverse the completed renames, newest first. A rename is complete
    when its target exists and its source does not; walking backwards
    makes that test exact even where a later rename reused a path."""
    for src, dst in reversed(moves):
        if os.path.lexists(dst) and not os.path.lexists(src):
            _rename(dst, src)


def _recover(norm: str) -> None:
    """Lock-entry recovery of a dead writer's siblings: undo any
    journaled swap, restore a lone backup if the live directory is
    missing, then delete every ``__cow_`` sibling."""
    pattern = f"{glob.escape(norm)}{_COW}"
    for j in glob.glob(f"{pattern}journal_*"):
        try:
            with open(j) as f:
                _undo(json.load(f))
        except ValueError:
            pass  # torn journal: written before any rename started
    backups = sorted(glob.glob(f"{pattern}backup_*"))
    if backups and not os.path.isdir(norm):
        _rename(backups[-1], norm)
    # listed after the undo, which can move staging back into place
    for s in glob.glob(f"{pattern}*"):
        if os.path.isdir(s):
            shutil.rmtree(s, ignore_errors=True)
        else:
            os.remove(s)


def hardlink_copy(src: str, dst: str) -> None:
    """Hardlink-copy a directory tree: snapshot cost is metadata, not
    data movement (parquet files are immutable once written; publishes
    only move/unlink whole files). Falls back to a real copy where the
    filesystem refuses links. A top-level ``archive/`` is skipped -- a
    generation never nests other generations."""
    for root, dirs, files in os.walk(src):
        if root == src and "archive" in dirs:
            dirs.remove("archive")
        rel = os.path.relpath(root, src)
        tdir = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(tdir, exist_ok=True)
        for fn in files:
            s, t = os.path.join(root, fn), os.path.join(tdir, fn)
            try:
                os.link(s, t)
            except OSError:
                shutil.copy2(s, t)


def store_generations(path: str) -> list[int]:
    """Retained generation numbers, oldest first."""
    out = []
    for d in glob.glob(os.path.join(glob.escape(path), "archive", "gen-*")):
        m = _GEN_RE.search(os.path.basename(d))
        if m and os.path.isdir(d):
            out.append(int(m.group(1)))
    return sorted(out)


def restore_store_generation(path: str, gen: int) -> int:
    """Roll the live store back to a retained generation: the archived
    snapshot is hardlink-copied to staging (the archive KEEPS its copy
    -- restoring twice works) and published with ``retain_history``,
    so the rolled-back-FROM store becomes a new generation itself
    (rollback is undoable). Returns that generation's number."""
    norm = path.rstrip("/")
    gsrc = os.path.join(norm, "archive", f"gen-{gen:04d}")
    if not os.path.isdir(gsrc):
        raise ValueError(
            f"no retained generation {gen} under {norm}/archive "
            f"(have {store_generations(norm)}) -- it was never "
            "retained or was expired")
    return publish_dir(norm, lambda st: hardlink_copy(gsrc, st),
                       owner="store_restore", retain_history=True)


def expire_store_generations(path: str, *, keep_last: int) -> dict:
    """Retention-horizon maintenance: keep only the newest
    ``keep_last`` generations (hardlinked snapshot files free when
    their last reference goes). Driver-local metadata work."""
    if keep_last < 0:
        raise ValueError(f"keep_last must be >= 0, got {keep_last}")
    norm = path.rstrip("/")
    with publish_lock(norm, owner="store_expire"):
        gens = store_generations(norm)
        drop = gens[:max(0, len(gens) - keep_last)]
        for g in drop:
            shutil.rmtree(os.path.join(norm, "archive", f"gen-{g:04d}"),
                          ignore_errors=True)
        return {"expired": len(drop), "kept": gens[len(drop):]}
