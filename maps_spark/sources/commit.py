"""The store-commit protocol: the one module that publishes store state.

Every store in this engine (tile and training builds, the segmented
band index, compacted append tables, the bucketed pixel/tile stores,
the incremental-curation state, the sketch store, streaming replay
markers, exported shards) makes new state visible through the
primitives below, and only through them. No other module renames a
path into place or names a staging or temp path.

Crash contract
--------------
A writer publishes in this order:

1. **stage** — new data is written beside its live path, into
   :func:`staging` (a directory) or :func:`temp_path` (a file), where
   no reader looks;
2. **validate** — :func:`rewrite` checks the staged copy against a
   caller-given conserved quantity (rows, mass, distinct keys) and
   deletes it and raises when they disagree;
3. **rename** — :func:`swap` moves each live directory aside to
   ``<live>.old``, renames the staged one in, and deletes the asides
   only after every rename has landed;
4. **swap the manifest** — a store whose truth is a JSON pointer (a
   build manifest, a segment manifest) republishes it with
   :func:`write_json`, after the data it names is in place;
5. **advance the marker** — a streaming batch (or a curation run)
   commits its id with :func:`commit_batch` last, so a crash at any
   earlier step replays the whole batch.

Recovery rolls back. :func:`recover` restores ``<live>.old`` when the
live path is missing (the crash hit between the two renames of a
swap); otherwise it deletes any leftover ``.old``, staging directory
and temp file. After a kill at any step, ``recover`` leaves either the
state before the publish or the state after it, and a replay re-runs
the publish from the before-state. Writers call ``recover`` on a store
before they read it.

This module has no ``except``/``finally`` cleanup on purpose: a failure
inside it leaves the disk exactly as a kill at the same instant would,
so the one recovery rule covers both.

fsync: files written here (JSON manifests, markers, counters, reports,
and files published with :func:`publish_file`) are fsynced before the
rename and their directory after it, so after a power loss a published
name never points at unwritten bytes. Staged directories written by
Spark are not fsynced (Hadoop's output committer does not sync); for
them the contract covers process crashes, not power loss.

Filesystem dependency: all of the above rests on POSIX ``rename(2)``
being atomic within one filesystem — a rename has happened or it has
not, and replacing a file never exposes a partial one. Local disks and
HDFS directory renames provide that. Object stores (S3, GCS, Azure Blob
without a hierarchical namespace) do not: their "rename" is a copy and
a delete, so a crash mid-swap leaves a half-copied live directory. A
port to an object store must replace this module (for example with a
table format's commit log), not reuse it.
"""

from __future__ import annotations

import json
import os
import shutil

OLD = ".old"


def staging(live: str) -> str:
    """The staging directory of ``live`` (a sibling, so the final
    rename stays within one filesystem)."""
    return live.rstrip("/") + ".staging"


def temp_path(path: str) -> str:
    """The temp name a file is written under before it is published
    at ``path``: hidden (dot prefix) in the same directory, so Spark
    and glob readers skip it."""
    head, name = os.path.split(path)
    return os.path.join(head, f".{name}.tmp")


def _fsync(path: str) -> None:
    """fsync a file, or a directory (which makes its renames durable)."""
    fd = os.open(path or ".", os.O_RDONLY)
    os.fsync(fd)
    os.close(fd)


def publish_file(tmp: str, path: str) -> None:
    """Make the fully written file ``tmp`` visible at ``path``: fsync
    it, rename it over ``path``, fsync the directory."""
    _fsync(tmp)
    os.replace(tmp, path)
    _fsync(os.path.dirname(path))


def write_json(path: str, obj, **dump_kw) -> None:
    """Atomically publish ``obj`` as JSON at ``path``."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = temp_path(path)
    with open(tmp, "w") as f:
        json.dump(obj, f, **dump_kw)
    publish_file(tmp, path)


def read_json(path: str, default=None):
    """The JSON at ``path``, or ``default`` when it is missing or
    unreadable."""
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def swap(pairs) -> None:
    """Publish each staged directory of ``pairs`` = [(staged, live)]
    at its live path: move the live directory aside to ``<live>.old``,
    rename the staged one in, and delete the asides only after every
    rename has landed — at no instant does a live directory's data
    exist nowhere. A pair whose staged directory is missing is
    skipped."""
    aside, parents = [], set()
    for staged, live in pairs:
        if not os.path.isdir(staged):
            continue
        old = live.rstrip("/") + OLD
        if os.path.isdir(live):
            shutil.rmtree(old, ignore_errors=True)  # stale aside
            os.rename(live, old)
            aside.append(old)
        os.rename(staged, live)
        parents.add(os.path.dirname(live.rstrip("/")))
    for parent in parents:
        _fsync(parent)
    for old in aside:
        shutil.rmtree(old)


def rewrite(live: str, write, check=None, parts=None) -> None:
    """Validated staged rewrite of the directory ``live``: clear its
    staging directory, ``write(staged)`` the new data into it, then
    ``check(staged)`` — ``None`` means valid, a string says what is
    wrong. A valid copy is swapped in; an invalid one is deleted and
    ``RuntimeError(message)`` raised, with the live data untouched.

    ``parts`` names sub-directories (the touched buckets of a
    partitioned store) to swap one by one instead of the whole
    directory; the rest of ``live`` is neither read nor rewritten."""
    staged = staging(live)
    shutil.rmtree(staged, ignore_errors=True)
    write(staged)
    problem = check(staged) if check is not None else None
    if problem:
        shutil.rmtree(staged)
        raise RuntimeError(problem)
    if parts is None:
        swap([(staged, live)])
        return
    os.makedirs(live, exist_ok=True)
    swap([(os.path.join(staged, p), os.path.join(live, p))
          for p in parts])
    shutil.rmtree(staged)


def retire(live: str) -> None:
    """Unpublish the directory ``live``: one rename to its staging
    name (the commit point — recovery deletes staging), then delete."""
    staged = staging(live)
    shutil.rmtree(staged, ignore_errors=True)
    os.rename(live, staged)
    shutil.rmtree(staged)


def _leftover_of(name: str) -> str | None:
    for suffix in (OLD, ".staging"):
        if name.endswith(suffix):
            return name[:-len(suffix)]
    return None


def recover(live: str) -> str | None:
    """The one recovery rule, applied to ``live`` and then to each
    immediate child of it that has a leftover (the swapped buckets of
    a partitioned store, the tables of a store directory): restore
    ``.old`` when the live path is missing, else delete any leftover
    ``.old``, staging directory and temp file.

    Returns "restored" if some path was restored, "cleaned" if only
    leftovers were deleted, None if there was nothing to do. Cheap
    (a few stats and one listdir) and a no-op outside a crash
    window."""
    live = live.rstrip("/")
    old = live + OLD
    restored = not os.path.exists(live) and os.path.isdir(old)
    if restored:
        os.rename(old, live)
    cleaned = False
    for p in (old, staging(live), temp_path(live)):
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.lexists(p):
            os.remove(p)
        else:
            continue
        cleaned = True
    if os.path.isdir(live):
        for name in os.listdir(live):
            base = _leftover_of(name)
            if base is not None:
                child = recover(os.path.join(live, base))
                restored |= child == "restored"
                cleaned |= child == "cleaned"
    return "restored" if restored else "cleaned" if cleaned else None


# ---------------------------------------------------------------------
# Streaming replay markers
# ---------------------------------------------------------------------

def applied_batch(marker: str) -> int:
    """The last committed batch id at ``marker`` (-1 when none).

    Stores written before 2026-08 kept the marker at
    ``<root>_meta/...`` (missing slash); that location is still read,
    so a redelivered last batch on such a store is not merged twice.
    Only the marker's own (last) ``/_meta/`` segment is rewritten for
    the fallback — an earlier ``/_meta/`` in the store path is not."""
    head, sep, tail = marker.rpartition("/_meta/")
    legacy = head + "_meta/" + tail if sep else marker
    for path in (marker, legacy):
        got = read_json(path)
        if isinstance(got, dict) and "batch_id" in got:
            return int(got["batch_id"])
    return -1


def commit_batch(marker: str, batch_id: int) -> None:
    """Advance the replay marker: the last step of a batch."""
    write_json(marker, {"batch_id": batch_id})


def guarded(marker: str, body):
    """Wrap a ``foreachBatch`` body ``body(df, batch_id)``: skip a batch
    the marker says is applied, run the body, then commit the marker.
    ``foreachBatch`` is at-least-once, so a batch redelivered after a
    crash between the body and the commit runs the body again: the
    body's writes must be safe to repeat (a staged swap, or per-bucket
    applied markers); a plain parquet append is not."""
    def _run(df, batch_id):
        if applied_batch(marker) >= batch_id:
            return
        body(df, batch_id)
        commit_batch(marker, batch_id)
    return _run
