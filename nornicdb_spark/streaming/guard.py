"""High-water batch-id guard shared by the maintained indexes.

Every maintained index's replay idempotency (dynamic partition
overwrite of ``src_batch=N`` dirs, or src_batch-exclusion + anti-join)
assumes a batch_id identifies ONE batch for the life of the index.
Structured Streaming guarantees that through the stream's CHECKPOINT —
but an operator who resets the checkpoint while keeping the index path
restarts batch ids at 0, and the "replay" machinery then silently
destroys state: dynamic overwrite REPLACES the original batch-0
partitions (fulltext postings / IVF codes / near-dup matches vanish),
and the merge-log anti-join DROPS genuinely new merges (connectivity
under-merges forever). This marker makes that operator mistake loud.

The marker is a driver-side file beside the index tables: replays of
the LATEST batch (the only kind foreachBatch re-delivers) satisfy
``batch_id >= high_water``; anything below is a checkpoint/index
mismatch and raises. ``record`` after a batch's writes; ``reset`` on
(re)bootstrap, which starts a fresh stream era. The same driver-local
marker files carry the other per-index facts the maintained indexes
keep beside their tables (a batch id's kind, the latest chase depth),
so all of them get the same local-path refusal below. The maintained
indexes reach this module only through ``sources/layout.BatchTable``.

The marker uses driver-local ``open()``, so it only follows the tables
on a local/NFS-mounted path. A URI-schemed index path (``hdfs://``,
``s3a://``) is REFUSED rather than silently unguarded — a guard that
passes because it looked in the wrong filesystem is worse than no
guard (the reset-checkpoint corruption it exists to catch would sail
through, and ``record_batch`` would mint a bogus local directory named
after the URI). Deployments on such stores route the marker through
the same client as the tables (Hadoop FileSystem API / a metastore
property) — see SCALING.md §maintained.
"""

from __future__ import annotations

import os

__all__ = [
    "check_batch",
    "record_batch",
    "max_batch_seen",
    "advance_epoch",
    "claim_batch_kind",
    "read_int_marker",
    "write_marker",
]

_MARKER = "_max_batch"


def _require_local(path: str) -> None:
    if "://" in path:
        raise NotImplementedError(
            f"batch-id guard marker needs a driver-local index path, got "
            f"'{path}' — on an object store / HDFS, stage the marker "
            "through the same filesystem client as the index tables "
            "(see SCALING.md §maintained)"
        )


def _read_marker(path: str, name: str) -> str | None:
    _require_local(path)
    try:
        with open(os.path.join(path, name)) as f:
            return f.read().strip()
    except FileNotFoundError:
        return None


def read_int_marker(path: str, name: str) -> int | None:
    try:
        return int(_read_marker(path, name))
    except (TypeError, ValueError):
        return None


def write_marker(path: str, name: str, value) -> None:
    _require_local(path)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write(str(value))


def max_batch_seen(path: str) -> int | None:
    return read_int_marker(path, _MARKER)


def record_batch(path: str, batch_id: int, reset: bool = False) -> None:
    prior = None if reset else max_batch_seen(path)
    hi = int(batch_id) if prior is None else max(int(batch_id), prior)
    write_marker(path, _MARKER, hi)


def advance_epoch(path: str) -> None:
    """Bump the high-water mark past the latest ingested batch. Called
    by every compaction (``BatchTable.fold``), which FOLDS per-batch
    rows away: after the fold, a replay of even the LATEST batch would
    re-append its rows alongside their folded copy — double-counted
    rows. Replays are checkpoint-committed
    before a maintenance window starts (the quiesce contract), so no
    legitimate replay is refused; this makes a violated contract loud
    instead of silently double-counting. No-op on an index that never
    recorded a batch (nothing folded → nothing to protect)."""
    prior = max_batch_seen(path)
    if prior is not None:
        record_batch(path, prior + 1)


def check_batch(path: str, batch_id: int) -> None:
    prior = max_batch_seen(path)
    if prior is not None and int(batch_id) < prior:
        raise ValueError(
            f"batch_id {batch_id} is below this index's high-water mark "
            f"{prior}: the stream checkpoint does not match the index "
            "path (reset checkpoint over an existing index?). Refusing "
            "to ingest — replays are only valid for the latest batch. "
            "Re-bootstrap or point the stream at a fresh index path."
        )


def claim_batch_kind(path: str, batch_id: int, kind: str) -> None:
    """A batch id is EITHER an ingest or a removal on an index whose
    replay anti-join keys ignore the kind (a removal reusing an ingest's
    id would be silently eaten as a "replay"): record each id's kind on
    first use and refuse a mismatch. Re-using an id for the same kind is
    the normal replay path and stays allowed."""
    name = f"_op_{int(batch_id)}"
    prev = _read_marker(path, name)
    if prev is None:
        write_marker(path, name, kind)
    elif prev != kind:
        raise ValueError(
            f"batch_id {batch_id} was already used for a '{prev}' "
            f"batch on this index and cannot be reused for "
            f"'{kind}': ingest and removal streams must not share "
            "batch ids (the replay anti-join would silently drop "
            "this batch's rows). Use a fresh batch id."
        )
