"""Checkpoint lifecycle management — the Spark analogue of the reference's
TTL'd result-cache lifecycle (executor.go:659-692 evicts cached results;
storage keeps only the always-resident adjacency).

Every iterative operator in this engine truncates lineage with
``localCheckpoint``; without lifecycle management the superseded
frontier/contrib blocks of every iteration stay pinned in the block manager for
the life of the session. A long-lived session (the normal shape of a
100 TB job: one SparkSession, thousands of queries) then degrades as dead
blocks evict/spill live state — measured at sf0.1: pagerank 3.7 s isolated
vs 17.7 s as pass 2 of a suite session before this module existed.

:class:`CkptScope` is the per-invocation fix:

- ``ckpt(df)`` — checkpoint + track the underlying ``LogicalRDD``.
- ``roll(old, new)`` — checkpoint ``new`` eagerly, then free ``old``:
  the loop idiom. Each iteration holds exactly one live state frame.
- ``release(df)`` — free one tracked frame (for ``eager=False`` sites
  where the caller materializes via ``count()`` before superseding).
- ``finish(result, keep=...)`` — operator epilogue: free every tracked
  intermediate except the frames the (lazy) result still reads, and hand
  those to the bounded session-level escape registry so they are freed
  when later invocations arrive or the engine session closes.

Static per-graph artifacts (shared adjacency, memoized pagerank bases —
catalog.py) are deliberately NOT scope-tracked: they are the session-
lifetime working set, the equivalent of the reference's always-resident
adjacency maps.

Unpersisting a locally-checkpointed DataFrame must target the RDD inside
its ``LogicalRDD`` plan node — ``DataFrame.unpersist`` only talks to the
SQL cache manager and is a no-op for checkpoints.
"""

from __future__ import annotations

import threading
from collections import deque

from pyspark.sql import DataFrame

__all__ = [
    "CkptScope",
    "SessionMemo",
    "capture_escapes",
    "escape_frame",
    "escape_rdd",
    "owned_by",
    "release_escaped",
    "escaped_count",
    "storage_rdd_count",
    "unpersist_frame",
    "unpersist_rdd",
]


def _plan_rdd(df: DataFrame):
    """The JVM RDD materialized by ``localCheckpoint`` (the ``rdd`` field
    of the ``LogicalRDD`` plan node). None if the plan is not a bare
    checkpoint (never the case for frames produced by this module)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        return plan.rdd()
    except Exception:  # pragma: no cover - py4j plumbing guard
        return None


def _unpersist(jrdd) -> None:
    try:
        jrdd.unpersist(False)
    except Exception:  # pragma: no cover - session already stopped
        pass


# ---------------------------------------------------------------------------
# Session-level escape registry: results of finished operators still read
# their kept frames lazily, so those cannot be freed at operator exit.
# They are enqueued here and freed FIFO once the registry exceeds its cap
# (any sane consumer — driver harness, bench, tests — has long since
# materialized a result by the time 64 further operator invocations have
# happened), or eagerly via release_escaped() from Engine.close().
# ---------------------------------------------------------------------------

_ESCAPE_CAP = 64
_ESCAPED: deque = deque()  # (owner_token | None, jrdd)
_ESCAPE_LOCK = threading.Lock()  # FIFO mutations (escape vs release races)

# Owner/capture scoping is PER-THREAD (ADVICE r8): concurrent
# Engine.query() calls from multiple threads — a normal Spark driver
# pattern — must not divert one query's escaped frames into another
# query's pinned list or tag them with the wrong owner (premature
# unpersist → checkpoint-block-not-found when the wrong entry is freed).
_TLS = threading.local()


def _owner_stack() -> list:
    s = getattr(_TLS, "owners", None)
    if s is None:
        s = _TLS.owners = []
    return s


def _capture_stack() -> list:
    s = getattr(_TLS, "captures", None)
    if s is None:
        s = _TLS.captures = []
    return s


def _escape(jrdd) -> None:
    captures = _capture_stack()
    if captures:
        # a cacheable compiled plan is being built: its support frames are
        # PINNED to the cache entry (returned to the capturer) instead of
        # entering the FIFO, so later unrelated escapes can never free a
        # block a cached plan still reads (checkpoint-block-not-found on
        # cache re-serve)
        captures[-1].append(jrdd)
        return
    owners = _owner_stack()
    overflow = []
    with _ESCAPE_LOCK:
        _ESCAPED.append((owners[-1] if owners else None, jrdd))
        while len(_ESCAPED) > _ESCAPE_CAP:
            overflow.append(_ESCAPED.popleft()[1])
    for old in overflow:  # unpersist outside the lock (py4j call)
        _unpersist(old)


class _Ctx:
    """Tiny stack-scoped context manager over a module-level list."""

    def __init__(self, stack: list, value):
        self._stack, self.value = stack, value

    def __enter__(self):
        self._stack.append(self.value)
        return self.value

    def __exit__(self, *exc):
        self._stack.pop()
        return False


def owned_by(token) -> _Ctx:
    """While active (in THIS thread), frames escaped to the FIFO are
    tagged with ``token`` so ``release_escaped(owner=token)`` frees only
    them — one engine's ``close()`` must not invalidate another engine's
    escaped frames."""
    return _Ctx(_owner_stack(), token)


def capture_escapes() -> _Ctx:
    """While active (in THIS thread), escaped frames are diverted
    (pinned) into the list this context yields instead of the bounded
    FIFO. The caller owns their lifetime — re-escape them
    (``escape_rdd``) when the owning cache entry is evicted, or
    unpersist directly (``unpersist_rdd``) on close."""
    return _Ctx(_capture_stack(), [])


def escape_frame(df: DataFrame | None) -> None:
    """Enqueue a locally-checkpointed DataFrame for deferred release via
    the bounded session registry — for frames that are still read by a
    consumer-held lazy plan (per-call search indexes, superseded store
    versions, compiler row-tag frames)."""
    if df is None:
        return
    jrdd = _plan_rdd(df)
    if jrdd is not None:
        _escape(jrdd)


def escape_rdd(rdd) -> None:
    """Same as :func:`escape_frame` for a persisted (Java or PySpark) RDD
    — anything exposing ``unpersist(blocking)``."""
    if rdd is not None:
        _escape(rdd)


def unpersist_frame(df: DataFrame | None) -> None:
    """Free a locally-checkpointed DataFrame's blocks NOW, bypassing the
    FIFO. For owners releasing their OWN frames at close time (cached
    plans' row tags, store versions): routing a close's mass release
    through the bounded FIFO would overflow it and evict the OLDEST
    entries regardless of owner — other live engines' frames (ADVICE
    r8). ``escape_frame`` remains the path for frames that genuinely
    need deferred release (a consumer still holds a lazy plan)."""
    if df is None:
        return
    jrdd = _plan_rdd(df)
    if jrdd is not None:
        _unpersist(jrdd)


def unpersist_rdd(rdd) -> None:
    """Direct twin of :func:`escape_rdd` — free now, never enter the
    FIFO."""
    if rdd is not None:
        _unpersist(rdd)


_ALL = object()


def release_escaped(owner=_ALL) -> int:
    """Free escaped checkpoint frames. With no argument (Engine.shutdown /
    tests) frees everything; with ``owner=token`` frees only the frames
    escaped under :func:`owned_by` with that token — so closing one engine
    cannot invalidate frames another live engine's consumers still read.
    Returns the number of frames released."""
    to_free = []
    with _ESCAPE_LOCK:
        if owner is _ALL:
            while _ESCAPED:
                to_free.append(_ESCAPED.popleft()[1])
        else:
            keep = deque()
            while _ESCAPED:
                own, jrdd = _ESCAPED.popleft()
                if own is owner:
                    to_free.append(jrdd)
                else:
                    keep.append((own, jrdd))
            _ESCAPED.extend(keep)
    for jrdd in to_free:  # py4j calls outside the lock
        _unpersist(jrdd)
    return len(to_free)


def escaped_count() -> int:
    return len(_ESCAPED)


def storage_rdd_count(spark) -> int:
    """Number of RDDs with cached partitions (test/diagnostic helper)."""
    return len(
        [
            i
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.numCachedPartitions() > 0
        ]
    )


class SessionMemo:
    """Per-(session, key) memo for expensive deterministic builds shared
    by twin queries (an index + its recall gate reuse one build). Keyed
    by ``(id(spark), key)`` with the session object held alongside, and
    every access first EVICTS entries whose session has been stopped
    (``sparkContext._jsc is None``) — so a dead session's memoized
    frames/index objects are released at the next memo touch instead of
    pinning the interpreter forever, and a new session that happens to
    reuse a dead session's ``id()`` can never read its entries (the
    stopped entry is evicted before lookup)."""

    def __init__(self):
        self._entries: dict = {}  # (id(spark), key) -> (spark, value)

    def _evict_stopped(self) -> None:
        dead = [
            k
            for k, (s, _) in self._entries.items()
            if getattr(s.sparkContext, "_jsc", None) is None
        ]
        for k in dead:
            del self._entries[k]

    def get(self, spark, key):
        """The memoized value, or None (None is never a stored value —
        the memoized builds return index/frame tuples)."""
        self._evict_stopped()
        hit = self._entries.get((id(spark), key))
        return hit[1] if hit is not None else None

    def put(self, spark, key, value):
        self._evict_stopped()
        self._entries[(id(spark), key)] = (spark, value)
        return value

    def values(self) -> list:
        """Live entries' values (stopped sessions evicted first) — for
        engine-reset sweeps that release every memoized build."""
        self._evict_stopped()
        return [v for (_s, v) in self._entries.values()]

    def clear(self) -> None:
        self._entries.clear()

    def __len__(self) -> int:
        return len(self._entries)


class CkptScope:
    """Tracks the localCheckpoint frames of ONE operator invocation and
    frees them as they are superseded (``roll``/``release``) or when the
    operator returns (``finish``)."""

    def __init__(self):
        # id(df) -> (df, jrdd); the df reference keeps id() stable
        self._tracked: dict[int, tuple[DataFrame, object]] = {}

    def ckpt(self, df: DataFrame, eager: bool = True) -> DataFrame:
        out = df.localCheckpoint(eager=eager)
        jrdd = _plan_rdd(out)
        if jrdd is not None:
            self._tracked[id(out)] = (out, jrdd)
        return out

    def roll(self, old: DataFrame | None, new: DataFrame) -> DataFrame:
        """Eagerly checkpoint ``new`` (computed FROM ``old``), then free
        ``old`` — by return time the new blocks are materialized, so the
        superseded round's blocks are dead."""
        out = self.ckpt(new, eager=True)
        if old is not None:
            self.release(old)
        return out

    def tracked(self) -> list[DataFrame]:
        """The still-tracked frames, in creation order — for operators
        whose result plan unions every per-depth checkpoint (path
        enumerators): ``finish(res, keep=tuple(scope.tracked()))``."""
        return [df for df, _ in self._tracked.values()]

    def release(self, df: DataFrame | None) -> None:
        """Free one tracked frame now. No-op for untracked frames (e.g.
        memoized static artifacts), so call sites stay branch-free."""
        if df is None:
            return
        entry = self._tracked.pop(id(df), None)
        if entry is not None:
            _unpersist(entry[1])

    def finish(self, result=None, keep: tuple[DataFrame, ...] | list = ()):
        """Free every tracked intermediate except ``keep`` (the frames the
        lazy ``result`` plan still reads); escape the kept frames to the
        session registry. Returns ``result`` unchanged."""
        keep_ids = {id(df) for df in keep}
        for key, (_df, jrdd) in list(self._tracked.items()):
            if key in keep_ids:
                _escape(jrdd)
            else:
                _unpersist(jrdd)
            del self._tracked[key]
        return result
