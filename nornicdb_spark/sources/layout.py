"""Cluster table layout — partitioned writes for probe-pruned indexes.

The partitioned indexes (IVF-PQ codes repartitioned by ``list_id``,
the maintained near-dup band index) promise "written partitionBy on a
real cluster" so probe filters prune whole directories instead of
scanning every file. This module makes that executable: one helper that
lays a DataFrame out hive-partitioned, and explicit-schema readers whose
scans carry ``PartitionFilters`` for equality/IN probes on the partition
column (plan-tested in tests/test_plans.py). At 100 TB this is the difference
between an ADC scan touching n_probe/n_lists of the codes and touching
all of them.

It is also the one home of the maintained-index batch protocol: every
maintained index (``streaming/{neardup,fulltext,ivf,sketches,
graphindex}.py``) keeps its state in :class:`BatchTable` tables and
attaches its ``foreachBatch`` loop through :class:`MaintainedIndex` —
see :class:`BatchTable` for the protocol itself.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from nornicdb_spark.operators.localframe import literal_df
from nornicdb_spark.streaming import guard

# Default hash-partition bucket count for the maintained indexes'
# pruned tables (near-dup bands/payload, graph nodes/merges, BM25 term
# buckets). One home so a cluster deployment retunes it once: size as
# index_bytes / target_partition_bytes (~128 MB) — e.g. ~1024 for a
# 100 TB corpus' band index; locally a modest default keeps test
# directory counts sane without changing the plan shape.
DEFAULT_N_PK = 64


def hash_bucket(n_pk: int, *cols) -> F.Column:
    """``pmod(xxhash64(cols), n_pk)`` as int — the partition bucket of
    every hash-partitioned maintained table. MUST be identical at write
    and probe time (xxhash64 is deterministic across sessions)."""
    return F.pmod(F.xxhash64(*cols), F.lit(int(n_pk))).cast("int")


def recover_interrupted_swap(path: str) -> None:
    """Finish a :func:`rewrite_partitioned` swap that crashed between its
    two renames: ``<path>.old`` holding the only copy of the data is
    restored to ``path``; a leftover ``.old`` beside an intact ``path``
    (cleanup crashed after a COMPLETED swap) is removed. Callers that
    probe the table before rewriting (:meth:`BatchTable.fold`) run this
    first so a default-argument re-run actually performs the recovery
    the error messages promise."""
    old = f"{path}.old"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)  # completed swap whose cleanup crashed
        else:
            os.rename(old, path)  # interrupted swap — restore


def write_partitioned(
    df: DataFrame, path: str, *partition_cols: str, mode: str = "overwrite"
) -> None:
    """Write ``df`` as parquet hive-partitioned by ``partition_cols`` —
    equality/IN filters on those columns become directory pruning
    (``PartitionFilters``) on read, and appends land as new files inside
    existing partitions (parallel per-partition writers on a cluster)."""
    if not partition_cols:
        raise ValueError("write_partitioned needs at least one partition column")
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a maintained-index table that may not exist yet (fresh path,
    no bootstrap, or only empty batches so far): a missing path reads as
    an empty table with the explicit ``schema``, so first-batch ingest
    and early monitoring reads need no special-casing. The explicit
    schema also covers file-less directories appends can leave behind."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException:
        if os.path.exists(f"{path}.old"):
            # a rewrite_partitioned swap crashed between its two renames:
            # the data is intact in <path>.old but a silent empty read
            # here would make the index "forget" its corpus — be loud
            raise RuntimeError(
                f"{path} is missing but {path}.old exists — an "
                "interrupted compaction left the table un-swapped. "
                "Re-run the compaction (it restores the original "
                "directory first) or rename the .old directory back."
            )
        return literal_df(spark, [], schema)


def stored_col_type(spark: SparkSession, path: str, col: str) -> str | None:
    """Recover a column's type from a stored table's schema (the caller
    supplied the id type at write time; reads without a reference frame
    get it back here). ``None`` when the table does not exist yet — but
    NOT when it is merely half-swapped: a missing path with a
    ``<path>.old`` sibling is an interrupted compaction, and treating it
    as 'never ingested' would let a default-argument compact() skip the
    restore silently. Same loud refusal as :func:`read_or_empty`."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException:
        if os.path.exists(f"{path}.old"):
            raise RuntimeError(
                f"{path} is missing but {path}.old exists — an "
                "interrupted compaction left the table un-swapped. "
                "Run recover_interrupted_swap (compact() does so "
                "automatically) or rename the .old directory back."
            )
        return None
    return df.schema[col].dataType.simpleString()


def rewrite_partitioned(
    spark: SparkSession,
    path: str,
    schema: str,
    transform,
    *partition_cols: str,
) -> None:
    """Maintenance-window rewrite of a partitioned table: read ``path``
    with ``schema``, apply ``transform``, write to a staging sibling,
    then swap directories. For compacting ingest-partitioned tables
    (``src_batch=N/...`` accumulation) back to a bounded directory
    count. The swap is two renames on a local/HDFS-style filesystem;
    on object stores the same shape is a manifest/metastore pointer
    swap. MUST run with no concurrent writer (stream stopped). A crash
    between the two renames leaves the table at ``<path>.old`` — the
    next run restores it first (and :func:`read_or_empty` refuses to
    read the half-swapped state as an empty table).

    The rows are hash-repartitioned by ``partition_cols`` first, so each
    partition directory holds exactly one file. Otherwise the count is
    the number of input splits that carried its rows, which follows how
    the scan packs the table's files (their listing order), not the
    data."""
    recover_interrupted_swap(path)
    df = transform(spark.read.schema(schema).parquet(path))
    if partition_cols:
        df = df.repartition(*partition_cols)
    staging, old = f"{path}.compacting", f"{path}.old"
    shutil.rmtree(staging, ignore_errors=True)
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(staging)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)


class BatchTable:
    """One partitioned parquet table of a maintained index, and the batch
    protocol all maintained indexes share.

    ``schema`` is a DDL string whose id columns may be typed ``{it}``:
    the caller's id type, supplied at write time and recovered from the
    stored table (``id_col``) on reads without a reference frame.

    The protocol, stated once for the whole family:

    - **Empty-or-missing read** (:meth:`read`): a fresh path reads as an
      empty table with the explicit schema; a half-swapped one refuses.
    - **Guarded batch commit** (:meth:`guarded`): foreachBatch is
      at-least-once, so every ingest/removal batch checks the index's
      high-water batch id first (a reset stream checkpoint over an
      existing index is refused — replays are valid only for the latest
      batch), writes, and records the batch id last. A (re)bootstrap
      starts a fresh era instead (:meth:`restart_era`). The writes are
      replay-idempotent one of two ways (:meth:`write`): a
      ``by_batch`` table (partitioned first by its batch column)
      dynamic-OVERWRITES exactly its own batch's partitions; any other
      table appends only rows its stored state lacks
      (:meth:`append_unseen`, an anti-join pruned to the rows' hash
      buckets).
    - **Tombstones** (``tombstones`` schema — a ``<root>/tombstones``
      side table partitioned by ``src_batch``): removals write the
      removed ids (:meth:`tombstone`) instead of rewriting the corpus;
      probes anti-join them (:meth:`drop_tombstoned`, skipped while no
      tombstone directory exists, broadcast otherwise — bounded by the
      removals since the last fold, as the reference keeps its
      tombstones in RAM, hnsw_index.go); re-ingesting a removed id while
      its tombstone is pending is refused (:meth:`refuse_removed`);
      :meth:`tombstone_ratio`/:meth:`should_rebuild` are the reference's
      50 % rebuild heuristic (hnsw_index.go:399-418).
    - **Fenced fold** (:meth:`fold`, the compaction): MUST run in a
      maintenance window (stream stopped, checkpoint committed, no
      replay pending). It recovers an interrupted swap, returns on a
      never-ingested table, advances the guard epoch BEFORE rewriting —
      a replay of even the latest batch would re-append rows the fold
      already absorbed, so it is refused from the first instant of the
      fold, crash windows included — rewrites each table through
      :func:`rewrite_partitioned` minus the tombstoned ids, and clears
      the tombstones LAST (a crash before that leaves only a redundant
      anti-join against already-absent ids).

    Markers (high-water, batch kinds, chase depth) are driver-local
    files beside the tables; see the guard module for why URI-schemed
    index paths are refused."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        path: str,
        schema: str,
        *partition_cols: str,
        id_col: str | None = None,
        tombstones: str | None = None,
        by_batch: bool = False,
    ):
        self.spark = spark
        self.root = root
        self.path = path
        self._schema = schema
        self.partition_cols = partition_cols
        self.id_col = id_col
        self.by_batch = by_batch
        self._id_type: str | None = None  # stored id type, once per era
        self.columns = T._parse_datatype_string(self.schema()).fieldNames()
        self.tombstones = (
            BatchTable(spark, root, f"{root}/tombstones", tombstones,
                       "src_batch", id_col=id_col, by_batch=True)
            if tombstones
            else None
        )

    # -- reads ----------------------------------------------------------------
    def schema(self, it: str = "bigint") -> str:
        return self._schema.format(it=it)

    def stored_id_type(self) -> str | None:
        """The stored id type; ``None`` on a never-ingested table. Read
        from the files once per table era (a schema-inference job each
        time otherwise): appends keep the type, and only what replaces
        the files wholesale — :meth:`restart_era`, :meth:`fold`, an
        ``overwrite`` :meth:`write` — drops the cached value."""
        if self._id_type is None:
            self._id_type = stored_col_type(self.spark, self.path, self.id_col)
        return self._id_type

    def id_type(self, given: str | None = None) -> str:
        """``given`` if supplied, else the stored id type (bigint on a
        never-ingested table)."""
        return given or self.stored_id_type() or "bigint"

    def read(self, it: str = "bigint") -> DataFrame:
        return read_or_empty(self.spark, self.path, self.schema(it))

    # -- guarded batch commit ---------------------------------------------
    @contextmanager
    def guarded(self, batch_id: int, kind: str | None = None):
        """Check the high-water mark (and, with ``kind``, that this batch
        id was never used for a batch of another kind), run the body's
        writes, then record the batch id — not on failure."""
        guard.check_batch(self.root, batch_id)
        if kind is not None:
            guard.claim_batch_kind(self.root, batch_id, kind)
        yield
        guard.record_batch(self.root, batch_id)

    def restart_era(self) -> None:
        """A (re)bootstrap starts a fresh stream era: reset the guard."""
        self._id_type = None
        guard.record_batch(self.root, -1, reset=True)

    def marker(self, name: str, value=None) -> int | None:
        """The driver-local int marker ``name`` beside the tables
        (``None`` if never written); with ``value``, write it first."""
        if value is not None:
            guard.write_marker(self.root, name, value)
        return guard.read_int_marker(self.root, name)

    def write(self, df: DataFrame, mode: str | None = None) -> None:
        """Dynamic partition overwrite of the batch's own partitions for
        a ``by_batch`` table; otherwise ``mode`` (append)."""
        w = df.write
        if mode == "overwrite":
            self._id_type = None
        if mode is None and self.by_batch:
            w = w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        else:
            w = w.mode(mode or "append")
        if self.partition_cols:
            w = w.partitionBy(*self.partition_cols)
        w.parquet(self.path)

    def append_unseen(
        self,
        rows: DataFrame,
        batch_id: int,
        keys: list[str],
        it: str = "bigint",
        own_batch: bool = True,
    ) -> None:
        """Append ``rows`` as batch ``batch_id`` minus the rows whose
        ``keys`` are already stored — by this batch only (a replay
        re-derives identical rows; a torn first run self-heals), or by
        any batch when not ``own_batch``. On a hash-bucketed table the
        existence scan reads only the rows' buckets (literal ``isin`` →
        ``PartitionFilters``)."""
        stored = self.read(it)
        if self.partition_cols:
            bucket = self.partition_cols[0]
            vals = [r[0] for r in rows.select(bucket).distinct().collect()]
            if not vals:
                return
            stored = stored.filter(F.col(bucket).isin(vals))
        if own_batch:
            stored = stored.filter(F.col("src_batch") == int(batch_id))
        fresh = rows.join(stored.select(*keys), keys, "left_anti")
        self.write(
            fresh.withColumn(
                "src_batch", F.lit(int(batch_id)).cast("bigint")
            ).select(*self.columns)
        )

    # -- tombstones ---------------------------------------------------------
    def tombstoned(self, it: str) -> DataFrame:
        return self.tombstones.read(it).select(self.id_col)

    def drop_tombstoned(self, df: DataFrame, it: str) -> DataFrame:
        if not os.path.exists(self.tombstones.path):
            return df
        return df.join(
            F.broadcast(self.tombstoned(it)), self.id_col, "left_anti"
        )

    def refuse_removed(self, ids: DataFrame, message: str) -> None:
        """Raise ``ValueError(message)`` when ``ids`` re-uses a removed id
        whose tombstone is pending: the anti-join would hide the new rows
        and the next fold would drop them. Free with no tombstones."""
        if not os.path.exists(self.tombstones.path):
            return
        clash = (
            ids.join(
                F.broadcast(self.tombstoned(self.id_type())),
                self.id_col,
                "left_semi",
            )
            .limit(1)
            .count()
        )
        if clash:
            raise ValueError(message)

    def tombstone(self, hits: DataFrame, batch_id: int, it: str) -> DataFrame:
        """Tombstone the live ``hits`` rows as removal batch ``batch_id``
        and return the victims: ids an EARLIER batch already removed
        contribute nothing (same-batch tombstones are not excluded, so a
        replay recomputes the victims identically)."""
        prior = (
            self.tombstones.read(it)
            .filter(F.col("src_batch") != int(batch_id))
            .select(self.id_col)
        )
        victims = hits.join(prior, self.id_col, "left_anti").select(
            *[c for c in self.tombstones.columns if c != "src_batch"]
        )
        self.tombstones.write(
            victims.withColumn("src_batch", F.lit(int(batch_id)).cast("bigint"))
        )
        return victims

    def tombstone_ratio(self, live, id_type: str | None = None) -> float:
        """removed / (live + removed), ``live(it)`` counting the live
        rows; 0.0 on an empty index."""
        it = self.id_type(id_type)
        removed = self.tombstoned(it).count()
        total = live(it) + removed
        return float(removed) / float(total) if total else 0.0

    def should_rebuild(self, live, threshold: float = 0.5) -> bool:
        return self.tombstone_ratio(live) > float(threshold)

    # -- fenced fold --------------------------------------------------------
    def fold(self, transform, id_type: str | None = None, also=()) -> bool:
        """Compact this table — then each ``(table, transform)`` of
        ``also`` that exists — through ``transform(df, it)`` under one
        epoch fence. Tables carrying the id column lose the tombstoned
        ids. Returns False (a no-op) on a never-ingested table."""
        recover_interrupted_swap(self.path)
        if id_type is None and "{it}" in self._schema:
            id_type = self.stored_id_type()
            if id_type is None:
                return False  # nothing ingested yet — nothing to compact
        elif not os.path.exists(self.path):
            return False
        it = id_type or "bigint"
        guard.advance_epoch(self.root)
        tomb = self.tombstoned(it) if self.tombstones else None
        for table, fn in ((self, transform), *also):
            if table is not self:
                recover_interrupted_swap(table.path)
                if not os.path.exists(table.path):
                    continue

            def step(df, fn=fn):
                if tomb is not None and self.id_col in df.columns:
                    df = df.join(tomb, self.id_col, "left_anti")
                return fn(df, it)

            rewrite_partitioned(
                self.spark, table.path, table.schema(it), step,
                *table.partition_cols,
            )
            table._id_type = None
        if self.tombstones:
            shutil.rmtree(self.tombstones.path, ignore_errors=True)
        return True


class MaintainedIndex:
    """Base of the maintained indexes: ``path`` is the index directory
    (tables and markers live under it); subclasses define
    ``process_batch(batch_df, batch_id)``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    def ingest(self, stream_df: DataFrame, query_name: str):
        """Attach :meth:`process_batch` to a stream as its foreachBatch
        loop; returns the StreamingQuery (the caller drives and stops
        it)."""
        os.makedirs(self.path, exist_ok=True)
        return (
            stream_df.writeStream.outputMode("append")
            .foreachBatch(self.process_batch)
            .queryName(query_name)
            .start()
        )
