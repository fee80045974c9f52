"""Maintained approximate-distinct index — the streaming form of
``operators/sketches.approx_distinct_gate``: one HLL++ sketch row per
(group, batch) in a partitioned parquet log, serve-time register union.

The state story is the family's best: HLL registers are pure max-merge
state, so per-batch sketches are O(2^lg_k) BYTES per group regardless
of how many distinct values the batch carries, the union is
batch-order-invariant AND idempotent (re-unioning a duplicate sketch
is a no-op on the registers), and serving cost is groups x batches tiny
rows — a 10^10-distinct-users live counter that never materializes a
set anywhere. Removals are structurally impossible (registers cannot
subtract) — :meth:`remove` refuses loudly rather than degrading.

Reference scope: the reference has no approximate or incremental
distinct counting (exact Cypher aggregates only) — beyond-reference
capability for the interactive-at-scale north star, same posture as
operators/sketches.py.

All three are append-only logs of per-batch rows kept replay-idempotent
by anti-join, compacted by a fenced fold — the shared maintained-table
protocol, described once on ``sources/layout.BatchTable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from nornicdb_spark.operators.localframe import literal_df

from nornicdb_spark.operators import scope
from nornicdb_spark.sources.layout import DEFAULT_N_PK as N_PK
from nornicdb_spark.sources.layout import (
    BatchTable,
    MaintainedIndex,
    hash_bucket,
)


class MaintainedDistinctIndex(MaintainedIndex):
    """Live distinct-count-per-group over an append-only stream.

    Layout: ``<path>/sketches`` — one row per (grp, src_batch),
    (grp string, sketch binary, src_batch bigint, gk int),
    partitionBy(gk), ``gk = pmod(xxhash64(grp), n_pk)`` — a bounded
    group probe (:meth:`counts_for`) reads only its groups' gk buckets
    (literal ``isin`` -> ``PartitionFilters``).

    Replay (foreachBatch at-least-once): the guard high-water refuses
    stale batches; a replayed current batch anti-joins its own already
    -present (grp, src_batch) rows away — and even a torn duplicate row
    is harmless by construction (register max is idempotent), the only
    index in the family whose payload self-heals semantically as well
    as mechanically."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_col: str,
        value_col: str,
        lg_k: int = 12,
        n_pk: int = N_PK,
    ):
        super().__init__(spark, path)
        self.group_col = group_col
        self.value_col = value_col
        self.lg_k = int(lg_k)
        self.n_pk = int(n_pk)
        self.sketches = BatchTable(
            spark, self.path, f"{self.path}/sketches",
            "grp string, sketch binary, src_batch bigint, gk int", "gk",
        )

    @property
    def sketches_path(self) -> str:
        return self.sketches.path

    def _gk(self):
        return hash_bucket(self.n_pk, "grp")

    def _stored(self) -> DataFrame:
        return self.sketches.read()

    def _rows(self, batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                F.col(self.group_col).cast("string").alias("grp"),
                F.col(self.value_col).alias("_v"),
            )
            .groupBy("grp")
            .agg(F.hll_sketch_agg("_v", F.lit(self.lg_k)).alias("sketch"))
            .withColumn("gk", self._gk())
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Append this batch's per-group sketch rows. Replay-idempotent
        twice over: the anti-join drops rows a torn first run already
        landed, and a duplicate that slipped through would union to the
        identical registers anyway."""
        with self.sketches.guarded(batch_id):
            rows = self._rows(batch_df).localCheckpoint(eager=True)
            self.sketches.append_unseen(rows, batch_id, ["grp"])
        scope.escape_frame(rows)

    def counts(self) -> DataFrame:
        """(grp, approx_distinct) over everything ingested — union of
        the per-batch registers, one tiny shuffle of sketch rows."""
        return (
            self._stored()
            .groupBy("grp")
            .agg(
                F.hll_sketch_estimate(
                    F.hll_union_agg("sketch", F.lit(False))
                )
                .cast("long")
                .alias("approx_distinct")
            )
        )

    def counts_for(self, groups: list[str]) -> DataFrame:
        """Bounded probe: estimates for the given groups only, reading
        only their gk partitions (literal isin -> PartitionFilters)."""
        if not groups:
            return literal_df(self.spark, 
                [], "grp string, approx_distinct long"
            )
        gks = sorted(
            {
                r.gk
                for r in literal_df(self.spark, 
                    [(g,) for g in groups], "grp string"
                )
                .select(self._gk().alias("gk"))
                .collect()
            }
        )
        return (
            self._stored()
            .filter(F.col("gk").isin(gks) & F.col("grp").isin(list(groups)))
            .groupBy("grp")
            .agg(
                F.hll_sketch_estimate(
                    F.hll_union_agg("sketch", F.lit(False))
                )
                .cast("long")
                .alias("approx_distinct")
            )
        )

    def remove(self, *_args, **_kwargs) -> None:
        """HLL registers cannot subtract — a maintained distinct count
        with removals needs a different sketch family entirely (e.g.
        exact per-group sets or linear counting with counters). Refuse
        loudly instead of silently over-counting."""
        raise NotImplementedError(
            "MaintainedDistinctIndex is append-only: HLL register state "
            "cannot subtract a value. Rebuild the index without the "
            "removed rows, or keep an exact membership log if removal "
            "is a requirement."
        )

    def compact(self) -> None:
        """Fold the per-batch sketch rows to ONE row per group
        (src_batch=-2) — bounded file count after any number of
        batches. A fenced fold (double-union is semantically harmless
        here, but the family contract is uniform)."""
        self.sketches.fold(
            lambda df, _it: df.groupBy("grp", "gk")
            .agg(F.hll_union_agg("sketch", F.lit(False)).alias("sketch"))
            .withColumn("src_batch", F.lit(-2).cast("bigint"))
            .select(*self.sketches.columns)
        )


class MaintainedHistogramIndex(MaintainedIndex):
    """Live fixed-width histogram per group — the quantile twin of
    :class:`MaintainedDistinctIndex`, and its structural contrast: bucket
    COUNTS subtract, so this index SUPPORTS removal (negative count
    rows, the fulltext stats-row convention — serving stays a pure sum
    with no subtract-then-clear crash window), where HLL registers
    cannot and :meth:`MaintainedDistinctIndex.remove` refuses.

    Layout: ``<path>/hist`` — (grp string, bucket bigint, n bigint,
    src_batch bigint, gk int), partitionBy(gk); ``bucket =
    floor(value / width)``. State is O(value range / width) rows per
    group — cardinality-independent like the HLL twin, and every
    serve-time read is a sum, so batch order and interleaved removals
    cannot change any answer.

    Quantile contract: :meth:`quantile` returns the MIDPOINT of the
    first bucket whose cumulative net count reaches q * total — a
    deterministic estimate with error <= width/2 + (bucket population
    spread), fully reproducible in SQL (the driver row carries a real
    DuckDB oracle, not a gate). Removal is observation-level, not
    identity-level: the caller asserts the removed values were
    previously ingested (a histogram keeps no identities to check);
    over-removal leaves negative net buckets, which :meth:`audit`
    surfaces."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_col: str,
        value_col: str,
        width: float = 1.0,
        n_pk: int = N_PK,
    ):
        super().__init__(spark, path)
        self.group_col = group_col
        self.value_col = value_col
        self.width = float(width)
        self.n_pk = int(n_pk)
        self.hist = BatchTable(
            spark, self.path, f"{self.path}/hist",
            "grp string, bucket bigint, n bigint, src_batch bigint, gk int",
            "gk",
        )

    @property
    def hist_path(self) -> str:
        return self.hist.path

    def _gk(self):
        return hash_bucket(self.n_pk, "grp")

    def _stored(self) -> DataFrame:
        return self.hist.read()

    def _rows(self, batch_df: DataFrame, sign: int) -> DataFrame:
        return (
            batch_df.select(
                F.col(self.group_col).cast("string").alias("grp"),
                F.floor(
                    F.col(self.value_col).cast("double") / F.lit(self.width)
                ).alias("bucket"),
            )
            .groupBy("grp", "bucket")
            .agg((F.lit(sign) * F.count(F.lit(1))).cast("long").alias("n"))
            .withColumn("gk", self._gk())
        )

    def _append(self, batch_df: DataFrame, batch_id: int, sign: int) -> None:
        # a batch_id is EITHER ingest or removal: the replay anti-join
        # keys on (grp, bucket, src_batch), so a removal reusing an
        # ingest's id would be silently eaten as a "replay" and the
        # histogram would over-count forever — the guarded commit
        # records each id's kind and refuses a mismatch loudly
        with self.hist.guarded(batch_id, "ingest" if sign > 0 else "remove"):
            rows = self._rows(batch_df, sign).localCheckpoint(eager=True)
            self.hist.append_unseen(rows, batch_id, ["grp", "bucket"])
        scope.escape_frame(rows)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Append this batch's (grp, bucket) counts. A batch_id is
        either an ingest or a removal, never both (the replay anti-join
        heals on (grp, bucket, src_batch))."""
        self._append(batch_df, batch_id, sign=1)

    def remove_batch(self, values_df: DataFrame, batch_id: int) -> None:
        """Subtract previously-ingested observations: appends NEGATIVE
        count rows under this batch_id — serving remains a pure sum.
        Observation-level semantics: the caller asserts these (group,
        value) observations were ingested before; the index keeps no
        identities to verify against (use the fulltext/IVF indexes'
        tombstones when identity-level removal is needed)."""
        self._append(values_df, batch_id, sign=-1)

    def totals(self) -> DataFrame:
        """(grp, bucket, n) net histogram — the serving primitive."""
        return (
            self._stored()
            .groupBy("grp", "bucket")
            .agg(F.sum("n").cast("long").alias("n"))
            .filter(F.col("n") != 0)
        )

    def audit(self) -> DataFrame:
        """Net-negative buckets (over-removal evidence) — empty on a
        correctly operated index."""
        return self.totals().filter(F.col("n") < 0)

    def quantile(self, q: float) -> DataFrame:
        """(grp, q_est, total): midpoint of the first bucket whose
        cumulative net count reaches q * total. One tiny shuffle of
        net bucket rows; deterministic, SQL-reproducible."""
        from pyspark.sql import Window as W

        net = self.totals()
        w = (
            W.partitionBy("grp")
            .orderBy("bucket")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        cum = net.withColumn("cum", F.sum("n").over(w))
        tot = net.groupBy("grp").agg(F.sum("n").cast("long").alias("total"))
        return (
            cum.join(tot, "grp")
            .filter(F.col("cum") >= F.lit(float(q)) * F.col("total"))
            .groupBy("grp")
            .agg(
                F.min("bucket").alias("_b"),
                F.first("total", ignorenulls=True).alias("total"),
            )
            .select(
                "grp",
                ((F.col("_b") + F.lit(0.5)) * F.lit(self.width)).alias(
                    "q_est"
                ),
                "total",
            )
        )

    def compact(self) -> None:
        """Fold per-batch rows to net (grp, bucket) rows (zero nets
        dropped, src_batch=-2) — a fenced fold (a replayed batch after
        its rows folded would re-append them; refused instead)."""
        self.hist.fold(
            lambda df, _it: df.groupBy("grp", "bucket", "gk")
            .agg(F.sum("n").cast("long").alias("n"))
            .filter(F.col("n") != 0)
            .withColumn("src_batch", F.lit(-2).cast("bigint"))
            .select(*self.hist.columns)
        )


class MaintainedSampleIndex(MaintainedIndex):
    """Live weighted reservoir WITHOUT replacement over an append-only
    stream — the streaming form of ``operators/textops.weighted_sample``
    and the family's third sketch member. Because the A-Res key
    (u^(1/w), u hash-derived from the doc id) is a pure per-row
    function, per-batch top-n candidate sets are MERGEABLE: any global
    winner present in a batch survives that batch's local top-n, so
    the global top-n over the union of per-batch top-ns is EXACTLY the
    batch operator's answer over the whole ingested corpus —
    :meth:`sample` is byte-identical to ``weighted_sample`` on the
    same rows (the driver row shares the batch oracle verbatim, the
    stream_dedup_exact posture).

    Layout: ``<path>/cands`` — (doc_id bigint, weight double,
    key double, src_batch bigint) per retained candidate, <= n rows per
    batch; serving re-ranks candidates only (n x batches tiny rows),
    compaction folds to the global top-n. Replay-idempotent via the
    guard + (doc_id, src_batch) anti-join, and semantically via key
    determinism (a duplicate candidate row cannot change a top-n that
    de-duplicates by doc_id). Removal is refused loudly: evicting a
    winner cannot restore the candidate that its batch's local top-n
    dropped — rebuild from the surviving corpus instead."""

    def __init__(self, spark: SparkSession, path: str, n: int):
        super().__init__(spark, path)
        self.n = int(n)
        self.cands = BatchTable(
            spark, self.path, f"{self.path}/cands",
            "doc_id bigint, weight double, key double, src_batch bigint",
        )

    @property
    def cands_path(self) -> str:
        return self.cands.path

    def process_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        weight_col: str = "weight",
        id_col: str = "doc_id",
    ) -> None:
        from nornicdb_spark.operators.textops import weighted_sample

        with self.cands.guarded(batch_id):
            rows = weighted_sample(
                batch_df, n=self.n, weight_col=weight_col, id_col=id_col
            ).localCheckpoint(eager=True)
            self.cands.append_unseen(rows, batch_id, ["doc_id"])
        scope.escape_frame(rows)

    def sample(self) -> DataFrame:
        """(doc_id, weight, key): the n winners over everything ingested
        — identical to the batch weighted_sample over the same corpus.
        Candidates de-duplicate by doc_id first (replay hygiene), then
        the rounded-key/id tie-break ranks."""
        return self._top(self.cands.read())

    def _top(self, cands: DataFrame) -> DataFrame:
        return (
            cands.groupBy("doc_id")
            .agg(F.first("weight").alias("weight"), F.max("key").alias("key"))
            .orderBy(F.desc("key"), F.asc("doc_id"))
            .limit(self.n)
        )

    def remove(self, *_args, **_kwargs) -> None:
        """Removal cannot be honored: a batch's local top-n already
        dropped the candidates that would back-fill an evicted winner.
        Rebuild the index over the surviving corpus instead."""
        raise NotImplementedError(
            "MaintainedSampleIndex is append-only: evicting a sampled "
            "winner cannot restore candidates its batch's local top-n "
            "discarded. Rebuild from the surviving corpus."
        )

    def compact(self) -> None:
        """Fold all candidate rows to the current global top-n
        (src_batch=-2) — a fenced fold."""
        self.cands.fold(
            lambda df, _it: self._top(df)
            .withColumn("src_batch", F.lit(-2).cast("bigint"))
            .select(*self.cands.columns)
            .coalesce(1)
        )
