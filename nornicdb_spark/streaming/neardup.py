"""Maintained incremental near-dup indexes — the 100 TB ingest loop.

``stream_dedup_near_dup`` (queries/temporal.py) probes a STATIC banded
snapshot; production ingest needs accepted-new-documents appended to the
index so later batches can match them (reference dedup behavior on
ingest: pkg/embeddings/dedup.go near-duplicate gate runs against the
live store, not a frozen one). :class:`MaintainedBandIndex` (text
MinHash) and :class:`MaintainedVecIndex` (embedding hyperplane-LSH over
int8-quantized codes) are that loop as Structured Streaming
``foreachBatch`` over parquet-backed, hash-partitioned index tables —
one shared machinery (:class:`_MaintainedIndexBase`), two modalities.

Layout (normalized — band rows do NOT duplicate the verify payload):

- ``<path>/bands``  : (doc, band, band_key, src_batch, pk) —
  partitionBy(pk), ``pk = pmod(xxhash64(band, band_key), n_pk)``
- ``<path>/payload``: (doc, <payload cols>, src_batch, hk) —
  partitionBy(hk), ``hk = pmod(xxhash64(doc), n_pk)``; the payload is
  the verify side — shingle-hash sets for text, int8 codes + code norm
  for embeddings
- ``<path>/matches``: (stream_doc, corpus_doc, <score>, batch_id) —
  partitionBy(batch_id), dynamic partition OVERWRITE (replay-idempotent)

Partitioning by a key-derived hash bucket (NOT by ``band`` — every doc
produces a key in every band, so ``band`` never prunes) is what makes
the probe scan sublinear: each micro-batch collects its ≤ n_pk distinct
``pk`` values (bounded by construction — pk ∈ [0, n_pk)) and pushes a
literal ``isin`` that Catalyst turns into ``PartitionFilters`` directory
pruning, the exact pattern proven for IVF-PQ probes
(``IVFPQIndex.persist_codes`` + tests/test_plans.py). The same trick
prunes the fat-column ``payload`` read down to the candidate docs' ``hk``
buckets. Without it, every batch's equi-join SCANS all N·B index rows
(and all N payload rows) — at 100 TB the scan, not the join output, is
the cost.

Per micro-batch of n_b docs against a corpus of N docs:
  probe      = equi-join n_b·B band rows against the pk-pruned slice of
               the bands table — reads ~|batch pks|/n_pk of the FILES
  verify     = exact score on candidate pairs only (hk-pruned keyed
               join pulls just the candidate docs' payload rows)
  maintain   = append accepted (non-dup, not-yet-indexed) docs' B band
               rows + 1 payload row; cost O(n_b), independent of N
so steady-state ingest is O(n_b) work per batch with probe/verify scans
bounded by touched partitions, not corpus size (see SCALING.md).

Failure model (foreachBatch is at-least-once): a replayed batch_id
dynamic-OVERWRITES its own matches partition, the probe EXCLUDES index
rows the same batch_id added (``src_batch`` column — each doc is judged
against the accepted corpus as of its batch, so a replay sees exactly
the pre-batch index), and accepted docs are anti-joined against the
existing payload table (hk-pruned) before the appends — a
fully-processed batch replays as a byte-identical no-op. A batch torn
between the bands append and the payload append self-heals on replay
(the doc is absent from payload, so both appends re-run; the duplicate
band rows only inflate bucket occupancy, and match pairs are
de-duplicated), at the cost of a bounded occupancy over-count for that
batch. Exactly-once multi-table upserts need a transactional table
format (Delta/Iceberg) — out of scope here; the torn-state behavior is
deliberately biased so no failure mode silently loses matchability.
The guarded commit and the replay-safe appends are the shared
maintained-table protocol, described once on ``sources/layout.BatchTable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from nornicdb_spark.operators.localframe import literal_df

from nornicdb_spark.operators import scope
from nornicdb_spark.sources.layout import (
    BatchTable,
    MaintainedIndex,
    hash_bucket,
)
from nornicdb_spark.operators.dedup import (
    N_BANDS,
    N_PERMS,
    minhash_band_keys_col,
    shingle_hashes_col,
)

__all__ = ["MaintainedBandIndex", "MaintainedVecIndex", "MaintainedHashIndex"]

# Hash-partition bucket count for the bands/payload tables — one home
# for the whole maintained family (sizing story + cluster retune point
# live there).
from nornicdb_spark.sources.layout import DEFAULT_N_PK as N_PK


class _MaintainedIndexBase(MaintainedIndex):
    """Shared probe/maintain/replay machinery. A subclass supplies the
    modality: :meth:`_rows` derives (doc, <payload>, band, band_key, pk)
    per document, ``payload_cols``/``payload_types`` name the verify-side
    columns, and :meth:`_pair_score` scores a candidate pair from its
    ``s_<col>``/``c_<col>`` payload columns.

    New documents are near-dup-checked against the CURRENT index (which
    includes docs accepted in earlier batches); matches are recorded and
    rejected, novel docs are appended to the index. Intra-batch pairs are
    deliberately not compared — each doc is judged against the accepted
    corpus as of its batch, the reference's ingest-time semantics. A
    fresh path with no prior :meth:`bootstrap` is valid — the index
    seeds itself from the first batch (missing tables read as empty).
    """

    payload_cols: tuple[str, ...]
    payload_types: tuple[str, ...]
    score_col: str

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        threshold: float,
        id_col: str,
        max_per_bucket: int | None = 128,
        n_pk: int = N_PK,
    ):
        super().__init__(spark, path)
        self.threshold = float(threshold)
        self.id_col = id_col
        # Hot-bucket ceiling (the hub-cap discipline of
        # dedup.max_shingle_df / sessions.max_keys_per_window): a massive
        # duplicate cluster makes its band buckets hot, and an uncapped
        # probe join would emit candidates ∝ cluster size for every
        # probing doc. Bucket members are near-identical by construction,
        # so the index retains a deterministic md5-order sample of
        # ``max_per_bucket`` docs per (band, band_key) — any future
        # near-dup of the cluster still collides with the retained
        # members, so detection recall is preserved while the candidate
        # stream is bounded at B·max_per_bucket per probing doc.
        # ``None`` disables the cap.
        self.max_per_bucket = max_per_bucket
        self.n_pk = int(n_pk)
        cols = ", ".join(
            f"{c} {t}" for c, t in zip(self.payload_cols, self.payload_types)
        )
        self.bands = BatchTable(
            spark, self.path, f"{self.path}/bands",
            "doc {it}, band_key string, band int, src_batch bigint, pk int",
            "pk",
        )
        self.payload = BatchTable(
            spark, self.path, self.payload_path,
            f"doc {{it}}, {cols}, src_batch bigint, hk int", "hk", id_col="doc",
        )
        self._matches = BatchTable(
            spark, self.path, f"{self.path}/matches",
            f"stream_doc {{it}}, corpus_doc {{it}}, {self.score_col} double,"
            " batch_id bigint",
            "batch_id", by_batch=True,
        )

    # -- subclass contract -------------------------------------------------
    def _rows(self, docs: DataFrame) -> DataFrame:
        """(doc, <payload cols>, band, band_key, pk) per doc — per-row
        narrow expressions only (no explode state, no groupBy), so the
        same derivation is legal inside a micro-batch."""
        raise NotImplementedError

    def _rows_batch(self, docs: DataFrame) -> DataFrame:
        """Bootstrap twin of :meth:`_rows` — subclasses may use a wider
        (explode/groupBy) pipeline for large static corpora."""
        return self._rows(docs)

    def _pair_score(self) -> F.Column:
        """Similarity of a candidate pair, from ``s_<payload>`` (stream
        side) and ``c_<payload>`` (corpus side) columns."""
        raise NotImplementedError

    # -- paths ------------------------------------------------------------
    @property
    def bands_path(self) -> str:
        return self.bands.path

    @property
    def payload_path(self) -> str:
        return f"{self.path}/payload"

    @property
    def matches_path(self) -> str:
        return self._matches.path

    def _id_type(self, docs: DataFrame) -> str:
        return docs.schema[self.id_col].dataType.simpleString()

    # -- partition-bucket expressions ---------------------------------------
    def _pk_col(self):
        return hash_bucket(self.n_pk, "band", "band_key")

    def _hk_col(self, col: str = "doc"):
        return hash_bucket(self.n_pk, col)

    def _bands_pruned(
        self, it: str, pks: list[int], exclude_batch: int | None = None
    ) -> DataFrame:
        """The bands-table scan a probe performs: the literal ``isin`` on
        the partition column becomes ``PartitionFilters`` directory
        pruning (plan-tested) — the scan reads ≤ len(pks)/n_pk of the
        index files, never all of them. ``exclude_batch`` hides rows the
        given batch itself appended (replay idempotency)."""
        df = self.bands.read(it).filter(F.col("pk").isin(pks))
        if exclude_batch is not None:
            df = df.filter(F.col("src_batch") != int(exclude_batch))
        return df

    def _payload_pruned(
        self, it: str, hks: list[int], exclude_batch: int | None = None
    ) -> DataFrame:
        """The payload-table scan a verify performs — same pruning story;
        this is the table with the fat verify columns, so an unpruned
        scan here would dominate probe cost at scale."""
        df = self.payload.read(it).filter(F.col("hk").isin(hks))
        if exclude_batch is not None:
            df = df.filter(F.col("src_batch") != int(exclude_batch))
        return df

    def _bucket_cap(self, rows: DataFrame, headroom: DataFrame | None = None) -> DataFrame:
        """Drop band rows beyond the per-bucket ceiling, keeping the
        md5(doc)-order sample (deterministic, id-uncorrelated). With
        ``headroom`` — (band, band_key, _occ) occupancy of the CURRENT
        index for the touched buckets — appended rows only fill what's
        left of each bucket."""
        if self.max_per_bucket is None:
            return rows
        from pyspark.sql import Window as W

        w = W.partitionBy("band", "band_key").orderBy(
            F.md5(F.col("doc").cast("string")), F.col("doc")
        )
        ranked = rows.withColumn("_r", F.row_number().over(w))
        if headroom is not None:
            ranked = ranked.join(headroom, ["band", "band_key"], "left")
            keep = F.col("_r") + F.coalesce(F.col("_occ"), F.lit(0)) <= F.lit(
                self.max_per_bucket
            )
        else:
            keep = F.col("_r") <= F.lit(self.max_per_bucket)
        return ranked.filter(keep).drop("_r", "_occ")

    def _payload_row(self, rows: DataFrame) -> DataFrame:
        """One payload row per doc from its (payload-duplicated) band
        rows, carrying src_batch if present."""
        aggs = [F.first(c).alias(c) for c in self.payload_cols]
        if "src_batch" in rows.columns:
            aggs.append(F.first("src_batch").alias("src_batch"))
        return rows.groupBy("doc").agg(*aggs).withColumn("hk", self._hk_col())

    # -- bootstrap --------------------------------------------------------
    def bootstrap(self, docs: DataFrame) -> None:
        """(Re)build the index from a static corpus. ``partitionBy(pk)``
        /``(hk)`` so a cluster write lays the tables out for pruned
        probes and the per-bucket append files stay parallel."""
        rows = self._bucket_cap(self._rows_batch(docs)).withColumn(
            "src_batch", F.lit(-1).cast("bigint")  # pre-stream era
        )
        self.bands.write(
            rows.select("doc", "band", "band_key", "src_batch", "pk"),
            "overwrite",
        )
        # a doc whose every bucket was full keeps no band rows and can
        # never be a candidate — its payload row would be dead weight
        self.payload.write(self._payload_row(rows), "overwrite")
        self.bands.restart_era()

    # -- probe ------------------------------------------------------------
    def probe(self, docs: DataFrame) -> DataFrame:
        """Near-dup matches of ``docs`` against the current index:
        (stream_doc, corpus_doc, <score>). Standalone entry point — the
        batch rows are derived once, pinned, and deferred-released."""
        rows = self._rows(docs).localCheckpoint(eager=True)
        out = self._probe_rows(rows, self._id_type(docs))
        scope.escape_frame(rows)
        return out

    def _probe_rows(
        self, rows: DataFrame, it: str, exclude_batch: int | None = None
    ) -> DataFrame:
        """Probe from precomputed, PINNED batch rows. Two bounded driver
        collects steer the pruning: the batch's distinct ``pk`` set
        (≤ n_pk values by construction) prunes the bands scan, and the
        candidates' distinct ``hk`` set (≤ n_pk) prunes the payload scan.
        Candidate PAIRS are pinned slim (ids only — the payload never
        rides the checkpoint)."""
        pks = [r.pk for r in rows.select("pk").distinct().collect()]
        empty = literal_df(self.spark, 
            [], f"stream_doc {it}, corpus_doc {it}, {self.score_col} double"
        )
        if not pks:
            return empty
        sb = rows.select(F.col("doc").alias("stream_doc"), "band", "band_key")
        bands = self._bands_pruned(it, pks, exclude_batch).select(
            F.col("doc").alias("corpus_doc"), "band", "band_key"
        )
        pairs = (
            sb.join(bands, ["band", "band_key"])
            .select("stream_doc", "corpus_doc")
            .dropDuplicates(["stream_doc", "corpus_doc"])
            .localCheckpoint(eager=True)  # bounded: ≤ n_b·B·max_per_bucket ids
        )
        hks = [
            r.hk
            for r in pairs.select(self._hk_col("corpus_doc").alias("hk"))
            .distinct()
            .collect()
        ]
        if not hks:
            scope.escape_frame(pairs)
            return empty
        c_side = self._payload_pruned(it, hks, exclude_batch).select(
            F.col("doc").alias("corpus_doc"),
            *[F.col(c).alias(f"c_{c}") for c in self.payload_cols],
        )
        s_side = rows.select(
            F.col("doc").alias("stream_doc"),
            *[F.col(c).alias(f"s_{c}") for c in self.payload_cols],
        ).dropDuplicates(["stream_doc"])
        cand = pairs.join(s_side, "stream_doc").join(c_side, "corpus_doc")
        out = (
            cand.withColumn(self.score_col, self._pair_score())
            .filter(
                F.round(self.score_col, 9) >= F.lit(round(self.threshold, 9))
            )
            .select(
                "stream_doc",
                "corpus_doc",
                F.round(self.score_col, 9).alias(self.score_col),
            )
        )
        scope.escape_frame(pairs)
        return out

    # -- maintained ingest ------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: probe → record matches → append accepted.

        The batch rows are computed ONCE (pinned) and feed both the probe
        side and the accepted-append side. Matches dynamic-OVERWRITE
        their own batch_id partition and accepted docs are anti-joined
        against the existing payload table (hk-pruned), so a replayed
        batch is a no-op — see the module failure-model note. Out-of-
        order batch ids (reset checkpoint over an existing index) are
        refused via the shared high-water guard: the matches dynamic
        overwrite would silently REPLACE the original batch's recorded
        matches, and the probe's src_batch exclusion would hide live
        index rows."""
        with self.bands.guarded(batch_id):
            it = self._id_type(batch_df)
            rows = self._rows(batch_df).localCheckpoint(eager=True)
            matches = self._probe_rows(
                rows, it, exclude_batch=int(batch_id)
            ).localCheckpoint(eager=True)
            self._matches.write(matches.withColumn("batch_id", F.lit(int(batch_id))))
            rejected = matches.select(F.col("stream_doc").alias("doc")).distinct()
            accepted = rows.join(rejected, "doc", "left_anti")
            # replay idempotency: docs already indexed are never re-appended.
            # The existence check reads only the accepted docs' hk buckets
            # (≤ min(n_b, n_pk) partitions), doc column only.
            hks = [
                r.hk
                for r in accepted.select(self._hk_col().alias("hk"))
                .distinct()
                .collect()
            ]
            if hks:
                accepted = accepted.join(
                    self._payload_pruned(it, hks).select("doc"), "doc", "left_anti"
                )
            if self.max_per_bucket is not None:
                # occupancy of ONLY the buckets this batch touches: the pk
                # isin prunes the scan to the batch's partitions, the
                # semi-join prunes rows to touched buckets
                pks = [r.pk for r in accepted.select("pk").distinct().collect()]
                touched = accepted.select("band", "band_key").distinct()
                occ = (
                    self._bands_pruned(it, pks)
                    .join(touched, ["band", "band_key"], "left_semi")
                    .groupBy("band", "band_key")
                    .agg(F.count(F.lit(1)).alias("_occ"))
                )
                accepted = self._bucket_cap(accepted, headroom=occ)
            # pin accepted before the writes: the bands append below changes
            # the very table the occupancy join reads, so the payload write
            # must NOT recompute the plan against post-append state
            accepted = accepted.withColumn(
                "src_batch", F.lit(int(batch_id)).cast("bigint")
            ).localCheckpoint(eager=True)
            # bands BEFORE payload: a batch torn between the two self-heals on
            # replay (doc absent from payload → re-appended) — see module note
            self.bands.write(
                accepted.select("doc", "band", "band_key", "src_batch", "pk")
            )
            self.payload.write(self._payload_row(accepted))
        # per-batch blocks: deferred release via the session registry
        scope.escape_frame(rows)
        scope.escape_frame(matches)
        scope.escape_frame(accepted)

    def matches(self, id_type: str | None = None) -> DataFrame:
        """All recorded near-dup matches. The doc-id type is recovered
        from the stored payload table when not supplied (a match-less
        run leaves a file-less matches dir that Spark cannot infer
        from; fresh indexes fall back to bigint). batch_id is the
        partition column, so per-batch read-backs prune to one dir."""
        return self._matches.read(self.payload.id_type(id_type))


class MaintainedBandIndex(_MaintainedIndexBase):
    """Parquet-backed text MinHash band index with dedup-gated ingest.
    Banding = MinHash LSH over shingle-hash sets; verify = exact Jaccard
    on the shingle sets (the payload)."""

    payload_cols = ("hs",)
    payload_types = ("array<bigint>",)
    score_col = "jaccard"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        threshold: float = 0.5,
        shingle_n: int = 3,
        n_perms: int = N_PERMS,
        n_bands: int = N_BANDS,
        id_col: str = "doc_id",
        text_col: str = "text",
        max_per_bucket: int | None = 128,
        n_pk: int = N_PK,
    ):
        super().__init__(
            spark, path, threshold, id_col,
            max_per_bucket=max_per_bucket, n_pk=n_pk,
        )
        self.shingle_n = shingle_n
        self.n_perms = n_perms
        self.n_bands = n_bands
        self.text_col = text_col

    # directory-name alias — the payload table held hash sets before
    # the two-modality refactor; callers and tests address it as
    # "hashes". NOTE: this preserves the NAME only — a pre-pk/hk-layout
    # index (no partition columns) reads back with NULL pk/hk and every
    # pruned probe would skip its rows, so old layouts need a
    # bootstrap() rebuild, not an in-place upgrade.
    @property
    def payload_path(self) -> str:
        return f"{self.path}/hashes"

    hashes_path = payload_path

    def _rows(self, docs: DataFrame) -> DataFrame:
        """(doc, hs, band, band_key, pk) for each doc with ≥1 shingle."""
        hs = docs.select(
            F.col(self.id_col).alias("doc"),
            shingle_hashes_col(self.text_col, n=self.shingle_n).alias("hs"),
        ).filter(F.size("hs") > 0)
        return hs.select(
            "doc",
            "hs",
            F.posexplode(
                minhash_band_keys_col(
                    F.col("hs"), n_perms=self.n_perms, n_bands=self.n_bands
                )
            ).alias("band", "band_key"),
        ).withColumn("pk", self._pk_col())

    def _rows_batch(self, docs: DataFrame) -> DataFrame:
        """Bootstrap twin: the explode+collect_set shingle pipeline
        (spread across cores, vectorized) is ~5× faster than the per-row
        nested expression, which only micro-batches need (no explode/
        groupBy inside a stream). Same distinct-hash sets, same keys."""
        from nornicdb_spark.operators.dedup import shingles

        hs = (
            shingles(docs, id_col=self.id_col, text_col=self.text_col,
                     n=self.shingle_n)
            .groupBy("doc_id")
            .agg(F.collect_set("h").alias("hs"))
            .select(F.col("doc_id").alias("doc"), "hs")
        )
        return hs.select(
            "doc",
            "hs",
            F.posexplode(
                minhash_band_keys_col(
                    F.col("hs"), n_perms=self.n_perms, n_bands=self.n_bands
                )
            ).alias("band", "band_key"),
        ).withColumn("pk", self._pk_col())

    def _pair_score(self) -> F.Column:
        inter = F.size(F.array_intersect("s_hs", "c_hs")).cast("double")
        return inter / (
            F.size("s_hs").cast("double")
            + F.size("c_hs").cast("double")
            - inter
        )


class MaintainedVecIndex(_MaintainedIndexBase):
    """Maintained embedding near-dup index over int8-quantized codes —
    the composition SCALING.md's cost model calls for: hyperplane-LSH
    band buckets (``search/vector.py RandomHyperplaneLSH`` — sublinear
    candidate generation, join-key-friendly) over a verify payload of
    int8 codes + integer code norm (``operators/quantize.py`` /
    ``Int8Index`` — the per-vector scale CANCELS in cosine, so the
    verify never touches fp32:
        cos(v̂_a, v̂_b) = Σ c_aᵢ c_bᵢ / (|c_a|·|c_b|)
    pure codegen'd integer arithmetic over a ~3.6× smaller payload row).
    At 100 TB the fp32 vectors stay in cold storage; the maintained
    index holds only band keys and codes.

    Banding math: P[pair at cosine t shares ≥1 band] = 1-(1-p^r)^b with
    p = 1 - acos(t)/π. Two constraints pick (n_bits, n_bands):
    recall wants few bits per band, but the hot-bucket cap wants
    SELECTIVE buckets — r-bit buckets have only 2^r values per band, so
    small r saturates every bucket with unrelated vectors and the cap
    then evicts real cluster members (measured: 32 bits/16 bands → 4
    buckets/band → recall 0.095 at 20k vectors). The defaults
    (128 bits / 8 bands → r=16, 65k buckets/band — the same regime as
    ``operators/dedup.embedding_near_duplicates(exact=False)``) give
    P[detect] ≈ 1−3.7e-8 for near-identical pairs (cosine ≥ 0.999, the
    near-dup regime this index is for) while random collisions are
    ~n²/2¹⁶ per band; like the batch LSH path, pairs sitting exactly AT
    a 0.95 threshold are banding-lossy (~0.80) — the exact grid is the
    tool for mid-similarity mining. The int8 cosine's ≲1e-2
    perturbation at the threshold boundary is gate-checked against the
    fp32 exact GEMM path in the registry.
    """

    payload_cols = ("codes", "code_norm")
    payload_types = ("array<int>", "double")
    score_col = "cosine"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        dim: int,
        threshold: float = 0.9,
        n_bits: int = 128,
        n_bands: int = 8,
        seed: int = 42,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_per_bucket: int | None = 128,
        n_pk: int = N_PK,
    ):
        from nornicdb_spark.search.vector import RandomHyperplaneLSH

        super().__init__(
            spark, path, threshold, id_col,
            max_per_bucket=max_per_bucket, n_pk=n_pk,
        )
        self.vec_col = vec_col
        self.lsh = RandomHyperplaneLSH.build(
            dim, n_bits=n_bits, n_bands=n_bands, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )

    def _rows(self, docs: DataFrame) -> DataFrame:
        """(doc, codes, code_norm, band, band_key, pk) per vector —
        the quantization and the sign-bit banding are both per-row
        narrow expressions (micro-batch-safe)."""
        v = F.col(self.vec_col).cast("array<double>")
        scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
        codes = F.when(
            F.col("_scale") > 0,
            F.transform(v, lambda x: F.round(x / F.col("_scale")).cast("int")),
        ).otherwise(F.transform(v, lambda x: F.lit(0)))
        base = (
            docs.withColumn("_scale", scale)
            .select(
                F.col(self.id_col).alias("doc"),
                codes.alias("codes"),
                self.lsh.signature_col().alias("_sig"),
            )
            .withColumn(
                "code_norm",
                F.sqrt(
                    F.aggregate(
                        F.col("codes"),
                        F.lit(0.0),
                        lambda a, c: a + c.cast("double") * c.cast("double"),
                    )
                ),
            )
            # a zero vector has no direction — it can neither match nor
            # be matched, so it never enters the index
            .filter(F.col("code_norm") > 0)
        )
        return base.select(
            "doc",
            "codes",
            "code_norm",
            F.posexplode("_sig").alias("band", "_bucket"),
        ).select(
            "doc",
            "codes",
            "code_norm",
            "band",
            F.col("_bucket").cast("string").alias("band_key"),
        ).withColumn("pk", self._pk_col())

    def _pair_score(self) -> F.Column:
        dot = F.aggregate(
            F.zip_with(
                F.col("s_codes"),
                F.col("c_codes"),
                lambda a, b: a.cast("double") * b.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return dot / (F.col("s_code_norm") * F.col("c_code_norm"))


class MaintainedHashIndex(MaintainedIndex):
    """Maintained EXACT content-hash dedup — the first gate of the 100 TB
    ingest loop (cheaper than banding: one md5 per doc, one pruned
    membership probe), and the streaming form of
    ``operators/dedup.exact_duplicates`` (reference exact-duplicate gate
    on ingest, pkg/embeddings/dedup.go).

    Layout: ``<path>/seen`` — ONE observation row per ingested doc,
    (content_hash, doc, src_batch, hk), partitionBy(hk),
    ``hk = pmod(xxhash64(content_hash), n_pk)``. Append-only: copy counts
    and canonical survivors are GROUP-BYs over the observation log at
    read time (count and min are batch-order-invariant, so
    :meth:`duplicates` is byte-identical to the batch operator over the
    same corpus — ``stream_dedup_exact`` shares ``dedup_exact``'s oracle
    verbatim), while the per-batch ingest gate (:meth:`probe` /
    :meth:`process_batch`) touches only the batch hashes' hk buckets
    (literal ``isin`` → ``PartitionFilters``, plan-tested).

    Replay (foreachBatch at-least-once): appended rows carry
    ``src_batch``; a replayed batch anti-joins its own already-present
    (hash, doc) rows away — byte-identical no-op, torn appends
    self-heal."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_pk: int = N_PK,
    ):
        super().__init__(spark, path)
        self.id_col = id_col
        self.text_col = text_col
        self.n_pk = int(n_pk)
        self.seen = BatchTable(
            spark, self.path, f"{self.path}/seen",
            "content_hash string, doc {it}, src_batch bigint, hk int", "hk",
            id_col="doc",
        )

    @property
    def seen_path(self) -> str:
        return self.seen.path

    def _hk(self, col: str = "content_hash"):
        return hash_bucket(self.n_pk, col)

    def _seen(self, it: str) -> DataFrame:
        return self.seen.read(it)

    def _rows(self, docs: DataFrame) -> DataFrame:
        return docs.select(
            F.md5(F.col(self.text_col)).alias("content_hash"),
            F.col(self.id_col).alias("doc"),
        ).withColumn("hk", self._hk())

    def probe(
        self, docs: DataFrame, exclude_batch: int | None = None
    ) -> DataFrame:
        """(stream_doc, corpus_doc) for batch docs whose exact hash is
        already indexed (corpus_doc = canonical min-id holder). Reads
        only the batch hashes' hk buckets. When gating inside a
        foreachBatch body, pass ``exclude_batch=batch_id`` so a replayed
        batch is judged against the corpus as of its batch — excluding
        the rows its own first (uncommitted) run appended — and the gate
        answers exactly as it did the first time."""
        it = docs.schema[self.id_col].dataType.simpleString()
        rows = self._rows(docs).localCheckpoint(eager=True)
        out = self._probe_rows(rows, it, exclude_batch=exclude_batch)
        scope.escape_frame(rows)
        return out

    def _probe_rows(
        self, rows: DataFrame, it: str, exclude_batch: int | None = None
    ) -> DataFrame:
        hks = [r.hk for r in rows.select("hk").distinct().collect()]
        if not hks:
            return literal_df(self.spark, 
                [], f"stream_doc {it}, corpus_doc {it}"
            )
        seen = self._seen(it).filter(F.col("hk").isin(hks))
        if exclude_batch is not None:
            seen = seen.filter(F.col("src_batch") != int(exclude_batch))
        holders = seen.groupBy("content_hash").agg(F.min("doc").alias("corpus_doc"))
        return rows.join(holders, "content_hash").select(
            F.col("doc").alias("stream_doc"), "corpus_doc"
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Append this batch's observation rows (hash membership probe is
        the caller's gate via :meth:`probe`; the log keeps EVERY
        observation so copy counts stay exact). Replay-idempotent."""
        with self.seen.guarded(batch_id):
            it = batch_df.schema[self.id_col].dataType.simpleString()
            rows = self._rows(batch_df).localCheckpoint(eager=True)
            self.seen.append_unseen(rows, batch_id, ["content_hash", "doc"], it)
        scope.escape_frame(rows)

    def duplicates(self, id_type: str | None = None) -> DataFrame:
        """(content_hash, n_copies, keep_id) for hashes observed more
        than once — the batch ``exact_duplicates`` contract over the
        ingested corpus (order-invariant aggregates). The doc-id type is
        recovered from the stored table; pass ``id_type`` only for a
        fresh (never-ingested) index whose type has no stored record."""
        return (
            self._seen(self.seen.id_type(id_type))
            .groupBy("content_hash")
            .agg(
                F.count(F.lit(1)).alias("n_copies"),
                F.min("doc").alias("keep_id"),
            )
            .filter(F.col("n_copies") > 1)
        )
