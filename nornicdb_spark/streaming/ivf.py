"""Maintained IVF + int8 serving index — streaming vector-DB ingest.

The reference's vector index is LIVE: setNodeVectorProperty /
db.index.vector insertions are searchable immediately
(pkg/search/vector_index.go Add). The batch indexes re-express the
search side (`search/vector.py`: KMeansPrunedIndex = IVF pruning,
Int8Index = quantized scan + exact refine, IVFPQIndex.persist_codes =
partition-pruned probes); :class:`MaintainedIVFIndex` composes all
three with the maintained-ingest machinery of this package:

- **bootstrap**: train k-means centroids on the seed corpus (they are
  the index's learned state, persisted to ``<path>/centroids``;
  re-training as the distribution drifts is an offline maintenance
  job, the industry-standard IVF posture), quantize every vector to
  int8 codes, write ``<path>/codes`` partitionBy(src_batch, list_id).
- **ingest** (``foreachBatch``): assign each arriving vector to its
  nearest FROZEN centroid with a codegen'd argmin over the broadcast
  centroid literals (no Python in the row path), quantize, append.
- **search**: pick the n_probe nearest centroids driver-side (the
  centroid table is tiny and index-resident), scan ONLY those lists —
  the ``list_id isin`` literal prunes directories
  (``PartitionFilters``, plan-tested) — approximate-score on the int8
  codes (per-vector scale cancels in cosine, pure codegen), then
  exact-refine the top k·refine against the fp32 corpus (keyed
  broadcast semi-join; at 100 TB the fp32 vectors stay in cold
  storage and only ≤ k·refine rows are ever touched).

Search cost: n_probe/n_lists of the code FILES × a 4×-smaller column,
independent of how many batches have been ingested.

Guarded commits, tombstoned removals and the fenced compaction are the
shared maintained-table protocol, described once on
``sources/layout.BatchTable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from nornicdb_spark.operators.localframe import literal_df
from nornicdb_spark.sources.layout import BatchTable, MaintainedIndex

__all__ = ["MaintainedIVFIndex"]


class MaintainedIVFIndex(MaintainedIndex):
    """Parquet-backed IVF-pruned int8 serving index with streaming ingest.
    :meth:`ingest` requires a prior :meth:`bootstrap` (the centroids are
    the index's learned state)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        super().__init__(spark, path)
        self.id_col = id_col
        self.vec_col = vec_col
        self._centers: list | None = None  # lazy-loaded from parquet
        self.codes = BatchTable(
            spark, self.path, f"{self.path}/codes",
            "vec_id {it}, codes array<int>, code_norm double,"
            " src_batch bigint, list_id int",
            "src_batch", "list_id",
            id_col="vec_id", tombstones="vec_id {it}, src_batch bigint",
            by_batch=True,
        )

    @property
    def codes_path(self) -> str:
        return self.codes.path

    @property
    def centroids_path(self) -> str:
        return f"{self.path}/centroids"

    @property
    def tombstones_path(self) -> str:
        return self.codes.tombstones.path

    # -- learned state ------------------------------------------------------
    def centers(self) -> list:
        """Centroid arrays, loaded once per instance from the persisted
        centroid table (list_id-ordered)."""
        if self._centers is None:
            rows = (
                self.spark.read.schema("list_id int, center array<double>")
                .parquet(self.centroids_path)
                .orderBy("list_id")
                .collect()
            )
            self._centers = [list(r.center) for r in rows]
        return self._centers

    # -- row derivation (per-row narrow expressions, micro-batch-safe) ----
    def _code_cols(self) -> list:
        """(vec_id, codes, code_norm) — the Int8Index quantization as
        plain select expressions."""
        v = F.col(self.vec_col).cast("array<double>")
        scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
        return [F.col(self.id_col).alias("vec_id"), v.alias("_v"), scale.alias("_scale")]

    def _rows(self, vectors: DataFrame, batch_id: int) -> DataFrame:
        """(vec_id, codes, code_norm, src_batch, list_id) — assignment is
        a codegen'd argmin of squared L2 distance over the frozen
        centroid literals (‖v−c‖² = ‖v‖² − 2v·c + ‖c‖²; ‖v‖² is common
        to all lists, so argmin(‖c‖² − 2v·c) suffices — one fused
        aggregate per centroid, no Python)."""
        from nornicdb_spark.search.vector import _lit_vec, dot

        centers = self.centers()
        base = vectors.select(*self._code_cols())
        scores = F.array(
            *[
                F.lit(float(sum(x * x for x in c)))
                - 2.0 * dot(F.col("_v"), _lit_vec(c))
                for c in centers
            ]
        )
        codes = F.when(
            F.col("_scale") > 0,
            F.transform(F.col("_v"), lambda x: F.round(x / F.col("_scale")).cast("int")),
        ).otherwise(F.transform(F.col("_v"), lambda x: F.lit(0)))
        return (
            base.withColumn("_s", scores)
            .select(
                "vec_id",
                codes.alias("codes"),
                (F.array_position(F.col("_s"), F.array_min("_s")) - 1)
                .cast("int")
                .alias("list_id"),
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
            .filter(F.col("code_norm") > 0)  # zero vectors have no direction
            .withColumn("src_batch", F.lit(int(batch_id)).cast("bigint"))
            .select("vec_id", "codes", "code_norm", "src_batch", "list_id")
        )

    # -- bootstrap ----------------------------------------------------------
    def bootstrap(self, vectors: DataFrame, n_lists: int = 16, seed: int = 42) -> None:
        """Train centroids on the seed corpus (distributed KMeans), then
        index it as batch −1."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = vectors.withColumn(
            "_features", array_to_vector(F.col(self.vec_col).cast("array<double>"))
        )
        model = KMeans(k=n_lists, seed=seed, featuresCol="_features").fit(feat)
        literal_df(self.spark, 
            [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
            "list_id int, center array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(self.centroids_path)
        self._centers = None  # reload from the persisted truth
        self.codes.restart_era()
        self.process_batch(vectors, batch_id=-1)

    # -- ingest ---------------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: assign → quantize → append, a guarded
        commit of this batch's codes partitions."""
        with self.codes.guarded(batch_id):
            self.codes.refuse_removed(
                batch_df.select(F.col(self.id_col).alias("vec_id")),
                "ingest batch re-uses a REMOVED vec_id while its "
                "tombstone is still pending — run compact() first; "
                "a compacted id may be re-used as a fresh vector.",
            )
            self.codes.write(self._rows(batch_df, batch_id))

    def remove_batch(self, ids_df: DataFrame, batch_id: int,
                     id_col: str | None = None) -> None:
        """Remove vectors from the live serving index (reference
        vector_index.go:258 Remove / hnsw_index.go:262 Remove — the
        HNSW path tombstones and rebuilds later; same posture here):
        tombstoned ids stop matching immediately (the pruned codes scan
        anti-joins them, so both ``search`` and ``search_many``
        inherit the filter), and :meth:`compact` drops their codes
        physically and clears the table. Unknown ids contribute
        nothing (codes semi-join)."""
        with self.codes.guarded(batch_id):
            it = self.codes.id_type()
            ids = ids_df.select(F.col(id_col or self.id_col).alias("vec_id"))
            hits = ids.distinct().join(
                self.codes.read(it).select("vec_id"), "vec_id", "left_semi"
            )
            self.codes.tombstone(hits, batch_id, it)

    # -- tombstone monitoring (reference hnsw_index.go:399-418) --------------
    def _live(self, it: str) -> int:
        return (
            self.codes.read(it)
            .join(self.codes.tombstoned(it), "vec_id", "left_anti")
            .count()
        )

    def tombstone_ratio(self, id_type: str | None = None) -> float:
        """removed / (live + removed); 0.0 on an empty index."""
        return self.codes.tombstone_ratio(self._live, id_type)

    def should_rebuild(self, threshold: float = 0.5) -> bool:
        """The reference's 50% tombstone rebuild heuristic; 'rebuild'
        here is :meth:`compact`."""
        return self.codes.should_rebuild(self._live, threshold)

    def compact(self, id_type: str | None = None) -> None:
        """Fold every ingested batch's codes into the compacted era
        (``src_batch = -2``) minus the tombstoned vectors — bounds the
        directory count of a long-running ingest to n_lists partitions.
        A fenced fold: maintenance window only, a replay of the latest
        batch is refused afterwards. The vec-id type is recovered from
        the stored table when not supplied."""
        self.codes.fold(
            lambda df, _it: df.withColumn("src_batch", F.lit(-2).cast("bigint")),
            id_type,
        )

    def search_many(
        self,
        queries: DataFrame,
        refine_src: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        refine: int = 4,
        qid_col: str = "query_id",
        qvec_col: str = "qvec",
        id_type: str | None = None,
    ) -> DataFrame:
        """Batched top-k cosine over the maintained serving index —
        (query_id, vec_id, score), per-query results identical to
        :meth:`search`. The serving-throughput shape: probe lists are
        picked per query against the driver-resident centroid table,
        ONE scan of the UNION of probed lists (still `list_id isin` →
        `PartitionFilters`) scores the int8 codes for every query at
        once (the query batch broadcasts as (query_id, list_id) probe
        pairs + (query_id, qv, qn) vectors), a per-query window keeps
        k·refine candidates, and one keyed fetch of ≤ |batch|·k·refine
        fp32 rows exact-refines them. q queries cost one pruned scan
        instead of q. Zero-norm queries have no direction and produce
        no rows."""
        from pyspark.sql import Window

        from nornicdb_spark.search.vector import cosine_sim

        id_type = self.codes.id_type(id_type)
        out_schema = f"query_id bigint, vec_id {id_type}, score double"
        centers = self.centers()
        # Probe assignment is SPARK-SIDE — the ingest path's codegen-
        # over-broadcast-centroid-literals discipline (``_rows``), not a
        # per-query driver loop: at serving scale (thousands of lists ×
        # a 100k-query batch) interpreted-Python cosines on the driver
        # would bottleneck before the cluster did any work. Per query:
        # an array of (sim, list_id) structs (one fused fold per
        # centroid; a degenerate zero-norm centroid pins sim = −1.0,
        # matching :meth:`search`), comparator-sorted sim-desc /
        # list_id-asc (the stable argsort ``search`` computes), sliced
        # to n_probe, exploded to (query_id, list_id) probe pairs.
        from nornicdb_spark.search.vector import _lit_vec, dot

        qbase = (
            queries.select(
                F.col(qid_col).cast("bigint").alias("query_id"),
                F.col(qvec_col).cast("array<double>").alias("qv"),
            )
            .withColumn(
                "qn",
                F.sqrt(
                    F.aggregate(
                        F.col("qv"), F.lit(0.0), lambda a, x: a + x * x
                    )
                ),
            )
            .filter(F.col("qn") > 0)  # zero-norm: no direction, no rows
        )
        sims = F.array(
            *[
                F.struct(
                    (
                        (dot(F.col("qv"), _lit_vec(c))
                         / (F.lit(cn) * F.col("qn"))).alias("sim")
                        if cn > 0.0
                        else F.lit(-1.0).alias("sim")
                    ),
                    F.lit(i).alias("list_id"),
                )
                for i, (c, cn) in enumerate(
                    (c, sum(x * x for x in c) ** 0.5) for c in centers
                )
            ]
        )
        cmp = lambda l, r: (  # noqa: E731 — array_sort comparator
            F.when(l["sim"] > r["sim"], F.lit(-1))
            .when(l["sim"] < r["sim"], F.lit(1))
            .otherwise(l["list_id"] - r["list_id"])
        )
        pair_df = qbase.select(
            "query_id",
            F.explode(
                F.slice(F.array_sort(sims, cmp), 1, int(n_probe))
            ).alias("_p"),
        ).select("query_id", F.col("_p.list_id").alias("list_id"))
        qdf = qbase.select("query_id", "qv", "qn")
        # the ONLY collect: the distinct probed lists, bounded by
        # n_lists (not by |batch|) — it feeds the ``list_id isin``
        # literal that becomes PartitionFilters on the codes scan
        lists = sorted(
            r.list_id for r in pair_df.select("list_id").distinct().collect()
        )
        if not lists:
            return literal_df(self.spark, [], out_schema)
        code_dot = F.aggregate(
            F.zip_with(
                F.col("codes"), F.col("qv"), lambda c, qx: c.cast("double") * qx
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        approx = (
            self._codes_pruned(lists, id_type)
            .join(F.broadcast(pair_df), "list_id")
            .join(F.broadcast(qdf.select("query_id", "qv", "qn")), "query_id")
            .select(
                "query_id",
                "vec_id",
                (code_dot / (F.col("code_norm") * F.col("qn"))).alias("score"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc(F.round(F.col("score"), 9)), F.asc("vec_id")
        )
        cand = (
            approx.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(k) * int(refine))
            .select("query_id", "vec_id")
        )
        ids = cand.select(F.col("vec_id").alias("_cand_id")).distinct()
        fetched = refine_src.join(
            F.broadcast(ids),
            refine_src[self.id_col] == F.col("_cand_id"),
            "left_semi",
        ).select(
            F.col(self.id_col).alias("vec_id"),
            F.col(self.vec_col).cast("array<double>").alias("_emb"),
        )
        exact = (
            cand.join(fetched, "vec_id")
            .join(F.broadcast(qdf.select("query_id", "qv")), "query_id")
            .select(
                "query_id",
                "vec_id",
                cosine_sim(F.col("_emb"), F.col("qv")).alias("score"),
            )
        )
        return (
            exact.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(k))
            .select("query_id", "vec_id", "score")
        )

    # -- monitoring -----------------------------------------------------------
    def recall_sentinel(
        self,
        refine_src: DataFrame,
        n_queries: int = 8,
        k: int = 10,
        n_probe: int = 4,
        refine: int = 4,
        id_type: str | None = None,
    ) -> float:
        """Centroid-drift monitor (SCALING.md §maintained): mean
        recall@k of the pruned int8+refine search vs the exact fp32
        scan, over a deterministic sample of the LATEST ingested
        batch's vectors (the population frozen centroids serve worst
        under drift — new vectors crowding a few lists is exactly what
        this catches). Monitoring only: the operator alerts when the
        value drops below the deployment's gate bar and re-trains via
        an offline re-:meth:`bootstrap` (a new index era). Run it per N
        batches or per compaction — cost is n_queries bounded searches,
        each pruned to n_probe lists. Raises on a never-ingested index
        (a sentinel that reports healthy on nothing would hide a dead
        ingest path)."""
        from nornicdb_spark.search.vector import cosine_topk

        id_type = self.codes.id_type(id_type)
        codes = self.codes.read(id_type)
        latest = codes.agg(F.max("src_batch")).collect()[0][0]
        if latest is None:
            raise ValueError(
                "recall_sentinel: no ingested batches to sample — the "
                "index is empty (dead ingest path?)"
            )
        sample_ids = [
            r.vec_id
            for r in codes.filter(F.col("src_batch") == int(latest))
            .select("vec_id")
            .orderBy("vec_id")
            .limit(int(n_queries))
            .collect()
        ]
        queries = refine_src.filter(
            F.col(self.id_col).isin(sample_ids)
        ).select(self.id_col, self.vec_col).collect()
        recalls = []
        for row in queries:
            qv = [float(x) for x in row[self.vec_col]]
            exact = {
                r[0]
                for r in cosine_topk(
                    refine_src, qv, k, self.id_col, self.vec_col
                ).collect()
            }
            got = {
                r[0]
                for r in self.search(
                    qv, refine_src, k, n_probe, refine, id_type
                ).collect()
            }
            recalls.append(len(exact & got) / float(k))
        return sum(recalls) / len(recalls) if recalls else 0.0

    # -- search ---------------------------------------------------------------
    def _codes_pruned(self, list_ids: list[int], id_type: str) -> DataFrame:
        """The probe scan: literal ``list_id isin`` → PartitionFilters
        (only the probed lists' directories are read); removed vectors
        stop matching immediately — both search and search_many inherit
        the tombstone anti-join."""
        return self.codes.drop_tombstoned(
            self.codes.read(id_type).filter(F.col("list_id").isin(list_ids)),
            id_type,
        )

    def search(
        self,
        query_vec,
        refine_src: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        refine: int = 4,
        id_type: str | None = None,
    ) -> DataFrame:
        """Top-k cosine: probe the n_probe nearest lists, int8-score
        their codes, exact-refine the top k·refine against ``refine_src``
        (the fp32 corpus — cold storage at scale; only ≤ k·refine rows
        are fetched). Returns (vec_id, score) descending, ties by id."""
        from nornicdb_spark.search.vector import _lit_vec, cosine_topk

        id_type = self.codes.id_type(id_type)
        qn = float(sum(float(x) * float(x) for x in query_vec)) ** 0.5
        if qn == 0.0:
            # a zero-norm query has no direction: same contract as
            # search_many (which drops such queries) — an empty result,
            # not a divide-by-zero's null scores
            return literal_df(self.spark, 
                [], f"vec_id {id_type}, score double"
            )
        centers = self.centers()

        def cos(c):
            d = sum(a * b for a, b in zip(c, query_vec))
            n = (sum(a * a for a in c) ** 0.5) * qn
            return d / n if n else -1.0

        probe = sorted(range(len(centers)), key=lambda i: -cos(centers[i]))[:n_probe]
        code_dot = F.aggregate(
            F.zip_with(
                F.col("codes"), _lit_vec(query_vec),
                lambda c, qx: c.cast("double") * qx,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        approx = (
            self._codes_pruned(probe, id_type)
            .select("vec_id", (code_dot / (F.col("code_norm") * F.lit(qn))).alias("score"))
            .orderBy(F.desc(F.round("score", 9)), F.asc("vec_id"))
            .limit(k * refine)
        )
        cand_ids = approx.select(F.col("vec_id").alias("_cand_id"))
        cand = refine_src.join(
            F.broadcast(cand_ids),
            refine_src[self.id_col] == F.col("_cand_id"),
            "left_semi",
        )
        return cosine_topk(cand, query_vec, k, self.id_col, self.vec_col)
