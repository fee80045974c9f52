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

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from nornicdb_spark.operators.localframe import literal_df, sql_literal
from nornicdb_spark.operators.quantize import (
    code_norm_sql,
    int8_codes_sql,
    int8_scale_sql,
)
from nornicdb_spark.search.hybrid import top_k
from nornicdb_spark.search.vector import (
    Int8Index,
    cosine_sql,
    cosine_topk,
    cosine_topk_many,
    dot_sql,
    sql_col,
)
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
    def _rows(self, vectors: DataFrame, batch_id: int) -> DataFrame:
        """(vec_id, codes, code_norm, src_batch, list_id) — the Int8Index
        quantization, and assignment as a codegen'd argmin of squared L2
        distance over the frozen centroid literals (‖v−c‖² = ‖v‖² −
        2v·c + ‖c‖²; ‖v‖² is common to all lists, so argmin(‖c‖² −
        2v·c) suffices — one fused fold per centroid, no Python). Built
        as SQL text: a fixed handful of JVM calls however many lists."""
        two = sql_literal(2.0)
        dists = ", ".join(
            f"({sql_literal(float(sum(x * x for x in c)))}"
            f" - {dot_sql('_v', sql_literal(c))} * {two})"
            for c in self.centers()
        )
        return (
            vectors.selectExpr(
                f"{sql_col(self.id_col)} AS vec_id",
                f"CAST({sql_col(self.vec_col)} AS ARRAY<DOUBLE>) AS _v",
            )
            .selectExpr(
                "vec_id", "_v",
                f"{int8_scale_sql('_v')} AS _scale",
                f"array({dists}) AS _s",
            )
            .selectExpr(
                "vec_id",
                f"{int8_codes_sql('_v', '_scale')} AS codes",
                "CAST(array_position(_s, array_min(_s)) - 1 AS INT) AS list_id",
            )
            .selectExpr(
                "vec_id", "codes",
                f"{code_norm_sql('codes')} AS code_norm",
                f"CAST({int(batch_id)} AS BIGINT) AS src_batch",
                "list_id",
            )
            .filter("code_norm > 0")  # zero vectors have no direction
        )

    # -- bootstrap ----------------------------------------------------------
    def bootstrap(self, vectors: DataFrame, n_lists: int = 16, seed: int = 42) -> None:
        """Train centroids on the seed corpus (distributed KMeans), then
        index it as batch −1 of a new era: the codes table is rewritten
        whole and the old tombstones are dropped, as the near-dup and
        graph indexes' bootstraps do, so nothing indexed under the old
        centroids' lists survives."""
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
        self.codes.write(self._rows(vectors, -1), "overwrite")
        shutil.rmtree(self.tombstones_path, ignore_errors=True)
        self.codes.restart_era()

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
        k·refine candidates, and one keyed pass over the fp32 corpus
        against those broadcast candidates exact-refines them. q queries cost one pruned scan
        instead of q. Zero-norm queries have no direction and produce
        no rows."""
        id_type = self.codes.id_type(id_type)
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
        # to n_probe, exploded to (query_id, list_id) probe pairs. All
        # of it is SQL text, a fixed handful of JVM calls.
        sims = ", ".join(
            "named_struct('sim', "
            + (
                f"{dot_sql('qv', sql_literal(c))} / ({sql_literal(cn)} * qn)"
                if cn > 0.0
                else sql_literal(-1.0)
            )
            + f", 'list_id', {i})"
            for i, (c, cn) in enumerate(
                (c, sum(x * x for x in c) ** 0.5) for c in centers
            )
        )
        by_sim = (
            "(l, r) -> CASE WHEN l.sim > r.sim THEN -1"
            " WHEN l.sim < r.sim THEN 1 ELSE l.list_id - r.list_id END"
        )
        qdf = (
            queries.selectExpr(
                f"CAST({sql_col(qid_col)} AS BIGINT) AS query_id",
                f"CAST({sql_col(qvec_col)} AS ARRAY<DOUBLE>) AS qv",
            )
            .selectExpr(
                "query_id", "qv",
                f"sqrt(aggregate(qv, {sql_literal(0.0)}, (acc, x) -> acc + x * x))"
                " AS qn",
            )
            .filter("qn > 0")  # zero-norm: no direction, no rows
        )
        pair_df = qdf.selectExpr(
            "query_id",
            f"explode(slice(array_sort(array({sims}), {by_sim}), 1, {int(n_probe)}))"
            " AS _p",
        ).selectExpr("query_id", "_p.list_id AS list_id")
        if n_probe >= len(centers):
            # every list is probed: nothing for a list literal to prune
            lists = list(range(len(centers)))
        else:
            # the ONLY collect: the distinct probed lists, bounded by
            # n_lists (not by |batch|) — it feeds the ``list_id isin``
            # literal that becomes PartitionFilters on the codes scan
            lists = sorted(
                r.list_id for r in pair_df.select("list_id").distinct().collect()
            )
            if not lists:
                return literal_df(
                    self.spark, [], f"query_id bigint, vec_id {id_type}, score double"
                )
        approx = (
            self._codes_pruned(lists, id_type)
            .join(F.broadcast(pair_df), "list_id")
            .join(F.broadcast(qdf), "query_id")
            .selectExpr(
                "query_id", "vec_id", "qv",
                f"{dot_sql('codes', 'qv')} / (code_norm * qn) AS score",
            )
        )
        # the candidates, with their query vectors, broadcast into ONE
        # keyed pass over the fp32 corpus: only their ≤ |batch|·k·refine
        # rows come out. A second consumer of ``cand`` (an id list for a
        # semi-join fetch) is planned as a second scan-and-window
        # pipeline whenever its columns differ.
        cand = top_k(
            approx, int(k) * int(refine), "score", "vec_id", by=("query_id",)
        ).selectExpr("query_id", "vec_id AS _cand_id", "qv")
        ref = refine_src.selectExpr(
            f"{sql_col(self.id_col)} AS _ref_id",
            f"CAST({sql_col(self.vec_col)} AS ARRAY<DOUBLE>) AS _emb",
        )
        fine = (
            F.broadcast(cand)
            .join(ref, F.expr("_ref_id = _cand_id"))
            .selectExpr(
                "query_id", "_cand_id AS vec_id", f"{cosine_sql('_emb', 'qv')} AS score"
            )
        )
        return top_k(fine, k, "score", "vec_id", by=("query_id",)).selectExpr(
            "query_id", "vec_id", "score"
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
        batches or per compaction — cost is one batched exact scan
        (:func:`~nornicdb_spark.search.vector.cosine_topk_many`) and one
        :meth:`search_many` over the sampled vectors, joined and counted
        per query in one collect. Raises on a never-ingested index (a
        sentinel that reports healthy on nothing would hide a dead
        ingest path)."""
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
        rows = refine_src.filter(
            F.col(self.id_col).isin(sample_ids)
        ).select(self.vec_col).collect()
        if not rows:
            return 0.0
        queries = literal_df(
            self.spark,
            [(i, [float(x) for x in r[0]]) for i, r in enumerate(rows)],
            "query_id bigint, qvec array<double>",
        )
        exact = cosine_topk_many(refine_src, queries, k, self.id_col, self.vec_col)
        got = self.search_many(
            queries, refine_src, k, n_probe, refine, id_type=id_type
        )
        hits = dict(
            exact.join(got, ["query_id", "vec_id"]).groupBy("query_id").count().collect()
        )
        recalls = [hits.get(i, 0) / float(k) for i in range(len(rows))]
        return sum(recalls) / len(recalls)

    # -- search ---------------------------------------------------------------
    def _codes_pruned(self, list_ids: list[int], id_type: str) -> DataFrame:
        """The probe scan: literal ``list_id isin`` → PartitionFilters
        (only the probed lists' directories are read); removed vectors
        stop matching immediately — both search and search_many inherit
        the tombstone anti-join."""
        in_lists = ", ".join(str(int(i)) for i in list_ids)
        return self.codes.drop_tombstoned(
            self.codes.read(id_type).filter(
                f"list_id IN ({in_lists})" if list_ids else "FALSE"
            ),
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
        approx = Int8Index.approx_topk(
            self._codes_pruned(probe, id_type), query_vec, k * refine
        )
        cand_ids = approx.selectExpr("vec_id AS _cand_id")
        cand = refine_src.join(
            F.broadcast(cand_ids),
            F.expr(f"{sql_col(self.id_col)} = _cand_id"),
            "left_semi",
        )
        return cosine_topk(cand, query_vec, k, self.id_col, self.vec_col)
