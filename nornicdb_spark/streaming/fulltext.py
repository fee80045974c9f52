"""Maintained (incremental) BM25 fulltext index — streaming ingest for
the reference's live inverted index.

The reference keeps a per-engine in-memory inverted index that indexes
documents AS THEY ARRIVE (pkg/search/fulltext_index.go — Add/Remove keep
the postings live; search sees every indexed doc so far).
``search/bm25.py BM25Index`` is the batch re-expression (build once from
a static corpus); :class:`MaintainedBM25Index` is the ingest
re-expression: a ``foreachBatch`` loop that appends each micro-batch's
postings to a parquet-backed, term-hash-partitioned table, with
exact-term searches probing ONLY the query terms' partitions.

Layout:

- ``<path>/postings``: (term, doc_id, dl, tf) —
  partitionBy(src_batch, tk), ``tk = pmod(xxhash64(term), n_pk)``.
  ``src_batch`` is the replay unit of the shared protocol; ``tk`` lets
  an exact-term search push a literal ``tk isin`` that prunes to the
  query terms' hash buckets (``PartitionFilters`` — the IVF-PQ /
  maintained-near-dup probe pattern, plan-tested).
  :meth:`MaintainedBM25Index.compact` folds the src_batch directories
  back to a bounded ``tk`` set.
- ``<path>/stats``: (n_docs, n_indexed, sum_dl) partitionBy(batch_id)
  — one row per batch; query-time N = Σ n_docs and
  avgdl = Σ sum_dl / Σ n_indexed, so corpus stats stay exact as the
  corpus grows (a tiny scan: one row per batch). Removal batches write
  NEGATIVE rows here, so stats stay a pure sum under deletion.
- ``<path>/docs``: (doc_id, dl) partitionBy(src_batch, dk) — the
  doc-keyed lookup removals need (dk-bucket PartitionFilters).
- ``<path>/tombstones``: removed docs.

Guarded commits, the tombstone side table and the fenced compaction are
the shared maintained-table protocol, described once on
``sources/layout.BatchTable``.

Search cost at 100 TB: an exact-term query touches |query terms| hash
buckets of the postings (≈ q/n_pk of the files) + the row filter on
term; scoring then runs over the tiny candidate slice exactly as the
static index does (the scoring code IS the static index's —
``bm25.score_exact_candidates``). df/tf/dl/N/avgdl are all exactly what
a static rebuild of the same corpus would compute (each doc is indexed
by exactly one batch), so a maintained search equals the static search
— the registry row ``stream_bm25_topk`` shares ``bm25_topk``'s DuckDB
oracle verbatim. Prefix-expansion search (``term LIKE 'spar%'``) cannot
prune hash partitions by construction; it remains the static index's
job (or a dedicated prefix-key layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from nornicdb_spark.operators.localframe import literal_df

from nornicdb_spark.search.bm25 import (
    query_terms_table,
    score_exact_candidates,
    score_many_candidates,
    tokenize_query,
    tokens_col,
)
from nornicdb_spark.sources.layout import (
    BatchTable,
    MaintainedIndex,
    hash_bucket,
)

__all__ = ["MaintainedBM25Index"]

# term-hash bucket count — one home for the whole maintained family
# (sizing story + cluster retune point live in sources/layout.py)
from nornicdb_spark.sources.layout import DEFAULT_N_PK as N_PK

def _compacted_era(df: DataFrame, _it: str) -> DataFrame:
    return df.withColumn("src_batch", F.lit(-2).cast("bigint"))


class MaintainedBM25Index(MaintainedIndex):
    """Parquet-backed incremental BM25 postings with term-pruned search."""

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
        self.postings = BatchTable(
            spark, self.path, f"{self.path}/postings",
            "term string, doc_id {it}, dl int, tf bigint,"
            " src_batch bigint, tk int",
            "src_batch", "tk",
            id_col="doc_id", tombstones="doc_id {it}, dl int, src_batch bigint",
            by_batch=True,
        )
        # per-doc (doc_id, dl) side table, partitionBy(src_batch, dk) —
        # the doc-keyed lookup removals need without scanning the
        # term-partitioned postings (dk = doc-id hash bucket, so a
        # removal batch probes only its ids' buckets: PartitionFilters)
        self.docs = BatchTable(
            spark, self.path, f"{self.path}/docs",
            "doc_id {it}, dl int, src_batch bigint, dk int",
            "src_batch", "dk", by_batch=True,
        )
        self.stats = BatchTable(
            spark, self.path, f"{self.path}/stats",
            "n_docs bigint, n_indexed bigint, sum_dl bigint, batch_id bigint",
            "batch_id", by_batch=True,
        )

    @property
    def postings_path(self) -> str:
        return self.postings.path

    @property
    def stats_path(self) -> str:
        return self.stats.path

    @property
    def docs_path(self) -> str:
        return self.docs.path

    @property
    def tombstones_path(self) -> str:
        return self.postings.tombstones.path

    def _tk_col(self):
        return hash_bucket(self.n_pk, "term")

    def _dk_col(self, col):
        return hash_bucket(self.n_pk, col)

    # -- ingest -------------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: tokenize → postings + per-doc rows + stats
        row, a guarded commit of this batch's partitions."""
        b = F.lit(int(batch_id)).cast("bigint")
        with self.postings.guarded(batch_id):
            toks = batch_df.select(
                F.col(self.id_col).alias("doc_id"),
                tokens_col(F.col(self.text_col)).alias("tokens"),
            )
            self.postings.refuse_removed(
                toks.select("doc_id"),
                "ingest batch re-uses a REMOVED doc_id while its "
                "tombstone is still pending — the new document would "
                "be silently hidden and dropped at the next "
                "compaction. Run compact() first; a compacted id may "
                "be re-used as a fresh document.",
            )
            self.postings.write(
                toks.select(
                    "doc_id",
                    F.size("tokens").alias("dl"),
                    F.explode("tokens").alias("term"),
                )
                .groupBy("term", "doc_id", "dl")
                .agg(F.count(F.lit(1)).alias("tf"))
                .withColumn("src_batch", b)
                .withColumn("tk", self._tk_col())
            )
            self.docs.write(
                toks.select(
                    "doc_id",
                    F.size("tokens").alias("dl"),
                    b.alias("src_batch"),
                    self._dk_col(F.col("doc_id")).alias("dk"),
                )
            )
            # corpus stats: N counts EVERY doc (static-index semantics);
            # avgdl averages docs with ≥1 indexed token
            self.stats.write(
                toks.agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum((F.size("tokens") > 0).cast("long")).alias("n_indexed"),
                    F.sum(
                        F.when(F.size("tokens") > 0, F.size("tokens")).otherwise(0)
                    ).cast("bigint").alias("sum_dl"),
                ).withColumn("batch_id", b)
            )

    def remove_batch(self, ids_df: DataFrame, batch_id: int,
                     id_col: str | None = None) -> None:
        """Remove documents from the live index (reference
        fulltext_index.go:85-121 Remove: drop from the inverted index,
        docCount--, avgdl recomputed; unknown ids are a no-op). The
        distributed re-expression is tombstones + NEGATIVE stats rows:
        searches anti-join the tombstoned (doc_id, dl) rows, compaction
        drops the docs physically, and a negative stats row (−n_docs,
        −n_indexed, −sum_dl) under this batch_id keeps ``corpus_stats``
        a PURE sum — no subtract-then-clear crash window anywhere, and
        a double remove cannot double-subtract."""
        with self.postings.guarded(batch_id):
            it = self.postings.id_type()
            ids = ids_df.select(F.col(id_col or self.id_col).alias("doc_id")).distinct()
            # bounded collect: the ids' hash buckets (≤ n_pk) → the docs
            # scan prunes to those dk directories
            dks = [
                r.dk
                for r in ids.select(self._dk_col(F.col("doc_id")).alias("dk"))
                .distinct()
                .collect()
            ]
            docs = (
                self.docs.read(it)
                .filter(F.col("dk").isin(dks))
                .join(ids, "doc_id", "left_semi")
            )
            victims = self.postings.tombstone(docs, batch_id, it)
            self.stats.write(
                victims.agg(
                    (-F.count(F.lit(1))).cast("bigint").alias("n_docs"),
                    F.coalesce(-F.sum((F.col("dl") > 0).cast("long")), F.lit(0))
                    .cast("bigint")
                    .alias("n_indexed"),
                    F.coalesce(-F.sum("dl"), F.lit(0)).cast("bigint").alias("sum_dl"),
                ).withColumn("batch_id", F.lit(int(batch_id)).cast("bigint"))
            )

    # -- tombstone monitoring (reference hnsw_index.go:399-418) --------------
    def tombstone_ratio(self) -> float:
        """removed / (live + removed) — 0.0 on an empty index (the
        reference's TombstoneRatio contract)."""
        return self.postings.tombstone_ratio(lambda _it: self.corpus_stats()[0])

    def should_rebuild(self, threshold: float = 0.5) -> bool:
        """True when tombstones exceed ``threshold`` of the index — the
        reference's 50% rebuild heuristic; 'rebuild' is :meth:`compact`."""
        return self.postings.should_rebuild(
            lambda _it: self.corpus_stats()[0], threshold
        )

    def compact(self, id_type: str | None = None) -> None:
        """Fold every ingested batch's postings and per-doc rows into the
        compacted era (``src_batch = -2``) minus the tombstoned docs, and
        the per-batch stats rows into one (removals' negative rows fold
        in with plain addition) — a fenced fold over all three tables.
        Searches are src_batch-agnostic, so results are unchanged. The
        doc-id type is recovered from the stored table when not
        supplied."""
        self.postings.fold(
            _compacted_era,
            id_type,
            also=[
                (self.docs, _compacted_era),
                (
                    self.stats,
                    lambda df, _it: df.agg(
                        F.sum("n_docs").alias("n_docs"),
                        F.sum("n_indexed").alias("n_indexed"),
                        F.sum("sum_dl").alias("sum_dl"),
                    ).withColumn("batch_id", F.lit(-2).cast("bigint")),
                ),
            ],
        )

    # -- search --------------------------------------------------------------
    def corpus_stats(self) -> tuple[int, float]:
        """(N, avgdl) aggregated over the per-batch stats rows."""
        row = self.stats.read().agg(
            F.sum("n_docs").alias("n"),
            F.sum("sum_dl").alias("s"),
            F.sum("n_indexed").alias("i"),
        ).collect()[0]
        n = int(row.n or 0)
        avgdl = float(row.s) / float(row.i) if row.i else 0.0
        return n, avgdl

    def _postings_pruned(self, terms: list[str], id_type: str) -> DataFrame:
        """The probe scan: literal ``tk isin`` (PartitionFilters — only
        the query terms' hash buckets are read) + the exact term filter.
        The tk values come from a 1-row-per-term Spark job so the hash
        is computed by the SAME xxhash64 the writer used."""
        tdf = literal_df(self.spark, [(t,) for t in terms], "term string")
        tks = [r.tk for r in tdf.select(self._tk_col().alias("tk")).distinct().collect()]
        pruned = (
            self.postings.read(id_type)
            .filter(F.col("tk").isin(tks))
            .filter(F.col("term").isin(*terms))
        )
        # removed docs stop matching immediately
        return self.postings.drop_tombstoned(pruned, id_type)

    def search(
        self, query: str, k: int = 10, id_type: str | None = None
    ) -> DataFrame:
        """Exact-term top-k BM25 over the maintained postings — same
        scoring (and same result) as the static index on the same
        corpus; the scan touches only the query terms' partitions. The
        doc-id type is recovered from the stored table when not given
        (falls back to bigint on a never-ingested index)."""
        id_type = self.postings.id_type(id_type)
        terms = tokenize_query(query)
        if not terms:
            return literal_df(self.spark, [], f"doc_id {id_type}, score double")
        n_docs, avgdl = self.corpus_stats()
        if n_docs == 0 or avgdl == 0.0:
            return literal_df(self.spark, [], f"doc_id {id_type}, score double")
        cand = self._postings_pruned(terms, id_type)
        return score_exact_candidates(cand, terms, n_docs, avgdl, k)

    def search_many(
        self,
        queries: DataFrame,
        k: int = 10,
        qid_col: str = "query_id",
        qtext_col: str = "query_text",
        id_type: str | None = None,
    ) -> DataFrame:
        """Batched exact-term top-k over the MAINTAINED postings — the
        live index's serving-throughput shape: the scan prunes to the
        union of the batch's query terms' hash buckets (one literal
        ``tk isin`` covers every query), then the shared batched scorer
        (``bm25.score_many_candidates``) runs once for the whole batch.
        Per-query results equal the static index's ``search_many`` on
        the same corpus, which itself equals per-query ``search()`` —
        so the registry twin shares ``bm25_multi_query``'s oracle
        verbatim."""
        id_type = self.postings.id_type(id_type)
        empty = (
            f"query_id bigint, doc_id {id_type}, score double"
        )
        qterms = query_terms_table(queries, qid_col, qtext_col)
        terms = [r.term for r in qterms.select("term").distinct().collect()]
        if not terms:
            return literal_df(self.spark, [], empty)
        n_docs, avgdl = self.corpus_stats()
        if n_docs == 0 or avgdl == 0.0:
            return literal_df(self.spark, [], empty)
        cand = self._postings_pruned(terms, id_type)
        return score_many_candidates(cand, qterms, n_docs, avgdl, k)
