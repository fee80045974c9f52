"""Vector similarity search — SURVEY §2.10.

Exact paths (cosine / euclidean / kNN-join) are pure JVM higher-order
array expressions: `zip_with` + `aggregate` dot products inside
whole-stage codegen — the Spark analogue of the reference's SIMD kernels
(pkg/simd/simd.go:38-80). No Python crossing in the hot path.

Approximate paths for scale (the reference's HNSW/GPU role,
pkg/search/hnsw_index.go, pkg/gpu):
- KMeans candidate pruning (reference kmeans_candidate_gen.go):
  MLlib KMeans → search only the n_probe nearest clusters — IVF-style.
- Random-hyperplane LSH bucketing: sign-bit signatures → candidates share
  a band bucket; exact re-rank of candidates.
Both trade recall for a candidate-set scan ~N/n_clusters — the right
shape for a 1000-executor fan-out (broadcast centroids, partition-local
re-rank, global top-k merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from nornicdb_spark.operators.localframe import lit_expr, literal_df, sql_col, sql_literal
from nornicdb_spark.search.hybrid import top_k


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Σ aᵢ·bᵢ as a codegen'd expression (double precision)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def dot_sql(a: str, b: str, widen: bool = False) -> str:
    """:func:`dot` as SQL text over array expressions ``a`` and ``b``:
    the same zip_with-then-left-fold from a double zero, so the score
    is bit-identical, but it parses JVM-side in one call where the
    Column form costs tens of py4j round trips. An int array operand
    is widened element-wise by the analyzer (``cast(x AS DOUBLE) * y``);
    ``widen`` casts both elements to double before the product, for two
    int arrays."""
    prod = "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)" if widen else "x * y"
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> {prod}), "
        f"{sql_literal(0.0)}, (acc, v) -> acc + v)"
    )


def cosine_sql(a: str, b: str) -> str:
    """:func:`cosine_sim` as SQL text (see :func:`dot_sql`)."""
    return f"{dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"


def norm(a: F.Column) -> F.Column:
    return F.sqrt(dot(a, a))


def cosine_sim(a: F.Column, b: F.Column) -> F.Column:
    """vector.similarity.cosine (reference call_vector.go:153-232)."""
    return dot(a, b) / (norm(a) * norm(b))


def euclidean_dist(a: F.Column, b: F.Column) -> F.Column:
    """vector.similarity.euclidean distance."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_similarity: float | None = None,
) -> DataFrame:
    """Exact brute-force top-k by cosine — the oracle for ANN recall
    (reference pkg/search/vector_index.go exact VectorIndex).
    ``min_similarity``: drop results below the threshold BEFORE the
    top-k, the reference Search()'s minSimilarity knob
    (vector_index.go:312-363; service default resolveMinSimilarity).
    The threshold compares the 9-digit-rounded score so ULP-level
    engine/oracle differences cannot flip membership at the boundary.
    Returns (vec_id, score) ordered desc, ties by id."""
    emb = f"CAST({sql_col(vec_col)} AS ARRAY<DOUBLE>)"
    q = sql_literal([float(x) for x in query_vec])
    scored = embeddings.selectExpr(
        f"{sql_col(id_col)} AS vec_id", f"{cosine_sql(emb, q)} AS score"
    )
    if min_similarity is not None:
        scored = scored.where(
            F.round(F.col("score"), 9) >= float(min_similarity)
        )
    return top_k(scored, k, "score", "vec_id")


def _cosine_pairs(
    embeddings: DataFrame,
    queries: DataFrame,
    qid: str,
    qvec: str,
    id_col: str,
    vec_col: str,
    where: str | None = None,
) -> DataFrame:
    """(qid, vec_id, score): the exact cosine of every corpus row against
    every query of the broadcast ``queries`` frame (``qid``, ``qvec``
    array<double>) — the scorer of the batched exact paths. ``where``
    filters the pairs before scoring."""
    pairs = embeddings.crossJoin(F.broadcast(queries))
    if where is not None:
        pairs = pairs.filter(where)
    emb = f"CAST({sql_col(vec_col)} AS ARRAY<DOUBLE>)"
    return pairs.selectExpr(
        sql_col(qid),
        f"{sql_col(id_col)} AS vec_id",
        f"{cosine_sql(emb, sql_col(qvec))} AS score",
    )


def cosine_topk_many(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Batched exact cosine top-k — the serving-throughput twin of
    :func:`cosine_topk`: q queries cost ONE scan of the corpus (the
    query batch broadcasts; per-query window top-k), and per-query
    results equal :func:`cosine_topk` row-for-row (same fold
    arithmetic, same rounded-score/id tie-break). Unlike
    :func:`knn_join` there is no self-exclusion — this is the batched
    SEARCH path, not the all-pairs neighbor join.
    Returns (query_id, vec_id, score)."""
    q = queries.selectExpr(
        f"{sql_col(qid_col)} AS query_id",
        f"CAST({sql_col(qvec_col)} AS ARRAY<DOUBLE>) AS _qv",
    )
    scored = _cosine_pairs(embeddings, q, "query_id", "_qv", id_col, vec_col)
    return top_k(scored, k, "score", "vec_id", by=("query_id",)).select(
        "query_id", "vec_id", "score"
    )


def euclidean_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by euclidean distance (ascending)."""
    emb = F.col(vec_col).cast("array<double>")
    dist = embeddings.select(
        F.col(id_col).alias("vec_id"),
        euclidean_dist(emb, lit_expr([float(x) for x in query_vec])).alias("dist"),
    )
    return top_k(dist, k, "dist", "vec_id", ascending=True)


def knn_join(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """For each query vector, its k nearest neighbors by cosine
    (excluding self-matches on equal ids). Broadcast the query side —
    the executors stream the big embedding table once.
    Returns (q_id, vec_id, score, rank)."""
    e = embeddings.selectExpr(
        f"{sql_col(id_col)} AS vec_id",
        f"CAST({sql_col(vec_col)} AS ARRAY<DOUBLE>) AS _v",
    )
    q = queries.selectExpr(
        f"{sql_col(q_id_col)} AS q_id",
        f"CAST({sql_col(q_vec_col)} AS ARRAY<DOUBLE>) AS _q",
    )
    scored = _cosine_pairs(e, q, "q_id", "_q", "vec_id", "_v", where="vec_id != q_id")
    return top_k(scored, k, "score", "vec_id", by=("q_id",), rank="rank").select(
        "q_id", "vec_id", "score", "rank"
    )


class KMeansPrunedIndex:
    """IVF-style ANN: cluster embeddings offline, probe nearest clusters at
    query time (reference pkg/search/kmeans_candidate_gen.go + pkg/gpu/
    kmeans.go — same structure: clusters prune candidates, exact re-rank).
    """

    def __init__(self, assigned: DataFrame, centers: list, id_col: str, vec_col: str):
        self.assigned = assigned  # embeddings + 'cluster' column
        self.centers = centers  # list[np.ndarray]
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(
        cls,
        embeddings: DataFrame,
        n_clusters: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
    ) -> "KMeansPrunedIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = embeddings.withColumn(
            "_features", array_to_vector(F.col(vec_col).cast("array<double>"))
        )
        model = KMeans(k=n_clusters, seed=seed, featuresCol="_features").fit(feat)
        assigned = model.transform(feat).withColumnRenamed("prediction", "cluster").drop(
            "_features"
        )
        return cls(assigned, [c for c in model.clusterCenters()], id_col, vec_col)

    def search(self, query_vec, k: int = 10, n_probe: int = 4) -> DataFrame:
        """Search the n_probe clusters whose centroids are closest to the
        query (cosine), exact re-rank inside. Returns (vec_id, score)."""
        import numpy as np

        qv = np.asarray(query_vec, dtype="float64")

        def cos(c):
            denom = float(np.linalg.norm(c) * np.linalg.norm(qv))
            return float(np.dot(c, qv) / denom) if denom else -1.0

        probe = sorted(
            range(len(self.centers)), key=lambda i: -cos(np.asarray(self.centers[i]))
        )[:n_probe]
        cand = self.assigned.filter(F.col("cluster").isin(probe))
        return cosine_topk(cand, query_vec, k, self.id_col, self.vec_col)


class RandomHyperplaneLSH:
    """Sign-bit LSH for cosine: h(v) = sign bits against ``n_bits`` fixed
    random hyperplanes; candidates = rows sharing any band of ``n_bands``
    (reference HNSW's role — sublinear candidate generation — done the
    shuffle-friendly way: bucket ids are joinable keys).
    """

    def __init__(self, planes, n_bands: int, id_col: str, vec_col: str):
        self.planes = planes  # (n_bits, dim) numpy
        self.n_bands = n_bands
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(cls, dim: int, n_bits: int = 24, n_bands: int = 8, seed: int = 42,
              id_col: str = "vec_id", vec_col: str = "embedding"):
        import numpy as np

        rng = np.random.RandomState(seed)
        planes = rng.normal(size=(n_bits, dim))
        return cls(planes, n_bands, id_col, vec_col)

    def signature_col(self) -> F.Column:
        """Bit signature as array<int> of band bucket hashes (JVM exprs:
        one dot product per plane, bits packed per band).

        Deliberately UNROLLED per plane: a fully higher-order variant
        (one nested planes literal walked by transform/aggregate) was
        built and measured bit-identical but 4× slower at execution —
        HOF lambdas evaluate interpreted while the unrolled whens ride
        whole-stage codegen.

        Built as ONE ``F.expr`` over a generated SQL string (the
        ``quantize.rp_project_array`` pattern): the Column-API form of
        the 128-plane chain issues thousands of py4j round-trips and
        costs ~6 s of pure driver construction time per call; the SQL
        string parses JVM-side in one call. The parsed tree is the same
        expression the Column chain built — same aggregate/zip_with
        lambdas, same CASE WHEN bits, same left-associative
        ``acc * 2 + bit`` band fold; the per-plane constants are
        ``localframe.sql_literal`` text, which constant-folds to the
        same double-array Literal."""
        vec = f"CAST({sql_col(self.vec_col)} AS ARRAY<DOUBLE>)"
        bits = []
        for row in self.planes:
            d = dot_sql(vec, sql_literal([float(x) for x in row]))
            bits.append(f"(CASE WHEN {d} >= 0 THEN 1 ELSE 0 END)")
        per_band = len(bits) // self.n_bands
        bands = []
        for b in range(self.n_bands):
            acc = "0"
            for j in range(per_band):
                acc = f"({acc} * 2 + {bits[b * per_band + j]})"
            bands.append(acc)
        return F.expr("array(" + ", ".join(bands) + ")")

    def bucketize(self, embeddings: DataFrame) -> DataFrame:
        """(id, band, bucket) — join key table for candidate generation."""
        sig = embeddings.select(
            F.col(self.id_col).alias("vec_id"), self.signature_col().alias("sig")
        )
        return sig.select(
            "vec_id", F.posexplode("sig").alias("band", "bucket")
        )

    def search(self, embeddings: DataFrame, query_vec, k: int = 10) -> DataFrame:
        """Candidates sharing ≥1 band bucket with the query, exact cosine
        re-rank. Returns (vec_id, score)."""
        import numpy as np

        qv = np.asarray(query_vec, dtype="float64")
        bits = (self.planes @ qv >= 0).astype(int)
        per_band = len(bits) // self.n_bands
        q_buckets = []
        for b in range(self.n_bands):
            acc = 0
            for j in range(per_band):
                acc = acc * 2 + int(bits[b * per_band + j])
            q_buckets.append((b, acc))

        spark = embeddings.sparkSession
        qb = literal_df(spark, q_buckets, "band int, bucket int")
        cand_ids = (
            self.bucketize(embeddings)
            .join(F.broadcast(qb), ["band", "bucket"], "left_semi")
            .select("vec_id")
            .distinct()
        )
        cand = embeddings.join(
            cand_ids, embeddings[self.id_col] == cand_ids.vec_id, "left_semi"
        )
        return cosine_topk(cand, query_vec, k, self.id_col, self.vec_col)


class ProductQuantizerIndex:
    """Product quantization ANN (Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search") — the compression path for 100 TB-scale
    similarity search: split each vector into ``m`` subvectors, vector-
    quantize every subspace against a ``k_codes``-entry codebook
    (distributed KMeans per subspace), and store only the m small codes
    (m bytes/vector vs 4·dim — a ~32× footprint cut at dim 64/fp32).

    Query = asymmetric distance computation (ADC): one (m × k_codes)
    squared-distance lookup table per query, inlined as a LITERAL nested
    array into a codegen'd ``aggregate`` over the codes column — so the
    scan of the compressed table is map-only JVM work: no shuffle, no
    UDF, no vector bytes moving. ``refine`` > 1 re-ranks the top
    k·refine ADC candidates against the exact vectors (the standard
    ADC+R refinement step).
    """

    def __init__(self, codes: DataFrame, codebooks, embeddings: DataFrame,
                 id_col: str, vec_col: str):
        self.codes = codes            # (vec_id, codes array<int>)
        self.codebooks = codebooks    # list[m] of (k_codes, sub) ndarrays
        self.embeddings = embeddings  # original vectors, for refinement
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(
        cls,
        embeddings: DataFrame,
        m: int = 8,
        k_codes: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
    ) -> "ProductQuantizerIndex":
        import numpy as np
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        dim = len(embeddings.select(vec_col).first()[0])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m {m}")
        sub = dim // m

        # The m per-subspace KMeans fits are INDEPENDENT (each reads only
        # its own slice of the vector column), but each fit is a chain of
        # ~a dozen tiny driver-synchronized jobs (k-means|| init + Lloyd
        # rounds) — run sequentially they serialize m·jobs of scheduling
        # latency while the cluster idles (measured: ann_ivfpq_recall =
        # 224 jobs, 1 s total task time, ~25 s wall at sf0.001). Submit
        # them from a small driver thread pool instead (guide §2.6
        # "overlap independent jobs"): same fits, same seeds, same input
        # rows ⇒ bit-identical codebooks, concurrent scheduling. The
        # subsequent transforms are lazy column adds — the single action
        # below materializes all m prediction columns in one pass.
        from concurrent.futures import ThreadPoolExecutor

        def _fit(j: int):
            feat_j = embeddings.withColumn(
                "_f",
                array_to_vector(
                    F.slice(F.col(vec_col).cast("array<double>"), j * sub + 1, sub)
                ),
            )
            return KMeans(k=k_codes, seed=seed + j, featuresCol="_f").fit(feat_j)

        with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
            models = list(pool.map(_fit, range(m)))

        df = embeddings
        codebooks = []
        for j, model in enumerate(models):
            feat = df.withColumn(
                "_f",
                array_to_vector(
                    F.slice(F.col(vec_col).cast("array<double>"), j * sub + 1, sub)
                ),
            )
            df = (
                model.transform(feat)
                .withColumn(f"_c{j}", F.col("prediction").cast("int"))
                .drop("_f", "prediction")
            )
            codebooks.append(np.vstack([np.asarray(c) for c in model.clusterCenters()]))
        codes = df.select(
            F.col(id_col).alias("vec_id"),
            F.array(*[F.col(f"_c{j}") for j in range(m)]).alias("codes"),
        ).localCheckpoint(eager=True)
        return cls(codes, codebooks, embeddings, id_col, vec_col)

    def _adc_col(self, query_vec) -> F.Column:
        import numpy as np

        qv = np.asarray(query_vec, dtype="float64")
        m = len(self.codebooks)
        sub = len(qv) // m
        lut = lit_expr([
            [float(((cb[c] - qv[j * sub : (j + 1) * sub]) ** 2).sum())
             for c in range(cb.shape[0])]
            for j, cb in enumerate(self.codebooks)
        ])
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.element_at(lut, (j + 1).cast("int")),
                (F.element_at(F.col("codes"), (j + 1).cast("int")) + 1).cast("int"),
            ),
        )

    def search(self, query_vec, k: int = 10, refine: int = 4) -> DataFrame:
        """ADC top-(k·refine) over the compressed codes, then exact
        euclidean re-rank of those candidates. ``refine=1`` returns pure
        ADC ranking. Returns (vec_id, dist) ascending."""
        adc = (
            self.codes.select("vec_id", self._adc_col(query_vec).alias("adc"))
            .orderBy(F.asc("adc"), F.asc("vec_id"))
            .limit(k * max(1, refine))
        )
        if refine <= 1:
            return adc.select("vec_id", F.col("adc").alias("dist")).limit(k)
        cand_ids = adc.select(F.col("vec_id").alias("_pq_cand"))
        cand = self.embeddings.join(
            F.broadcast(cand_ids),
            self.embeddings[self.id_col] == F.col("_pq_cand"),
            "left_semi",
        )
        return euclidean_topk(cand, query_vec, k, self.id_col, self.vec_col)


class IVFPQIndex:
    """Faiss-style IVFADC (Jégou et al. 2011, §V "inverted file with
    asymmetric distance computation"): a coarse k-means quantizer routes
    every vector to an inverted list, and the RESIDUAL (v − coarse
    centroid) is product-quantized with one codebook shared across lists.
    Query = probe the ``n_probe`` nearest coarse centroids, ADC-scan ONLY
    those lists (per-probed-list residual lookup tables, inlined as
    literals into one codegen'd ``aggregate``), then re-rank the top
    k·refine candidates against the exact vectors.

    This is the composition the 100 TB path wants: the codes table is
    repartitioned by ``list_id`` (on a real cluster: WRITTEN
    ``partitionBy(list_id)``), so the probe filter prunes whole
    partitions/files and the ADC scan — JVM expressions over m-byte
    codes, no UDF, no vector bytes — touches ~n_probe/n_lists of the
    compressed data. The standalone :class:`KMeansPrunedIndex` (IVF over
    raw vectors) and :class:`ProductQuantizerIndex` (PQ over the whole
    corpus) remain the single-ingredient variants."""

    def __init__(self, codes, coarse_centers, codebooks, embeddings,
                 id_col: str, vec_col: str):
        self.codes = codes                  # (vec_id, list_id, codes)
        self.coarse_centers = coarse_centers  # list[np.ndarray]
        self.codebooks = codebooks          # list[m] of (k_codes, sub)
        self.embeddings = embeddings        # original vectors, refinement
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(
        cls,
        embeddings: DataFrame,
        n_lists: int = 16,
        m: int = 8,
        k_codes: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
    ) -> "IVFPQIndex":
        import numpy as np
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        from nornicdb_spark.operators import scope

        v = F.col(vec_col).cast("array<double>")
        feat = embeddings.withColumn("_features", array_to_vector(v))
        coarse = KMeans(k=n_lists, seed=seed, featuresCol="_features").fit(feat)
        centers = [np.asarray(c, dtype="float64") for c in coarse.clusterCenters()]
        centers_lit = lit_expr([c.tolist() for c in centers])
        assigned = (
            coarse.transform(feat)
            .withColumn("list_id", F.col("prediction").cast("int"))
            .drop("_features", "prediction")
        )
        # residuals as codegen'd zip_with against the broadcast-literal
        # centroid table — the PQ below trains on (v − c_list)
        resid = assigned.select(
            F.col(id_col),
            "list_id",
            F.zip_with(
                v,
                F.element_at(centers_lit, F.col("list_id") + 1),
                lambda x, c: x - c,
            ).alias("_resid"),
        )
        pq = ProductQuantizerIndex.build(
            resid, m=m, k_codes=k_codes, id_col=id_col, vec_col="_resid"
        )
        codes = (
            pq.codes.join(
                resid.select(F.col(id_col).alias("vec_id"), "list_id"), "vec_id"
            )
            .repartition("list_id")
            .localCheckpoint(eager=True)
        )
        # the intermediate whole-corpus codes frame is superseded by the
        # list-partitioned one — deferred release via the session registry
        scope.escape_frame(pq.codes)
        return cls(codes, centers, pq.codebooks, embeddings, id_col, vec_col)

    def persist_codes(self, path: str) -> "IVFPQIndex":
        """Write the codes table hive-partitioned by ``list_id`` and swap
        the partitioned scan in — the cluster form of the in-session
        ``repartition("list_id")``: the probe's ``isin`` filter becomes
        directory pruning (``PartitionFilters`` in the scan, plan-tested),
        so the ADC touches only n_probe/n_lists of the files on disk. The
        superseded checkpointed codes frame goes to the deferred-release
        registry."""
        from nornicdb_spark.operators import scope
        from nornicdb_spark.sources.layout import write_partitioned

        write_partitioned(self.codes, path, "list_id")
        old = self.codes
        self.codes = old.sparkSession.read.parquet(path)
        scope.escape_frame(old)
        return self

    def search(
        self, query_vec, k: int = 10, n_probe: int = 4, refine: int = 4
    ) -> DataFrame:
        """Probe the n_probe nearest lists, ADC-rank their codes with the
        per-list residual LUT, exact-euclidean re-rank of the top
        k·refine. ``refine=1`` returns pure ADC ranking.
        Returns (vec_id, dist) ascending."""
        import numpy as np

        qv = np.asarray(query_vec, dtype="float64")
        m = len(self.codebooks)
        sub = len(qv) // m
        probe = sorted(
            range(len(self.coarse_centers)),
            key=lambda i: float(((self.coarse_centers[i] - qv) ** 2).sum()),
        )[: max(1, n_probe)]

        # one (probe, m, k_codes) literal LUT block: LUT[p][j][c] =
        # ||(q − c_p)_j − codebook_j[c]||² — ADC against list p's residuals
        lut3 = lit_expr([
            [
                [float(((cb[c] - rq[j * sub : (j + 1) * sub]) ** 2).sum())
                 for c in range(cb.shape[0])]
                for j, cb in enumerate(self.codebooks)
            ]
            for rq in (qv - self.coarse_centers[l] for l in probe)
        ])
        pos = None
        for i, l in enumerate(probe):
            cond = F.col("list_id") == int(l)
            pos = F.when(cond, i + 1) if pos is None else pos.when(cond, i + 1)
        lut = F.element_at(lut3, pos.cast("int"))
        adc_expr = F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.element_at(lut, (j + 1).cast("int")),
                (F.element_at(F.col("codes"), (j + 1).cast("int")) + 1).cast(
                    "int"
                ),
            ),
        )
        adc = top_k(
            self.codes.filter(F.col("list_id").isin([int(x) for x in probe]))
            .select("vec_id", adc_expr.alias("adc")),
            k * max(1, refine), "adc", "vec_id", ascending=True,
        )
        if refine <= 1:
            return adc.select("vec_id", F.col("adc").alias("dist")).limit(k)
        cand_ids = adc.select(F.col("vec_id").alias("_ivfpq_cand"))
        cand = self.embeddings.join(
            F.broadcast(cand_ids),
            self.embeddings[self.id_col] == F.col("_ivfpq_cand"),
            "left_semi",
        )
        return euclidean_topk(cand, query_vec, k, self.id_col, self.vec_col)


class Int8Index:
    """int8-quantized serving index — the search-side composition of
    ``operators/quantize.py`` (the int8 analogue of PQ's ADC+refine):
    approximate-score directly on the stored codes, exact-refine the top
    k·refine with the full vectors.

    Key identity: for symmetric per-vector quantization v̂ᵢ = cᵢ·s the
    per-vector scale CANCELS in cosine —
        cos(v̂, q) = Σcᵢqᵢ / (√(Σcᵢ²)·|q|)
    so the scan needs only the int8 codes and a precomputed integer code
    norm: pure codegen'd arithmetic over a 4×-smaller column, no
    dequantize step, no Python. At 100 TB the fp32 vectors live in cold
    storage and are touched only for the ≤ k·refine candidate rows
    (broadcast semi-join), exactly like PQ/IVF-PQ refine."""

    def __init__(self, codes: DataFrame, embeddings: DataFrame,
                 id_col: str, vec_col: str):
        self.codes = codes  # (vec_id, codes array<int>, code_norm)
        self.embeddings = embeddings
        self.id_col, self.vec_col = id_col, vec_col

    @classmethod
    def build(cls, embeddings: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding") -> "Int8Index":
        from nornicdb_spark.operators.quantize import code_norm_sql, quantize_int8

        q = quantize_int8(embeddings, id_col=id_col, vec_col=vec_col)
        codes = q.selectExpr("vec_id", "codes", f"{code_norm_sql('codes')} AS code_norm")
        return cls(codes, embeddings, id_col, vec_col)

    @staticmethod
    def _approx_sql(query_vec) -> str:
        """The int8 cosine of the query against a (codes, code_norm) row."""
        qn = float(sum(float(x) * float(x) for x in query_vec)) ** 0.5
        code_dot = dot_sql("codes", sql_literal([float(x) for x in query_vec]))
        return f"{code_dot} / (code_norm * {sql_literal(qn)})"

    def _approx_score(self, query_vec) -> F.Column:
        return F.expr(self._approx_sql(query_vec))

    @staticmethod
    def approx_topk(codes: DataFrame, query_vec, n: int) -> DataFrame:
        """(vec_id, score): the top ``n`` (vec_id, codes, code_norm) rows
        of ``codes`` by int8 cosine to the query."""
        scored = codes.selectExpr(
            "vec_id", f"{Int8Index._approx_sql(query_vec)} AS score"
        )
        return top_k(scored, n, "score", "vec_id")

    def search(self, query_vec, k: int = 10, refine: int = 4) -> DataFrame:
        """Approximate cosine top-(k·refine) on the codes, then exact
        cosine re-rank of those candidates on the full vectors.
        ``refine=1`` returns the pure quantized ranking.
        Returns (vec_id, score) descending, ties by id."""
        approx = self.approx_topk(self.codes, query_vec, k * max(1, refine))
        if refine <= 1:
            return approx.limit(k)
        cand_ids = approx.select(F.col("vec_id").alias("_i8_cand"))
        cand = self.embeddings.join(
            F.broadcast(cand_ids),
            self.embeddings[self.id_col] == F.col("_i8_cand"),
            "left_semi",
        )
        return cosine_topk(cand, query_vec, k, self.id_col, self.vec_col)


def rp_refine_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    coarse: int = 100,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage top-k with the deterministic JL projection as the coarse
    filter: stage 1 scores the ``out_dim``-wide projected corpus
    (operators.quantize.random_projection — sign matrix baked into the
    plan, pure codegen) and keeps the top ``coarse`` candidates via
    TakeOrderedAndProject; stage 2 rescores ONLY those candidates
    exactly at full width. Approximate overall — a true neighbor can
    fall outside the coarse pool — so this is recall-gated like the
    other ANN rows (ann_rp_refine_recall), not oracle-matched.

    The 100 TB story: stage 1's exchange carries k doubles per row
    instead of the full embedding (4x narrower at 64→16) and the
    full-width column is touched only for ``coarse`` rows in stage 2 —
    the brute-force scan's bandwidth bill drops by ~the projection
    ratio while staying index-free (no build, no staleness).
    Returns (vec_id, score) ordered desc, ties by id."""
    from nornicdb_spark.operators.quantize import random_projection, rp_signs

    in_dim = len(query_vec)
    signs = rp_signs(in_dim, out_dim)
    inv = 1.0 / float(out_dim) ** 0.5
    qrp = [
        sum(s * float(x) for s, x in zip(row, query_vec)) * inv for row in signs
    ]
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    cand = top_k(
        random_projection(emb, in_dim, out_dim).select(
            "vec_id", cosine_sim(F.col("rp"), lit_expr(qrp)).alias("cs")
        ),
        int(coarse), "cs", "vec_id",
    ).select("vec_id")
    return cosine_topk(emb.join(cand, "vec_id", "left_semi"), query_vec, k)


def rp_refine_topk_many(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    coarse: int = 100,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Batched serving twin of :func:`rp_refine_topk` — a whole query
    table against ONE projected-corpus scan. Query projection happens
    Spark-side with the same literal sign chain as the corpus (no
    driver math beyond a 1-row dimension probe — the batch-prep bar the
    BM25/IVF serving paths set), the coarse stage is a per-query window
    over the 16-dim scores of corpus x broadcast-queries, and the
    refine rescores only each query's ``coarse`` candidates at full
    width. Per-query results equal :func:`rp_refine_topk` row-for-row:
    both paths accumulate the projection and the cosine fold in the
    same left-to-right order, so scores are bit-identical and the
    rounded-score/vec_id tie-break selects identical sets (equality-
    gated, not recall-gated). Returns (query_id, vec_id, score)."""
    from nornicdb_spark.operators.quantize import (
        random_projection,
        rp_project_array,
        rp_signs,
    )

    probe = queries.select(F.size(F.col(qvec_col)).alias("d")).first()
    if probe is None:
        # empty serving batch: empty result, matching the output schema
        qt = queries.schema[qid_col].dataType.simpleString()
        it = embeddings.schema[id_col].dataType.simpleString()
        return literal_df(embeddings.sparkSession, 
            [], f"query_id {qt}, vec_id {it}, score double"
        )
    in_dim = probe["d"]
    signs = rp_signs(in_dim, out_dim)
    inv = 1.0 / float(out_dim) ** 0.5
    q = queries.select(
        F.col(qid_col).alias("query_id"),
        F.col(qvec_col).cast("array<double>").alias("_qv"),
    )
    # SHARED sign-chain builder (quantize.rp_project_array): the equality
    # gate vs the single-query path depends on both projections folding
    # in the identical left-to-right order
    q = q.withColumn("_qrp", rp_project_array("_qv", signs, inv))
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    rp = random_projection(emb, in_dim, out_dim)
    # the coarse stage IS batched exact cosine over the projected table
    cand = cosine_topk_many(
        rp,
        q.select("query_id", "_qrp"),
        k=int(coarse),
        vec_col="rp",
        qvec_col="_qrp",
    ).select("query_id", "vec_id")
    fine = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(q.select("query_id", "_qv")), "query_id")
        .select(
            "query_id",
            "vec_id",
            cosine_sim(
                F.col("embedding").cast("array<double>"), F.col("_qv")
            ).alias("score"),
        )
    )
    return top_k(fine, k, "score", "vec_id", by=("query_id",)).select(
        "query_id", "vec_id", "score"
    )
