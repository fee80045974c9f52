"""Deduplication family for large-scale training-data pipelines.

Beyond the reference's surface (its nearest analogue is the similarity
edge inference, pkg/inference/inference.go) — these are the operators a
100 TB text corpus needs:

- exact        : content-hash groupBy (one shuffle on a 128-bit key)
- minhash LSH  : shingle → minhash signature → banded bucket join →
                 candidate pairs → exact Jaccard verify
- simhash      : 60-bit sign fingerprint; near-dups share most bits
- ngram Jaccard: candidate pairs via shared shingle, exact set overlap
- embedding    : cosine-threshold pairs over the embedding column

Every hash is *explicit integer arithmetic over md5 prefixes* — not
engine-native hash() — so the DuckDB oracle reproduces results bit-for-bit:
    H(s)   = int64(first 15 hex chars of md5(s))           (60 bits)
    h_i(s) = (a_i * (H % P) + b_i) % P,  P = 2^31 - 1      (no overflow)

Scale notes: the LSH band join shuffles on (band, signature) — the whole
point vs naive O(n²) pairing. Shingle explosion is the dominant cost;
distinct-per-doc before the signature agg keeps it one map-side combine.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from nornicdb_spark.operators.localframe import literal_df

from nornicdb_spark.operators.scope import CkptScope, escape_frame

MERSENNE_P = 2147483647  # 2^31 - 1
N_PERMS = 32
N_BANDS = 8
SIMHASH_BITS = 60


def minhash_params(n_perms: int = N_PERMS, seed: int = 7) -> list[tuple[int, int, int]]:
    """Deterministic (i, a, b) permutation parameters shared with the SQL
    oracle."""
    rng = random.Random(seed)
    return [
        (i, rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for i in range(n_perms)
    ]


def h60(col: F.Column) -> F.Column:
    """60-bit integer hash of a string: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def words_col(text_col) -> F.Column:
    return F.filter(
        F.split(F.lower(text_col), r"\s+"), lambda w: F.length(w) > 0
    )


def spread(df: DataFrame) -> DataFrame:
    """Normalize partitioning for a per-row-heavy stage. Small-file
    corpora arrive as 1 parquet partition, serializing the whole
    explode/hash pipeline onto one core; incrementally-built frames
    (store unions of many tiny batches) arrive with thousands of
    near-empty partitions whose per-task overhead dwarfs the work. Both
    extremes get one cheap row-shuffle to session parallelism; anything
    in a sane band is returned untouched."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n < target or n > target * 4:
        return df.repartition(target)
    return df


def shingles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc → (doc_id, shingle, h) where
    h = H(shingle) % P."""
    docs = spread(docs)
    w = words_col(F.col(text_col))
    # guard: sequence(1, k) with k < 1 would generate a DESCENDING range
    # in Spark — short docs must yield zero shingles instead
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.array_join(F.slice(w, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("shingle"))
        .distinct()
        .withColumn("h", h60(F.col("shingle")) % MERSENNE_P)
    )


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by content hash: (content_hash, n_copies, keep_id) for
    hashes with >1 copy; keep_id = min doc id (the canonical survivor)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def minhash_signatures(
    sh: DataFrame, n_perms: int = N_PERMS, seed: int = 7
) -> DataFrame:
    """(doc_id, sigs array<long>): the full minhash signature per doc.
    ``sh`` from :func:`shingles`.

    One pass, no row blowup: each of the ``n_perms`` permutations is its
    own ``min()`` aggregate over a codegen'd expression of the shingle
    hash, so the shuffle carries one narrow row per doc instead of the
    |shingles| × n_perms exploded table the naive perms-cross-join emits
    (at sf0.1 that is 5M×32 = 160M intermediate rows saved)."""
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P).alias(f"s{i}")
        for i, a, b in minhash_params(n_perms, seed)
    ]
    wide = sh.groupBy("doc_id").agg(*mins)
    return wide.select(
        "doc_id", F.array(*[F.col(f"s{i}") for i in range(n_perms)]).alias("sigs")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, n_perms: int = N_PERMS, n_bands: int = N_BANDS
) -> DataFrame:
    """Banded LSH: docs whose signature agrees on all rows of ≥1 band.
    ``sigs`` from :func:`minhash_signatures` (doc_id, sigs). Returns
    distinct (a, b) with a < b. The bucket join shuffles on
    (band, band_key), so only same-bucket docs ever meet — never an
    all-pairs comparison."""
    rows_per_band = n_perms // n_bands
    keys = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                F.array_join(
                    F.transform(
                        F.slice(F.col("sigs"), b * rows_per_band + 1, rows_per_band),
                        lambda s: s.cast("string"),
                    ),
                    "-",
                )
                for b in range(n_bands)
            ])
        ).alias("band", "band_key"),
    )
    left = keys.select(F.col("doc_id").alias("a"), "band", "band_key")
    right = keys.select(F.col("doc_id").alias("b"), "band", "band_key")
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, sh: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keeps pairs ≥
    threshold. Returns (a, b, jaccard).

    The shingle table is first semi-joined down to docs that appear in a
    candidate pair (candidates are post-LSH, i.e. a small fraction of the
    corpus) so the intersect join shuffles only candidate shingles, not
    the full shingle table twice."""
    cand_docs = (
        pairs.select(F.col("a").alias("doc_id"))
        .unionByName(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    # unhinted: AQE broadcasts the (small) candidate list at runtime, but
    # nothing forces a driver-side collect if a pathological corpus makes
    # candidates large
    sh = sh.join(cand_docs, "doc_id", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a_sh = sh.select(F.col("doc_id").alias("a"), F.col("h").alias("h"))
    b_sh = sh.select(F.col("doc_id").alias("b"), F.col("h").alias("h"))
    inter = (
        pairs.join(a_sh, "a")
        .join(b_sh, ["b", "h"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → sign → band → verify.

    The shingle table feeds both the signature build and the exact-verify
    joins (4 reads total) — materialize it once instead of re-exploding
    the corpus each time.
    """
    scope = CkptScope()
    sh = scope.ckpt(shingles(docs, id_col, text_col, n))
    sigs = minhash_signatures(sh)
    pairs = lsh_candidate_pairs(sigs)
    # the verify joins read `sh` lazily — it escapes to the bounded
    # session registry instead of pinning blocks for the session
    return scope.finish(jaccard_verify(pairs, sh, threshold), keep=(sh,))


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 20,
) -> DataFrame:
    """Collapse near-duplicate PAIRS into clusters: connected components
    over the pair graph by iterative min-id propagation, so each group of
    transitively-linked duplicates elects one canonical document (the
    minimum id) — the step that turns pairwise dedup output into an
    actual keep/drop decision. Returns (doc_id, canonical_id) for every
    doc that appears in at least one pair.

    Scale: the pair graph is a tiny fraction of the corpus (only dups);
    each round is one join + one groupBy on it, frontier-free WCC with a
    lineage cut per round. Deterministic, so oracle-checkable against a
    recursive-CTE closure."""
    scope = CkptScope()
    und = pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
    und = scope.ckpt(
        und.unionByName(und.select(F.col("d").alias("s"), F.col("s").alias("d")))
    )
    labels = scope.ckpt(
        und.select(F.col("s").alias("id")).distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iterations):
        nbr_min = (
            labels.join(und, labels.id == und.s)
            .groupBy(F.col("d").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = labels.join(nbr_min, "id", "left_outer").select(
            "id",
            "label",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("next"),
        )
        n_changed = updated.filter(F.col("next") < F.col("label")).count()
        labels = scope.roll(
            labels, updated.select("id", F.col("next").alias("label"))
        )
        if n_changed == 0:
            break
    out = labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("canonical_id")
    )
    return scope.finish(out, keep=(labels,))


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash: per-token 60-bit hash; fingerprint bit j = 1 iff
    Σ_tokens tf·(2·bit_j(H)−1) > 0. Returns (doc_id, fingerprint) with the
    fingerprint as a '0'/'1' string (MSB first) — representation chosen so
    the oracle compares exactly."""
    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(words_col(F.col(text_col))).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("h", h60(F.col("tok")))
    )
    bit_j = F.expr("shiftright(h, j) & 1")  # shift amount is a column
    per_bit = (
        toks.crossJoin(
            F.broadcast(
                toks.sparkSession.range(n_bits).select(F.col("id").cast("int").alias("j"))
            )
        )
        .select(
            "doc_id",
            "j",
            (F.col("tf") * (bit_j * 2 - 1)).alias("contrib"),
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("contrib").alias("s"))
    )
    return per_bit.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "s"))),
                lambda x: F.when(x["s"] > 0, "1").otherwise("0"),
            ),
            "",
        ).alias("fingerprint")
    )


def simhash_near_duplicates(
    fingerprints: DataFrame, max_hamming: int = 6, band_chars: int = 15
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of four 15-char
    fingerprint quarters (pigeonhole: hamming ≤ 3 guarantees a shared
    quarter; wider radii are still usually caught), then exact hamming
    filter. Returns (a, b, hamming)."""
    quarters = fingerprints.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.substring("fingerprint", 1 + i * band_chars, band_chars)
                    for i in range(4)
                ]
            )
        ).alias("q", "qv"),
    )
    cand = (
        quarters.alias("x")
        .join(quarters.alias("y"), ["q", "qv"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    fa = fingerprints.select(F.col("doc_id").alias("a"), F.col("fingerprint").alias("fa"))
    fb = fingerprints.select(F.col("doc_id").alias("b"), F.col("fingerprint").alias("fb"))
    hamming = F.size(
        F.filter(
            F.zip_with(F.split(F.col("fa"), ""), F.split(F.col("fb"), ""), lambda x, y: x != y),
            lambda v: v,
        )
    )
    return (
        cand.join(fa, "a")
        .join(fb, "b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle
    (no LSH approximation — the quadratic-safe exact variant: the
    shared-shingle join prunes non-overlapping pairs).

    ``max_shingle_df``: hub-shingle cap for the CANDIDATE join — shingles
    appearing in more than this many docs (stopword-like trigrams) are
    excluded as join keys, bounding the worst pair fan-out to
    df²·n_shingles instead of n_docs². The verify numerator still counts
    every shingle, so scores are exact; only pairs whose ONLY overlap is
    hub shingles can be missed — at the thresholds that matter (≥0.4)
    such pairs score far below threshold anyway. None = no cap."""
    sh = shingles(docs, id_col, text_col, n)
    cand_sh = sh
    if max_shingle_df is not None:
        df_counts = sh.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
        cand_sh = sh.join(
            df_counts.filter(F.col("_df") <= max_shingle_df).select("h"), "h"
        )
    cand = (
        cand_sh.select(F.col("doc_id").alias("a"), "h")
        .join(cand_sh.select(F.col("doc_id").alias("b"), "h"), "h")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b").distinct()
    )
    a_sh = sh.select(F.col("doc_id").alias("a"), "h")
    b_sh = sh.select(F.col("doc_id").alias("b"), "h")
    all_pairs = (
        (cand.join(a_sh, "a").join(b_sh, ["b", "h"])
         if max_shingle_df is not None
         else sh.select(F.col("doc_id").alias("a"), "h")
         .join(sh.select(F.col("doc_id").alias("b"), "h"), "h"))
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        all_pairs.join(
            sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na")), "a"
        )
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def grid_blocks(
    n: int, parallelism: int, cell_budget_mb: int = 256,
    min_cell_rows: int = 2048,
) -> int:
    """Default block count for the exact GEMM grid — the max of two
    constraints, both of which are REQUIRED at scale:

    - parallelism: B(B+1)/2 cells must feed every core ~2 cells each, or
      the comparison serializes onto B stragglers;
    - memory: a cell's (n/B)² float64 score matrix must fit the per-task
      budget. Cores-only sizing (the pre-round-8 default) dies at 100×:
      at n = 200k and B = 11 each cell materializes a ~2.6 GB matrix in
      every one of 32 concurrent tasks — measured JVM GC death at the
      local sf10 probe. With the budget bound, B grows ~linearly in n,
      per-cell memory stays flat, and shuffle volume O(n·B) = O(n²/√budget)
      — still no pairwise rows on the wire.

    The parallelism bound is additionally capped by the work available
    (``min_cell_rows``): a corpus with n ≤ a few thousand rows sliced
    into B(B+1)/2 cells is pure replication + scheduling overhead — each
    row is shipped to B+1 cells so that every task can run a sub-ms
    matmul. Cells are therefore never sized below ~``min_cell_rows``
    rows (B stops growing once n/B drops under it), which leaves tiny
    corpora in one-or-few cells and is exactly the r11 guide §2.5
    "don't over-partition small inputs" rule. The emitted pair set is
    B-invariant (every (a, b) pair lands in exactly one cell for any B),
    so this changes cost, not results.
    """
    par_b = max(8, int((math.isqrt(16 * parallelism + 1) - 1) // 2 + 1))
    work_b = -(-int(n) // max(1, int(min_cell_rows)))  # ceil
    max_rows_per_cell = max(1024, math.isqrt(cell_budget_mb * 1024 * 1024 // 8))
    mem_b = -(-int(n) // max_rows_per_cell)  # ceil
    return max(min(par_b, work_b), mem_b, 1)


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = True,
    n_blocks: int | None = None,
    n_bits: int = 128,
    n_bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cosine ≥ threshold).

    ``exact=True``: complete all-pairs verification over a balanced
    block grid (1-Bucket-Theta style). Rows are hash-blocked; each row is
    replicated to the B·(B+1)/2 grid cells it participates in (shuffle
    volume O(n·B) vectors — the O(n²) pair stream never crosses the
    wire), and each cell computes its full similarity sub-matrix with
    ONE vectorized matmul in an Arrow batch, emitting only pairs over
    threshold. The grid key (bi, bj) gives B(B+1)/2-way parallelism; the
    default B (:func:`grid_blocks`) satisfies BOTH the parallelism bound
    and a per-cell memory budget — a cell's (n/B)² score matrix stays
    under ~256 MB regardless of corpus size. A dense
    all-pairs cosine is a GEMM — per-pair higher-order expressions
    evaluate ~1e8 interpreted array ops where BLAS does the same block
    in milliseconds, which is why this operator is one of the documented
    Pandas-UDF exceptions to the built-ins-first policy.

    ``exact=False``: LSH-bucketed candidate generation
    (RandomHyperplaneLSH band buckets as join keys) + unchanged exact
    cosine verify — sublinear pair stream, the 100 TB path for the
    realistic high-threshold (≳0.8) near-dup setting. Recall at a given
    threshold is set by (n_bits/n_bands, n_bands): P[miss] =
    (1 - p^r)^b with p = 1 - acos(t)/π, r bits per band, b bands — but
    keep r large enough that buckets are SELECTIVE: a band has only 2^r
    bucket values, so small r makes every bucket hold ~n/2^r unrelated
    vectors and the candidate join quadratic (and, where a hot-bucket
    cap applies, evicts real cluster members — the round-9 sf1 finding
    on the maintained twin). Defaults are the proven 128/8 regime.
    """
    from nornicdb_spark.search.vector import cosine_sim

    e = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    if exact:
        spark = embeddings.sparkSession
        if n_blocks is None:
            n_blocks = grid_blocks(
                n=e.count(), parallelism=spark.sparkContext.defaultParallelism
            )
        grid = literal_df(spark, 
            [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
            "bi int, bj int",
        )
        rows = e.select(
            "id", "v",
            F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int").alias("blk"),
        )
        # Replicate each row to every cell it participates in — as the row
        # side (bi == blk) and the column side (bj == blk) — then shuffle
        # once on the COMPOSITE cell key. Grouping by bi alone would leave
        # only B distinct shuffle keys and serialize the whole comparison
        # onto B tasks regardless of cluster size.
        a_exp = rows.join(F.broadcast(grid), rows["blk"] == grid["bi"]).select(
            "bi", "bj", "id", "v", F.lit(0).alias("side")
        )
        b_exp = rows.join(F.broadcast(grid), rows["blk"] == grid["bj"]).select(
            "bi", "bj", "id", "v", F.lit(1).alias("side")
        )
        id_type = e.schema["id"].dataType.simpleString()
        thr = float(threshold)

        def _cell(pdf):
            import numpy as np
            import pandas as pd

            empty = pd.DataFrame({"a": [], "b": [], "cosine": []})
            diag = bool(pdf["bi"].iat[0] == pdf["bj"].iat[0])
            left = pdf[pdf["side"] == 0]
            # a diagonal cell receives each row twice (once per side) —
            # side 0 alone is the complete block
            right = left if diag else pdf[pdf["side"] == 1]
            if not len(left) or not len(right):
                return empty
            A = np.stack(left["v"].to_numpy()).astype(np.float64)
            ids_a = left["id"].to_numpy()
            if diag:
                B, ids_b = A, ids_a
            else:
                B = np.stack(right["v"].to_numpy()).astype(np.float64)
                ids_b = right["id"].to_numpy()
            # dot / (|a|·|b|) — same per-pair formula as the SQL oracle
            s = (A @ B.T) / np.outer(
                np.linalg.norm(A, axis=1), np.linalg.norm(B, axis=1)
            )
            # threshold MEMBERSHIP under the repo's ULP convention: BLAS
            # sums the dot product in a different order than the oracle's
            # sequential per-pair cosine, so a pair within 1 ULP of the
            # threshold could otherwise be included on one side only —
            # round(,9) both sides (same as rank-tie selection).
            ai, bj = np.nonzero(np.round(s, 9) >= round(thr, 9))
            if diag:  # same-block pairs once, by id order
                keep = ids_a[ai] < ids_b[bj]
                ai, bj = ai[keep], bj[keep]
            return pd.DataFrame(
                {"a": ids_a[ai], "b": ids_b[bj], "cosine": s[ai, bj]}
            )

        raw = (
            a_exp.unionByName(b_exp)
            .groupBy("bi", "bj")
            .applyInPandas(_cell, f"a {id_type}, b {id_type}, cosine double")
        )
        pairs = raw.select(
            # cross-block pair orientation follows block ids, not row ids
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
            "cosine",
        )
    else:
        from nornicdb_spark.search.vector import RandomHyperplaneLSH

        dim = len(e.select("v").head()[0])
        lsh = RandomHyperplaneLSH.build(
            dim, n_bits=n_bits, n_bands=n_bands, seed=seed,
            id_col="id", vec_col="v",
        )
        # The 128-plane signature project is a ~200 kB expression tree;
        # self-joining it below would both EVALUATE it twice (once per
        # join side) and let the optimizer clone it into every pushed
        # filter (~8 copies, ~13 s of driver analysis at sf0.001). A
        # lazy localCheckpoint on the narrow (vec_id, band, bucket)
        # table computes signatures once and cuts the plan at the
        # materialized band index — the same build-the-index-once
        # posture the maintained near-dup store uses. Values are
        # unchanged: the planes are seed-fixed and the signature is
        # deterministic, so checkpoint vs recompute is row-identical.
        buckets = lsh.bucketize(e).localCheckpoint(eager=False)
        # the lazy result plan reads these blocks: deferred release via
        # the session registry, like every other operator checkpoint
        escape_frame(buckets)
        cand = (
            buckets.select(F.col("vec_id").alias("a"), "band", "bucket")
            .join(
                buckets.select(F.col("vec_id").alias("b"), "band", "bucket"),
                ["band", "bucket"],
            )
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
        pairs = (
            cand.join(e.select(F.col("id").alias("a"), F.col("v").alias("va")), "a")
            .join(e.select(F.col("id").alias("b"), F.col("v").alias("vb")), "b")
            .select("a", "b", cosine_sim(F.col("va"), F.col("vb")).alias("cosine"))
        )
    return pairs.filter(
        F.round(F.col("cosine"), 9) >= F.lit(round(float(threshold), 9))
    ).select("a", "b", "cosine")


def shingle_hashes_col(text_col, n: int = 3) -> F.Column:
    """Per-row DISTINCT shingle-hash set (array<bigint>) — the same
    multiset :func:`shingles` builds by explode+distinct, but as one
    narrow expression, so it runs inside a streaming micro-batch with no
    explode/groupBy/state. Empty array for docs shorter than ``n``."""
    w = words_col(F.col(text_col) if isinstance(text_col, str) else text_col)
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.array_join(F.slice(w, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # distinct AFTER hashing: distinct shingles colliding to the same h60
    # must not leave duplicate hashes (F.size() over the result is a set
    # cardinality); the inner distinct just avoids re-hashing dup grams
    return F.array_distinct(
        F.transform(F.array_distinct(grams), lambda s: h60(s) % MERSENNE_P)
    )


def minhash_band_keys_col(
    hashes_col: F.Column,
    n_perms: int = N_PERMS,
    n_bands: int = N_BANDS,
    seed: int = 7,
) -> F.Column:
    """Per-row LSH band keys (array<string>, one per band) from a
    shingle-hash array — identical keys to :func:`minhash_signatures` +
    :func:`lsh_candidate_pairs`' banding, row-local: the streaming-ingest
    side of a stream-static near-dup join computes this per incoming doc
    and equi-joins the static corpus' band table."""
    def perm_min(a: int, b: int) -> F.Column:
        # a dedicated scope per permutation: Spark's transform() only
        # accepts 1- or 2-parameter lambdas, so (a, b) must be closed
        # over, not passed as defaulted lambda parameters
        return F.array_min(
            F.transform(hashes_col, lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE_P)
        )

    sig = [perm_min(a, b) for _i, a, b in minhash_params(n_perms, seed)]
    rows_per_band = n_perms // n_bands
    return F.array(
        *[
            F.array_join(
                F.array(
                    *[
                        sig[b * rows_per_band + j].cast("string")
                        for j in range(rows_per_band)
                    ]
                ),
                "-",
            )
            for b in range(n_bands)
        ]
    )
