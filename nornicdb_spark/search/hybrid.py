"""Hybrid search: Reciprocal Rank Fusion of ranked result lists.

Reference: RRF_score = Σ weight / (k + rank), k=60, rank 1-indexed
(pkg/search/search.go:38-58; fusion at 165-200). The reference fuses
in-process sorted slices; here each ranked list is a DataFrame and the
fusion is a full-outer join + sum — rank assignment is a window
``row_number`` (exactly the capability SURVEY §2.11 notes the reference
lacks as a generic operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nornicdb_spark.operators.localframe import sql_col, sql_literal

RRF_K = 60


def _row_number_sql(score: str, key: str, ascending: bool, part: list[str]) -> str:
    """The ranking rule of :func:`top_k` as a ``row_number`` window over
    the SQL expressions ``part``."""
    return (
        f"row_number() OVER (PARTITION BY {', '.join(part)} ORDER BY"
        f" round({sql_col(score)}, 9){'' if ascending else ' DESC'}, {sql_col(key)})"
    )


def sort_rule(
    score: str, key: str, ascending: bool = False, by: tuple[str, ...] = ()
) -> list[F.Column]:
    """Sort columns for the ranking rule of :func:`top_k`, after the
    ``by`` columns ascending."""
    rounded = F.expr(f"round({sql_col(score)}, 9)")
    return [
        *[F.asc(c) for c in by],
        rounded.asc() if ascending else rounded.desc(),
        F.asc(key),
    ]


def top_k(
    df: DataFrame,
    k: int | None,
    score: str,
    key: str,
    by: tuple[str, ...] = (),
    ascending: bool = False,
    rank: str = "_rn",
) -> DataFrame:
    """The one top-k rule of every search path: ``score`` ROUNDED to 9
    decimals, descending (``ascending`` for distances), ties broken by
    ``key`` ascending. Distributed float sums give duplicated documents
    ULP-different scores; the rounded key makes them fall to the id
    tie-break identically to the single-threaded SQL oracle.

    Without ``by`` it plans ``orderBy`` + ``limit``
    (TakeOrderedAndProject), the single-query shape; ``k=None`` sorts
    without a limit. With ``by`` (a query key) it keeps the first ``k``
    rows of each key group by a ``row_number`` window, the batched
    shape, and the frame gains that row number as column ``rank``
    (callers select it away or keep it). The plan shape follows the
    call."""
    if not by:
        out = df.orderBy(*sort_rule(score, key, ascending))
        return out if k is None else out.limit(int(k))
    return df.withColumn(
        rank, F.expr(_row_number_sql(score, key, ascending, [sql_col(c) for c in by]))
    ).filter(f"{sql_col(rank)} <= {int(k)}")


def rank_by(
    df: DataFrame,
    score_col: str,
    id_col: str,
    ascending: bool = False,
    partition_by: tuple[str, ...] = (),
) -> DataFrame:
    """Attach a deterministic 1-indexed ``rank`` by the rule of
    :func:`top_k` (the score rounded to 9 decimals, ties by id).

    ``partition_by``: rank within each key group (e.g. a query id for
    batched multi-query search) — the scalable path, one shuffle keyed by
    the partition columns. Without it, ranking is GLOBAL: the caller's
    contract is a bounded top-k list (every in-tree caller LIMITs
    upstream); a single-bucket hash of the id as partition key (a plain
    literal folds back to the unpartitioned-window fallback WindowExec
    warns about) makes the single-partition execution explicit."""
    part = [sql_col(c) for c in partition_by] or [
        f"pmod(xxhash64({sql_col(id_col)}), 1)"
    ]
    return df.withColumn(
        "rank", F.expr(_row_number_sql(score_col, id_col, ascending, part))
    )


def _rrf(
    ranked: dict[str, DataFrame],
    weights: dict[str, float] | None,
    id_col: str,
    keys: tuple[str, ...],
    k: int,
    limit: int | None,
    min_score: float | None,
) -> DataFrame:
    """RRF over ranked lists joined on ``keys`` + ``id_col``: a list
    missing a document contributes 0 for it. Returns (*keys, id_col,
    <name>_rank …, rrf_score) in the :func:`top_k` order, after the
    keys; ``limit`` keeps the top rows per key."""
    weights = weights or {}
    fused = None
    for name, df in ranked.items():
        part = df.selectExpr(
            *map(sql_col, keys), sql_col(id_col), f"rank AS {sql_col(name + '_rank')}"
        )
        fused = part if fused is None else fused.join(
            part, [*keys, id_col], "full_outer"
        )
    score = " + ".join(
        f"CASE WHEN {sql_col(name + '_rank')} IS NOT NULL"
        f" THEN {sql_literal(float(weights.get(name, 1.0)))}"
        f" / ({int(k)} + {sql_col(name + '_rank')}) ELSE {sql_literal(0.0)} END"
        for name in ranked
    )
    out = fused.withColumn("rrf_score", F.expr(score))
    if min_score is not None:
        out = out.where(
            f"round(rrf_score, 9) >= {sql_literal(float(min_score))}"
        )
    if not keys:
        return top_k(out, limit or None, "rrf_score", id_col)
    if limit:
        out = top_k(out, limit, "rrf_score", id_col, by=keys).drop("_rn")
    return out.orderBy(*sort_rule("rrf_score", id_col, by=keys))


def rrf_fuse(
    ranked: dict[str, DataFrame],
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    k: int = RRF_K,
    limit: int | None = None,
    min_score: float | None = None,
) -> DataFrame:
    """Fuse named ranked lists (each with ``id_col`` + ``rank``).

    Returns (id_col, <name>_rank …, rrf_score) ordered by score desc,
    ties by id. Missing entries contribute 0 (document absent from that
    ranking). ``min_score``: drop fused results below the threshold (the
    reference's SearchOptions.MinRRFScore, search.go:172 — default
    0.01 there; compared on the 9-digit-rounded score so boundary
    membership matches the oracle).
    """
    return _rrf(ranked, weights, id_col, (), k, limit, min_score)


def rrf_fuse_many(
    ranked: dict[str, DataFrame],
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    qid_col: str = "query_id",
    k: int = RRF_K,
    limit: int | None = None,
    min_score: float | None = None,
) -> DataFrame:
    """Batched RRF: fuse named PER-QUERY ranked lists (each with
    ``qid_col`` + ``id_col`` + ``rank``, e.g. from ``search_many`` legs
    ranked via :func:`rank_by` with ``partition_by=(qid_col,)``). The
    batched twin of :func:`rrf_fuse` — the same fusion keyed by query,
    so per-query results are identical; the whole batch fuses in one
    pass (full-outer join on (query, doc), one weighted-sum expression,
    per-query window ``limit``). This is the reference's user-facing
    search entry (search.go:38-58 fuses vector+BM25 per request)
    re-expressed at serving-batch shape: q hybrid requests cost one
    fused plan, not q driver round trips.
    Returns (qid_col, id_col, <name>_rank …, rrf_score) ordered within
    each query by score desc, ties by id."""
    return _rrf(ranked, weights, id_col, (qid_col,), k, limit, min_score)


def adaptive_rrf_weights(query: str) -> dict[str, float]:
    """Query-adaptive RRF weights (reference search.go:2043-2104
    GetAdaptiveRRFConfig): short queries (≤2 words) favor keyword
    matching (vector 0.5 / bm25 1.5), long queries (≥6) favor semantics
    (1.5 / 0.5), medium stay balanced. Deterministic in the query, so the
    full adaptive pipeline stays oracle-checkable."""
    n = len(query.split())
    if n <= 2:
        return {"vector": 0.5, "bm25": 1.5}
    if n >= 6:
        return {"vector": 1.5, "bm25": 0.5}
    return {"vector": 1.0, "bm25": 1.0}


def lexical_rerank(
    candidates: DataFrame,
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "rrf_score",
    top_k: int = 100,
    min_score: float = 0.0,
) -> DataFrame:
    """Stage-2 rerank of the fused top-K (reference rerank.go: the
    cross-encoder re-scores RerankTopK candidates; FinalScore = cross
    score, sorted descending). The reference's scorer is an external
    cross-encoder API (rerank.go:206-300) — unavailable in batch, so the
    default scorer is a deterministic lexical-overlap cross score
    (|query terms ∩ doc terms| / |query terms|), computed as JVM columns
    over an equi-join: no model call, no UDF, same pipeline shape.
    Returns (id, bi_score, cross_score, final_score) ordered by final
    score desc, bi score desc, id."""
    from nornicdb_spark.search.bm25 import tokenize_query

    terms = sorted(set(tokenize_query(query)))
    if not terms:
        raise ValueError("rerank: empty query after tokenization")
    top = candidates.orderBy(*sort_rule(score_col, id_col)).limit(top_k)
    joined = top.join(
        docs.select(F.col(id_col), F.col(text_col)), id_col, "left"
    )
    doc_toks = F.array_distinct(
        F.filter(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                    r"[^\p{L}\p{N}]+"),
            lambda t: F.length(t) >= 2,
        )
    )
    qarr = F.array(*[F.lit(t) for t in terms])
    cross = (
        F.size(F.array_intersect(doc_toks, qarr)).cast("double")
        / F.lit(float(len(terms)))
    )
    out = (
        joined.withColumn("cross_score", F.round(cross, 9))
        .filter(F.col("cross_score") >= min_score)
        .select(
            F.col(id_col),
            F.col(score_col).alias("bi_score"),
            "cross_score",
            F.col("cross_score").alias("final_score"),
        )
    )
    return out.orderBy(F.desc("final_score"), *sort_rule("bi_score", id_col))


def mmr_diversify(
    candidates: DataFrame,
    embeddings: DataFrame,
    limit: int = 10,
    mmr_lambda: float = 0.7,
    id_col: str = "doc_id",
    score_col: str = "rrf_score",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MMR diversification (reference search.go:1510-1608 applyMMR):
    greedily pick argmax of λ·relevance − (1−λ)·max-cosine-to-selected.
    Inherently sequential, but over a BOUNDED candidate slice (the
    reference likewise runs it on the fused top list), so it executes as
    ONE Arrow batch via applyInPandas — the same bounded-top-k contract
    as rank_by's single-partition window, not a driver collect.
    Returns (id, mmr_rank, mmr_score)."""
    import numpy as np
    import pandas as pd

    cand = candidates.select(F.col(id_col), F.col(score_col)).join(
        embeddings.select(
            F.col(vec_id_col).alias(id_col), F.col(vec_col).alias("_vec")
        ),
        id_col,
        "left",
    )

    id_type = candidates.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, mmr_rank int, mmr_score double"

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [score_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        vecs = []
        for v in pdf["_vec"]:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                vecs.append(None)
            else:
                a = np.asarray(v, dtype="float64")
                nrm = np.linalg.norm(a)
                vecs.append(a / nrm if nrm > 0 else None)
        rel = pdf[score_col].to_numpy(dtype="float64")
        n = len(pdf)
        selected: list[int] = []
        scores: list[float] = []
        remaining = list(range(n))
        while remaining and len(selected) < limit:
            # Argmax compares on the 9-decimal-ROUNDED mmr (ties then fall
            # to the rel-desc/doc_id-asc scan order): numpy dot and the
            # oracle's list_dot_product differ in the last ULP, and an
            # unrounded comparison key would let two near-equal candidates
            # swap, changing every subsequent selection.
            best_i, best_s, best_key = None, -np.inf, -np.inf
            for i in remaining:
                max_sim = 0.0
                if vecs[i] is not None:
                    for j in selected:
                        if vecs[j] is not None:
                            s = float(vecs[i] @ vecs[j])
                            if s > max_sim:
                                max_sim = s
                mmr = mmr_lambda * rel[i] - (1.0 - mmr_lambda) * max_sim
                key = round(mmr, 9)
                if key > best_key:
                    best_key, best_s, best_i = key, mmr, i
            selected.append(best_i)
            scores.append(best_s)
            remaining.remove(best_i)
        return pd.DataFrame({
            id_col: pdf[id_col].iloc[selected].to_numpy(),
            "mmr_rank": np.arange(1, len(selected) + 1, dtype="int32"),
            "mmr_score": np.asarray(scores, dtype="float64"),
        })

    return (
        cand.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(greedy, out_schema)
    )
