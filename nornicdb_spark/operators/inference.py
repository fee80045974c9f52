"""Automatic relationship inference — batch twins of the reference's
inference engine (pkg/inference/inference.go: similarity / co-access /
temporal proximity / transitive methods; co-access + temporal live in
streaming/sessions.py).

Suggestions carry (src, dst, rel_type, confidence, method) matching the
reference's EdgeSuggestion (inference.go:95-101).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from nornicdb_spark.operators.localframe import literal_df


def score_to_confidence(score: F.Column) -> F.Column:
    """Similarity score → edge confidence band (reference
    inference.go:784-797 scoreToConfidence). Bin MEMBERSHIP follows the
    repo's ULP convention (round(score, 9) both engine and oracle): a
    score within 1 ULP of a bin edge must land in the same band on both
    sides or the emitted confidence diverges."""
    r = F.round(score, 9)
    return (
        F.when(r >= 0.95, 0.9)
        .when(r >= 0.90, 0.7)
        .when(r >= 0.85, 0.5)
        .otherwise(0.3)
    )


def similarity_edges(
    embeddings: DataFrame,
    threshold: float = 0.85,
    top_k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = True,
) -> DataFrame:
    """Similarity-based RELATES_TO suggestions: for each node, its top-k
    cosine neighbors scoring ≥ threshold (reference inference.go:505-525
    OnStore similarity pass). Pair generation reuses the block-grid /
    LSH machinery of the dedup family (no CartesianProduct; ``exact=
    False`` is the sublinear 100 TB path), then orients each undirected
    pair both ways and keeps the per-source top-k by a keyed window.
    Returns (src, dst, rel_type, score, confidence, method)."""
    from nornicdb_spark.operators.dedup import embedding_near_duplicates
    from nornicdb_spark.search import hybrid

    pairs = embedding_near_duplicates(
        embeddings, threshold=threshold, id_col=id_col, vec_col=vec_col,
        exact=exact,
    ).select("a", "b", F.col("cosine").alias("score"))
    # orient each undirected pair both ways with a map-side explode — a
    # self-union would re-execute the whole O(n²) pair computation once
    # per branch
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a"), F.col("b")),
                F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
            )
        ).alias("_e"),
        "score",
    ).select(F.col("_e.a").alias("a"), F.col("_e.b").alias("b"), "score")
    return (
        hybrid.top_k(both, top_k, "score", "b", by=("a",), rank="_r")
        .select(
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
            F.lit("RELATES_TO").alias("rel_type"),
            "score",
            score_to_confidence(F.col("score")).alias("confidence"),
            F.lit("similarity").alias("method"),
        )
    )


# per-label evidence thresholds (reference evidence.go:74-105
# DefaultThresholds; fallback DefaultEvidenceThreshold = relates_to)
EVIDENCE_THRESHOLDS = {
    "relates_to": (3, 0.5, 2, 24),
    "similar_to": (2, 0.7, 1, 48),
    "coaccess": (5, 0.3, 3, 12),
    "topology": (2, 0.6, 1, 72),
    "depends_on": (3, 0.6, 2, 168),
}
DEFAULT_EVIDENCE_THRESHOLD = (3, 0.5, 2, 24)


def _secs(c) -> F.Column:
    """Epoch seconds from TIMESTAMP or TIMESTAMP_NTZ (NTZ needs the
    intermediate cast; values are preserved under the UTC session tz)."""
    return c.cast("timestamp").cast("double")


def accumulate_evidence(signals: DataFrame, now_col) -> DataFrame:
    """Evidence buffering: aggregate raw inference SIGNALS per
    (src, dst, label) and decide which accumulate enough proof to
    materialize an edge (reference evidence.go:269-383 AddEvidence +
    shouldMaterialize): count ≥ MinCount, avg score ≥ MinScore, distinct
    sessions ≥ MinSessions, and the evidence is no older than MaxAge.
    ``signals``: (src, dst, label, score, session_id, ts); ``now_col``:
    the evaluation instant (a Column, so batch runs are deterministic).
    One groupBy + a broadcast threshold lookup. Returns
    (src, dst, label, n_signals, score_avg, n_sessions, first_ts,
    last_ts, materialize)."""
    spark = signals.sparkSession
    th = literal_df(spark, 
        [(k, *v) for k, v in EVIDENCE_THRESHOLDS.items()],
        "label string, min_count int, min_score double, "
        "min_sessions int, max_age_hours int",
    )
    # score_avg is rounded to 9 decimals: float summation order varies
    # with partitioning, so the raw avg is only reproducible to the last
    # ULP — rounding makes both the output and the >= MinScore decision
    # partition-order independent.
    agg = signals.groupBy("src", "dst", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_signals"),
        F.round(F.avg("score"), 9).alias("score_avg"),
        F.count_distinct(
            F.when(F.col("session_id") != "", F.col("session_id"))
        ).cast("long").alias("n_sessions"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    d = DEFAULT_EVIDENCE_THRESHOLD
    joined = agg.join(F.broadcast(th), "label", "left_outer").select(
        "src", "dst", "label", "n_signals", "score_avg", "n_sessions",
        "first_ts", "last_ts",
        F.coalesce("min_count", F.lit(d[0])).alias("_mc"),
        F.coalesce("min_score", F.lit(d[1])).alias("_ms"),
        F.coalesce("min_sessions", F.lit(d[2])).alias("_mn"),
        F.coalesce("max_age_hours", F.lit(d[3])).alias("_ma"),
    )
    age_ok = (
        _secs(now_col) - _secs(F.col("first_ts"))
    ) <= F.col("_ma") * 3600.0
    mat = (
        age_ok
        & (F.col("n_signals") >= F.col("_mc"))
        & (F.col("score_avg") >= F.col("_ms"))
        & (F.col("n_sessions") >= F.col("_mn"))
    )
    return joined.select(
        "src", "dst", "label", "n_signals", "score_avg", "n_sessions",
        "first_ts", "last_ts", mat.alias("materialize"),
    )


def decay_edges(
    edges: DataFrame,
    now_col,
    decay_rate: float = 0.95,
    min_confidence: float = 0.3,
    grace_days: float = 7.0,
    only_auto_generated: bool = True,
) -> DataFrame:
    """Edge-confidence decay sweep (reference edge_decay.go:8-110):
    confidence' = confidence · rate^(days since last access), skipped
    inside the creation grace period and (by default) for user-created
    edges; edges decaying below ``min_confidence`` are marked deleted.
    Pure column arithmetic — the 100 TB sweep is one projection.
    ``edges``: (..., confidence, auto_generated, created_at,
    last_accessed). Adds (new_confidence, deleted)."""
    days_idle = (_secs(now_col) - _secs(F.col("last_accessed"))) / 86400.0
    age_days = (_secs(now_col) - _secs(F.col("created_at"))) / 86400.0
    eligible = F.lit(True) if not only_auto_generated else F.col("auto_generated")
    decays = eligible & (age_days > grace_days)
    new_conf = F.when(
        decays,
        F.col("confidence") * F.pow(F.lit(decay_rate), F.greatest(days_idle, F.lit(0.0))),
    ).otherwise(F.col("confidence"))
    return edges.withColumn("new_confidence", new_conf).withColumn(
        "deleted", decays & (F.col("new_confidence") < min_confidence)
    )


def transitive_edges(
    edges: DataFrame,
    min_confidence: float = 0.3,
    src_col: str = "src",
    dst_col: str = "dst",
    conf_col: str = "confidence",
) -> DataFrame:
    """Transitive inference: A→B, B→C ⇒ A→C with confidence
    conf(AB)·conf(BC), skipping cycles back to the origin (reference
    inference.go:740-772). Batch form aggregates the best path per
    (A, C): max confidence + supporting-path count. One self-join on the
    shared midpoint — shuffles on B, never materializes the closure.
    Returns (src, dst, rel_type, confidence, n_paths, method)."""
    e1 = edges.select(
        F.col(src_col).alias("a"),
        F.col(dst_col).alias("b"),
        F.col(conf_col).alias("c1"),
    )
    e2 = edges.select(
        F.col(src_col).alias("b"),
        F.col(dst_col).alias("c"),
        F.col(conf_col).alias("c2"),
    )
    return (
        e1.join(e2, "b")
        .filter(F.col("a") != F.col("c"))
        .withColumn("conf", F.col("c1") * F.col("c2"))
        .filter(F.col("conf") >= min_confidence)
        .groupBy(F.col("a").alias("src"), F.col("c").alias("dst"))
        .agg(
            F.max("conf").alias("confidence"),
            F.count(F.lit(1)).cast("long").alias("n_paths"),
        )
        .select(
            "src", "dst", F.lit("RELATES_TO").alias("rel_type"),
            "confidence", "n_paths", F.lit("transitive").alias("method"),
        )
    )
