"""Embedding quantization — SURVEY §2.13 (training-data pipeline ops).

At 100 TB an fp32 embedding column dominates table footprint; symmetric
per-vector int8 quantization cuts it 4× with bounded cosine error, and
the codes stay joinable/scannable. Everything here is codegen'd JVM
array expressions (transform/aggregate) — no UDF, no Python crossing —
and the quantize/dequantize round-trip is exactly reproducible in SQL,
so the whole family is oracle-checkable (unlike the learned PQ
codebooks in search/vector.py, which are gate-checked instead).

Reference scope note: the reference stores raw float32 vectors
(pkg/search/vector_index.go) — this module is a beyond-reference
capability for the LLM-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nornicdb_spark.operators.localframe import sql_col, sql_literal


def _vec(col: str) -> F.Column:
    return F.col(col).cast("array<double>")


# The int8 codec, as SQL text over array<double> expressions. Every int8
# index writes its codes with these three rules, and drops the rows whose
# code_norm is 0: a zero vector has no direction.


def int8_scale_sql(v: str) -> str:
    """Symmetric per-vector scale: max|v| / 127."""
    return f"array_max(transform({v}, x -> abs(x))) / {sql_literal(127.0)}"


def int8_codes_sql(v: str, scale: str) -> str:
    """code_i = round(v_i / scale) ∈ [-127, 127]; all zeros at scale 0."""
    return (
        f"CASE WHEN {scale} > 0"
        f" THEN transform({v}, x -> CAST(round(x / {scale}) AS INT))"
        f" ELSE transform({v}, x -> 0) END"
    )


def code_norm_sql(codes: str) -> str:
    """The code vector's L2 norm, a double: the per-vector scale cancels
    in cosine, so int8 cosine is Σcᵢqᵢ / (code_norm·|q|)."""
    return (
        f"sqrt(aggregate({codes}, {sql_literal(0.0)},"
        " (acc, c) -> acc + CAST(c AS DOUBLE) * CAST(c AS DOUBLE)))"
    )


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization (:func:`int8_scale_sql`,
    :func:`int8_codes_sql`; zero vectors get scale 0 and all-zero
    codes). Returns (vec_id, scale, codes array<int>)."""
    v = f"CAST({sql_col(vec_col)} AS ARRAY<DOUBLE>)"
    return (
        embeddings.selectExpr(f"{sql_col(id_col)} AS vec_id", sql_col(vec_col))
        .withColumn("scale", F.expr(int8_scale_sql(v)))
        .selectExpr("vec_id", "scale", f"{int8_codes_sql(v, 'scale')} AS codes")
    )


def dequantize(quantized: DataFrame) -> DataFrame:
    """Inverse of :func:`quantize_int8`: v̂_i = code_i · scale.
    Returns (vec_id, vec array<double>)."""
    return quantized.select(
        "vec_id",
        F.transform(
            F.col("codes"), lambda c: c.cast("double") * F.col("scale")
        ).alias("vec"),
    )


def quantization_error(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Round-trip error of int8 quantization per vector: the max absolute
    reconstruction error is bounded by scale/2 (half a quantization step)
    — emitted alongside so the bound itself is oracle-checked.
    Returns (vec_id, scale, max_abs_err, mse, bound_ok)."""
    q = quantize_int8(embeddings, id_col, vec_col).alias("q")
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), _vec(vec_col).alias("_v")
    ).alias("e")
    joined = q.join(e, "vec_id")
    err = F.zip_with(
        F.col("_v"),
        F.col("codes"),
        lambda x, c: F.abs(x - c.cast("double") * F.col("scale")),
    )
    n = F.size(F.col("_v"))
    return joined.select(
        "vec_id",
        "scale",
        F.array_max(err).alias("max_abs_err"),
        (
            F.aggregate(
                err, F.lit(0.0), lambda acc, x: acc + x * x
            )
            / n.cast("double")
        ).alias("mse"),
        (F.array_max(err) <= F.col("scale") / 2 + F.lit(1e-12))
        .cast("long")
        .alias("bound_ok"),
    )


def rp_signs(in_dim: int, out_dim: int) -> list[list[float]]:
    """Deterministic ±1 sign matrix for :func:`random_projection` —
    sign(i, j) from the md5-derived 60-bit hash of ``"rp:i:j"`` (the
    dedup family's h60 convention, dedup.py:50), so a DuckDB oracle can
    regenerate the identical matrix with pure SQL and no literal
    shipping. Driver cost: out_dim x in_dim md5 calls once per plan
    build (a 16x768 matrix is 12k hashes, microseconds)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()[:15], 16) % 2
            == 0
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    embeddings: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a
    deterministic hash-sign matrix: out[j] = sum_i v[i]*sign(i,j) /
    sqrt(out_dim) (Achlioptas 2001 database-friendly ±1 projections).
    The standard pre-reduction in front of ANN / clustering when the
    full-width embedding column is too wide to shuffle: a 64→16 cut
    shrinks every downstream exchange 4× while preserving pairwise
    distances to ~1/sqrt(out_dim) relative distortion in expectation.
    Returns (id, rp array<double> of out_dim).

    Scale shape: the sign matrix lives in the PLAN as literals (the IVF
    centroid-literal posture — nothing is broadcast or joined) and each
    output component is a fixed left-to-right multiply-add chain inside
    whole-stage codegen: zero shuffles, zero Python, embarrassingly
    parallel over any partitioning. Deterministic — same hash rule on
    the oracle side regenerates the identical matrix.
    """
    signs = rp_signs(in_dim, out_dim)
    inv = 1.0 / float(out_dim) ** 0.5
    return embeddings.select(
        F.col(id_col).alias(id_col), _vec(vec_col).alias("_rp_in")
    ).select(id_col, rp_project_array("_rp_in", signs, inv).alias("rp"))


def rp_project_array(vec_name: str, signs, inv: float) -> F.Column:
    """The order-sensitive multiply-add chain shared by
    :func:`random_projection` (corpus side) and the Spark-side query
    projection in ``search.vector.rp_refine_topk_many`` — ONE
    implementation so both paths stay bit-identical (the batched
    serving equality gate depends on the left-to-right fold order
    never diverging between them).

    Built as ONE ``F.expr`` over a generated SQL string rather than
    per-element Column arithmetic: the Column form issues a py4j
    round-trip per node (out_dim × in_dim × ~3 ≈ 3k driver RPCs per
    projection — measured ~4 s of pure plan-construction time per
    projection at 16×64, ~20 s for the 5 projections the batched
    serving gate builds), while the SQL string parses JVM-side in one
    call. ``a + b + c`` parses left-associative and ``-v[i]`` is the
    same UnaryMinus node, so the expression tree — and therefore every
    double — is identical to the unrolled form. The scale constant is
    ``localframe.sql_literal`` text, the exact double.
    """
    comps = []
    for row in signs:
        chain = " + ".join(
            ("-" if s <= 0 else "") + f"`{vec_name}`[{i}]"
            for i, s in enumerate(row)
        )
        comps.append(f"({chain}) * {sql_literal(inv)}")
    return F.expr("array(" + ", ".join(comps) + ")")
