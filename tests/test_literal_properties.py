"""Property tests for the literal surface (operators/localframe.py).

Every driver value reaches a plan as ``localframe.sql_literal`` text, so
three equivalences carry the engine's results:

(a) ``local_df`` equals ``createDataFrame``: schema (names, types,
    nullability, order) and rows;
(b) ``lit_expr(v)`` equals ``F.lit(v)`` bit for bit, NaN and -0.0
    included;
(c) the generated SQL of the random projection and of the LSH signature
    equals the Column chain it replaces.

The profile is derandomized and small so the suite stays fast and every
run checks the same examples.
"""

from __future__ import annotations

import struct

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nornicdb_spark.operators.localframe import lit_expr, local_df

PROFILE = dict(
    derandomize=True,
    deadline=None,
    database=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)

NAN = float("nan")
# every double, the canonical NaN among them (the renderer spells every
# NaN as 'NaN'; a payload-carrying NaN has no distinct SQL spelling)
DOUBLES = st.floats(allow_nan=False) | st.just(NAN) | st.just(-0.0)
FINITE = st.floats(min_value=-1e6, max_value=1e6) | st.just(-0.0)


def _bits(v):
    """Value with every double replaced by its IEEE bit pattern, so that
    NaN equals NaN and -0.0 differs from 0.0."""
    if isinstance(v, float):
        return struct.pack(">d", v)
    if isinstance(v, (list, tuple)):
        return tuple(_bits(x) for x in v)
    return v


# -- (a) local_df == createDataFrame ---------------------------------------

_COLUMN = {
    "bigint": st.integers(-(2**63), 2**63 - 1),
    "int": st.integers(-(2**31), 2**31 - 1),
    "double": DOUBLES,
    "string": st.text(st.characters() | st.sampled_from("'\\\"%_\n"), max_size=8),
    "boolean": st.booleans(),
    "array<double>": st.lists(DOUBLES | st.none(), max_size=4),
    "array<string>": st.lists(st.text(max_size=4), max_size=3),
}


@st.composite
def _schema_rows(draw):
    """(data, schema): an explicit schema with tuple or dict rows (dict
    rows may miss keys), or schema-less dict rows for inference."""
    n = draw(st.integers(1, 3))
    names = draw(
        st.lists(st.sampled_from("abcdefg"), min_size=n, max_size=n, unique=True)
    )
    if draw(st.booleans()):
        types = [draw(st.sampled_from(sorted(_COLUMN))) for _ in names]
        cols = [_COLUMN[t] | st.none() for t in types]
        rows = draw(st.lists(st.tuples(*cols), max_size=4))
        if draw(st.booleans()):
            rows = [{k: x for k, x in zip(names, r) if x is not None} for r in rows]
        return rows, ", ".join(f"{k} {t}" for k, t in zip(names, types))
    # inference: scalar columns, one python type each, never all None
    scalars = st.sampled_from(["bigint", "double", "string", "boolean"])
    types = [draw(scalars) for _ in names]
    first = {k: draw(_COLUMN[t]) for k, t in zip(names, types)}
    optional = {k: _COLUMN[t] for k, t in zip(names, types)}
    more = draw(st.lists(st.fixed_dictionaries({}, optional=optional), max_size=3))
    return [first, *more], None


@settings(max_examples=25, **PROFILE)
@given(_schema_rows())
def test_local_df_equals_createDataFrame_property(spark, case):
    data, schema = case
    got = local_df(spark, data, schema)
    want = spark.createDataFrame(data, schema)
    assert got.schema == want.schema
    assert [_bits(tuple(r)) for r in got.collect()] == [
        _bits(tuple(r)) for r in want.collect()
    ]


# -- (b) lit_expr(v) == F.lit(v) --------------------------------------------

_VECTOR = st.lists(DOUBLES, min_size=1, max_size=6)
_MATRIX = st.lists(st.lists(DOUBLES, max_size=4), min_size=1, max_size=4)


@settings(max_examples=40, **PROFILE)
@given(_VECTOR | _MATRIX)
def test_lit_expr_equals_F_lit(spark, value):
    df = spark.range(1).select(lit_expr(value).alias("a"), F.lit(value).alias("b"))
    a, b = df.schema.fields
    assert a.dataType.simpleString() == b.dataType.simpleString()
    row = df.head()
    assert _bits(row.a) == _bits(row.b) == _bits(value)


# -- (c) generated SQL == Column chain --------------------------------------


def _vectors(dim):
    vec = st.lists(FINITE, min_size=dim, max_size=dim)
    return st.lists(vec, min_size=1, max_size=4)


@st.composite
def _projection_case(draw):
    in_dim, out_dim = draw(st.integers(1, 12)), draw(st.integers(1, 6))
    return in_dim, out_dim, draw(_vectors(in_dim))


@settings(max_examples=8, **PROFILE)
@given(_projection_case())
def test_random_projection_sql_equals_column_chain(spark, case):
    from nornicdb_spark.operators.quantize import random_projection, rp_signs

    in_dim, out_dim, vecs = case
    df = local_df(spark, list(enumerate(vecs)), "id bigint, v array<double>")
    inv = 1.0 / float(out_dim) ** 0.5
    comps = []
    for row in rp_signs(in_dim, out_dim):
        acc = None
        for i, s in enumerate(row):
            term = F.col("v")[i] if s > 0 else -F.col("v")[i]
            acc = term if acc is None else acc + term
        comps.append(acc * F.lit(inv))
    want = df.select("id", F.array(*comps).alias("rp")).orderBy("id").collect()
    got = random_projection(df, in_dim, out_dim, id_col="id", vec_col="v")
    got = got.orderBy("id").collect()
    assert [_bits(tuple(r)) for r in got] == [_bits(tuple(r)) for r in want]


@st.composite
def _signature_case(draw):
    dim = draw(st.integers(1, 12))
    n_bands, per_band = draw(st.integers(1, 4)), draw(st.integers(1, 4))
    seed = draw(st.integers(0, 2**31 - 1))
    return dim, n_bands * per_band, n_bands, seed, draw(_vectors(dim))


@settings(max_examples=8, **PROFILE)
@given(_signature_case())
def test_lsh_signature_sql_equals_column_chain_property(spark, case):
    from nornicdb_spark.search.vector import RandomHyperplaneLSH, dot

    dim, n_bits, n_bands, seed, vecs = case
    lsh = RandomHyperplaneLSH.build(dim, n_bits=n_bits, n_bands=n_bands, seed=seed,
                                    id_col="id", vec_col="v")
    v = F.col("v").cast("array<double>")
    bits = [
        F.when(dot(v, F.lit([float(x) for x in row])) >= 0, 1).otherwise(0)
        for row in lsh.planes
    ]
    per_band = n_bits // n_bands
    bands = []
    for b in range(n_bands):
        acc = F.lit(0)
        for j in range(per_band):
            acc = acc * 2 + bits[b * per_band + j]
        bands.append(acc)
    df = local_df(spark, list(enumerate(vecs)), "id bigint, v array<double>")
    rows = df.select(
        lsh.signature_col().alias("sql"), F.array(*bands).alias("chain")
    ).collect()
    assert all(r.sql == r.chain for r in rows)
