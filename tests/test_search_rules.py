"""Property tests for the shared search rules.

Every search path ranks through ``hybrid.top_k`` (or ``rank_by``), fuses
through one RRF and quantizes through one int8 codec, so each rule is
checked once here against a plain Python or numpy reference:

(a) ``top_k`` without a key (orderBy + limit) and with a key (a
    per-key window), descending and ascending, equals a Python sort by
    (score rounded to 9 decimals, id) — scores that differ below 1e-9
    tie and fall to the id;
(b) ``rrf_fuse`` and ``rrf_fuse_many`` equal Σ w / (60 + rank) over the
    lists that hold a document, a document missing from a list
    contributing nothing and a whole leg possibly empty;
(c) the int8 codec (``quantize_int8`` + ``code_norm_sql`` through
    ``Int8Index.build``) equals numpy: scale max|v|/127, codes rounded
    half away from zero (a vector at scale 1 puts values on the halves),
    the zero vector at scale 0 and code_norm 0.

The profile is derandomized and small so every run checks the same
examples.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nornicdb_spark.operators.localframe import local_df
from nornicdb_spark.search import hybrid
from nornicdb_spark.search.vector import Int8Index

PROFILE = dict(
    derandomize=True,
    deadline=None,
    database=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)

# n/1000 plus a perturbation below 1e-9: equal after rounding, unequal
# before, and never near a rounding half-way point; few values of n, so
# near-ties are common
SCORES = st.builds(
    lambda n, e: n / 1000.0 + e,
    st.integers(-5, 5),
    st.sampled_from([0.0, 1e-12, -1e-12, 3e-12]),
)


@st.composite
def _scored(draw):
    n = draw(st.integers(0, 25))
    ids = draw(st.lists(st.integers(0, 999), min_size=n, max_size=n, unique=True))
    rows = [(draw(st.integers(0, 2)), i, draw(SCORES)) for i in ids]
    return rows, draw(st.integers(1, 8)), draw(st.booleans())


def _ref_order(rows, ascending):
    sign = 1 if ascending else -1
    return sorted(rows, key=lambda r: (sign * round(r[2], 9), r[1]))


@settings(max_examples=15, **PROFILE)
@given(_scored())
def test_top_k_is_the_rounded_score_then_id_rule(spark, case):
    rows, k, ascending = case
    df = local_df(spark, rows, "q int, id bigint, score double")
    want = _ref_order(rows, ascending)

    got = hybrid.top_k(df, k, "score", "id", ascending=ascending).collect()
    assert [tuple(r) for r in got] == want[:k]

    keyed = hybrid.top_k(df, k, "score", "id", by=("q",), ascending=ascending)
    got = sorted((r.q, r._rn, r.id, r.score) for r in keyed.collect())
    ref = []
    for q in sorted({r[0] for r in rows}):
        group = [r for r in want if r[0] == q][:k]
        ref += [(q, n + 1, i, s) for n, (_q, i, s) in enumerate(group)]
    assert got == ref


@st.composite
def _legs(draw):
    """Two or three ranked legs over two queries; a leg may miss any
    document and may be empty for a query."""
    legs = {}
    for name in draw(st.sampled_from([("bm", "vec"), ("bm", "vec", "x")])):
        rows = []
        for q in (1, 2):
            ids = draw(st.lists(st.integers(0, 12), max_size=8, unique=True))
            rows += [(q, d, r + 1) for r, d in enumerate(ids)]
        legs[name] = rows
    weights = {n: draw(st.sampled_from([0.5, 1.0, 1.5])) for n in legs}
    return legs, weights, draw(st.sampled_from([None, 3]))


def _ref_rrf(legs, weights, q, limit):
    docs = sorted({d for rows in legs.values() for qq, d, _r in rows if qq == q})
    out = []
    for d in docs:
        ranks = {n: next((r for qq, dd, r in rows if qq == q and dd == d), None)
                 for n, rows in legs.items()}
        score = None
        for n in legs:  # the legs' order: the engine sums left to right
            t = weights[n] / (60 + ranks[n]) if ranks[n] is not None else 0.0
            score = t if score is None else score + t
        out.append((d, *[ranks[n] for n in legs], score))
    out.sort(key=lambda r: (-round(r[-1], 9), r[0]))
    return out[:limit] if limit else out


@settings(max_examples=12, **PROFILE)
@given(_legs())
def test_rrf_is_the_weighted_reciprocal_rank_sum(spark, case):
    legs, weights, limit = case
    frames = {n: local_df(spark, rows, "query_id bigint, doc_id bigint, rank int")
              for n, rows in legs.items()}

    many = hybrid.rrf_fuse_many(frames, weights, limit=limit).collect()
    got = [(r.query_id, *tuple(r)[1:]) for r in many]
    want = [(q, *row) for q in (1, 2) for row in _ref_rrf(legs, weights, q, limit)]
    assert got == want

    one = {n: f.filter("query_id = 1").drop("query_id") for n, f in frames.items()}
    fused = hybrid.rrf_fuse(one, weights, limit=limit)
    assert fused.columns == ["doc_id", *[f"{n}_rank" for n in legs], "rrf_score"]
    assert [tuple(r) for r in fused.collect()] == _ref_rrf(legs, weights, 1, limit)


VECTORS = st.lists(
    st.floats(-10, 10, allow_nan=False, allow_infinity=False).map(lambda x: x or 0.0),
    min_size=1, max_size=6,
)


@settings(max_examples=15, **PROFILE)
@given(st.lists(VECTORS, min_size=1, max_size=6))
def test_int8_codec_matches_numpy(spark, vecs):
    # exact half-way codes at scale 1, and the zero vector
    vecs = vecs + [[127.0, 0.5, -2.5, 1.5], [0.0] * len(vecs[0])]
    df = local_df(spark, list(enumerate(vecs)), "vec_id bigint, embedding array<double>")
    got = {r.vec_id: (list(r.codes), r.code_norm)
           for r in Int8Index.build(df).codes.collect()}
    assert sorted(got) == list(range(len(vecs)))
    for i, v in enumerate(vecs):
        v = np.asarray(v, dtype=np.float64)
        scale = np.abs(v).max() / 127.0
        if scale > 0:
            q = v / scale
            codes = (np.sign(q) * np.floor(np.abs(q) + 0.5)).astype(int).tolist()
        else:
            codes = [0] * len(v)
        norm = 0.0
        for c in codes:
            norm += float(c) * float(c)
        assert got[i] == (codes, math.sqrt(norm)), (v, got[i])
    assert got[len(vecs) - 1] == ([0] * len(vecs[0]), 0.0)
