"""Edge-case unit tests for the round-3 pipeline operators: as-of join,
duplicate-cluster canonicalization, chunking, repetition, contamination."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from nornicdb_spark.operators import dedup, textops
from nornicdb_spark.operators.asof import asof_join


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_asof_backward_ties_and_misses(spark):
    left = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01 10:00:00")),  # before any right row
            (2, 1, _ts("2024-01-01 12:00:00")),  # tie with right at 12:00
            (3, 1, _ts("2024-01-01 15:00:00")),  # after both right rows
            (4, 2, _ts("2024-01-01 12:00:00")),  # key with no right rows
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 12:00:00"), 10.0),
            (1, _ts("2024-01-01 13:00:00"), 20.0),
        ],
        "user_id long, ts timestamp, v double",
    )
    out = {
        r["event_id"]: (r["right_ts"], r["right_v"])
        for r in asof_join(left, right, on="user_id").collect()
    }
    assert out[1] == (None, None)            # nothing at-or-before
    assert out[2] == (_ts("2024-01-01 12:00:00"), 10.0)  # tie matches
    assert out[3] == (_ts("2024-01-01 13:00:00"), 20.0)  # latest prior
    assert out[4] == (None, None)            # key absent on right


def test_asof_tolerance_voids_stale_matches(spark):
    left = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01 12:00:00"))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), 1.0)],
        "user_id long, ts timestamp, v double",
    )
    ok = asof_join(left, right, on="user_id", tolerance_seconds=3 * 3600)
    assert ok.collect()[0]["right_v"] == 1.0
    stale = asof_join(left, right, on="user_id", tolerance_seconds=3600)
    assert stale.collect()[0]["right_v"] is None


def test_duplicate_clusters_transitive(spark):
    # a-b, b-c chain plus isolated pair d-e: two components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chunking_windows_and_short_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(60))),
            (2, "one two"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = textops.chunk_documents(docs, chunk_tokens=50, stride=25).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_no"], r["n_tokens"]))
    assert sorted(by_doc[1]) == [(0, 50), (1, 35), (2, 10)]
    assert by_doc[2] == [(0, 2)]
    assert 3 not in by_doc  # empty doc yields no chunks


def test_repetition_ratios_known_values(spark):
    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in textops.repetition_ratios(docs).collect()}
    # doc 1: words [a,a,a,b] → dup_word 1-2/4; bigrams [a a, a a, a b]
    # → dup_bigram 1-2/3, top run 2/3
    assert abs(got[1]["dup_word_ratio"] - 0.5) < 1e-9
    assert abs(got[1]["dup_bigram_ratio"] - (1 - 2 / 3)) < 1e-9
    assert abs(got[1]["top_bigram_frac"] - 2 / 3) < 1e-9
    assert got[2]["dup_word_ratio"] == 0.0
    assert got[2]["top_bigram_frac"] == 0.5  # 2 distinct bigrams, runs of 1


def test_contamination_counts_distinct_shared_grams(spark):
    probe = spark.createDataFrame(
        [(0, "p q r s t")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (100, "p q r s x p q r s"),  # shares 'p q r s' and 'q r s ?' no
            (101, "a b c d"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_shared"]
        for r in textops.contamination_overlap(docs, probe, n=4).collect()
    }
    # probe 4-grams: {p q r s, q r s t}; doc 100 grams include 'p q r s'
    # (twice → counted once) and 'q r s x', 'r s x p', ... → 1 shared
    assert got == {100: 1}


def test_temperature_resample_flattens_toward_small_sources(spark):
    # 3 sources with 4/16/64 docs, alpha=0.5: keep rates 1, 1/2, 1/4 —
    # kept counts ∝ n^0.5 (≈ 4/8/16 up to hash-acceptance noise), the
    # smallest source kept whole, and every rate exactly (n_min/n_s)^0.5.
    rows = [
        (s_i * 1000 + i, f"s{s_i}", "doc text")
        for s_i, n in enumerate([4, 16, 64])
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.source: r
        for r in textops.temperature_resample(docs, alpha=0.5).collect()
    }
    assert got["s0"].rate == pytest.approx(1.0)
    assert got["s1"].rate == pytest.approx(0.5)
    assert got["s2"].rate == pytest.approx(0.25)
    assert got["s0"].n_kept == 4          # rate 1 keeps everything
    assert got["s1"].n_kept <= 16 and got["s2"].n_kept <= 64


def test_mixture_plan_weights_sum_to_one(spark):
    rows = [
        (s_i * 1000 + i, f"s{s_i}", "w " * (10 * (s_i + 1)))
        for s_i in range(3)
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = textops.mixture_plan(docs, alpha=0.5).collect()
    assert sum(r.weight for r in out) == pytest.approx(1.0, abs=1e-6)
    # epochs > 1 for under-represented sources, < 1 for over-represented
    by = {r.source: r for r in out}
    assert by["s0"].epochs > 1.0 > by["s2"].epochs


def test_split_contamination_detects_seeded_leak(spark):
    # find a (train, test) doc-id pair under the deterministic split,
    # give them identical text, and give every other doc disjoint vocab:
    # exactly the leaked test doc must be reported.
    from nornicdb_spark.operators.textops import split_assign

    base = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    sp = {r.doc_id: r.split for r in split_assign(base).collect()}
    train_id = next(i for i in range(60) if sp[i] == "train")
    test_id = next(i for i in range(60) if sp[i] == "test")
    leaked = "alpha beta gamma delta epsilon zeta"
    rows = [
        (i, leaked if i in (train_id, test_id) else f"tok{i}a tok{i}b tok{i}c tok{i}d tok{i}e")
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n_shared for r in textops.split_contamination(docs, n=4).collect()}
    assert got == {test_id: 3}  # 6 words → three 4-grams, all shared


def test_quantize_int8_roundtrip_bound(catalog):
    # max reconstruction error of symmetric int8 quantization is half a
    # quantization step (scale/2); dequantize must invert codes exactly
    from pyspark.sql import functions as F

    from nornicdb_spark.operators import quantize

    emb = catalog.embeddings
    err = quantize.quantization_error(emb).filter(F.col("scale") > 0)
    n = err.count()
    assert n > 0
    assert err.filter(F.col("bound_ok") == 0).count() == 0
    q = quantize.quantize_int8(emb)
    # codes stay in int8 range
    rng = q.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
    ).collect()[0]
    assert -127 <= rng.lo and rng.hi <= 127
    dq = quantize.dequantize(q)
    joined = dq.join(
        emb.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_v")),
        "vec_id",
    )
    worst = joined.select(
        F.array_max(
            F.zip_with(F.col("vec"), F.col("_v"), lambda a, b: F.abs(a - b))
        ).alias("e"),
        F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x))).alias("mx"),
    )
    bad = worst.filter(F.col("e") > F.col("mx") / 127.0 / 2 + 1e-12).count()
    assert bad == 0


def test_dup_spans_merges_overlaps_and_splits_on_gaps(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),            # shares "c d e" with doc 2
            (2, "q r c d e s"),
            (3, "p q r p q r p q r"),      # self-repeating: one whole-doc span
            (4, "c d e m n o x c d e"),    # gap 7 > min_len: two spans
            (6, "c d e c d e"),            # gap 3 == min_len: merges
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start): (r.span_len, r.n_windows)
        for r in textops.dup_spans(docs, min_len=3).collect()
    }
    assert got == {
        (1, 2): (3, 1),
        (2, 2): (3, 1),
        (3, 0): (9, 7),
        (4, 0): (3, 1),
        (4, 7): (3, 1),
        (6, 0): (6, 2),
    }


def test_bigram_logprob_hand_case(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "z")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textops.bigram_logprob(docs).collect()}
    # doc 4 has a single token -> no bigram positions -> drops
    assert set(rows) == {1, 2, 3}
    # counts: a=3 b=2 c=1 z=1, total=7; c12(a,b)=2, c12(a,c)=1
    p_b_a = 0.9 * 2 / 3 + 0.1 * 2 / 7
    p_c_a = 0.9 * 1 / 3 + 0.1 * 1 / 7
    assert rows[1].n_bigrams == 1
    assert rows[1].mean_logprob == pytest.approx(round(math.log(p_b_a), 9))
    assert rows[2].mean_logprob == rows[1].mean_logprob
    assert rows[3].mean_logprob == pytest.approx(round(math.log(p_c_a), 9))


def test_random_projection_matches_manual_dot(spark):
    from nornicdb_spark.operators.quantize import random_projection, rp_signs

    emb = spark.createDataFrame(
        [(1, [3.0, 4.0, -2.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    signs = rp_signs(3, 2)
    got = {r.vec_id: r.rp for r in random_projection(emb, 3, 2).collect()}
    inv = 1.0 / 2 ** 0.5
    for j in range(2):
        want = sum(s * x for s, x in zip(signs[j], [3.0, 4.0, -2.0])) * inv
        assert got[1][j] == pytest.approx(want, abs=1e-12)
        assert got[2][j] == 0.0


def test_approx_distinct_gate_exact_and_bound(spark):
    from nornicdb_spark.operators import sketches

    df = spark.createDataFrame(
        [("a", i % 7) for i in range(100)] + [("b", i) for i in range(50)],
        "g string, v long",
    )
    got = {r.g: (r.exact_distinct, r.ok) for r in
           sketches.approx_distinct_gate(df, "g", "v").collect()}
    assert got == {"a": (7, 1), "b": (50, 1)}


def test_approx_quantile_gate_exact_and_bound(spark):
    from nornicdb_spark.operators import sketches

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 102)],  # median = 51
        "g string, v double",
    )
    got = sketches.approx_quantile_gate(df, "g", "v").collect()
    assert len(got) == 1
    assert got[0].exact_q == 51.0
    assert got[0].ok == 1


def test_salted_distinct_count_exact_on_hot_key(spark):
    from nornicdb_spark.operators import skew

    # one hot key holding 90% of rows, values with duplicates
    df = spark.createDataFrame(
        [("hot", i % 61) for i in range(900)]
        + [("cold", i % 7) for i in range(100)],
        "k string, v long",
    )
    got = {r.k: r.distinct_count for r in
           skew.salted_distinct_count(df, "k", "v", n_salt=16).collect()}
    assert got == {"hot": 61, "cold": 7}


def test_salted_join_row_identical_to_plain_join(spark):
    from nornicdb_spark.operators import skew

    left = spark.createDataFrame(
        [(i % 3, i, float(i)) for i in range(200)], "k long, rid long, x double"
    )
    right = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, "c"), (5, "z")], "k long, tag string"
    )
    plain = {(r.k, r.rid, r.tag) for r in left.join(right, "k").collect()}
    salted = {
        (r.k, r.rid, r.tag)
        for r in skew.salted_join(left, right, "k", n_salt=4, salt_by="rid").collect()
    }
    # k=0: 67 left rows x 2 tags; k=1: 67 x 1; k=2: 66 x 0 -> 201
    assert salted == plain and len(salted) == 201
    with pytest.raises(ValueError, match="salt_by"):
        skew.salted_join(left, right, "k")


def test_mask_dup_spans_removes_exact_spans(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),       # span (2,3): "c d e" removed
            (2, "q r c d e s"),
            (3, "p q r p q r p q r"),  # fully duplicated: emptied
            (7, "unique words only here"),  # untouched
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.clean_text, r.n_removed) for r in
           textops.mask_dup_spans(docs, min_len=3).collect()}
    assert got == {
        1: ("a b f", 3),
        2: ("q r s", 3),
        3: ("", 9),
        7: ("unique words only here", 0),
    }


def test_tfidf_vectors_hand_case(spark):
    import math

    from nornicdb_spark.operators.dedup import h60  # noqa: F401 (convention ref)
    import hashlib

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry")],
        "doc_id long, text string",
    )
    k = 8
    got = {r.doc_id: r.vec for r in
           textops.tfidf_vectors(docs, k=k).collect()}
    assert set(got) == {1, 2} and all(len(v) == k for v in got.values())

    def dim(word):
        return int(hashlib.md5(f"tfidf:{word}".encode()).hexdigest()[:15], 16) % k

    # N=2; df: apple 1, banana 2, cherry 1
    idf = {"apple": math.log(3 / 2), "banana": math.log(3 / 3), "cherry": math.log(3 / 2)}
    tf1 = {"apple": 2, "banana": 1}
    exp1 = [0.0] * k
    for w, t in tf1.items():
        exp1[dim(w)] += t * idf[w]
    for j in range(k):
        assert got[1][j] == pytest.approx(round(exp1[j], 9), abs=1e-9)
    # banana is in every doc -> idf 0 -> doc 2 has weight only on cherry
    assert got[2][dim("cherry")] == pytest.approx(round(idf["cherry"], 9))
    assert sum(1 for x in got[2] if x != 0.0) == (1 if dim("banana") != dim("cherry") else 1)


def test_dup_spans_matches_python_bruteforce_on_random_corpora(spark):
    # cross-check the whole pipeline (window hash -> count -> semi-join
    # -> island merge) against an independent pure-Python reference on
    # seeded random corpora with heavy phrase reuse
    import random

    L = 4
    for seed in (7, 23, 99):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]  # tiny vocab -> many dups
        docs_py = {
            d: [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
            for d in range(12)
        }
        # brute force: count every L-window across the corpus
        from collections import Counter

        wins = Counter()
        for toks in docs_py.values():
            for i in range(len(toks) - L + 1):
                wins[tuple(toks[i : i + L])] += 1
        expect = set()
        for d, toks in docs_py.items():
            pos = [
                i
                for i in range(len(toks) - L + 1)
                if wins[tuple(toks[i : i + L])] >= 2
            ]
            # island merge with gap <= L
            while pos:
                start = pos[0]
                end = start
                n = 1
                rest = pos[1:]
                while rest and rest[0] - end <= L:
                    end = rest[0]
                    n += 1
                    rest = rest[1:]
                expect.add((d, start, end + L - start, n))
                pos = rest
        docs = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in docs_py.items()],
            "doc_id long, text string",
        )
        got = {
            (r.doc_id, r.span_start, r.span_len, r.n_windows)
            for r in textops.dup_spans(docs, min_len=L).collect()
        }
        assert got == expect, f"seed {seed}: {got ^ expect}"


def test_approx_quantile_gate_ignores_nulls(spark):
    # NULL rows must not shift the rank target (the sketch and the rank
    # sums both ignore them) — regression for the review finding
    from nornicdb_spark.operators import sketches

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 101)]
        + [("a", None)] * 100,
        "g string, v double",
    )
    got = sketches.approx_quantile_gate(df, "g", "v").collect()[0]
    assert got.exact_q == 50.5 and got.ok == 1


def test_weighted_sample_matches_python_reference(spark):
    import hashlib

    rows = [(i, float(1 + i % 5)) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, w double")

    def key(i, w):
        u = (int(hashlib.md5(f"ws:{i}".encode()).hexdigest()[:15], 16) + 1.0) / (
            1 << 60
        )
        return round(u ** (1.0 / w), 9)

    expect = sorted(
        ((key(i, w), i) for i, w in rows), key=lambda t: (-t[0], t[1])
    )[:10]
    got = [
        (r.key, r.doc_id)
        for r in textops.weighted_sample(docs, n=10, weight_col="w").collect()
    ]
    assert got == [(k, i) for k, i in expect]
    # zero/negative weights are excluded, not errors
    docs2 = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 2.0)], "doc_id long, w double"
    )
    out = textops.weighted_sample(docs2, n=10, weight_col="w").collect()
    assert [r.doc_id for r in out] == [3]


def test_weighted_sample_per_group_quota_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, "s%d" % (i % 3), float(1 + i % 4)) for i in range(60)],
        "doc_id long, src string, w double",
    )
    out = textops.weighted_sample_per_group(
        docs, n_per_group=5, weight_col="w", group_col="src"
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r.src, []).append(r.doc_id)
    assert set(by) == {"s0", "s1", "s2"} and all(len(v) == 5 for v in by.values())
    # deterministic: a second run returns the identical selection
    again = textops.weighted_sample_per_group(
        docs, n_per_group=5, weight_col="w", group_col="src"
    ).collect()
    assert {(r.src, r.doc_id) for r in again} == {(r.src, r.doc_id) for r in out}


def test_optional_expand_rejoins_on_the_bound_id(graph):
    """OPTIONAL MATCH keeps each lhs row once per match: duplicate lhs
    rows stay duplicates, and a NULL in another lhs column does not drop
    the match. Nation 8 has one supplier at sf0.001."""
    from nornicdb_spark.operators.expand import match_nodes, optional_expand

    nation = match_nodes(graph, "n", "Nation").filter(F.col("n_key") == 8)

    def suppliers(frame):
        return [r.s_key for r in optional_expand(
            graph, frame, "n", "e", "s", rel_types=("FROM",), direction="in",
            dst_label="Supplier",
        ).collect()]

    (only,) = suppliers(nation)
    assert only is not None
    assert suppliers(nation.unionByName(nation)) == [only, only]
    assert suppliers(nation.withColumn("n_note", F.lit(None).cast("string"))) == [only]
