"""Streaming + Kalman tests: structured-streaming results must equal the
batch computation; Kalman UDFs must match a pure-Python reference chain.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nornicdb_spark.streaming import kalman, structured


def test_windowed_counts_stream_equals_batch(spark, sf_dir, catalog):
    stream = structured.read_events_stream(spark, sf_dir)
    agg = structured.windowed_event_counts(stream, window="15 minutes")
    got = structured.run_to_completion(agg, "win_counts").collect()

    batch = (
        catalog.events.groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got_map = {(r.window_start, r.event_type): r.n for r in got}
    want_map = {(r.window.start, r.event_type): r.n for r in batch}
    assert got_map == want_map


def test_session_window_stream_runs(spark, sf_dir):
    stream = structured.read_events_stream(spark, sf_dir)
    stats = structured.session_window_stats(stream, gap="30 minutes")
    out = structured.run_to_completion(stats, "sess_stats")
    assert out.count() > 0
    r = out.filter(F.col("n_events") <= 0).count()
    assert r == 0


def _python_kalman(values, q=0.0001, r=88.0, p0=30.0):
    x = last_x = 0.0
    p = p0
    out = []
    for z in values:
        v = x - last_x
        x += v
        last_x = x
        p = p + q
        k = p / (p + r)
        x += k * (z - x)
        p = (1 - k) * p
        out.append(x)
    return out


def test_kalman_smooth_matches_reference_chain(spark, catalog):
    ev = catalog.events.filter(F.col("user_id") == 1)
    rows = ev.orderBy("ts", "event_id").collect()
    expected = _python_kalman([r.value for r in rows])
    got = (
        kalman.kalman_smooth(ev)
        .orderBy("ts")
        .collect()
    )
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        assert g.filtered == pytest.approx(e, rel=1e-12)


def test_kalman_velocity_tracks_trend(spark):
    # a pure linear ramp: velocity estimate should converge near the slope
    rows = [(1, f"2024-01-01 00:{m:02d}:00", float(m) * 2.0, m) for m in range(30)]
    df = spark.createDataFrame(
        rows, "user_id long, ts_s string, value double, event_id long"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    out = kalman.kalman_velocity(df).orderBy("ts").collect()
    assert out[-1].vel == pytest.approx(2.0, abs=0.2)
    assert out[-1].pos == pytest.approx(58.0, abs=1.0)


def test_kalman_adaptive_switches_modes(spark):
    # flat → steep ramp → flat: the filter must start in basic mode,
    # switch to velocity during the ramp (|trend| > 0.1 after the
    # 10-obs hysteresis), and the filtered trace must track the ramp
    # (reference kalman_functions.go:841-905 switching rules).
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    vals = [5.0] * 15 + [5.0 + 3.0 * i for i in range(1, 26)] + [80.0] * 15
    rows = [
        (1, i, base + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    out = kalman.kalman_adaptive(df).orderBy("ts").collect()
    modes = [r.mode for r in out]
    assert modes[0] == "basic"
    assert "velocity" in modes  # the ramp triggers the switch
    # during the late ramp the velocity filter tracks closely
    ramp_tail = [r for r in out if 30 <= out.index(r) < 40]
    for r in ramp_tail:
        assert abs(r.filtered - r.value) < 15.0
    assert len(out) == len(vals)


def test_stateful_access_tracker_state_persists_across_batches(spark, tmp_path):
    # applyInPandasWithState keyed state: two files = two micro-batches;
    # the second batch must see the first's (count, last_access) state —
    # access_count accumulates and score_before shows the decayed value
    # (reference temporal tracker + decay Reinforce semantics).
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    b1 = [(1, base + dt.timedelta(hours=i)) for i in range(3)]
    b2 = [(1, base + dt.timedelta(days=30))]  # 30-day gap → visible decay
    src = str(tmp_path / "events_src")
    spark.createDataFrame(b1, "user_id long, ts timestamp").coalesce(1) \
        .write.parquet(src + "/f1.parquet")
    spark.createDataFrame(b2, "user_id long, ts timestamp").coalesce(1) \
        .write.parquet(src + "/f2.parquet")

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(src + "/*")
    )
    out = structured.stateful_access_tracker(stream, tier="SEMANTIC")
    q = (
        out.writeStream.outputMode("update").format("memory")
        .queryName("acc_tracker").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM acc_tracker ORDER BY access_count"
    ).collect()
    assert [r.access_count for r in rows] == [3, 4]  # state carried over
    final = rows[-1]
    # decayed recency after 30d (half-life 69d) < 1 → before < after
    assert final.score_before < final.score_after
    assert 0.0 < final.score_before < 1.0


# ---- golden-vector tests (VERDICT r4 #6) -----------------------------------
# Hand-unrolled recurrences with the reference defaults
# (kalman_functions.go:206-232 scalar, :221-232 velocity, :234-250
# adaptive) over a short fixed series. The constants below are pinned —
# NOT recomputed by a twin implementation — so an accidental formula edit
# in streaming/kalman.py fails these even if a reimplementation would
# drift along with it.

_GOLD_SERIES = [1.0, 2.0, 3.0, 2.5, 4.0]
_GOLD_SCALAR = [
    0.254237920137, 0.810813495247, 1.431162331961,
    1.857467279503, 2.222182557027,
]
_GOLD_VEL = [
    (0.990999099910, 0.090009000900),
    (1.919251578390, 0.832887938432),
    (2.953338607798, 0.949140124713),
    (2.915635136465, 0.536191389578),
    (3.791925168090, 0.647806276939),
]
# adaptive on z = 1..12 with trend_threshold=0.1, stability=0.02,
# hysteresis=3: basic for 2 steps, switches to velocity at step 3
_GOLD_ADAPTIVE = [
    (0.254237920137, "basic"), (0.810813495247, "basic"),
    (1.431162331961, "velocity"), (3.979740535677, "velocity"),
    (4.956097281418, "velocity"), (5.977523010764, "velocity"),
    (6.987561713793, "velocity"), (7.992570152212, "velocity"),
    (8.995340023860, "velocity"), (9.996998861755, "velocity"),
    (10.998051030289, "velocity"), (11.998744698639, "velocity"),
]


def _series_df(spark, values):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, i, base + dt.timedelta(minutes=i), v) for i, v in enumerate(values)
    ]
    return spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )


def test_kalman_smooth_golden(spark):
    out = kalman.kalman_smooth(_series_df(spark, _GOLD_SERIES)).orderBy("ts").collect()
    assert [r.filtered for r in out] == pytest.approx(_GOLD_SCALAR, rel=1e-9)


def test_kalman_velocity_golden(spark):
    out = kalman.kalman_velocity(_series_df(spark, _GOLD_SERIES)).orderBy("ts").collect()
    assert [r.pos for r in out] == pytest.approx([p for p, _ in _GOLD_VEL], rel=1e-9)
    assert [r.vel for r in out] == pytest.approx([v for _, v in _GOLD_VEL], rel=1e-9)


def test_kalman_adaptive_golden(spark):
    out = (
        kalman.kalman_adaptive(
            _series_df(spark, [float(i) for i in range(1, 13)]), hysteresis=3
        )
        .orderBy("ts")
        .collect()
    )
    assert [r.filtered for r in out] == pytest.approx(
        [f for f, _ in _GOLD_ADAPTIVE], rel=1e-9
    )
    assert [r.mode for r in out] == [m for _, m in _GOLD_ADAPTIVE]


def test_stream_near_dup_matches_batch(spark, sf_dir):
    # the incremental (stream-static) near-dup join must produce exactly
    # the cross-split subset of the batch MinHash pipeline's pairs
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.operators import dedup
    from nornicdb_spark.queries.temporal import stream_dedup_near_dup

    got = {
        (r.stream_doc, r.corpus_doc)
        for r in stream_dedup_near_dup(spark, sf_dir).collect()
    }
    docs = Catalog(spark, sf_dir).documents
    batch = dedup.minhash_near_duplicates(docs, threshold=0.5).collect()
    want = set()
    for r in batch:
        for s, c in ((r.a, r.b), (r.b, r.a)):
            if s % 5 == 0 and c % 5 != 0:
                want.add((s, c))
    # band keys are identical; the only semantic delta is distinct-h vs
    # distinct-shingle Jaccard, which cannot flip a pair across 0.5 here
    assert got == want and len(got) > 0


def test_co_access_hot_window_cap_bounds_quadratic(spark):
    # one hot window with 10k active keys must NOT generate C(10k,2)≈50M
    # join rows: with max_keys_per_window=50 only C(50,2)=1225 pairs can
    # survive. A second, cool window (20 keys) must come through exact.
    from datetime import datetime, timedelta

    from nornicdb_spark.streaming import sessions

    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = [(k, base, 0) for k in range(10_000)]  # hot: 10k keys, 1 window
    cool = [
        (100_000 + k, base + timedelta(hours=2 + h), 0)
        for k in range(20)
        for h in range(3)  # 20 keys active in 3 windows each
    ]
    ev = spark.createDataFrame(
        rows + cool, "user_id long, ts timestamp, event_id long"
    )
    out = sessions.co_access_pairs(
        ev, window_seconds=3600, min_shared=1, max_keys_per_window=50
    )
    got = out.collect()
    hot = [r for r in got if r.a < 100_000]
    cool_pairs = [r for r in got if r.a >= 100_000]
    assert len(hot) == 50 * 49 // 2  # capped, not 10k*9999/2
    assert len(cool_pairs) == 20 * 19 // 2  # under-cap window untouched
    assert all(r.shared_windows == 3 and r.confidence == 1.0 for r in cool_pairs)


def test_co_access_min_shared_prefilter_is_exact(spark):
    # the n_windows >= min_shared pre-prune must not change results vs
    # the uncapped/unpruned quadratic on a small exact instance
    from datetime import datetime, timedelta

    from nornicdb_spark.streaming import sessions

    base = datetime(2024, 1, 1)
    rows = []
    for k in range(12):
        for h in range(k % 5 + 1):  # key k active in (k%5)+1 windows
            rows.append((k, base + timedelta(hours=h * 2), 0))
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    capped = sessions.co_access_pairs(ev, min_shared=2, max_keys_per_window=4096)
    plain = sessions.co_access_pairs(ev, min_shared=2, max_keys_per_window=None)
    a = sorted((r.a, r.b, r.shared_windows, r.confidence) for r in capped.collect())
    b = sorted((r.a, r.b, r.shared_windows, r.confidence) for r in plain.collect())
    assert a == b and len(a) > 0


def test_maintained_band_index_cross_batch_dedup(spark, tmp_path):
    # the 100 TB ingest loop (SCALING.md "maintained banded index"): a
    # doc ACCEPTED in batch 1 must be probe-able in batch 2 — the
    # foreachBatch upsert appends accepted docs' band/hash rows, so the
    # index is maintained, not a frozen snapshot.
    from nornicdb_spark.streaming.neardup import MaintainedBandIndex

    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_b = "one two three four five six seven eight nine ten eleven twelve"
    corpus = spark.createDataFrame([(1, text_a)], "doc_id long, text string")
    idx = MaintainedBandIndex(
        spark, str(tmp_path / "ndidx"), threshold=0.5
    )
    idx.bootstrap(corpus)

    src = str(tmp_path / "docs_src")
    # batch 1: doc 10 = near-dup of corpus doc 1 (reject), doc 11 = novel
    spark.createDataFrame(
        [(10, text_a + " lambda"), (11, text_b)], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/b1.parquet")

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        src + "/*"
    )
    q = idx.ingest(stream, "nd_ingest_test")
    try:
        q.processAllAvailable()
        m1 = {(r.stream_doc, r.corpus_doc) for r in idx.matches().collect()}
        assert m1 == {(10, 1)}  # 11 is novel and must be accepted

        # batch 2: doc 20 = near-dup of the batch-1-ACCEPTED doc 11
        spark.createDataFrame(
            [(20, text_b + " thirteen")], "doc_id long, text string"
        ).coalesce(1).write.parquet(src + "/b2.parquet")
        q.processAllAvailable()
        m2 = {(r.stream_doc, r.corpus_doc) for r in idx.matches().collect()}
        assert m2 == {(10, 1), (20, 11)}  # batch-2 match against batch-1 doc
    finally:
        q.stop()
    # the index holds exactly the bootstrap + accepted docs (10, 20 rejected)
    docs_in_index = {
        r.doc for r in spark.read.parquet(idx.hashes_path).collect()
    }
    assert docs_in_index == {1, 11}


def test_maintained_band_index_hot_bucket_cap(spark, tmp_path):
    # hub-cap discipline for the maintained index: a massive duplicate
    # cluster (identical text -> identical band keys) must not make the
    # bands table hold more than max_per_bucket rows per bucket, batch
    # appends must respect remaining headroom, and a probing near-dup
    # must STILL match (the retained sample represents the cluster).
    from pyspark.sql import functions as F

    from nornicdb_spark.streaming.neardup import MaintainedBandIndex

    text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(i, text) for i in range(200)], "doc_id long, text string"
    )
    idx = MaintainedBandIndex(
        spark, str(tmp_path / "hotidx"), threshold=0.5, max_per_bucket=16
    )
    idx.bootstrap(corpus)
    occ = (
        spark.read.parquet(idx.bands_path)
        .groupBy("band", "band_key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert occ <= 16
    # hash rows exist only for docs that kept >= 1 band row
    n_hashes = spark.read.parquet(idx.hashes_path).count()
    assert n_hashes <= 16  # all 200 docs share every bucket

    # a probing near-dup of the cluster still matches retained members
    probe = spark.createDataFrame(
        [(900, text + " tonight")], "doc_id long, text string"
    )
    assert idx.probe(probe).count() > 0

    # append path: a NOVEL 50-doc cluster in a batch must cap at first
    # fill (occupancy 0 -> keep 16 per bucket), exactly like bootstrap
    novel = "pack my box with five dozen liquor jugs for the long trip home"
    batch2 = spark.createDataFrame(
        [(2000 + i, novel) for i in range(50)], "doc_id long, text string"
    )
    idx.process_batch(batch2, batch_id=7)
    occ2 = (
        spark.read.parquet(idx.bands_path)
        .groupBy("band", "band_key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert occ2 <= 16

    # headroom mechanics (unit): with 10 of 16 slots already occupied,
    # an appended cluster keeps exactly 6 rows per bucket
    rows = idx._rows(
        spark.createDataFrame(
            [(5000 + i, novel) for i in range(30)], "doc_id long, text string"
        )
    )
    headroom = rows.select("band", "band_key").distinct().withColumn(
        "_occ", F.lit(10)
    )
    kept = idx._bucket_cap(rows, headroom=headroom)
    per_bucket = {
        (r.band, r.band_key): r["count"]
        for r in kept.groupBy("band", "band_key").count().collect()
    }
    assert per_bucket and all(v == 6 for v in per_bucket.values())


def test_maintained_band_index_fresh_path_ingest(spark, tmp_path):
    # ingest() on a fresh path with NO bootstrap must not crash: missing
    # bands/hashes tables read as empty, the first batch seeds the index,
    # and the second batch matches against batch-1-accepted docs.
    from nornicdb_spark.streaming.neardup import MaintainedBandIndex

    text = "the rain in spain stays mainly on the plain every single day"
    idx = MaintainedBandIndex(spark, str(tmp_path / "fresh"), threshold=0.5)
    src = str(tmp_path / "fresh_src")
    spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/b1.parquet")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        src + "/*"
    )
    q = idx.ingest(stream, "nd_fresh_test")
    try:
        q.processAllAvailable()
        assert idx.matches().count() == 0  # nothing to match yet
        spark.createDataFrame(
            [(2, text + " tonight")], "doc_id long, text string"
        ).coalesce(1).write.parquet(src + "/b2.parquet")
        q.processAllAvailable()
        m = {(r.stream_doc, r.corpus_doc) for r in idx.matches().collect()}
        assert m == {(2, 1)}
    finally:
        q.stop()


def test_maintained_band_index_replayed_batch_is_noop(spark, tmp_path):
    # foreachBatch is at-least-once: re-running a completed batch_id must
    # not duplicate match rows, band rows, or hash rows (matches
    # dynamic-overwrite their batch_id partition; accepted docs anti-join
    # the existing hashes table before the appends).
    from nornicdb_spark.streaming.neardup import MaintainedBandIndex

    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_b = "one two three four five six seven eight nine ten eleven twelve"
    corpus = spark.createDataFrame([(1, text_a)], "doc_id long, text string")
    idx = MaintainedBandIndex(spark, str(tmp_path / "replay"), threshold=0.5)
    idx.bootstrap(corpus)
    batch = spark.createDataFrame(
        [(10, text_a + " lambda"), (11, text_b)], "doc_id long, text string"
    )
    idx.process_batch(batch, batch_id=3)
    snap = lambda: (
        sorted(
            (r.stream_doc, r.corpus_doc, r.batch_id)
            for r in idx.matches().collect()
        ),
        sorted(
            (r.doc, r.band, r.band_key)
            for r in spark.read.parquet(idx.bands_path).collect()
        ),
        sorted(r.doc for r in spark.read.parquet(idx.hashes_path).collect()),
    )
    before = snap()
    idx.process_batch(batch, batch_id=3)  # the replay
    assert snap() == before
    assert before[0] == [(10, 1, 3)] and sorted(set(before[2])) == [1, 11]


def _synth_vectors(spark, ids_and_bases):
    # deterministic synthetic embeddings: base direction per cluster, a
    # small deterministic perturbation per member (cosine ≈ 0.999),
    # orthogonal-ish bases across clusters (cosine ≈ 0)
    import math

    dim = 16
    rows = []
    for vid, cluster, member in ids_and_bases:
        v = [0.0] * dim
        v[cluster % dim] = 1.0
        v[(cluster + 7) % dim] = 0.3
        # per-member perturbation, deterministic in (cluster, member)
        for j in range(dim):
            v[j] += 0.01 * math.sin(1.0 + cluster * 13 + member * 3 + j)
        rows.append((vid, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_maintained_vec_index_cross_batch_dedup(spark, tmp_path):
    # the int8+LSH composition: a vector ACCEPTED in batch 1 must be
    # probe-able in batch 2, near-dups (cosine >= thr) are rejected and
    # recorded, distinct clusters never match.
    from nornicdb_spark.streaming.neardup import MaintainedVecIndex

    idx = MaintainedVecIndex(
        spark, str(tmp_path / "vecidx"), dim=16, threshold=0.95
    )
    idx.bootstrap(_synth_vectors(spark, [(1, 0, 0)]))  # cluster 0 seed

    # batch 1: 10 = near-dup of vec 1 (cluster 0), 11 = novel cluster 5
    idx.process_batch(
        _synth_vectors(spark, [(10, 0, 1), (11, 5, 0)]), batch_id=1
    )
    m1 = {(r.stream_doc, r.corpus_doc) for r in idx.matches().collect()}
    assert m1 == {(10, 1)}
    # batch 2: 20 = near-dup of batch-1-ACCEPTED vec 11
    idx.process_batch(_synth_vectors(spark, [(20, 5, 1)]), batch_id=2)
    m2 = {(r.stream_doc, r.corpus_doc) for r in idx.matches().collect()}
    assert m2 == {(10, 1), (20, 11)}
    # index holds exactly bootstrap + accepted (10, 20 rejected)
    docs = {r.doc for r in spark.read.parquet(idx.payload_path).collect()}
    assert docs == {1, 11}
    # matched cosines carry the int8-verified score
    scores = {r.cosine for r in idx.matches().collect()}
    assert all(s >= 0.95 for s in scores)


def test_maintained_vec_index_replayed_batch_is_noop(spark, tmp_path):
    from nornicdb_spark.streaming.neardup import MaintainedVecIndex

    idx = MaintainedVecIndex(
        spark, str(tmp_path / "vecreplay"), dim=16, threshold=0.95
    )
    idx.bootstrap(_synth_vectors(spark, [(1, 0, 0)]))
    batch = _synth_vectors(spark, [(10, 0, 1), (11, 5, 0)])
    idx.process_batch(batch, batch_id=4)
    snap = lambda: (
        sorted(
            (r.stream_doc, r.corpus_doc, r.batch_id)
            for r in idx.matches().collect()
        ),
        spark.read.parquet(idx.bands_path).count(),
        sorted(r.doc for r in spark.read.parquet(idx.payload_path).collect()),
    )
    before = snap()
    idx.process_batch(batch, batch_id=4)  # the replay
    assert snap() == before
    assert before[0] == [(10, 1, 4)] and before[2] == [1, 11]


def test_maintained_vec_index_agrees_with_fp32_exact(spark, tmp_path):
    # gate: the composed (LSH bands + int8 verify) maintained path must
    # reproduce the fp32 exact-GEMM greedy-accept semantics on a corpus
    # of planted clusters — same rejected set, same match pairs (the
    # int8 cosine perturbation is ≲1e-2 and the planted similarities sit
    # far from the threshold on both sides).
    from pyspark.sql import functions as F

    from nornicdb_spark.operators.dedup import embedding_near_duplicates
    from nornicdb_spark.streaming.neardup import MaintainedVecIndex

    # 6 clusters × 4 members, ids interleave so batches mix clusters
    spec = [(100 * m + c, c, m) for m in range(4) for c in range(6)]
    idx = MaintainedVecIndex(
        spark, str(tmp_path / "vecgate"), dim=16, threshold=0.95
    )
    batches = [
        _synth_vectors(spark, [s for s in spec if s[2] == m])
        for m in range(4)
    ]
    for b, df in enumerate(batches):
        idx.process_batch(df, batch_id=b)
    got = {(r.stream_doc, r.corpus_doc) for r in idx.matches().collect()}

    # fp32 greedy-accept reference: batch m joins the union of prior
    # accepted; matches via the exact GEMM path at the same threshold
    accepted = batches[0]
    want = set()
    for df in batches[1:]:
        both = accepted.unionByName(df)
        pairs = embedding_near_duplicates(both, threshold=0.95, exact=True)
        acc_ids = {r.vec_id for r in accepted.select("vec_id").collect()}
        new_ids = {r.vec_id for r in df.select("vec_id").collect()}
        cross = {
            (a, b) for a, b in (
                (r.a, r.b) for r in pairs.collect()
            )
            if (a in acc_ids) != (b in acc_ids)
        }
        matched_new = set()
        for a, b in cross:
            s, c = (a, b) if a in new_ids else (b, a)
            want.add((s, c))
            matched_new.add(s)
        accepted = accepted.unionByName(
            df.filter(~F.col("vec_id").isin(list(matched_new)))
        )
    assert got == want and len(want) >= 12  # 6 clusters × ≥2 later dups


def test_maintained_bm25_equals_static_index(spark, sf_dir, tmp_path):
    # the maintained postings table indexes docs batch-by-batch; an
    # exact-term search must EQUAL the static index built on the same
    # corpus (df/tf/dl/N/avgdl are all batch-order-invariant).
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.search.bm25 import BM25Index
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index

    docs = Catalog(spark, sf_dir).documents
    idx = MaintainedBM25Index(spark, str(tmp_path / "ftidx"))
    for b in range(3):
        idx.process_batch(docs.filter(F.col("doc_id") % 3 == b), batch_id=b)
    q = "spark join query performance"
    got = [
        (r.doc_id, round(r.score, 9))
        for r in idx.search(q, k=10).collect()
    ]
    want = [
        (r.doc_id, round(r.score, 9))
        for r in BM25Index.build(docs).search(q, k=10).collect()
    ]
    assert got == want and len(got) == 10


def test_maintained_bm25_replay_and_fresh_path(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index

    idx = MaintainedBM25Index(spark, str(tmp_path / "ftreplay"))
    # fresh path: search before any ingest returns empty, no crash
    assert idx.search("spark join", k=5).count() == 0

    docs = Catalog(spark, sf_dir).documents
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    idx.process_batch(b0, batch_id=0)
    snap = lambda: (
        spark.read.parquet(idx.postings_path).count(),
        sorted(
            tuple(r) for r in spark.read.parquet(idx.stats_path).collect()
        ),
        [(r.doc_id, round(r.score, 9)) for r in idx.search("spark join", k=5).collect()],
    )
    before = snap()
    idx.process_batch(b0, batch_id=0)  # at-least-once replay
    assert snap() == before
    assert before[0] > 0 and len(before[2]) > 0


def test_maintained_ivf_index_ingest_search_and_replay(spark, sf_dir, tmp_path):
    # streaming vector-DB ingest: bootstrap trains centroids + indexes
    # the seed batch; later batches assign to frozen centroids and are
    # searchable; a replayed batch is a no-op; recall@10 of the pruned
    # int8 scan + refine stays >= the KMeansPrunedIndex gate.
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.search import vector
    from nornicdb_spark.streaming.ivf import MaintainedIVFIndex

    emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
    idx = MaintainedIVFIndex(spark, str(tmp_path / "ivfserve"))
    idx.bootstrap(emb.filter(F.col("vec_id") % 3 == 0), n_lists=8)
    for b in (1, 2):
        idx.process_batch(emb.filter(F.col("vec_id") % 3 == b), batch_id=b)

    # every ingested vector is indexed exactly once
    codes = spark.read.parquet(idx.codes_path)
    assert codes.count() == emb.count()
    assert codes.select("vec_id").distinct().count() == emb.count()

    # replay of the LATEST batch (the only kind foreachBatch re-delivers
    # — older ids are refused by the high-water guard): byte-identical
    before = sorted(r.vec_id for r in codes.select("vec_id").collect())
    idx.process_batch(emb.filter(F.col("vec_id") % 3 == 2), batch_id=2)
    after = sorted(
        r.vec_id
        for r in spark.read.parquet(idx.codes_path).select("vec_id").collect()
    )
    assert after == before

    # recall@10 vs the exact scan (same gate bar as ann_kmeans_recall:
    # n_probe=3 of 8 lists)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    exact = {r.vec_id for r in vector.cosine_topk(emb, qv, k=10).collect()}
    got = {
        r.vec_id
        for r in idx.search(qv, refine_src=emb, k=10, n_probe=3).collect()
    }
    assert len(exact & got) >= 5


def test_maintained_index_compaction_preserves_search(spark, sf_dir, tmp_path):
    # compaction folds per-batch ingest directories into the compacted
    # era: search results are unchanged, the src_batch directory count
    # drops to one, and post-compaction ingest still works.
    import os

    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index

    docs = Catalog(spark, sf_dir).documents
    idx = MaintainedBM25Index(spark, str(tmp_path / "ftcompact"))
    for b in range(3):
        idx.process_batch(docs.filter(F.col("doc_id") % 4 == b), batch_id=b)
    q = "spark join query performance"
    before = [(r.doc_id, round(r.score, 9)) for r in idx.search(q, k=10).collect()]
    n_before = spark.read.parquet(idx.postings_path).count()

    idx.compact()
    dirs = [d for d in os.listdir(idx.postings_path) if d.startswith("src_batch=")]
    assert dirs == ["src_batch=-2"]
    sdirs = [d for d in os.listdir(idx.stats_path) if d.startswith("batch_id=")]
    assert sdirs == ["batch_id=-2"]  # stats fold too (N/avgdl stay exact)
    assert spark.read.parquet(idx.postings_path).count() == n_before
    after = [(r.doc_id, round(r.score, 9)) for r in idx.search(q, k=10).collect()]
    assert after == before and len(after) == 10

    # ingest continues after compaction and contributes to results
    idx.process_batch(docs.filter(F.col("doc_id") % 4 == 3), batch_id=3)
    full = [(r.doc_id, round(r.score, 9)) for r in idx.search(q, k=10).collect()]
    from nornicdb_spark.search.bm25 import BM25Index

    want = [
        (r.doc_id, round(r.score, 9))
        for r in BM25Index.build(docs).search(q, k=10).collect()
    ]
    assert full == want


# ---------------------------------------------------------------------------
# Maintained graph connectivity index (streaming/graphindex.py)
# ---------------------------------------------------------------------------


def _edge_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_maintained_graph_incremental_equals_batch(spark, tmp_path):
    # three batches whose edges merge components ACROSS batch boundaries:
    # batch 0 builds {1,2,3} and {10,11}; batch 1 builds {20,21} and
    # extends {10,11,12}; batch 2 bridges {1..3}–{10..12} and {20,21}–{30}.
    # Incremental labels must equal the batch recompute's canonical
    # min-node-id labels; node 99 is edge-less (singleton via nodes_df).
    from nornicdb_spark.streaming.graphindex import MaintainedGraphIndex

    idx = MaintainedGraphIndex(spark, str(tmp_path / "g"), n_pk=8)
    idx.process_batch(_edge_df(spark, [(2, 1), (2, 3), (10, 11)]), batch_id=0)
    idx.process_batch(_edge_df(spark, [(20, 21), (12, 11)]), batch_id=1)
    idx.process_batch(_edge_df(spark, [(3, 12), (30, 21)]), batch_id=2)
    nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 10, 11, 12, 20, 21, 30, 99)], "node long"
    )
    got = {r.node: r.component for r in idx.components(nodes).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 12: 1,  # bridged by (3, 12)
        20: 20, 21: 20, 30: 20,
        99: 99,
    }
    # cross-batch merge MUST have deepened the forest: 10's chain is
    # 11→10 (batch 0) then 10→1 (batch 2) — resolution chases 2 hops
    merges = spark.read.parquet(idx.merges_path)
    olds = {r.old for r in merges.collect()}
    news = {r.new for r in merges.collect()}
    assert olds & news, "expected a chained (depth>1) forest"


def test_maintained_graph_replay_is_noop(spark, tmp_path):
    from nornicdb_spark.streaming.graphindex import MaintainedGraphIndex

    idx = MaintainedGraphIndex(spark, str(tmp_path / "g"), n_pk=8)
    idx.process_batch(_edge_df(spark, [(2, 1), (5, 6)]), batch_id=0)
    idx.process_batch(_edge_df(spark, [(6, 2), (7, 7)]), batch_id=1)
    snap = lambda: (
        sorted(
            (r.old, r.new, r.src_batch)
            for r in spark.read.parquet(idx.merges_path).collect()
        ),
        sorted(
            (r.node, r.src_batch)
            for r in spark.read.parquet(idx.nodes_path).collect()
        ),
    )
    before = snap()
    idx.process_batch(_edge_df(spark, [(6, 2), (7, 7)]), batch_id=1)  # replay
    assert snap() == before
    got = {r.node: r.component for r in idx.components().collect()}
    assert got == {1: 1, 2: 1, 5: 1, 6: 1, 7: 7}


def test_maintained_graph_compact_flattens_and_preserves(spark, tmp_path):
    from nornicdb_spark.streaming.graphindex import MaintainedGraphIndex

    idx = MaintainedGraphIndex(spark, str(tmp_path / "g"), n_pk=8)
    # adversarial ordering: each batch merges the previous winner into a
    # smaller root, chaining the forest one level per batch
    idx.process_batch(_edge_df(spark, [(40, 30)]), batch_id=0)
    idx.process_batch(_edge_df(spark, [(30, 20)]), batch_id=1)
    idx.process_batch(_edge_df(spark, [(20, 10)]), batch_id=2)
    before = {r.node: r.component for r in idx.components().collect()}
    assert before == {10: 10, 20: 10, 30: 10, 40: 10}

    idx.compact()
    merges = spark.read.parquet(idx.merges_path)
    rows = [(r.old, r.new, r.src_batch) for r in merges.collect()]
    # depth 1: every pointer goes straight to the current root, and the
    # compacted rows live in the pre-stream era (src_batch=-1)
    assert rows and all(new == 10 and sb == -1 for _, new, sb in rows)
    assert {r.node: r.component for r in idx.components().collect()} == before

    # ingest continues after compaction (new merges chase through the
    # flattened rows)
    idx.process_batch(_edge_df(spark, [(10, 5)]), batch_id=3)
    got = {r.node: r.component for r in idx.components().collect()}
    assert got == {5: 5, 10: 5, 20: 5, 30: 5, 40: 5}


# ---------------------------------------------------------------------------
# Maintained exact-hash dedup index (streaming/neardup.MaintainedHashIndex)
# ---------------------------------------------------------------------------


def test_maintained_hash_index_cross_batch_gate(spark, tmp_path):
    from nornicdb_spark.streaming.neardup import MaintainedHashIndex

    idx = MaintainedHashIndex(spark, str(tmp_path / "h"), n_pk=8)
    idx.process_batch(
        spark.createDataFrame(
            [(1, "aaa"), (2, "bbb")], "doc_id long, text string"
        ),
        batch_id=0,
    )
    # batch-1 doc 10 repeats batch-0 doc 1's content — the gate must see
    # it against the canonical min-id holder
    batch1 = spark.createDataFrame(
        [(10, "aaa"), (11, "ccc")], "doc_id long, text string"
    )
    got = {(r.stream_doc, r.corpus_doc) for r in idx.probe(batch1).collect()}
    assert got == {(10, 1)}
    idx.process_batch(batch1, batch_id=1)
    dups = {
        (r.n_copies, r.keep_id) for r in idx.duplicates().collect()
    }
    assert dups == {(2, 1)}


def test_maintained_hash_index_replay_is_noop(spark, tmp_path):
    from nornicdb_spark.streaming.neardup import MaintainedHashIndex

    idx = MaintainedHashIndex(spark, str(tmp_path / "h"), n_pk=8)
    batch = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "bbb")], "doc_id long, text string"
    )
    idx.process_batch(batch, batch_id=0)
    snap = lambda: sorted(
        (r.content_hash, r.doc, r.src_batch)
        for r in spark.read.parquet(idx.seen_path).collect()
    )
    before = snap()
    idx.process_batch(batch, batch_id=0)  # replay
    assert snap() == before
    assert {(r.n_copies, r.keep_id) for r in idx.duplicates().collect()} == {
        (2, 1)
    }


def test_maintained_hash_index_matches_batch_operator(spark, sf_dir, tmp_path):
    # 3-batch ingest of the seeded corpus == the batch exact_duplicates
    # output (count/min are order-invariant) — the stream_dedup_exact
    # registry claim, checked at fixture scale
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.operators import dedup
    from nornicdb_spark.streaming.neardup import MaintainedHashIndex

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    idx = MaintainedHashIndex(spark, str(tmp_path / "h"))
    for b in range(3):
        idx.process_batch(corpus.filter(F.col("doc_id") % 3 == b), batch_id=b)
    got = sorted(
        (r.content_hash, r.n_copies, r.keep_id)
        for r in idx.duplicates().collect()
    )
    want = sorted(
        (r.content_hash, r.n_copies, r.keep_id)
        for r in dedup.exact_duplicates(corpus).collect()
    )
    assert got == want and len(got) >= 50


def test_maintained_graph_bootstrap_then_ingest(spark, tmp_path):
    # bootstrap writes a depth-1 forest (every pointer straight to the
    # component min, src_batch=-1); a later batch chases it in one hop
    # and cross-batch merges still land correctly
    from nornicdb_spark.streaming.graphindex import MaintainedGraphIndex

    idx = MaintainedGraphIndex(spark, str(tmp_path / "g"), n_pk=8)
    idx.bootstrap(_edge_df(spark, [(2, 1), (2, 3), (10, 11), (11, 12)]))
    rows = [
        (r.old, r.new, r.src_batch)
        for r in spark.read.parquet(idx.merges_path).collect()
    ]
    assert sorted(rows) == [(2, 1, -1), (3, 1, -1), (11, 10, -1), (12, 10, -1)]
    idx.process_batch(_edge_df(spark, [(12, 3), (40, 41)]), batch_id=0)
    got = {r.node: r.component for r in idx.components().collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 12: 1, 40: 40, 41: 40}


def test_maintained_hash_index_probe_excludes_own_batch(spark, tmp_path):
    # at-least-once replay: the gate must answer as it did on the first
    # run — a doc the batch itself appended must not read as a duplicate
    # of itself when the batch is re-delivered
    from nornicdb_spark.streaming.neardup import MaintainedHashIndex

    idx = MaintainedHashIndex(spark, str(tmp_path / "h"), n_pk=8)
    batch = spark.createDataFrame([(7, "xyz")], "doc_id long, text string")
    idx.process_batch(batch, batch_id=0)
    # stale view (no exclusion): the doc matches its own first-run row
    assert {(r.stream_doc, r.corpus_doc) for r in idx.probe(batch).collect()} == {
        (7, 7)
    }
    # replay view: judged against the corpus as of the batch — unique
    assert idx.probe(batch, exclude_batch=0).count() == 0


def test_maintained_hash_index_string_ids(spark, tmp_path):
    # duplicates() recovers the doc-id type from the stored table — a
    # string-keyed index needs no caller-supplied type
    from nornicdb_spark.streaming.neardup import MaintainedHashIndex

    idx = MaintainedHashIndex(spark, str(tmp_path / "h"), id_col="uri", n_pk=8)
    idx.process_batch(
        spark.createDataFrame(
            [("a", "xx"), ("b", "xx"), ("c", "yy")], "uri string, text string"
        ),
        batch_id=0,
    )
    assert {(r.n_copies, r.keep_id) for r in idx.duplicates().collect()} == {
        (2, "a")
    }


def test_maintained_graph_refuses_stale_batch_ids(spark, tmp_path):
    # a reset stream checkpoint pointed at an existing index path would
    # replay old batch ids whose src_batch rows already exist with
    # different content — the anti-join would silently drop the new
    # merges, so the guard refuses instead
    import pytest

    from nornicdb_spark.streaming.graphindex import MaintainedGraphIndex

    idx = MaintainedGraphIndex(spark, str(tmp_path / "g"), n_pk=8)
    idx.process_batch(_edge_df(spark, [(7, 5)]), batch_id=0)
    idx.process_batch(_edge_df(spark, [(9, 8)]), batch_id=1)
    with pytest.raises(ValueError, match="high-water"):
        idx.process_batch(_edge_df(spark, [(7, 3)]), batch_id=0)
    # replay of the LATEST batch stays allowed
    idx.process_batch(_edge_df(spark, [(9, 8)]), batch_id=1)
    got = {r.node: r.component for r in idx.components().collect()}
    assert got == {5: 5, 7: 5, 8: 8, 9: 8}


def test_maintained_graph_fresh_index_reads(spark, tmp_path):
    # monitoring reads on a fresh index: components() without nodes_df
    # fails loudly (no stored id type to infer), components(nodes_df)
    # returns singletons, compact() is a no-op
    import pytest

    from nornicdb_spark.streaming.graphindex import MaintainedGraphIndex

    idx = MaintainedGraphIndex(spark, str(tmp_path / "g"), n_pk=8)
    with pytest.raises(ValueError, match="no stored nodes"):
        idx.components()
    nodes = spark.createDataFrame([(1,), (2,)], "node long")
    got = {r.node: r.component for r in idx.components(nodes).collect()}
    assert got == {1: 1, 2: 2}
    idx.compact()  # nothing merged yet — must not raise


def test_maintained_indexes_refuse_stale_batch_ids(spark, sf_dir, tmp_path):
    # the shared high-water guard (streaming/guard.py): a reset stream
    # checkpoint over an existing index restarts batch ids at 0 and the
    # replay machinery (dynamic overwrite / src_batch anti-joins) would
    # silently destroy earlier batches' state — every maintained index
    # must refuse instead. Replays of the latest batch stay valid.
    import pytest

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index
    from nornicdb_spark.streaming.neardup import (
        MaintainedBandIndex,
        MaintainedHashIndex,
    )

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text").limit(30)

    ft = MaintainedBM25Index(spark, str(tmp_path / "ft"))
    ft.process_batch(docs, batch_id=0)
    ft.process_batch(docs, batch_id=1)
    with pytest.raises(ValueError, match="high-water"):
        ft.process_batch(docs, batch_id=0)
    ft.process_batch(docs, batch_id=1)  # latest-batch replay ok

    hx = MaintainedHashIndex(spark, str(tmp_path / "hx"), n_pk=8)
    hx.process_batch(docs, batch_id=0)
    hx.process_batch(docs, batch_id=2)
    with pytest.raises(ValueError, match="high-water"):
        hx.process_batch(docs, batch_id=1)

    bd = MaintainedBandIndex(spark, str(tmp_path / "bd"), n_pk=8)
    bd.process_batch(docs, batch_id=5)
    with pytest.raises(ValueError, match="high-water"):
        bd.process_batch(docs, batch_id=4)
    # a re-bootstrap starts a fresh era — low batch ids are valid again
    bd.bootstrap(docs)
    bd.process_batch(docs, batch_id=0)


def test_rewrite_partitioned_recovers_interrupted_swap(spark, tmp_path):
    # a compaction crash between the two renames leaves the table at
    # <path>.old — reads must refuse the half-swapped state (not return
    # an empty table) and the next rewrite must restore it first
    import os

    import pytest

    from nornicdb_spark.sources.layout import (
        read_or_empty,
        rewrite_partitioned,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 0), (2, 1)], "v long, pk int").write.partitionBy(
        "pk"
    ).parquet(path)
    os.rename(path, f"{path}.old")  # simulate the crash window
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        read_or_empty(spark, path, "v long, pk int")
    rewrite_partitioned(
        spark, path, "v long, pk int", lambda df: df, "pk"
    )  # restores, then rewrites
    assert read_or_empty(spark, path, "v long, pk int").count() == 2
    assert not os.path.exists(f"{path}.old")


def test_read_or_empty_tests_the_path_before_reading(spark, tmp_path, monkeypatch):
    # a missing table reads empty without a failed parquet read (a JVM
    # exception per missing path, e.g. every tombstone read right after
    # a compaction); a half-swapped one still refuses
    import os

    from pyspark.sql.readwriter import DataFrameReader

    from nornicdb_spark.sources.layout import read_or_empty

    read = DataFrameReader.parquet
    reads = []

    def counting(self, *paths, **kw):
        reads.append(paths)
        return read(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    path = str(tmp_path / "t")
    empty = read_or_empty(spark, path, "v long, pk int")
    assert reads == []
    assert empty.columns == ["v", "pk"] and empty.count() == 0
    os.makedirs(f"{path}.old")
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        read_or_empty(spark, path, "v long, pk int")
    assert reads == []


def test_compact_recovers_interrupted_swap_with_default_args(
    spark, sf_dir, tmp_path
):
    # the crash-window error message tells the operator to "re-run the
    # compaction (it restores the original directory first)" — that must
    # hold for a DEFAULT-ARGUMENT compact(): the id-type probe runs
    # before the rewrite, and treating the half-swapped table as "never
    # ingested" would skip the restore silently (round-9 advice).
    import os

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.sources.layout import stored_col_type
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index

    docs = Catalog(spark, sf_dir).documents
    idx = MaintainedBM25Index(spark, str(tmp_path / "ftcrash"))
    for b in range(2):
        idx.process_batch(docs.filter(F.col("doc_id") % 2 == b), batch_id=b)
    q = "spark join query performance"
    before = [
        (r.doc_id, round(r.score, 9)) for r in idx.search(q, k=10).collect()
    ]
    os.rename(idx.postings_path, f"{idx.postings_path}.old")  # crash window
    # the type probe itself refuses the half-swapped state
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        stored_col_type(spark, idx.postings_path, "doc_id")
    idx.compact()  # restores, then compacts — NOT a silent no-op
    assert not os.path.exists(f"{idx.postings_path}.old")
    dirs = [
        d
        for d in os.listdir(idx.postings_path)
        if d.startswith("src_batch=")
    ]
    assert dirs == ["src_batch=-2"]
    after = [
        (r.doc_id, round(r.score, 9)) for r in idx.search(q, k=10).collect()
    ]
    assert after == before and len(after) == 10


def test_compaction_advances_guard_epoch(spark, sf_dir, tmp_path):
    # BM25/IVF compaction folds per-batch partitions away, so a replay
    # of even the LATEST pre-compaction batch would dynamic-overwrite a
    # fresh src_batch=N partition BESIDE its folded copy — double-counted
    # postings/codes. The compaction must advance the guard high-water so
    # that replay is refused (round-9 advice); genuinely new batch ids
    # still ingest.
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index
    from nornicdb_spark.streaming.ivf import MaintainedIVFIndex

    docs = Catalog(spark, sf_dir).documents
    ft = MaintainedBM25Index(spark, str(tmp_path / "ftepoch"))
    for b in range(2):
        ft.process_batch(docs.filter(F.col("doc_id") % 2 == b), batch_id=b)
    n = spark.read.parquet(ft.postings_path).count()
    ft.compact()
    with pytest.raises(ValueError, match="high-water"):
        ft.process_batch(docs.filter(F.col("doc_id") % 2 == 1), batch_id=1)
    assert spark.read.parquet(ft.postings_path).count() == n  # no doubles
    ft.process_batch(docs.limit(0), batch_id=2)  # new ids still ingest

    emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
    ivf = MaintainedIVFIndex(spark, str(tmp_path / "ivfepoch"))
    ivf.bootstrap(emb.filter(F.col("vec_id") % 2 == 0), n_lists=4)
    ivf.process_batch(emb.filter(F.col("vec_id") % 2 == 1), batch_id=0)
    n = spark.read.parquet(ivf.codes_path).count()
    ivf.compact()
    with pytest.raises(ValueError, match="high-water"):
        ivf.process_batch(emb.filter(F.col("vec_id") % 2 == 1), batch_id=0)
    assert spark.read.parquet(ivf.codes_path).count() == n


def test_guard_refuses_uri_schemed_paths():
    # a driver-local marker on an hdfs://-resident index would silently
    # pass every check (and mint a bogus local directory) — the guard
    # must refuse what it cannot protect (round-9 advice)
    from nornicdb_spark.streaming import guard

    for fn in (
        lambda: guard.check_batch("s3a://bucket/idx", 0),
        lambda: guard.record_batch("hdfs://nn/idx", 0),
        lambda: guard.max_batch_seen("s3a://bucket/idx"),
    ):
        with pytest.raises(NotImplementedError, match="driver-local"):
            fn()


def test_session_memo_evicts_stopped_sessions():
    # the twin-query build memos must not pin stopped sessions (and a
    # new session reusing a dead session's id() must never read its
    # entries). SessionMemo only touches sparkContext._jsc — exercised
    # here with stand-ins so the test needs no second real session.
    from nornicdb_spark.operators.scope import SessionMemo

    class _Ctx:
        def __init__(self):
            self._jsc = object()

    class _Sess:
        def __init__(self):
            self.sparkContext = _Ctx()

    memo = SessionMemo()
    s1 = _Sess()
    memo.put(s1, "sf", "payload")
    assert memo.get(s1, "sf") == "payload" and len(memo) == 1
    s1.sparkContext._jsc = None  # session stopped
    assert memo.get(s1, "sf") is None and len(memo) == 0

    # id()-reuse: a fresh session must start clean even if it lands on
    # the dead session's address
    s2 = _Sess()
    memo.put(s2, "sf", "v2")
    s2.sparkContext._jsc = None
    s3 = _Sess()
    assert memo.get(s3, "sf") is None


def test_maintained_graph_depth_metric_and_compaction_cadence(
    spark, tmp_path
):
    # adversarial ordering: each batch merges the chain's current root
    # into a smaller node, so pointers chain 10→9→7→5→3 and a later
    # batch touching node 10 must CHASE four generations. The measured
    # per-batch depth is the observable that drives the compaction
    # cadence rule (SCALING.md §maintained: compact when depth > d0) —
    # this asserts the rule triggers, and that compact() resets it.
    from nornicdb_spark.streaming.graphindex import MaintainedGraphIndex

    idx = MaintainedGraphIndex(spark, str(tmp_path / "gdepth"), n_pk=8)
    chain = [(9, 10), (7, 9), (5, 7), (3, 5)]
    for b, e in enumerate(chain):
        idx.process_batch(_edge_df(spark, [e]), batch_id=b)
        assert idx.chase_depth() <= 1  # chain endpoints resolve shallow
    idx.process_batch(_edge_df(spark, [(10, 50)]), batch_id=len(chain))
    assert idx.chase_depth() == 4  # 10→9→7→5→3
    assert idx.needs_compact(d0=3) and not idx.needs_compact(d0=8)

    idx.compact()
    assert idx.chase_depth() == 1 and not idx.needs_compact(d0=3)
    # post-compaction resolution is a single pruned hop
    idx.process_batch(_edge_df(spark, [(9, 60)]), batch_id=len(chain) + 1)
    assert idx.chase_depth() == 1
    comp = {
        (r.node, r.component)
        for r in idx.components().collect()
    }
    want_nodes = {3, 5, 7, 9, 10, 50, 60}
    assert comp == {(n, 3) for n in want_nodes}


def test_ivf_recall_sentinel_monitors_drift(spark, sf_dir, tmp_path):
    # the centroid-drift monitor (SCALING.md §maintained): recall@k of
    # the pruned serving path vs the exact scan over the latest batch's
    # vectors. On an in-distribution corpus it clears the same gate bar
    # as the recall twin; an empty index raises (a sentinel reporting
    # healthy on a dead ingest path would hide exactly what it exists
    # to catch).
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.ivf import MaintainedIVFIndex

    emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
    idx = MaintainedIVFIndex(spark, str(tmp_path / "ivfsentinel"))
    with pytest.raises(ValueError, match="no ingested batches"):
        idx.recall_sentinel(emb, id_type="bigint")
    idx.bootstrap(emb.filter(F.col("vec_id") % 3 == 0), n_lists=8)
    for b in (1, 2):
        idx.process_batch(emb.filter(F.col("vec_id") % 3 == b), batch_id=b)
    r = idx.recall_sentinel(emb, n_queries=4, k=10, n_probe=3)
    assert 0.0 <= r <= 1.0 and r >= 0.5


def test_maintained_bm25_search_many_equals_static(spark, sf_dir, tmp_path):
    # the batched probe over the maintained postings equals the static
    # index's batched path (and hence per-query search) on the same
    # corpus — one tk-pruned scan serving the whole query batch.
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.search.bm25 import BM25Index
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index

    docs = Catalog(spark, sf_dir).documents
    idx = MaintainedBM25Index(spark, str(tmp_path / "ftmany"))
    for b in range(3):
        idx.process_batch(docs.filter(F.col("doc_id") % 3 == b), batch_id=b)
    batch = [
        (1, "spark join query performance"),
        (2, "query query optimizer"),
        (3, "zzzz qqqqq"),  # tokens absent from the corpus
    ]
    qdf = spark.createDataFrame(batch, "query_id long, query_text string")
    key = lambda rows: sorted(
        (r.query_id, r.doc_id, round(r.score, 9)) for r in rows
    )
    got = key(idx.search_many(qdf, k=5).collect())
    want = key(BM25Index.build(docs).search_many(qdf, k=5).collect())
    assert got == want and len(got) == 10  # 5 per matching query

    # all-stopword batch: empty frame with the right schema, no crash
    empty = idx.search_many(
        spark.createDataFrame([(9, "a of the")], "query_id long, query_text string"),
        k=5,
    )
    assert empty.count() == 0


def test_maintained_ivf_search_many_equals_single(spark, sf_dir, tmp_path):
    # batched serving equals the per-query path row-for-row (same
    # probing, same int8 arithmetic, same refine), zero-norm queries
    # produce no rows, and the union scan still prunes to the probed
    # lists (PartitionFilters).
    import re

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.ivf import MaintainedIVFIndex

    emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
    idx = MaintainedIVFIndex(spark, str(tmp_path / "ivfmany"))
    idx.bootstrap(emb.filter(F.col("vec_id") % 2 == 0), n_lists=8)
    idx.process_batch(emb.filter(F.col("vec_id") % 2 == 1), batch_id=0)

    qrows = emb.filter(F.col("vec_id").isin(0, 1, 2)).orderBy("vec_id").collect()
    batch = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    dim = len(batch[0][1])
    qdf = spark.createDataFrame(
        batch + [(99, [0.0] * dim)],  # zero-norm: no direction, no rows
        "query_id bigint, qvec array<double>",
    )
    out = idx.search_many(qdf, refine_src=emb, k=5, n_probe=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "list_id" in m.group(1), plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.vec_id, round(r.score, 9)))
    assert 99 not in got
    for qid, qv in batch:
        want = [
            (r.vec_id, round(r.score, 9))
            for r in idx.search(qv, refine_src=emb, k=5, n_probe=3).collect()
        ]
        assert got.get(qid, []) == want, f"query {qid} diverges"


def _compacting_index(kind, spark, sf_dir, path):
    """(index, replay of its latest batch, reader) for each of the six
    compacting maintained indexes, two batches ingested."""
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index
    from nornicdb_spark.streaming.graphindex import MaintainedGraphIndex
    from nornicdb_spark.streaming.ivf import MaintainedIVFIndex
    from nornicdb_spark.streaming.sketches import (
        MaintainedDistinctIndex,
        MaintainedHistogramIndex,
        MaintainedSampleIndex,
    )

    if kind == "bm25":
        docs = Catalog(spark, sf_dir).documents
        idx = MaintainedBM25Index(spark, path)
        batches = [docs.filter(F.col("doc_id") % 2 == b) for b in range(2)]
        q = "spark join query performance"

        def read():
            return [
                (r.doc_id, round(r.score, 9))
                for r in idx.search(q, k=10).collect()
            ]
    elif kind == "ivf":
        emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
        idx = MaintainedIVFIndex(spark, path)
        idx.bootstrap(emb.filter(F.col("vec_id") % 3 == 0), n_lists=4)
        batches = [emb.filter(F.col("vec_id") % 3 == b) for b in (1, 2)]
        qv = [float(x) for x in emb.orderBy("vec_id").first().embedding]

        def read():
            return [
                (r.vec_id, round(r.score, 9))
                for r in idx.search(qv, refine_src=emb, k=5, n_probe=4).collect()
            ]
    elif kind == "graph":
        idx = MaintainedGraphIndex(spark, path, n_pk=8)
        batches = [
            _edge_df(spark, [(40, 30), (7, 8)]),
            _edge_df(spark, [(30, 20), (8, 9)]),
        ]

        def read():
            return sorted(
                (r.node, r.component) for r in idx.components().collect()
            )
    elif kind in ("distinct", "histogram"):
        ev = spark.createDataFrame(
            [(i, "a" if i % 3 else "b", i % 37) for i in range(200)],
            "event_id long, grp_col string, v long",
        )
        batches = [ev.filter(F.col("event_id") % 2 == b) for b in range(2)]
        if kind == "distinct":
            idx = MaintainedDistinctIndex(spark, path, "grp_col", "v")

            def read():
                return sorted(tuple(r) for r in idx.counts().collect())
        else:
            idx = MaintainedHistogramIndex(spark, path, "grp_col", "v", width=5.0)

            def read():
                return sorted(tuple(r) for r in idx.totals().collect())
    else:
        docs = spark.createDataFrame(
            [(i, float(1 + i % 7)) for i in range(300)],
            "doc_id long, weight double",
        )
        idx = MaintainedSampleIndex(spark, path, n=20)
        batches = [docs.filter(F.col("doc_id") % 2 == b) for b in range(2)]

        def read():
            return [(r.doc_id, r.key) for r in idx.sample().collect()]

    for b, df in enumerate(batches):
        idx.process_batch(df, batch_id=b)
    return idx, lambda: idx.process_batch(batches[-1], batch_id=1), read


# each index's full result size over the two batches: a read that
# degenerates to a handful of rows both before and after compaction
# must not pass the invariance check
_COMPACTING = {
    "bm25": 10,
    "ivf": 5,
    "graph": 6,
    "distinct": 2,
    "histogram": 16,
    "sample": 20,
}


@pytest.mark.parametrize("kind", _COMPACTING)
def test_compact_epoch_fence_survives_mid_fold_crash(
    spark, sf_dir, tmp_path, monkeypatch, kind
):
    # The fence must hold even when compact() CRASHES mid-fold: the
    # epoch advances BEFORE the rewrites, so a replay of the latest
    # batch is refused in the crash window too (previously the bump ran
    # after the folds, leaving exactly the double-count replay the
    # fence exists to refuse still blessed until a re-run). A refused
    # replay under the quiesce contract is harmless; a blessed one
    # double-counts folded postings/codes.
    from nornicdb_spark.sources import layout

    idx, replay, read = _compacting_index(kind, spark, sf_dir, str(tmp_path / kind))
    before = read()
    assert len(before) == _COMPACTING[kind]

    real_rewrite = layout.rewrite_partitioned

    def crash(*a, **kw):
        raise RuntimeError("injected mid-compaction crash")

    monkeypatch.setattr(layout, "rewrite_partitioned", crash)
    with pytest.raises(RuntimeError, match="injected"):
        idx.compact()
    # crash window: readers still see the pre-compaction snapshot, and
    # the latest batch's replay is ALREADY refused
    assert read() == before
    with pytest.raises(ValueError, match="high-water"):
        replay()
    monkeypatch.setattr(layout, "rewrite_partitioned", real_rewrite)
    idx.compact()  # re-run completes the fold; results invariant
    assert read() == before


@pytest.mark.parametrize("kind", _COMPACTING)
def test_compact_on_never_ingested_index_is_noop(spark, tmp_path, kind):
    # compact() on a fresh index must write nothing and raise nothing —
    # the same no-op for every compacting index
    import os

    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index
    from nornicdb_spark.streaming.graphindex import MaintainedGraphIndex
    from nornicdb_spark.streaming.ivf import MaintainedIVFIndex
    from nornicdb_spark.streaming.sketches import (
        MaintainedDistinctIndex,
        MaintainedHistogramIndex,
        MaintainedSampleIndex,
    )

    path = str(tmp_path / f"fresh_{kind}")
    idx = {
        "bm25": lambda: MaintainedBM25Index(spark, path),
        "ivf": lambda: MaintainedIVFIndex(spark, path),
        "graph": lambda: MaintainedGraphIndex(spark, path),
        "distinct": lambda: MaintainedDistinctIndex(spark, path, "g", "v"),
        "histogram": lambda: MaintainedHistogramIndex(spark, path, "g", "v"),
        "sample": lambda: MaintainedSampleIndex(spark, path, n=5),
    }[kind]()
    idx.compact()
    assert not os.path.exists(path)


def test_maintained_ivf_search_zero_norm_returns_empty(
    spark, sf_dir, tmp_path
):
    # single-query search() must honor the same contract search_many
    # documents (zero-norm queries have no direction → no rows), not
    # divide by zero into null scores
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.ivf import MaintainedIVFIndex

    emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
    idx = MaintainedIVFIndex(spark, str(tmp_path / "ivfzero"))
    idx.bootstrap(emb, n_lists=4)
    dim = len(emb.select("embedding").first()[0])
    out = idx.search([0.0] * dim, refine_src=emb, k=5)
    assert out.columns == ["vec_id", "score"] and out.count() == 0


def test_maintained_ivf_search_many_no_per_query_driver_work(
    spark, sf_dir, tmp_path, monkeypatch
):
    # probe assignment is Spark-side (the ingest path's codegen argmin
    # over broadcast centroid literals): the ONLY driver collect while
    # building the batched plan is the distinct probed-list literal —
    # bounded by n_lists, NOT by |batch|. Doubling the batch must not
    # change the number of collects nor the size of any collected
    # result.
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.ivf import MaintainedIVFIndex

    emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
    idx = MaintainedIVFIndex(spark, str(tmp_path / "ivfnoloop"))
    idx.bootstrap(emb.filter(F.col("vec_id") % 2 == 0), n_lists=8)
    idx.centers()  # pre-warm the centroid cache (bounded by n_lists)

    def batch_df(n):
        rows = emb.filter(F.col("vec_id") < n).collect()
        return spark.createDataFrame(
            [(int(r.vec_id), [float(x) for x in r.embedding]) for r in rows],
            "query_id bigint, qvec array<double>",
        )

    q3, q9 = batch_df(3), batch_df(9)
    # patch the CONCRETE DataFrame class (pyspark 4's facade is not in
    # the instances' MRO call path for collect)
    cls = type(q3)
    counts = {}
    orig = cls.collect
    for name, qdf in (("q3", q3), ("q9", q9)):
        calls = []

        def spy(self, _calls=calls):
            rows = orig(self)
            _calls.append(len(rows))
            return rows

        monkeypatch.setattr(cls, "collect", spy)
        idx.search_many(qdf, refine_src=emb, k=5, n_probe=3)
        monkeypatch.setattr(cls, "collect", orig)
        counts[name] = calls
    assert len(counts["q3"]) == len(counts["q9"]) == 1, counts
    assert all(n <= 8 for n in counts["q9"]), counts  # ≤ n_lists rows


def test_maintained_bm25_remove_equals_static_on_remaining(
    spark, sf_dir, tmp_path
):
    # live-index document removal (reference fulltext_index.go Remove):
    # after removing a subset, search/search_many must EQUAL a static
    # index built on the remaining corpus — df, tf, N, avgdl all shift
    # exactly (tombstone anti-join + negative stats rows). Unknown ids
    # are a no-op; a cross-batch double-remove cannot double-subtract;
    # compaction drops the docs physically, clears tombstones, and
    # leaves results unchanged.
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.search.bm25 import BM25Index
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index

    docs = Catalog(spark, sf_dir).documents
    idx = MaintainedBM25Index(spark, str(tmp_path / "ftrm"))
    for b in range(2):
        idx.process_batch(docs.filter(F.col("doc_id") % 2 == b), batch_id=b)

    q = "spark join query performance"
    removed = [0, 3, 7, 11, 400]
    rm_df = spark.createDataFrame([(i,) for i in removed], "doc_id long")
    idx.remove_batch(rm_df, batch_id=2)

    remaining = docs.filter(~F.col("doc_id").isin(removed))
    static = BM25Index.build(remaining)
    key = lambda rows: [(r.doc_id, round(r.score, 9)) for r in rows]
    want = key(static.search(q, k=10).collect())
    assert key(idx.search(q, k=10).collect()) == want
    assert 0 not in {d for d, _ in want}  # doc 0 used to be a hit

    # batched path sees removals too
    qdf = spark.createDataFrame([(1, q)], "query_id long, query_text string")
    got_many = [
        (r.doc_id, round(r.score, 9))
        for r in idx.search_many(qdf, k=10).collect()
    ]
    assert got_many == want

    # unknown-id removal: a no-op for stats and results
    n_before, avg_before = idx.corpus_stats()
    idx.remove_batch(
        spark.createDataFrame([(999999,)], "doc_id long"), batch_id=3
    )
    assert idx.corpus_stats() == (n_before, avg_before)

    # cross-batch double-remove: second removal of doc 3 subtracts nothing
    idx.remove_batch(spark.createDataFrame([(3,)], "doc_id long"), batch_id=4)
    assert idx.corpus_stats() == (n_before, avg_before)
    assert key(idx.search(q, k=10).collect()) == want

    # monitoring: ratio reflects removals, clears after compaction
    ratio = idx.tombstone_ratio()
    assert 0.0 < ratio < 0.5 and not idx.should_rebuild()
    assert idx.should_rebuild(threshold=ratio / 2)

    idx.compact()
    import os

    assert not os.path.exists(idx.tombstones_path)
    assert idx.tombstone_ratio() == 0.0
    assert key(idx.search(q, k=10).collect()) == want
    assert idx.corpus_stats() == (n_before, avg_before)
    # physically gone: no postings row carries a removed id
    got_ids = spark.read.parquet(idx.postings_path).filter(
        F.col("doc_id").isin(removed)
    )
    assert got_ids.count() == 0


def test_maintained_bm25_remove_replay_idempotent(spark, sf_dir, tmp_path):
    # re-delivery of the SAME removal batch must leave stats and
    # tombstones exactly as the first delivery did (dynamic overwrite
    # of the batch's own partitions; same-batch tombstones are not
    # excluded from the victim recompute)
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index

    docs = Catalog(spark, sf_dir).documents
    idx = MaintainedBM25Index(spark, str(tmp_path / "ftrmr"))
    idx.process_batch(docs, batch_id=0)
    rm = spark.createDataFrame([(2,), (5,)], "doc_id long")
    idx.remove_batch(rm, batch_id=1)
    after_first = idx.corpus_stats()
    n_tomb = spark.read.parquet(idx.tombstones_path).count()
    idx.remove_batch(rm, batch_id=1)  # foreachBatch re-delivery
    assert idx.corpus_stats() == after_first
    assert spark.read.parquet(idx.tombstones_path).count() == n_tomb


def test_maintained_ivf_remove_equals_never_ingested(spark, sf_dir, tmp_path):
    # vector removal on the live serving index: after removing a
    # subset, search (single AND batched) must EQUAL an index that
    # never ingested those vectors — centroids are frozen from the same
    # bootstrap, so remaining codes are identical. Unknown-id removal
    # is a no-op; compaction drops codes physically, clears tombstones,
    # results unchanged.
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.ivf import MaintainedIVFIndex

    emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
    seed = emb.filter(F.col("vec_id") % 2 == 0)
    removed = [1, 5, 9, 13]

    idx = MaintainedIVFIndex(spark, str(tmp_path / "ivfrm"))
    idx.bootstrap(seed, n_lists=8)
    idx.process_batch(emb.filter(F.col("vec_id") % 2 == 1), batch_id=0)
    idx.remove_batch(
        spark.createDataFrame([(i,) for i in removed], "vec_id long"),
        batch_id=1,
    )

    ref = MaintainedIVFIndex(spark, str(tmp_path / "ivfrmref"))
    ref.bootstrap(seed, n_lists=8)
    ref.process_batch(
        emb.filter((F.col("vec_id") % 2 == 1) & ~F.col("vec_id").isin(removed)),
        batch_id=0,
    )
    # refine source also excludes the removed vectors (they left the corpus)
    remaining = emb.filter(~F.col("vec_id").isin(removed))
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).first().embedding]
    key = lambda rows: [(r.vec_id, round(r.score, 9)) for r in rows]
    want = key(ref.search(qv, refine_src=remaining, k=10, n_probe=3).collect())
    got = key(idx.search(qv, refine_src=remaining, k=10, n_probe=3).collect())
    assert got == want and 1 not in {v for v, _ in got}

    qdf = spark.createDataFrame([(7, qv)], "query_id bigint, qvec array<double>")
    got_many = [
        (r.vec_id, round(r.score, 9))
        for r in idx.search_many(qdf, refine_src=remaining, k=10, n_probe=3).collect()
    ]
    assert got_many == want

    # unknown id: no-op for the ratio
    r1 = idx.tombstone_ratio()
    idx.remove_batch(
        spark.createDataFrame([(999999,)], "vec_id long"), batch_id=2
    )
    assert idx.tombstone_ratio() == r1
    assert 0.0 < r1 < 0.5 and not idx.should_rebuild()
    assert idx.should_rebuild(threshold=r1 / 2)

    idx.compact()
    import os

    assert not os.path.exists(idx.tombstones_path)
    assert idx.tombstone_ratio() == 0.0
    assert key(idx.search(qv, refine_src=remaining, k=10, n_probe=3).collect()) == want
    assert (
        spark.read.parquet(idx.codes_path)
        .filter(F.col("vec_id").isin(removed))
        .count()
        == 0
    )


def test_query_load_profile_trend_branches(spark):
    # synthetic QPS ramps exercise the spike/drop trend branches and
    # the scale signals the organic fixture (tiny, stable QPS) cannot
    from datetime import datetime, timedelta

    from nornicdb_spark.streaming.load import query_load_profile

    t0 = datetime(2024, 1, 1)

    def ev_df(counts):
        rows = []
        eid = 0
        for i, n in enumerate(counts):
            for j in range(n):
                rows.append((eid, t0 + timedelta(seconds=i, microseconds=j)))
                eid += 1
        return spark.createDataFrame(rows, "event_id long, ts timestamp")

    # steep ramp: velocity > spike/10 → increasing; pred_5m explodes
    # past the threshold → scale_up
    up = query_load_profile(
        ev_df([10, 30, 60, 100, 150, 210]), bucket_seconds=1,
        threshold_qps=100.0,
    ).collect()[0]
    assert up.trend == "increasing" and up.scale_up and not up.scale_down

    # decline → decreasing; current lands under 0.5·threshold but
    # above min → scale_down; the 1h extrapolation clamps at zero
    down = query_load_profile(
        ev_df([210, 150, 100, 70, 50, 40]), bucket_seconds=1,
        threshold_qps=100.0, min_qps=1.0,
    ).collect()[0]
    assert down.trend == "decreasing" and down.scale_down and not down.scale_up
    assert down.pred_1h == 0.0  # clamped at zero


def test_relationship_trends_directions(spark):
    # synthetic co-access series: a ramping pair strengthens, a fading
    # pair weakens, a 2-observation pair is 'unknown'
    from datetime import datetime, timedelta

    from nornicdb_spark.streaming.evolution import relationship_trends

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0

    def add(user, hour, n):
        nonlocal eid
        for j in range(n):
            rows.append(
                (eid, t0 + timedelta(hours=hour, microseconds=j), user)
            )
            eid += 1

    for h in range(8):  # pair (1,2): both ramp up → weight ramps
        add(1, h, 1 + 2 * h)
        add(2, h, 1 + 2 * h)
    for h in range(8):  # pair (3,4): both fade
        add(3, h, 16 - 2 * h)
        add(4, h, 16 - 2 * h)
    add(5, 0, 3)  # pair (5,6): two shared windows → unknown
    add(6, 0, 3)
    add(5, 1, 3)
    add(6, 1, 3)
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    got = {
        (r.a, r.b): (r.direction, r.n_obs)
        for r in relationship_trends(ev).collect()
    }
    assert got[(1, 2)] == ("strengthening", 8)
    assert got[(3, 4)] == ("weakening", 8)
    assert got[(5, 6)][0] == "unknown" and got[(5, 6)][1] == 2


def test_maintained_remove_empty_batch_is_noop(spark, sf_dir, tmp_path):
    # foreachBatch can deliver an EMPTY removal batch — it must be a
    # recorded no-op (guard advances, stats unchanged, no crash on the
    # empty dk-bucket literal)
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index
    from nornicdb_spark.streaming.ivf import MaintainedIVFIndex

    docs = Catalog(spark, sf_dir).documents
    idx = MaintainedBM25Index(spark, str(tmp_path / "ftempty"))
    idx.process_batch(docs, batch_id=0)
    before = idx.corpus_stats()
    idx.remove_batch(
        spark.createDataFrame([], "doc_id long"), batch_id=1
    )
    assert idx.corpus_stats() == before
    q = "spark join query"
    assert idx.search(q, k=5).count() == 5

    emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
    ivf = MaintainedIVFIndex(spark, str(tmp_path / "ivfempty"))
    ivf.bootstrap(emb, n_lists=4)
    ivf.remove_batch(spark.createDataFrame([], "vec_id long"), batch_id=0)
    assert ivf.tombstone_ratio() == 0.0


def test_maintained_reingest_of_removed_id_refused_until_compact(
    spark, sf_dir, tmp_path
):
    # re-using a removed id while its tombstone is pending would be
    # silently hidden (anti-join) and then dropped (compaction fold) —
    # the ingest path refuses loudly instead; after compact() the id is
    # physically gone and may be re-used as a fresh document
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index

    docs = Catalog(spark, sf_dir).documents
    idx = MaintainedBM25Index(spark, str(tmp_path / "ftreuse"))
    idx.process_batch(docs.filter(F.col("doc_id") < 100), batch_id=0)
    idx.remove_batch(spark.createDataFrame([(7,)], "doc_id long"), batch_id=1)
    reuse = docs.filter(F.col("doc_id") == 7)
    with pytest.raises(ValueError, match="REMOVED doc_id"):
        idx.process_batch(reuse, batch_id=2)
    idx.compact()
    idx.process_batch(reuse, batch_id=2)  # fresh document now
    n, _ = idx.corpus_stats()
    assert n == 100  # 100 ingested − 1 removed + 1 re-ingested
    hits = idx.search("spark join query", k=100)
    assert hits.filter(F.col("doc_id") == 7).count() <= 1


# ---- maintained approximate-distinct index (streaming/sketches.py) -------


def _mk_distinct_idx(spark, tmp_path):
    from nornicdb_spark.streaming.sketches import MaintainedDistinctIndex

    ev = spark.createDataFrame(
        [(i, "a" if i % 3 else "b", i % 37) for i in range(200)],
        "event_id long, grp_col string, uid long",
    )
    idx = MaintainedDistinctIndex(
        spark, str(tmp_path / "distidx"), "grp_col", "uid"
    )
    return ev, idx


def test_maintained_distinct_union_matches_exact_small(spark, tmp_path):
    ev, idx = _mk_distinct_idx(spark, tmp_path)
    for b in range(3):
        idx.process_batch(ev.filter(F.col("event_id") % 3 == b), batch_id=b)
    got = {r.grp: r.approx_distinct for r in idx.counts().collect()}
    want = {
        r.grp_col: r.e
        for r in ev.groupBy("grp_col")
        .agg(F.countDistinct("uid").alias("e"))
        .collect()
    }
    # at these cardinalities (<= 37 << 2^12 registers) HLL++ is exact
    assert got == want


def test_maintained_distinct_replay_and_compact_invariance(spark, tmp_path):
    ev, idx = _mk_distinct_idx(spark, tmp_path)
    for b in range(3):
        idx.process_batch(ev.filter(F.col("event_id") % 3 == b), batch_id=b)
    before = {r.grp: r.approx_distinct for r in idx.counts().collect()}
    # replaying the LATEST batch is a recorded no-op (anti-join self-heal)
    idx.process_batch(ev.filter(F.col("event_id") % 3 == 2), batch_id=2)
    assert {r.grp: r.approx_distinct for r in idx.counts().collect()} == before
    # a STALE batch is refused by the guard
    with pytest.raises(Exception, match="batch|stale|replay"):
        idx.process_batch(ev.filter(F.col("event_id") % 3 == 0), batch_id=0)
    # compaction folds to one row per group without moving any estimate
    idx.compact()
    assert {r.grp: r.approx_distinct for r in idx.counts().collect()} == before
    rows = spark.read.parquet(idx.sketches_path)
    assert rows.groupBy("grp").count().agg(F.max("count")).collect()[0][0] == 1
    # post-compaction ingest still works and the guard epoch advanced
    # (the i%3==0 slice is all-"b" by construction: grp = "a" iff i%3)
    idx.process_batch(
        ev.filter(F.col("event_id") % 3 == 0).withColumn(
            "uid", F.col("uid") + 1000
        ),
        batch_id=3,
    )
    after = {r.grp: r.approx_distinct for r in idx.counts().collect()}
    assert after["b"] > before["b"] and after["a"] == before["a"]


def test_maintained_distinct_counts_for_prunes_partitions(spark, tmp_path):
    ev, idx = _mk_distinct_idx(spark, tmp_path)
    idx.process_batch(ev, batch_id=0)
    sub = idx.counts_for(["a"])
    plan = sub._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "gk" in m.group(1), plan[:2000]
    assert {r.grp for r in sub.collect()} == {"a"}


def test_maintained_distinct_remove_refuses(spark, tmp_path):
    _, idx = _mk_distinct_idx(spark, tmp_path)
    with pytest.raises(NotImplementedError, match="append-only"):
        idx.remove()


def test_maintained_histogram_removal_and_quantile(spark, tmp_path):
    from nornicdb_spark.streaming.sketches import MaintainedHistogramIndex

    ev = spark.createDataFrame(
        [(i, "g", float(i % 100)) for i in range(400)],
        "event_id long, grp_col string, v double",
    )
    idx = MaintainedHistogramIndex(
        spark, str(tmp_path / "histidx"), "grp_col", "v", width=10.0
    )
    for b in range(2):
        idx.process_batch(ev.filter(F.col("event_id") % 2 == b), batch_id=b)
    # 0..99 uniform, width 10: cum at bucket 4 is exactly 200 = 0.5*400,
    # so bucket 4 is the first to reach the target -> midpoint 45
    got = idx.quantile(0.5).collect()[0]
    assert (got.grp, got.q_est, got.total) == ("g", 45.0, 400)
    # remove the upper half: median collapses into the 20s bucket
    idx.remove_batch(ev.filter(F.col("v") >= 50.0), batch_id=2)
    got = idx.quantile(0.5).collect()[0]
    assert (got.q_est, got.total) == (25.0, 200)
    assert idx.audit().count() == 0
    # over-removal surfaces as a net-negative bucket
    idx.remove_batch(
        spark.createDataFrame([(1, "g", 99.0)], "event_id long, grp_col string, v double"),
        batch_id=3,
    )
    assert idx.audit().count() == 1
    # compaction folds and drops zero-net buckets without moving answers
    before = {(r.grp, r.bucket): r.n for r in idx.totals().collect()}
    idx.compact()
    assert {(r.grp, r.bucket): r.n for r in idx.totals().collect()} == before
    rows = spark.read.parquet(idx.hist_path)
    assert rows.groupBy("grp", "bucket").count().agg(F.max("count")).collect()[0][0] == 1


def test_maintained_histogram_replay_self_heals(spark, tmp_path):
    from nornicdb_spark.streaming.sketches import MaintainedHistogramIndex

    ev = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(50)],
        "event_id long, grp_col string, v double",
    )
    idx = MaintainedHistogramIndex(
        spark, str(tmp_path / "histidx2"), "grp_col", "v", width=10.0
    )
    idx.process_batch(ev, batch_id=0)
    before = {(r.grp, r.bucket): r.n for r in idx.totals().collect()}
    idx.process_batch(ev, batch_id=0)  # replay of the latest batch: no-op
    assert {(r.grp, r.bucket): r.n for r in idx.totals().collect()} == before
    with pytest.raises(ValueError, match="high-water"):
        idx.process_batch(ev, batch_id=0 - 1)


def test_maintained_histogram_refuses_batch_kind_collision(spark, tmp_path):
    # a removal reusing an ingest's batch_id would be eaten by the
    # replay anti-join as a "replay" — must raise, not silently no-op
    from nornicdb_spark.streaming.sketches import MaintainedHistogramIndex

    ev = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(10)],
        "event_id long, grp_col string, v double",
    )
    idx = MaintainedHistogramIndex(
        spark, str(tmp_path / "histidx3"), "grp_col", "v", width=10.0
    )
    idx.process_batch(ev, batch_id=0)
    with pytest.raises(ValueError, match="already used for a 'ingest'"):
        idx.remove_batch(ev, batch_id=0)
    # totals untouched and a fresh id still removes
    assert idx.totals().agg(F.sum("n")).collect()[0][0] == 10
    idx.remove_batch(ev.limit(3), batch_id=1)
    assert idx.totals().agg(F.sum("n")).collect()[0][0] == 7


def test_maintained_sample_equals_batch_and_survives_replay(spark, tmp_path):
    from nornicdb_spark.operators.textops import weighted_sample
    from nornicdb_spark.streaming.sketches import MaintainedSampleIndex

    docs = spark.createDataFrame(
        [(i, float(1 + i % 7)) for i in range(300)], "doc_id long, weight double"
    )
    idx = MaintainedSampleIndex(spark, str(tmp_path / "sampleidx"), n=20)
    for b in range(3):
        idx.process_batch(docs.filter(F.col("doc_id") % 3 == b), batch_id=b)
    batch = [(r.doc_id, r.key) for r in weighted_sample(docs, 20, "weight").collect()]
    got = [(r.doc_id, r.key) for r in idx.sample().collect()]
    assert got == batch  # byte-identical to the batch operator
    # replay of the latest batch is a no-op
    idx.process_batch(docs.filter(F.col("doc_id") % 3 == 2), batch_id=2)
    assert [(r.doc_id, r.key) for r in idx.sample().collect()] == batch
    # compaction folds to n rows without moving the sample
    idx.compact()
    assert [(r.doc_id, r.key) for r in idx.sample().collect()] == batch
    assert spark.read.parquet(idx.cands_path).count() == 20
    # post-compaction ingest still merges correctly
    heavy = spark.createDataFrame(
        [(1000 + i, 1000.0) for i in range(5)], "doc_id long, weight double"
    )
    idx.process_batch(heavy, batch_id=3)
    after = {r.doc_id for r in idx.sample().collect()}
    assert {1000 + i for i in range(5)} <= after
    with pytest.raises(NotImplementedError, match="append-only"):
        idx.remove()
