"""Maintained IVF index: results against an independent exact reference,
the JVM calls and jobs a warm plan build costs, the per-era id-type
cache, and the file layout that compaction leaves behind.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from nornicdb_spark.catalog import Catalog
from nornicdb_spark.operators.localframe import literal_df
from nornicdb_spark.streaming.fulltext import MaintainedBM25Index
from nornicdb_spark.streaming.ivf import MaintainedIVFIndex
from nornicdb_spark.trace import CommandCounter
from perfbench.checks import same_topk
from perfbench.graph_read import cosine_scores

N_LISTS = 4
K = 10


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")


@pytest.fixture(scope="module")
def vectors(emb):
    return {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
            for r in emb.collect()}


def _schedule(spark, emb, path):
    """Bootstrap a third of the corpus, then two append and two remove
    batches; returns the index and the live ids."""
    idx = MaintainedIVFIndex(spark, path)
    idx.bootstrap(emb.filter(F.col("vec_id") % 3 == 0), n_lists=N_LISTS, seed=7)
    live = {int(r.vec_id) for r in emb.filter(F.col("vec_id") % 3 == 0).collect()}
    batch = 0
    for part in (1, 2):
        idx.process_batch(emb.filter(F.col("vec_id") % 3 == part), batch)
        live |= {int(r.vec_id) for r in emb.filter(F.col("vec_id") % 3 == part).collect()}
        gone = sorted(live)[part::11]
        idx.remove_batch(literal_df(spark, [(i,) for i in gone], "vec_id long"), batch + 1)
        live -= set(gone)
        batch += 2
    return idx, live


@pytest.fixture(scope="module")
def ivf(spark, emb, tmp_path_factory):
    return _schedule(spark, emb, str(tmp_path_factory.mktemp("ivf") / "idx"))


def test_search_matches_exact_cosine_over_live_vectors(spark, emb, vectors, ivf):
    """At n_probe = n_lists, ``search`` and every query of ``search_many``
    return the exact cosine top-k over the live vectors (numpy, float64),
    ties allowed to reorder."""
    idx, live = ivf
    ids = np.array(sorted(live))
    mat = np.stack([vectors[i] for i in ids])
    rng = np.random.default_rng(11)
    queries = [vectors[int(i)] + 0.05 * rng.normal(size=mat.shape[1])
               for i in rng.choice(ids, 4, replace=False)]
    refs = [cosine_scores(mat, ids, q, K) for q in queries]
    for q, ref in zip(queries, refs):
        got = [(int(r.vec_id), r.score) for r in idx.search(
            [float(x) for x in q], refine_src=emb, k=K, n_probe=N_LISTS).collect()]
        assert same_topk(got, ref, K), (got, ref)
    qdf = literal_df(spark, [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
                     "query_id long, qvec array<double>")
    many = [[] for _ in queries]
    for r in idx.search_many(qdf, refine_src=emb, k=K, n_probe=N_LISTS).collect():
        many[int(r.query_id)].append((int(r.vec_id), r.score))
    for got, ref in zip(many, refs):
        assert same_topk(got, ref, K), (got, ref)


def _jobs(spark, group: str, build) -> int:
    """Spark jobs that ``build()`` starts, counted by job group once the
    status listener has caught up."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_build_py4j_round_trips_and_jobs(spark, emb, vectors, ivf):
    """One warm plan build each of ``search``, ``search_many`` and
    ``_rows`` stays within a fixed number of JVM calls: measured 120, 158
    and 35 at sf0.001, pinned 20% above (the Column-lambda builds took
    about 745, 2,737 and 1,443). A warm build at n_probe = n_lists starts
    no job: no schema inference for the id type and no probe-list
    collect."""
    idx, live = ivf
    qv = [float(x) for x in vectors[min(live)]]
    qdf = literal_df(spark, [(0, qv), (1, [float(x) for x in vectors[max(live)]])],
                     "query_id long, qvec array<double>")
    fresh = emb.filter(F.col("vec_id") < 20)
    builds = {
        "search": (lambda: idx.search(qv, refine_src=emb, k=K, n_probe=N_LISTS), 144),
        "search_many": (lambda: idx.search_many(qdf, refine_src=emb, k=K, n_probe=N_LISTS), 190),
        "_rows": (lambda: idx._rows(fresh, 99), 42),
    }
    for build, _limit in builds.values():
        build().collect()
        build()
    got = {}
    for name, (build, _limit) in builds.items():
        with CommandCounter() as sent:
            build()
        got[name] = sent.n
    assert all(n > 0 for n in got.values()), got
    over = {n: (c, builds[n][1]) for n, c in got.items() if c > builds[n][1]}
    assert not over, over

    assert _jobs(spark, "ivf-search", builds["search"][0]) == 0
    assert _jobs(spark, "ivf-search-many", builds["search_many"][0]) == 0
    # below n_lists the probe-list collect runs, and is counted
    assert _jobs(spark, "ivf-search-many-pruned", lambda: idx.search_many(
        qdf, refine_src=emb, k=K, n_probe=N_LISTS - 1)) >= 1


def _string_ids(df, col):
    return df.withColumn(col, F.concat(F.lit("v"), F.col(col).cast("string")))


def _rows(df):
    return [(r[0], round(r[1], 9)) for r in df.collect()]


def test_id_type_cache_follows_compaction(spark, emb, tmp_path):
    """A search after ``compact()`` reads the table the fold wrote, and
    returns what a new instance on that path returns."""
    semb = _string_ids(emb, "vec_id")
    path = str(tmp_path / "ivfc")
    idx = MaintainedIVFIndex(spark, path)
    idx.bootstrap(semb.filter(F.col("embedding")[0] > 0), n_lists=N_LISTS, seed=7)
    idx.process_batch(semb.filter(F.col("embedding")[0] <= 0), 0)
    idx.remove_batch(semb.filter(F.col("embedding")[1] > 0.5).select("vec_id"), 1)
    qv = [float(x) for x in emb.orderBy("vec_id").first().embedding]
    before = _rows(idx.search(qv, refine_src=semb, k=K, n_probe=N_LISTS))
    idx.compact()
    after = _rows(idx.search(qv, refine_src=semb, k=K, n_probe=N_LISTS))
    fresh = _rows(MaintainedIVFIndex(spark, path).search(
        qv, refine_src=semb, k=K, n_probe=N_LISTS))
    assert len(before) == K and isinstance(before[0][0], str)
    assert after == fresh == before


def test_id_type_cache_follows_rebootstrap_and_other_instances(spark, emb, tmp_path):
    """A re-bootstrap starts a new era, so an instance whose old table was
    deleted and re-bootstrapped with string ids reads them as strings;
    an instance that looked at the path before anything was ingested
    reads the type written later."""
    path = str(tmp_path / "ivfb")
    early = MaintainedIVFIndex(spark, path)
    assert early.tombstone_ratio() == 0.0  # reads the id type of nothing
    idx = MaintainedIVFIndex(spark, path)
    idx.bootstrap(emb, n_lists=N_LISTS, seed=7)
    qv = [float(x) for x in emb.orderBy("vec_id").first().embedding]
    assert isinstance(idx.search(qv, refine_src=emb, k=K).first().vec_id, int)
    shutil.rmtree(path)
    semb = _string_ids(emb, "vec_id")
    idx.bootstrap(semb, n_lists=N_LISTS, seed=7)
    got = _rows(idx.search(qv, refine_src=semb, k=K, n_probe=N_LISTS))
    assert len(got) == K and isinstance(got[0][0], str)
    assert got == _rows(MaintainedIVFIndex(spark, path).search(
        qv, refine_src=semb, k=K, n_probe=N_LISTS))
    assert got == _rows(early.search(qv, refine_src=semb, k=K, n_probe=N_LISTS))


def test_bm25_id_type_cache_follows_compaction(spark, sf_dir, tmp_path):
    """The BM25 index shares the batch table: its search after a removal
    and a compaction reads string doc ids, as a new instance does."""
    docs = _string_ids(Catalog(spark, sf_dir).documents, "doc_id")
    path = str(tmp_path / "bm25")
    idx = MaintainedBM25Index(spark, path)
    for b in range(2):
        idx.process_batch(docs.filter(F.length("doc_id") % 2 == b), b)
    q = "spark join query performance"
    before = _rows(idx.search(q, k=K))
    gone = before[0][0]
    idx.remove_batch(literal_df(spark, [(gone,)], "doc_id string"), 2)
    removed = _rows(idx.search(q, k=K))
    idx.compact()
    after = _rows(idx.search(q, k=K))
    assert isinstance(gone, str) and gone not in [d for d, _s in removed]
    assert after == _rows(MaintainedBM25Index(spark, path).search(q, k=K))
    assert [d for d, _s in after] == [d for d, _s in removed]


def _data_files(path: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(path):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            out[os.path.relpath(root, path)] = n
    return out


def test_identical_schedules_leave_identical_files(spark, emb, tmp_path):
    """Two runs of one append/remove/compact schedule leave the same
    parquet files per directory, and the fold writes one file per
    partition directory."""
    layouts = []
    for run in range(2):
        idx, _live = _schedule(spark, emb, str(tmp_path / f"run{run}"))
        idx.compact()
        layouts.append(_data_files(idx.path))
    assert layouts[0] == layouts[1]
    codes = {d: n for d, n in layouts[0].items() if d.startswith("codes")}
    assert codes and all(d.startswith("codes/src_batch=-2/") for d in codes), codes
    assert set(codes.values()) == {1}, codes


def test_rebootstrap_replaces_the_old_era(spark, emb, tmp_path):
    """Re-bootstrapping a used path (appends, a compaction, a pending
    removal) leaves the files and search rows of a fresh index on a fresh
    path, and a removed id may be ingested again: no code written under
    the old centroids' lists and no old tombstone survives."""
    seed = emb.filter(F.col("vec_id") % 3 == 0)
    used = MaintainedIVFIndex(spark, str(tmp_path / "used"))
    used.bootstrap(emb.filter(F.col("vec_id") % 3 == 1), n_lists=N_LISTS, seed=3)
    used.process_batch(emb.filter(F.col("vec_id") % 3 == 2), 0)
    used.compact()
    used.process_batch(seed.filter(F.col("vec_id") % 2 == 0), 1)
    gone = int(emb.filter(F.col("vec_id") % 3 == 1).orderBy("vec_id").first().vec_id)
    used.remove_batch(literal_df(spark, [(gone,)], "vec_id long"), 2)
    used.bootstrap(seed, n_lists=N_LISTS, seed=7)
    fresh = MaintainedIVFIndex(spark, str(tmp_path / "fresh"))
    fresh.bootstrap(seed, n_lists=N_LISTS, seed=7)

    assert _data_files(used.path) == _data_files(fresh.path)
    qv = [float(x) for x in emb.orderBy("vec_id").first().embedding]
    got = _rows(used.search(qv, refine_src=emb, k=K, n_probe=N_LISTS))
    assert len(got) == K
    assert got == _rows(fresh.search(qv, refine_src=emb, k=K, n_probe=N_LISTS))
    again = emb.filter(F.col("vec_id") == gone)
    used.process_batch(again, 0)
    fresh.process_batch(again, 0)
    assert _data_files(used.path) == _data_files(fresh.path)


def test_recall_sentinel_is_the_per_query_loop_in_fewer_jobs(spark, emb, ivf):
    """``recall_sentinel`` scores its sample with one batched exact scan
    and one ``search_many``: the value equals the mean recall of the
    per-query ``cosine_topk`` and ``search`` pairs, and the call starts
    fewer jobs than that loop."""
    from nornicdb_spark.search.vector import cosine_topk

    idx, _live = ivf
    n, k, n_probe = 4, 5, 2
    codes = idx.codes.read("bigint")
    latest = codes.agg(F.max("src_batch")).collect()[0][0]

    def loop():
        ids = [r.vec_id for r in codes.filter(F.col("src_batch") == latest)
               .select("vec_id").orderBy("vec_id").limit(n).collect()]
        recalls = []
        for r in emb.filter(F.col("vec_id").isin(ids)).collect():
            qv = [float(x) for x in r.embedding]
            exact = {x[0] for x in cosine_topk(emb, qv, k).collect()}
            got = {x[0] for x in idx.search(qv, emb, k, n_probe).collect()}
            recalls.append(len(exact & got) / float(k))
        return sum(recalls) / len(recalls)

    want = loop()
    got = idx.recall_sentinel(emb, n_queries=n, k=k, n_probe=n_probe)
    assert got == want and 0.0 < got <= 1.0
    loop_jobs = _jobs(spark, "sentinel-loop", loop)
    jobs = _jobs(spark, "sentinel", lambda: idx.recall_sentinel(
        emb, n_queries=n, k=k, n_probe=n_probe))
    assert jobs < loop_jobs, (jobs, loop_jobs)
