"""Session-lifetime block-manager hygiene.

The reference keeps an explicit cache lifecycle (executor.go:659-692:
TTL'd result cache with label-aware invalidation; only the adjacency maps
are always-resident). The Spark analogue: every iterative operator
truncates lineage with ``localCheckpoint``, and without lifecycle
management those blocks pin block-manager storage for the life of the
session — measured pre-fix at sf0.1: pagerank 3.7 s isolated vs 17.7 s as
pass 2 of a suite session. These tests are the regression gate for the
fix (operators/scope.CkptScope + Engine.close/shutdown):

1. running the 6-query graph suite repeatedly must NOT grow the number of
   cached RDDs in the block manager (the memoized static working set —
   shared adjacency, pagerank base, oriented-edge memos — is built on
   pass 1 and is the allowed resident set);
2. a later pass must not be slower than the first beyond noise;
3. ``Engine.close()`` releases every store/compile checkpoint and drains
   the escape registry; ``Engine.shutdown()`` leaves zero cached RDDs.
"""

from __future__ import annotations

import time

from nornicdb_spark.operators import scope
from nornicdb_spark.queries import QUERIES

GRAPH_SUITE = [
    "graph_orders_per_customer",
    "graph_customer_parts_2hop",
    "graph_link_prediction_suppliers",
    "graph_var_length_reach",
    "graph_pagerank",
    "graph_dijkstra_customer_parts",
]


def _materialize(df):
    df.write.mode("overwrite").format("noop").save()


def _run_suite(spark, sf_dir):
    t = {}
    for name in GRAPH_SUITE:
        t0 = time.perf_counter()
        _materialize(QUERIES[name](spark, sf_dir))
        t[name] = time.perf_counter() - t0
    return t


def test_graph_suite_storage_flat_across_passes(spark, sf_dir, catalog):
    # warm pass builds the memoized statics (allowed resident set) and
    # leaves this suite's deferred frames in the bounded escape registry
    pass1 = _run_suite(spark, sf_dir)
    scope.release_escaped()
    resident = scope.storage_rdd_count(spark)

    pass2 = _run_suite(spark, sf_dir)
    scope.release_escaped()
    after = scope.storage_rdd_count(spark)

    # the invariant that failed pre-fix: each suite pass left its
    # superseded frontier/contrib checkpoints pinned (~dozens of RDDs)
    assert after <= resident, (
        f"block-manager RDD count grew across a suite pass: "
        f"{resident} -> {after}"
    )

    # steady-state must not degrade. sf0.001 timings are planner-dominated
    # and noisy, so gate on the suite total with slack — the pre-fix
    # failure mode was 2-5x per query, far outside this band.
    assert sum(pass2.values()) <= 1.5 * sum(pass1.values()) + 1.0, (
        f"suite pass 2 degraded: {pass1} -> {pass2}"
    )


def test_escape_registry_bounded(spark, sf_dir):
    # registry never exceeds its cap even under many invocations
    for _ in range(3):
        _materialize(QUERIES["graph_var_length_reach"](spark, sf_dir))
    assert scope.escaped_count() <= scope._ESCAPE_CAP


def test_engine_close_releases_store_checkpoints(spark, sf_dir):
    from nornicdb_spark.engine import Engine

    scope.release_escaped()  # close() is owner-scoped: drain others first
    eng = Engine(spark, sf_dir)
    eng.cypher("CREATE (r:Region {r_regionkey: 901, r_name: 'HYGIENE'})")
    eng.cypher(
        "MATCH (r:Region) WHERE r.r_regionkey = 901 SET r.r_comment = 'x'"
    )
    rows = eng.cypher(
        "MATCH (r:Region) WHERE r.r_regionkey = 901 RETURN r.r_name AS name"
    ).collect()
    assert rows[0]["name"] == "HYGIENE"
    eng.close()
    assert scope.escaped_count() == 0


def test_engine_shutdown_zero_cached_rdds(spark, sf_dir):
    from nornicdb_spark.engine import Engine

    # baseline: cached RDDs held by OTHER suites sharing this session
    # (e.g. per-test HNSW shards) — shutdown must return us to exactly
    # this level, i.e. zero RDDs attributable to the engine family
    scope.release_escaped()
    base = scope.storage_rdd_count(spark)

    eng = Engine(spark, sf_dir)
    # touch graph + relational paths so the resident working set exists
    _materialize(QUERIES["graph_orders_per_customer"](spark, sf_dir))
    eng.cypher("MATCH (n:Nation) RETURN count(n) AS n").collect()
    eng.shutdown()
    assert scope.storage_rdd_count(spark) <= base, (
        "Engine.shutdown() must leave no engine-owned cached RDDs "
        f"(baseline {base}, after {scope.storage_rdd_count(spark)})"
    )
    # the working set rebuilds lazily after shutdown
    out = QUERIES["graph_orders_per_customer"](spark, sf_dir)
    assert out.limit(1).count() >= 0


def test_cached_plan_survives_registry_churn(spark, sf_dir):
    # ADVICE r7: a cached compiled plan embedding an operator result
    # (CALL gds.pageRank -> algorithms.pagerank, whose kept contribs
    # frame used to be FIFO-escaped) must survive > _ESCAPE_CAP later
    # escapes — its support frames are pinned to the cache entry now.
    from pyspark.sql import functions as F

    from nornicdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    q = (
        "CALL apoc.algo.pageRank(20) YIELD node, score "
        "RETURN node, score ORDER BY score DESC, node LIMIT 5"
    )
    first = eng.cypher(q).collect()
    entry = next(
        v for k, v in eng._result_cache.items() if k[0] == q
    )
    assert len(entry) == 3  # (df, ckpts, pinned)
    # churn the FIFO well past its cap with throwaway checkpoints
    for i in range(scope._ESCAPE_CAP + 8):
        scope.escape_frame(
            spark.range(2).withColumn("i", F.lit(i)).localCheckpoint()
        )
    again = eng.cypher(q)  # cache hit
    assert again.collect() == first  # would raise block-not-found pre-fix
    eng.close()


def test_engine_close_is_owner_scoped(spark, sf_dir):
    # ADVICE r7: closing one engine must not free frames escaped on
    # behalf of another live consumer.
    scope.release_escaped()
    other = spark.range(5).localCheckpoint()  # an unrelated consumer's frame
    scope.escape_frame(other)
    assert scope.escaped_count() == 1

    from nornicdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.cypher("CREATE (r:Region {r_regionkey: 902, r_name: 'OWN'})")
    eng.close()
    # the foreign frame is still registered AND still readable
    assert scope.escaped_count() == 1
    assert other.count() == 5
    scope.release_escaped()


def test_engine_close_over_cap_keeps_foreign_frames(spark, sf_dir, monkeypatch):
    # ADVICE r8: with a WARM result cache (more frames than _ESCAPE_CAP),
    # close() must not route its mass release through the bounded FIFO —
    # the overflow loop would evict the OLDEST entries regardless of
    # owner, i.e. other live consumers' frames. close() now unpersists
    # engine-owned frames directly; the FIFO is untouched.
    scope.release_escaped()
    monkeypatch.setattr(scope, "_ESCAPE_CAP", 1)  # any escape overflows
    other = spark.range(7).localCheckpoint()  # a foreign consumer's frame
    scope.escape_frame(other)
    assert scope.escaped_count() == 1

    from nornicdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    # simulate a warm cache: entries whose ckpt frames must be released
    # at close (3 frames > cap=1 — the old escape path would overflow)
    frames = [spark.range(3 + i).localCheckpoint() for i in range(3)]
    for i, f in enumerate(frames):
        assert scope._plan_rdd(f) is not None  # vacuity guard
        eng._result_cache[("warm", i)] = (f, [f], [])
    eng.close()
    # the foreign frame survived close() AND is still readable
    assert scope.escaped_count() == 1
    assert other.count() == 7
    # and the engine's own frames were genuinely released (their blocks
    # are gone — a localCheckpoint cannot recompute)
    import pytest as _pytest

    with _pytest.raises(Exception):
        frames[0].count()
    scope.release_escaped()


def test_escape_scoping_is_thread_local(spark):
    # ADVICE r8: concurrent Engine.query() threads must not divert one
    # thread's escaped frames into another thread's capture list (module-
    # level stacks did exactly that).
    import threading

    scope.release_escaped()
    captured = {}
    ready, done = threading.Event(), threading.Event()

    def capturer():
        with scope.capture_escapes() as lst:
            ready.set()
            done.wait(10)
            captured["lst"] = list(lst)

    t = threading.Thread(target=capturer)
    t.start()
    ready.wait(10)
    f = spark.range(4).localCheckpoint()
    scope.escape_frame(f)  # main thread: FIFO, NOT the capturer's list
    done.set()
    t.join(10)
    assert captured["lst"] == []
    assert scope.escaped_count() == 1
    scope.release_escaped()


def test_lsh_near_duplicates_storage_flat(spark, catalog):
    # the LSH path's lazily checkpointed band table is read by the lazy
    # result plan, so it must enter the escape registry like every other
    # operator checkpoint — repeated calls in one long session must not
    # pin one more block-manager RDD each
    from nornicdb_spark.operators.dedup import embedding_near_duplicates

    emb = catalog.embeddings.select("vec_id", "embedding")

    def run():
        _materialize(embedding_near_duplicates(emb, threshold=0.9, exact=False))

    run()
    scope.release_escaped()
    resident = scope.storage_rdd_count(spark)
    for _ in range(3):
        run()
    scope.release_escaped()
    after = scope.storage_rdd_count(spark)
    assert after <= resident, (
        f"block-manager RDD count grew across LSH near-dup calls: "
        f"{resident} -> {after}"
    )
