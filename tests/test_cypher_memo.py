"""Pattern memo and EXPLAIN: a read-only query's leading fixed-length
MATCH is built once per store snapshot and its inline property maps
become filters on the reused frame (``Compiler._memo_match``). These
tests pin that a warm build plans like a cold one and like the plain
(memo-less) build, that writes are seen, that fresh names never
collide, that the memo stays bounded and frees nothing it does not own,
and that a warm build stays cheap in py4j round trips.
"""

from __future__ import annotations

import re

import pytest

from nornicdb_spark.cypher import compiler as C
from nornicdb_spark.engine import Engine, _cached_parse
from nornicdb_spark.operators import scope
from nornicdb_spark.trace import CommandCounter
from perfbench.graph_read import AGG, HOP1, HOP2, POINT


@pytest.fixture()
def eng(spark, sf_dir):
    e = Engine(spark, sf_dir)
    yield e
    e.close()


def optimized(df) -> str:
    """Optimized logical plan with expression ids stripped."""
    return re.sub(r"#\d+L?", "", df._jdf.queryExecution().optimizedPlan().toString())


def physical(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


# ---- EXPLAIN ----------------------------------------------------------------

def test_explain_binds_parameters(eng):
    plan = eng.cypher(
        "EXPLAIN MATCH (c:Customer {c_custkey: $k}) RETURN c.c_name AS n", {"k": 7}
    ).collect()[0].plan
    assert "Physical plan" in plan and "c_custkey" in plan


def test_explain_reads_the_store(eng):
    eng.cypher("CREATE (:Tag {name: 'x'})")
    q = "MATCH (t:Tag) RETURN count(*) AS n"
    assert eng.cypher(q).collect()[0].n == 1
    plan = eng.cypher("EXPLAIN " + q).collect()[0].plan
    # the compile without the store saw no Tag table: an empty scan
    assert "LocalTableScan <empty>" not in plan
    with pytest.raises(ValueError, match="read-only"):
        eng.explain("CREATE (:Tag {name: 'y'})")
    assert eng.cypher(q).collect()[0].n == 1


# ---- pattern memo -------------------------------------------------------------

def test_warm_build_plans_like_cold_and_plain_build(eng):
    cold = eng.cypher(HOP2, {"k": 7})
    assert len(eng._pattern_memo) == 1
    eng.cypher(HOP2, {"k": 8})  # a hit with other parameters
    # an unused parameter keys a new result-cache entry, so this is a
    # second build of the k=7 read, from the memo
    warm = eng.cypher(HOP2, {"k": 7, "unused": 0})
    assert warm is not cold and len(eng._pattern_memo) == 1
    plain = C.Compiler(eng.catalog, {"k": 7}, store=eng.store).compile(_cached_parse(HOP2))
    assert optimized(warm) == optimized(cold) == optimized(plain)
    scan = [line for line in physical(warm).splitlines() if "PushedFilters" in line]
    assert any("EqualTo(c_custkey,7)" in line for line in scan), scan
    assert rows(warm) == rows(cold) == rows(plain)


def test_same_pattern_reads_post_write_rows(eng):
    q = ("MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order) "
         "RETURN o.o_orderkey AS ok, o.o_totalprice AS tp")
    assert rows(eng.cypher(q, {"k": 990001})) == []
    eng.cypher("CREATE (c:Customer {c_custkey: 990001, c_name: 'memo'})")
    eng.cypher("CREATE (o:Order {o_orderkey: 990002, o_custkey: 990001, o_totalprice: 1.5})")
    eng.cypher("MATCH (c:Customer {c_custkey: 990001}), (o:Order {o_orderkey: 990002}) "
               "CREATE (c)-[:PLACED]->(o)")
    assert rows(eng.cypher(q, {"k": 990001})) == [(990002, 1.5)]
    eng.cypher("MATCH (o:Order {o_orderkey: 990002}) SET o.o_totalprice = 2.5")
    assert rows(eng.cypher(q, {"k": 990001})) == [(990002, 2.5)]
    eng.cypher("MATCH (o:Order {o_orderkey: 990002}) DETACH DELETE o")
    assert rows(eng.cypher(q, {"k": 990001})) == []


def test_anonymous_elements_get_no_fresh_name_collision(eng, duck):
    q = ("MATCH (c:Customer {c_custkey: $k})-[:PLACED]->() "
         "MATCH ()-[:PLACED]->(o:Order {o_custkey: $k}) RETURN count(*) AS n")
    # a miss, then builds from the memo; "i" keeps the result cache out
    for i, k in enumerate((7, 8, 7)):
        ref = duck.execute(
            "SELECT count(*) FROM orders a, orders b WHERE a.o_custkey = ? AND b.o_custkey = ?",
            [k, k],
        ).fetchall()[0][0]
        assert ref > 0
        assert eng.cypher(q, {"k": k, "i": i}).collect()[0].n == ref


def test_varlen_read_reuses_the_static_edge_set(eng, monkeypatch):
    """On an unwritten Engine a var-length read traverses the shared
    catalog graph, so a second read with another ``$k`` checkpoints only
    its frontiers (which carry ``start_id``), never the edge set again."""
    q = "MATCH (c:Customer {c_custkey: $k})-[*1..3]->(x) RETURN count(*) AS n"
    frame_cls = type(eng.store.edges)  # the session's concrete DataFrame
    real = frame_cls.localCheckpoint
    taken = []

    def counting(self, *args, **kw):
        taken.append(self.columns)
        return real(self, *args, **kw)

    monkeypatch.setattr(frame_cls, "localCheckpoint", counting)
    assert eng.cypher(q, {"k": 1}).collect()[0].n > 0
    taken.clear()
    assert eng.cypher(q, {"k": 2}).collect()[0].n > 0
    assert taken and all("start_id" in cols for cols in taken), taken


def test_memo_is_bounded_and_close_frees_only_its_own(spark, eng, monkeypatch):
    monkeypatch.setattr(C, "PATTERN_MEMO_CAP", 3)
    eng.catalog.graph.adj()
    scope.release_escaped()
    base = scope.storage_rdd_count(spark)
    for i in range(8):
        n = eng.cypher(f"MATCH (n:Nation)-[:IN]->(v{i}:Region) "
                       "RETURN count(*) AS n").collect()[0].n
        assert n == 25
        assert len(eng._pattern_memo) <= 3
    assert len(eng._pattern_memo) == 3
    eng.close()
    assert eng._pattern_memo == {}
    assert scope.storage_rdd_count(spark) == base


def test_warm_build_py4j_round_trips(spark, sf_dir):
    """One warm ``Engine.cypher`` build with new parameters of each
    benchmark MATCH read. GC release (``m``) commands are not counted:
    their number depends on garbage-collection timing."""
    eng = Engine(spark, sf_dir)
    fresh = iter(range(1, 1000))

    def params(q):
        k = next(fresh)
        return {"n": k % 25, "b": float(k)} if q is AGG else {"k": k}

    limits = {POINT: 120, HOP1: 120, HOP2: 150, AGG: 220}
    for _ in range(2):
        for q in limits:
            eng.cypher(q, params(q)).collect()
    got = {}
    try:
        for q in limits:
            with CommandCounter() as sent:
                eng.cypher(q, params(q))
            got[q] = sent.n
    finally:
        eng.close()
    assert all(n > 0 for n in got.values()), got
    over = {q: (n, limits[q]) for q, n in got.items() if n > limits[q]}
    assert not over, over
