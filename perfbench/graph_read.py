"""graph_read: parameterized Cypher reads through one ``Engine``.

Op types: point lookup by key, 1-hop expand, 2-hop expand + aggregate,
filtered aggregation, and the fulltext and vector index procedures.
Customer keys follow a Zipf law over a seeded permutation of all
customers. Each op draws parameters its type has not used yet, except
one fixed slot per cycle that repeats the cycle's previous point lookup,
so every cycle has the same op mix and the same result-cache hits.

References come from DuckDB over the same parquet files (BM25 through
the engine's own ``bm25_oracle_sql``) and from an exact numpy cosine
scan for vector queries.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import checks, datagen
from perfbench.harness import CacheProbe, Op

POINT = "MATCH (c:Customer {c_custkey: $k}) RETURN c.c_name AS name, c.c_acctbal AS bal"
HOP1 = ("MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order) "
        "RETURN o.o_orderkey AS ok, o.o_totalprice AS tp")
HOP2 = ("MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
        "RETURN p.p_brand AS brand, count(*) AS n")
AGG = ("MATCH (c:Customer) WHERE c.c_nationkey = $n AND c.c_acctbal > $b "
       "RETURN c.c_mktsegment AS seg, count(*) AS n, sum(c.c_acctbal) AS total")
FULLTEXT = ("CALL db.index.fulltext.queryNodes('documents_fulltext', $q, 10) "
            "YIELD node, score RETURN node, score")
VECTOR = ("CALL db.index.vector.queryNodes('embeddings_cosine', 10, $v) "
          "YIELD node, score RETURN node, score")

# one cycle of the schedule: (op type, repeats the type's previous
# (query, params) pair in this cycle)
CYCLE = (
    ("point", False), ("hop1", False), ("hop2", False), ("agg", False), ("point", False),
    ("fulltext", False), ("hop1", False), ("vector", False), ("agg", False),
    ("vector", False), ("point", True),
)
# measured time of one cycle on a 4-core host; sets how many cycles
# fill --seconds
CYCLE_S = 3.4
# untimed cycles before timing starts. The JVM keeps compiling hot code
# for minutes (a cycle runs about 1.7 times faster after 18 cycles than
# after one), so timing starts on a flatter part of that curve.
WARM_CYCLES = 2
TOPK = 10


def duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def zipf_keys(rng, n_keys: int, count: int, a: float = 1.3) -> list[int]:
    perm = rng.permutation(n_keys)
    return [int(perm[(z - 1) % n_keys]) for z in rng.zipf(a, count)]


def agg_params(k: int) -> dict:
    return {"n": k % 25, "b": float((k // 25) % 10 * 500)}


def bm25_scores(con, query: str, k: int, where: str | None = None) -> dict:
    """Reference BM25 scores of the k best docs and every doc tied with
    them, through the engine's DuckDB oracle SQL."""
    from nornicdb_spark.search.bm25 import bm25_oracle_sql

    rows = con.execute(bm25_oracle_sql(query, k=k + 25, doc_filter=where)).fetchall()
    return {int(d): float(s) for d, s in rows}


def cosine_scores(mat: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> dict:
    s = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.argsort(-s)[: k + 25]
    return {int(ids[i]): float(s[i]) for i in order}


class Workload:
    name = "graph_read"

    def __init__(self, data_dir: str, seed: int, seconds: int, scale: str = "bench"):
        self.data_dir = data_dir
        sc = datagen.SCALES[scale]
        rng = np.random.default_rng(seed * 7919 + 1)
        n_cycles = max(1, int(seconds / CYCLE_S + 0.5))
        # cycles below 0 are the untimed warm-up, with their own draws
        slots = [(t, r, c) for c in range(-WARM_CYCLES, n_cycles) for t, r in CYCLE]
        keys = iter(zipf_keys(rng, sc.customers, 50 * len(slots)))
        con = duck(data_dir)
        emb = con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
        ids = np.array([r[0] for r in emb])
        mat = np.array([r[1] for r in emb], dtype=np.float64)
        used: set = set()

        def fresh_key(t: str) -> int:
            # the next Zipf draw whose parameters this op type has not
            # used yet: a result-cache miss
            for k in keys:
                pk = (t, tuple(agg_params(k).values()) if t == "agg" else k)
                if pk not in used:
                    used.add(pk)
                    return k
            raise ValueError("graph_read: ran out of fresh keys")

        self.plan = []
        for t, repeat, cycle in slots:
            if repeat:
                prev = [x for x in self.plan if x[0] == t][-1]
                self.plan.append((t, prev[1], prev[2], True, cycle))
                continue
            k = fresh_key(t)
            if t == "point":
                p = {"k": k}
                ref = con.execute("SELECT c_name, c_acctbal FROM customer WHERE c_custkey = ?", [k]).fetchall()
            elif t == "hop1":
                p = {"k": k}
                ref = con.execute("SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = ?", [k]).fetchall()
            elif t == "hop2":
                p = {"k": k}
                ref = con.execute(
                    "SELECT p_brand, count(*) FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
                    "JOIN part ON p_partkey = l_partkey WHERE o_custkey = ? GROUP BY p_brand", [k]
                ).fetchall()
            elif t == "agg":
                # nation and balance floor from the key: distinct keys
                # give distinct (nation, floor) pairs
                p = agg_params(k)
                ref = con.execute(
                    "SELECT c_mktsegment, count(*), sum(c_acctbal) FROM customer "
                    "WHERE c_nationkey = ? AND c_acctbal > ? GROUP BY 1", [p["n"], p["b"]]
                ).fetchall()
            elif t == "fulltext":
                p = {"q": " ".join(rng.choice(datagen.VOCAB, size=2, replace=False))}
                while ("fulltext", p["q"]) in used:
                    p = {"q": " ".join(rng.choice(datagen.VOCAB, size=2, replace=False))}
                used.add(("fulltext", p["q"]))
                ref = bm25_scores(con, p["q"], TOPK)
            else:  # vector: a stored vector plus noise, keyed by a Zipf draw
                q = mat[k % len(mat)] + 0.05 * rng.normal(size=mat.shape[1])
                p = {"v": [float(x) for x in q]}
                ref = cosine_scores(mat, ids, q, TOPK)
            self.plan.append((t, p, ref, False, cycle))
        con.close()
        self.n_warm = WARM_CYCLES * len(CYCLE)
        self.distinct_keys = len({(x[0], repr(sorted(x[1].items()))) for x in self.plan})

    # -- program set-up (timed as setup_s) --------------------------------------
    def setup(self, spark, work: str) -> None:
        from nornicdb_spark.engine import Engine

        self.engine = Engine(spark, self.data_dir)
        self.cache = CacheProbe()
        t0 = time.perf_counter()
        self.engine.catalog.graph.adj()
        self.graph_build_s = time.perf_counter() - t0
        ops = [self._op(*x) for x in self.plan]
        t0 = time.perf_counter()
        for op in ops[: self.n_warm]:
            op.run()
        self.warmup_s = time.perf_counter() - t0
        self.cache.hits = self.cache.attempts = 0
        self.ops = ops[self.n_warm:]

    def _op(self, t: str, params: dict, ref, repeat: bool, cycle: int) -> Op:
        eng, cache = self.engine, self.cache
        query = {"point": POINT, "hop1": HOP1, "hop2": HOP2, "agg": AGG,
                 "fulltext": FULLTEXT, "vector": VECTOR}[t]

        def run():
            df = cache.cypher(eng, query, params)
            return [df], [tuple(r) for r in df.collect()]

        if t in ("fulltext", "vector"):
            check = lambda rows: checks.same_topk(rows, ref, TOPK)  # noqa: E731
        else:
            check = lambda rows: checks.same_rows(rows, ref)  # noqa: E731
        return Op(t, "read", run, check, group=f"{t}/repeat" if repeat else t, cycle=cycle)

    def finish(self, spark) -> dict:
        return {"distinct_query_params": self.distinct_keys,
                "result_cache_cap": self.engine.RESULT_CACHE_CAP}
