"""ingest: writes interleaved with reads on the same tables.

A maintained IVF index (``streaming.ivf.MaintainedIVFIndex`` over
embeddings) takes append and remove batches, answers single and
``search_many`` queries against the live index, and is compacted
whenever ``should_rebuild()`` says so. Alongside, Cypher write statements run on one ``Engine`` (CREATE
node, MATCH…CREATE relationship, SET, DETACH DELETE), each followed by a
read-back.

Every cycle has the same ops in the same order, so write cost, which
grows with store versions and tombstones, grows identically in every
run. The first cycles are the untimed warm-up: they write their own
batches and a tag id no timed op uses. References: an exact numpy cosine scan
over the live vectors, and read-back values known from the schedule
itself.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import checks, datagen
from perfbench.graph_read import cosine_scores, duck
from perfbench.harness import CacheProbe, Op, dir_bytes

CYCLE = (
    "ivf_append", "cypher_create", "cypher_readback", "ivf_search",
    "ivf_remove", "cypher_relate", "cypher_readback",
    "ivf_maintain", "cypher_set", "cypher_readback",
    "ivf_search_many", "cypher_delete", "cypher_readback",
)
WRITES = {"ivf_append", "ivf_remove", "ivf_maintain",
          "cypher_create", "cypher_relate", "cypher_set", "cypher_delete"}
# measured time of one cycle on a 4-core host; sets how many cycles fill
# --seconds
CYCLE_S = 7.5
# untimed cycles before timing starts: the JVM is still compiling the
# index paths' hot code over the first cycles. The Cypher ops run only in
# the first of them: their paths warm within a cycle, and their cost
# grows with every store version they add.
WARM_CYCLES = 2
# compact when more than this share of an index is tombstones: every
# cycle's remove batch takes the IVF index past it
REBUILD_AT = 0.015
N_LISTS = 8
TOPK = 10
# queries per search_many call
BATCH_QUERIES = 3

CREATE = "CREATE (:Tag {tag_id: $id, name: $name})"
READ_TAG = "MATCH (t:Tag {tag_id: $id}) RETURN t.name AS name"
RELATE = "MATCH (c:Customer {c_custkey: $k}), (t:Tag {tag_id: $id}) CREATE (c)-[:TAGGED]->(t)"
READ_REL = "MATCH (c:Customer {c_custkey: $k})-[:TAGGED]->(t:Tag) RETURN t.tag_id AS id"
SET = "MATCH (t:Tag {tag_id: $id}) SET t.name = $name"
DELETE = "MATCH (t:Tag {tag_id: $id}) DETACH DELETE t"


class _Live:
    """The benchmark's own model of an index's live set and tombstones."""

    def __init__(self, ids):
        self.live = list(ids)
        self.removed = 0

    def ratio(self) -> float:
        total = len(self.live) + self.removed
        return self.removed / total if total else 0.0


class Workload:
    name = "ingest"

    def __init__(self, data_dir: str, seed: int, seconds: int, scale: str = "bench"):
        self.data_dir = data_dir
        rng = np.random.default_rng(seed * 7919 + 3)
        n_timed = max(1, int(seconds / CYCLE_S + 0.5))
        sc = datagen.SCALES[scale]
        # bench scale: 400 base vectors, batches of 20 in and 8 out
        base_vecs = sc.embeddings // 3
        append = max(5, sc.embeddings // 60)
        remove = append * 2 // 5
        con = duck(data_dir)
        emb = con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
        n_cust = con.execute("SELECT count(*) FROM customer").fetchone()[0]
        con.close()
        vec = {int(i): np.asarray(v, dtype=np.float64) for i, v in emb}
        vec_order = [int(x) for x in rng.permutation(sorted(vec))]
        if base_vecs + append * (WARM_CYCLES + n_timed) > len(vec_order):
            raise ValueError("ingest: --seconds asks for more appends than the data holds")
        self.base_vecs = vec_order[:base_vecs]
        iv = _Live(self.base_vecs)
        next_v = base_vecs
        self.vec_bytes = 4 * datagen.DIM * len(self.base_vecs)
        self.batches = 1  # the bootstrap batch
        self.plan = []
        # cycles below 0 are the untimed warm-up
        for cycle in range(-WARM_CYCLES, n_timed):
            # tag ids 0, 1, ...: the warm-up's tag is created and deleted
            # before timing starts
            tag = cycle + WARM_CYCLES
            cust = int(rng.integers(0, n_cust))
            for t in CYCLE:
                if t.startswith("cypher") and -WARM_CYCLES < cycle < 0:
                    continue
                p, ref = {}, None
                if t == "ivf_append":
                    p["ids"] = vec_order[next_v:next_v + append]
                    next_v += append
                    iv.live += p["ids"]
                    self.vec_bytes += 4 * datagen.DIM * append
                elif t == "ivf_remove":
                    pick = sorted(int(x) for x in rng.choice(len(iv.live), remove, replace=False))
                    p["ids"] = [iv.live[i] for i in pick]
                    gone = set(p["ids"])
                    iv.live = [x for x in iv.live if x not in gone]
                    iv.removed += remove
                elif t == "ivf_maintain":
                    ref = iv.ratio() > REBUILD_AT
                    if ref:
                        iv.removed = 0
                elif t in ("ivf_search", "ivf_search_many"):
                    ids = np.array(iv.live)
                    mat = np.stack([vec[i] for i in iv.live])
                    p["vs"] = [
                        [float(x) for x in
                         vec[int(rng.choice(ids))] + 0.05 * rng.normal(size=datagen.DIM)]
                        for _ in range(1 if t == "ivf_search" else BATCH_QUERIES)
                    ]
                    ref = [cosine_scores(mat, ids, np.asarray(v), TOPK) for v in p["vs"]]
                elif t == "cypher_create":
                    p = {"id": tag, "name": f"tag-{tag}"}
                elif t == "cypher_relate":
                    p = {"k": cust, "id": tag}
                elif t == "cypher_set":
                    p = {"id": tag, "name": f"tag-{tag}-set"}
                elif t == "cypher_delete":
                    p = {"id": tag}
                elif t == "cypher_readback":
                    prev = self.plan[-1]
                    if prev[0] == "cypher_create":
                        p, ref = ("tag", {"id": tag}), [(f"tag-{tag}",)]
                    elif prev[0] == "cypher_relate":
                        p, ref = ("rel", {"k": cust}), None  # filled below
                    elif prev[0] == "cypher_set":
                        p, ref = ("tag", {"id": tag}), [(f"tag-{tag}-set",)]
                    else:
                        p, ref = ("tag", {"id": prev[1]["id"]}), []
                if t in ("ivf_append", "ivf_remove"):
                    self.batches += 1
                self.plan.append((t, p, ref, cycle))
        self._fill_relation_refs()

    def _fill_relation_refs(self) -> None:
        """Reference for 'which tags does customer k point to': replay the
        schedule's creates, relates and deletes."""
        edges: dict = {}
        for i, (t, p, ref, cycle) in enumerate(self.plan):
            if t == "cypher_relate":
                edges.setdefault(p["k"], set()).add(p["id"])
            elif t == "cypher_delete":
                for tags in edges.values():
                    tags.discard(p["id"])
            elif t == "cypher_readback" and p[0] == "rel":
                self.plan[i] = (t, p, [(x,) for x in sorted(edges.get(p[1]["k"], ()))], cycle)

    # -- program set-up (timed as setup_s) --------------------------------------
    def setup(self, spark, work: str) -> None:
        from pyspark.sql import functions as F

        from nornicdb_spark.engine import Engine
        from nornicdb_spark.streaming.ivf import MaintainedIVFIndex

        self.spark = spark
        self.engine = Engine(spark, self.data_dir)
        self.cache = CacheProbe()
        cat = self.engine.catalog
        # the Cypher writes read the store's own tables, not the shared
        # adjacency, so ingest builds none up front
        self.graph_build_s = 0.0
        self.emb = cat.embeddings
        self.ivf = MaintainedIVFIndex(spark, os.path.join(work, "ivf"))
        self.ivf.bootstrap(self.emb.filter(F.col("vec_id").isin(self.base_vecs)),
                           n_lists=N_LISTS, seed=7)
        self.batch_id = 0
        ops = [self._op(*x) for x in self.plan]
        warm = [op for op in ops if op.cycle < 0]
        t0 = time.perf_counter()
        for op in warm:
            op.run()
        self.warmup_s = time.perf_counter() - t0
        self.cache.hits = self.cache.attempts = 0
        self.ops = ops[len(warm):]

    def _next_batch(self) -> int:
        self.batch_id += 1
        return self.batch_id

    def _op(self, t: str, p, ref, cycle: int) -> Op:
        from pyspark.sql import functions as F

        from nornicdb_spark.operators.localframe import literal_df

        spark, eng, cache = self.spark, self.engine, self.cache

        def op(run, check):
            return Op(t, "write" if t in WRITES else "read", run, check, cycle=cycle)

        if t == "ivf_append":
            def run():
                self.ivf.process_batch(self.emb.filter(F.col("vec_id").isin(p["ids"])),
                                       self._next_batch())
                return [], True
            return op(run, lambda v: v is True)
        if t == "ivf_remove":
            def run():
                ids = literal_df(spark, [(i,) for i in p["ids"]], "vec_id long")
                self.ivf.remove_batch(ids, self._next_batch())
                return [], True
            return op(run, lambda v: v is True)
        if t == "ivf_maintain":
            def run():
                due = self.ivf.should_rebuild(REBUILD_AT)
                if due:
                    self.ivf.compact()
                return [], due
            return op(run, lambda v: v == ref)
        if t in ("ivf_search", "ivf_search_many"):
            def run():
                if t == "ivf_search":
                    df = self.ivf.search(p["vs"][0], refine_src=self.emb, k=TOPK, n_probe=N_LISTS)
                    return [df], [[(int(r.vec_id), r.score) for r in df.collect()]]
                q = literal_df(spark, list(enumerate(p["vs"])), "query_id long, qvec array<double>")
                df = self.ivf.search_many(q, refine_src=self.emb, k=TOPK, n_probe=N_LISTS)
                return [df], _by_query(df.collect(), "vec_id", len(p["vs"]))
            return op(run, lambda got: all(
                checks.same_topk(g, r, TOPK) for g, r in zip(got, ref)))
        if t == "cypher_readback":
            query = READ_TAG if p[0] == "tag" else READ_REL

            def run():
                df = cache.cypher(eng, query, p[1])
                return [df], [tuple(r) for r in df.collect()]
            return op(run, lambda rows: checks.same_rows(rows, ref))
        query = {"cypher_create": CREATE, "cypher_relate": RELATE,
                 "cypher_set": SET, "cypher_delete": DELETE}[t]

        def run():
            df = eng.cypher(query, p)
            return [df], [tuple(r) for r in df.collect()]
        return op(run, lambda rows: True)

    def finish(self, spark) -> dict:
        index_bytes = dir_bytes(self.ivf.path)
        data_files = sum(
            1 for _root, _dirs, files in os.walk(self.ivf.path)
            for f in files if f.endswith(".parquet")
        )
        return {
            "space_amp": index_bytes / self.vec_bytes,
            "index_bytes": index_bytes,
            "streaming.files_per_batch": data_files / self.batches,
        }


def _by_query(rows, id_col: str, n: int) -> list:
    out = [[] for _ in range(n)]
    for r in rows:
        out[int(r.query_id)].append((int(r[id_col]), r.score))
    return out
