"""Physical-plan regression tests — the scale contract (SURVEY §4).

Correctness tests prove values; these prove the PLANS stay right:
column pruning reaches the parquet scan, small dimensions broadcast,
pattern joins never degrade to cartesian products. A regression here
is invisible at sf0.001 and fatal at 100 TB.
"""

from __future__ import annotations

import re

from nornicdb_spark.queries import QUERIES


def plan_of(spark, name, sf_dir) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def lineitem_read_schemas(plan: str) -> list[str]:
    out = []
    for m in re.finditer(r"Location: InMemoryFileIndex \[[^\]]*lineitem[^\]]*\].*?ReadSchema: (\S+)", plan, re.DOTALL):
        out.append(m.group(1))
    return out


def test_q1_prunes_lineitem_columns(spark, sf_dir):
    # q1 touches 7 of lineitem's 16 columns; the scan must not read more
    plan = plan_of(spark, "q1_pricing_summary", sf_dir)
    schemas = lineitem_read_schemas(plan)
    assert schemas, "no lineitem scan found"
    for s in schemas:
        n_cols = s.count(":")
        assert n_cols <= 8, f"lineitem scan reads {n_cols} columns: {s}"


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, "q5_revenue_by_nation", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_graph_expand_is_hash_join_not_cartesian(spark, sf_dir):
    plan = plan_of(spark, "graph_customer_parts_2hop", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cypher_frontend_prunes_scan(spark, sf_dir):
    # frontend compiles node scans to base tables: a 2-property RETURN
    # must read only those parquet columns
    from nornicdb_spark.engine import Engine

    df = Engine(spark, sf_dir).cypher(
        "MATCH (c:Customer) WHERE c.c_acctbal > 0.0 "
        "RETURN c.c_name AS name, c.c_acctbal AS bal"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    m = re.search(r"customer[^\]]*\].*?ReadSchema: (\S+)", plan, re.DOTALL)
    assert m, "no customer scan found"
    n_cols = m.group(1).count(":")
    assert n_cols <= 3, f"cypher scan reads {n_cols} columns: {m.group(1)}"
    assert "PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal,0.0)" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, "top_acctbal_customers", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_typed_iterative_edges_keep_scan_pruning(spark, sf_dir):
    # type-filtered iterative operators must NOT route through the
    # materialized adjacency: the type filter has to reach the parquet
    # scans (constant-folded union branches), not filter a checkpoint
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog

    g = Catalog(spark, sf_dir).graph
    # the lazy typed projection the operators materialize: the SUPPLIES
    # type filter must constant-fold the union down to the lineitem branch
    df = g.edges_by_type("SUPPLIES").select("src", "dst")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "lineitem" in plan
    assert "orders" not in plan and "customer" not in plan


def test_correlated_call_limit_is_windowed_per_key(spark, sf_dir):
    # LIMIT inside a correlated CALL{} must compile to a window rank
    # partitioned by the correlation key — not a GlobalLimit over the
    # joined frame
    from nornicdb_spark.engine import Engine

    df = Engine(spark, sf_dir).cypher(
        """MATCH (n:Nation)
           CALL { WITH n MATCH (c:Customer)-[:FROM]->(n)
                  RETURN c.c_name AS cust ORDER BY c.c_name LIMIT 2 }
           RETURN n.n_name AS nation, cust"""
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan
    assert "_corr0" in plan  # partitioned by the correlation key


def test_rrf_rank_window_has_partition_spec(spark, sf_dir):
    from nornicdb_spark.queries import QUERIES

    df = QUERIES["hybrid_rrf"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # every window in the fused plan must carry a partition spec
    import re as _re

    for m in _re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert spec.count(",") >= 2, f"unpartitioned window: {spec}"


def test_link_prediction_bare_key_pair_stream(spark, sf_dir):
    # r11 shape: the C(d,2) pair stream (the operator's dominant shuffle —
    # 156 of 167 MB at sf0.1 under the old struct-carry design) shuffles
    # BARE long keys; degrees are attached post-aggregation by non-
    # cartesian joins on the far smaller pair table.
    plan = plan_of(spark, "graph_link_prediction_suppliers", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair aggregation's exchange partitions on two plain long keys,
    # not structs (struct keys would appear as named_struct/struct fields)
    pair_ex = re.search(
        r"hashpartitioning\((_groupingexpression#\d+L), (_groupingexpression#\d+L), \d+\)",
        plan,
    )
    assert pair_ex, "pair-stream exchange no longer keyed on two bare longs"
    assert "named_struct" not in plan


def test_encoded_adjacency_is_longs(spark, sf_dir):
    from nornicdb_spark.catalog import shared_catalog

    g = shared_catalog(spark, sf_dir).graph
    enc = g.adj_pairs_encoded()
    assert [f.dataType.simpleString() for f in enc.schema.fields] == [
        "bigint", "bigint"
    ]


def test_encode_decode_roundtrip_all_nodes(spark, sf_dir):
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import shared_catalog

    g = shared_catalog(spark, sf_dir).graph
    bad = g.nodes.select(
        F.col("id"), g.decode_id(g.encode_id(F.col("id"))).alias("rt")
    ).filter(F.col("id") != F.col("rt"))
    assert bad.count() == 0


def test_bm25_search_never_rescans_corpus(spark, sf_dir):
    # searches run against the materialized postings checkpoint — the
    # documents parquet must not appear in a search plan
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.search import bm25

    idx = bm25.shared_index(Catalog(spark, sf_dir).documents, sf_dir)
    df = idx.search("spark shuffle partition", k=10)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "documents" not in plan
    assert "dl" in [f.name for f in idx.postings.schema.fields]


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    # the durable co-location story: both fact tables bucketed by the
    # join key → the equi-join plans without any shuffle exchange
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.sources.bucketing import bucketed_join, write_bucketed

    import shutil

    for t in ("bkt_orders", "bkt_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    cat = Catalog(spark, sf_dir)
    write_bucketed(
        cat.orders.select(F.col("o_orderkey").alias("k"), "o_totalprice"),
        "bkt_orders", "k", num_buckets=4,
    )
    write_bucketed(
        cat.lineitem.select(F.col("l_orderkey").alias("k"), "l_quantity"),
        "bkt_lineitem", "k", num_buckets=4,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path — a broadcast join would dodge the
        # question this test asks (does bucketing kill the shuffle?)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = bucketed_join(spark, "bkt_orders", "bkt_lineitem", "k")
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_bm25_weighted_search_never_rescans_corpus(spark, sf_dir):
    # field-weighted index: search still runs against the checkpointed
    # postings only — no documents parquet scan at query time
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.search import bm25

    idx = bm25.BM25Index.build_weighted(
        Catalog(spark, sf_dir).documents, {"text": 1.0, "source": 3.0}
    )
    df = idx.search("spark shuffle partition", k=10)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "documents" not in plan


def test_pq_adc_scan_is_shuffle_free_jvm_only(spark, sf_dir):
    # The PQ ADC scan must stay a map-only JVM pass over the codes table:
    # literal LUT + aggregate → TakeOrderedAndProject, with no Exchange
    # and no Python evaluation node. A regression here turns the
    # compressed-corpus scan into a shuffle or a UDF — invisible at test
    # SF, fatal at 100 TB.
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.search.vector import ProductQuantizerIndex

    emb = Catalog(spark, sf_dir).embeddings
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    idx = ProductQuantizerIndex.build(emb, m=8, k_codes=16)
    plan = (
        idx.codes.select("vec_id", idx._adc_col(qv).alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_embedding_exact_gemm_grid_no_cartesian(spark, sf_dir):
    # the exact embedding near-dup path is a replicated block grid + one
    # applyInPandas GEMM per cell: the plan must shuffle on the COMPOSITE
    # (bi, bj) cell key (B(B+1)/2-way parallelism, not B-way) and never
    # fall back to a cartesian pair stream
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.operators.dedup import embedding_near_duplicates

    emb = Catalog(spark, sf_dir).embeddings
    df = embedding_near_duplicates(emb, threshold=0.45, exact=True)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    m = re.search(r"hashpartitioning\(bi#\d+, bj#\d+", plan)
    assert m, "grid shuffle must key on the composite (bi, bj) cell"


def test_embedding_exact_gemm_matches_pairwise_cosine(spark, sf_dir):
    # value check vs a direct per-pair cosine on a small slice: the GEMM
    # kernel must reproduce the naive formula exactly (to float64 round)
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.operators.dedup import embedding_near_duplicates
    from nornicdb_spark.search.vector import cosine_sim

    emb = Catalog(spark, sf_dir).embeddings.filter(F.col("vec_id") < 60)
    got = {
        (r.a, r.b): r.cosine
        for r in embedding_near_duplicates(
            emb, threshold=-1.0, exact=True
        ).collect()
    }
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    want = {
        (r.a, r.b): r.cosine
        for r in a.join(b, F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            cosine_sim(
                F.col("va").cast("array<double>"),
                F.col("vb").cast("array<double>"),
            ).alias("cosine"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k


def test_quantize_int8_is_jvm_only(spark, sf_dir):
    # quantization is a per-row array expression: the plan must contain
    # no Python eval and no shuffle — it runs inside the scan's stage
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.operators.quantize import quantize_int8

    emb = Catalog(spark, sf_dir).embeddings
    plan = (
        quantize_int8(emb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "Exchange" not in plan


def test_int8_serving_scan_is_jvm_only(spark, sf_dir):
    # the int8 serving path must score on codes with pure codegen'd
    # arithmetic (no Python eval) and refine via a broadcast semi-join
    # (no cartesian, no shuffle of the big side beyond the top-k gather)
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.search.vector import Int8Index

    emb = Catalog(spark, sf_dir).embeddings
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    idx = Int8Index.build(emb)
    scan = idx.codes.select("vec_id", idx._approx_score(qv).alias("score"))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "Exchange" not in plan  # the code scan runs inside the file stage

    full = idx.search(qv, k=10, refine=4)
    fplan = full._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in fplan and "ArrowEval" not in fplan
    assert "CartesianProduct" not in fplan
    assert "BroadcastHashJoin" in fplan  # candidate refine is broadcast semi


def test_ivfpq_persisted_codes_prune_partitions(spark, sf_dir, tmp_path):
    # the cluster-write recipe: persist_codes lays the codes table out
    # hive-partitioned by list_id, and the probe's isin filter must become
    # directory pruning (PartitionFilters on the scan) — at 100 TB the ADC
    # then touches n_probe/n_lists of the FILES, not just of the rows
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.search.vector import IVFPQIndex

    emb = Catalog(spark, sf_dir).embeddings
    idx = IVFPQIndex.build(emb, n_lists=8, m=16, k_codes=32)
    idx.persist_codes(str(tmp_path / "ivfpq_codes"))
    probed = idx.codes.filter(F.col("list_id").isin(1, 3))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "list_id" in m.group(1), plan[:2000]
    # and the search path still runs end-to-end off the partitioned files
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = idx.search(qv, k=5, n_probe=4, refine=4).collect()
    assert len(out) == 5


def test_grid_blocks_bounds_cell_memory():
    # the GEMM grid default must satisfy BOTH constraints: enough cells
    # to feed the cores, and a per-cell score matrix under the budget —
    # cores-only sizing materialized ~2.6 GB/cell at n=200k (measured
    # JVM GC death at the sf10 probe)
    import math

    from nornicdb_spark.operators.dedup import grid_blocks

    for n in (1_000, 60_000, 200_000, 2_000_000):
        b = grid_blocks(n, parallelism=32)
        m = math.ceil(n / b)
        assert m * m * 8 <= 300 * 1024 * 1024, (n, b)  # matrix under budget
        assert b * (b + 1) // 2 >= 2 * 32 or n < 10_000  # cores fed
    # small corpora keep the old cores-derived floor
    assert grid_blocks(1_000, parallelism=32) == grid_blocks(10, parallelism=32)


def test_maintained_band_index_probe_prunes_partitions(spark, tmp_path):
    # the maintained near-dup index's 100 TB contract: the probe's
    # equi-join must NOT scan the whole index. Both table scans carry a
    # literal isin on their hash-partition column that Catalyst turns
    # into PartitionFilters directory pruning — the bands scan (pk =
    # hash(band, band_key) % n_pk) and the fat-column hashes scan (hk =
    # hash(doc) % n_pk). Same pattern as IVF-PQ's persist_codes probe.
    from nornicdb_spark.streaming.neardup import MaintainedBandIndex

    corpus = spark.createDataFrame(
        [
            (i, f"token{i} alpha beta gamma delta epsilon zeta eta theta")
            for i in range(20)
        ],
        "doc_id long, text string",
    )
    idx = MaintainedBandIndex(spark, str(tmp_path / "pruneidx"), n_pk=16)
    idx.bootstrap(corpus)

    bands_scan = idx._bands_pruned("bigint", [1, 5, 9])
    bplan = bands_scan._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", bplan)
    assert m is not None and "pk" in m.group(1), bplan[:2000]

    hashes_scan = idx._payload_pruned("bigint", [2, 7])
    hplan = hashes_scan._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", hplan)
    assert m is not None and "hk" in m.group(1), hplan[:2000]

    # and the probe still matches end-to-end off the partitioned layout
    probe = spark.createDataFrame(
        [(900, "token3 alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string",
    )
    got = {(r.stream_doc, r.corpus_doc) for r in idx.probe(probe).collect()}
    assert (900, 3) in got


def test_maintained_vec_index_probe_is_jvm_only(spark, tmp_path):
    # the int8 verify of the maintained embedding index must stay pure
    # codegen (zip_with/aggregate over codes — no Python eval anywhere in
    # the probe), and its pruned scans ride the same PartitionFilters
    # path as the text index (shared _MaintainedIndexBase machinery).
    import math

    from nornicdb_spark.streaming.neardup import MaintainedVecIndex

    rows = []
    for c in range(4):
        for m in range(3):
            v = [0.0] * 16
            v[c] = 1.0
            for j in range(16):
                v[j] += 0.01 * math.sin(1.0 + c * 13 + m * 3 + j)
            rows.append((c * 10 + m, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = MaintainedVecIndex(
        spark, str(tmp_path / "vecplan"), dim=16, threshold=0.95, n_pk=16
    )
    idx.bootstrap(emb)
    probe_df = idx.probe(emb.limit(2))
    plan = probe_df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "CartesianProduct" not in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "hk" in m.group(1), plan[:2000]


def test_maintained_bm25_probe_prunes_term_partitions(spark, sf_dir, tmp_path):
    # exact-term search over the maintained postings must read only the
    # query terms' hash buckets: literal tk isin -> PartitionFilters
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index

    docs = Catalog(spark, sf_dir).documents
    idx = MaintainedBM25Index(spark, str(tmp_path / "ftplan"), n_pk=16)
    idx.process_batch(docs.filter(F.col("doc_id") % 2 == 0), batch_id=0)
    scan = idx._postings_pruned(["spark", "join"], "bigint")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "tk" in m.group(1), plan[:2000]
    # the pruned scan feeds a real search end-to-end
    assert idx.search("spark join", k=5).count() > 0


def test_maintained_ivf_probe_prunes_lists_and_is_jvm_only(spark, sf_dir, tmp_path):
    # the maintained serving index's probe: list_id isin must reach the
    # scan as PartitionFilters, and the int8 approximate scoring must be
    # pure codegen (no Python eval)
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.ivf import MaintainedIVFIndex

    emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
    idx = MaintainedIVFIndex(spark, str(tmp_path / "ivfplan"))
    idx.bootstrap(emb, n_lists=8)
    scan = idx._codes_pruned([1, 4], "bigint")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "list_id" in m.group(1), plan[:2000]

    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = idx.search(qv, refine_src=emb, k=5, n_probe=3)
    fplan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in fplan and "ArrowEval" not in fplan
    assert "CartesianProduct" not in fplan
    assert len(out.collect()) == 5


def test_maintained_graph_resolution_prunes_partitions(spark, tmp_path):
    # the maintained graph index's 100 TB contract: a batch's resolution
    # chase must NOT scan the whole merge log, and the node-membership
    # anti-join must NOT scan the whole node table. Both reads carry a
    # literal isin on their hash-partition column (mk = hash(old) % n_pk,
    # hk = hash(node) % n_pk) that Catalyst turns into PartitionFilters
    # directory pruning — the neardup/IVF-PQ probe pattern.
    from pyspark.sql import functions as F

    from nornicdb_spark.streaming.graphindex import MaintainedGraphIndex

    idx = MaintainedGraphIndex(spark, str(tmp_path / "gidx"), n_pk=16)
    idx.process_batch(
        spark.createDataFrame(
            [(i, i + 100) for i in range(20)], "src long, dst long"
        ),
        batch_id=0,
    )

    merges_scan = idx._merges("bigint").filter(F.col("mk").isin([1, 5, 9]))
    mplan = merges_scan._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", mplan)
    assert m is not None and "mk" in m.group(1), mplan[:2000]

    nodes_scan = idx._nodes("bigint").filter(F.col("hk").isin([2, 7]))
    nplan = nodes_scan._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", nplan)
    assert m is not None and "hk" in m.group(1), nplan[:2000]

    # and resolution still answers correctly off the partitioned layout
    frontier = spark.createDataFrame([(105,), (3,)], "node long")
    got = {r.node: r.root for r in idx._resolve(frontier, "bigint").collect()}
    assert got == {105: 5, 3: 3}


def test_maintained_hash_index_probe_prunes_partitions(spark, tmp_path):
    # the exact-hash gate's membership probe must read only the batch
    # hashes' hk buckets (hk = hash(content_hash) % n_pk) — same
    # PartitionFilters contract as the rest of the maintained family
    from pyspark.sql import functions as F

    from nornicdb_spark.streaming.neardup import MaintainedHashIndex

    idx = MaintainedHashIndex(spark, str(tmp_path / "hidx"), n_pk=16)
    idx.process_batch(
        spark.createDataFrame(
            [(i, f"text {i}") for i in range(30)], "doc_id long, text string"
        ),
        batch_id=0,
    )
    scan = idx._seen("bigint").filter(F.col("hk").isin([1, 5, 9]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "hk" in m.group(1), plan[:2000]

    probe = spark.createDataFrame(
        [(900, "text 3"), (901, "novel")], "doc_id long, text string"
    )
    got = {(r.stream_doc, r.corpus_doc) for r in idx.probe(probe).collect()}
    assert got == {(900, 3)}


def test_bm25_search_many_all_broadcast_no_sort_merge(spark, sf_dir):
    # the batched serving path's scale contract: the query batch and its
    # derived tables broadcast (they are driver-scale), the postings are
    # never sort-merge-joined or cartesian-joined, and scoring is pure
    # codegen (no Python eval)
    plan = plan_of(spark, "bm25_multi_query", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_maintained_bm25_search_many_prunes_term_partitions(
    spark, sf_dir, tmp_path
):
    # the batched probe over the LIVE index reads only the union of the
    # batch's query terms' hash buckets: literal tk isin ->
    # PartitionFilters on the postings scan
    import re as _re

    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.streaming.fulltext import MaintainedBM25Index

    docs = Catalog(spark, sf_dir).documents
    idx = MaintainedBM25Index(spark, str(tmp_path / "ftmanyplan"), n_pk=16)
    idx.process_batch(docs.filter(F.col("doc_id") % 2 == 0), batch_id=0)
    qdf = spark.createDataFrame(
        [(1, "spark join"), (2, "shuffle skew")],
        "query_id long, query_text string",
    )
    out = idx.search_many(qdf, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "tk" in m.group(1), plan[:2000]
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert out.count() > 0


def test_hybrid_rrf_many_all_broadcast_jvm_only(spark, sf_dir):
    # the batched hybrid's scale contract: both legs' query-derived
    # tables broadcast (driver-scale), neither the postings nor the
    # embedding corpus is sort-merge-joined for them, nothing falls to
    # a cartesian product, and the whole fused plan is pure codegen
    plan = plan_of(spark, "hybrid_rrf_many", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    # the only SortMergeJoin allowed is the full-outer RRF fusion of the
    # two bounded (≤ k·|batch|-row) ranked legs — never a corpus scan
    kinds = set(re.findall(r"SortMergeJoin (\w+)", plan))
    assert kinds <= {"FullOuter"}, kinds


def test_bpe_pipeline_is_jvm_only(spark, sf_dir):
    # tokenizer training + encode stay whole-stage-codegen: the pair
    # statistics, the merge application (literal replace chain), and
    # the encode token stream carry no Python eval and no cartesian
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.operators import textops

    docs = Catalog(spark, sf_dir).documents
    merges = [("e ", "r"), ("t", "h")]
    for df in (
        textops.bpe_pair_counts(docs, k=10),
        textops.bpe_encode(docs, merges),
    ):
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        assert "CartesianProduct" not in plan


def test_batched_topk_windows_push_group_limits(spark, sf_dir):
    # the batched serving rows' per-query window top-k must carry
    # Spark's WindowGroupLimit pushdown: each map partition pre-limits
    # to k rows per query BEFORE the shuffle, so the exchange moves
    # ≤ k·|batch| rows per partition — never the full |corpus|·|batch|
    # scored stream. This is the plan property that makes the
    # brute-force batched baseline survive a 100× corpus.
    for name in ("vector_multi_query", "bm25_multi_query"):
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, (name, plan[:1500])


def test_dup_spans_hashes_before_shuffle_no_python(spark, sf_dir):
    # the span-dedup scale contract: the corpus-wide window-occurrence
    # count shuffles the 64-bit xxhash64 of each window (never the raw
    # gram text), the count partial-aggregates map-side, and the whole
    # plan is codegen (no Python eval)
    plan = plan_of(spark, "dedup_substring_spans", sf_dir)
    assert "xxhash64" in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "CartesianProduct" not in plan
    # the gram string must not survive past the hash projection into any
    # exchange: every hashpartitioning key set mentions gh/doc_id, not gram
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "gram" not in m.group(1), m.group(0)
    # partial aggregation before the gh exchange (map-side combine)
    assert "partial_count" in plan.lower() or "HashAggregate" in plan


def test_bigram_logprob_broadcasts_total_no_python(spark, sf_dir):
    # the LM-scoring contract: the 1-row corpus total broadcasts (never a
    # shuffled cross join), counts partial-aggregate, scoring is codegen
    plan = plan_of(spark, "text_bigram_logprob", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_random_projection_zero_shuffle_no_python(spark, sf_dir):
    # the JL-projection contract: the sign matrix is plan literals, each
    # output dim a codegen multiply-add chain — NO exchange of any kind,
    # no join, no Python; embarrassingly parallel at any scale
    plan = plan_of(spark, "embedding_random_projection", sf_dir)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_rp_refine_coarse_stage_is_take_ordered(spark, sf_dir):
    # the RP-refine contract: the coarse stage is a TakeOrderedAndProject
    # over the 16-dim projected scores (never a global sort), and the
    # whole two-stage plan stays codegen (no Python)
    plan = plan_of(spark, "ann_rp_refine", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "CartesianProduct" not in plan


def test_salted_distinct_shuffles_on_key_and_salt(spark, sf_dir):
    # the skew-rewrite contract: phase-1 exchange partitions on
    # (key, salt) — a hot key's distinct set spreads over n_salt
    # reducers — and the whole rewrite stays codegen
    plan = plan_of(spark, "skew_salted_distinct_parts", sf_dir)
    # Catalyst inlines the _salt alias as _groupingexpression — either
    # name proves the exchange keys carry the value-hash shard
    assert re.search(
        r"hashpartitioning\([^)]*(_salt|_groupingexpression)", plan
    ), plan[:1500]
    assert "pmod(xxhash64" in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_salted_join_partitions_include_salt(spark, sf_dir):
    # the join runs on (key, _salt): when the right side is too big to
    # broadcast (forced here via shuffle_hash — at sf0.01 Spark would
    # broadcast it and the salting would be moot), both exchanges carry
    # the salt, so one hot key lands on n_salt reducers
    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.operators import skew

    cat = Catalog(spark, sf_dir)
    j = skew.salted_join(
        cat.lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        cat.orders.select("o_orderkey", "o_orderpriority").hint("shuffle_hash"),
        on="o_orderkey", n_salt=8, salt_by="l_linenumber",
    )
    plan = j._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert re.search(r"hashpartitioning\([^)]*_salt", plan), plan[:1500]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_rp_refine_many_broadcasts_queries_no_python(spark, sf_dir):
    # batched RP serving: the query batch broadcasts (never a shuffled
    # cross join), candidate selection is a per-query window, and the
    # whole two-stage plan is codegen
    plan = plan_of(spark, "ann_rp_refine_multi", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_pattern_expand_joins_on_enc_longs_no_concat(spark, sf_dir):
    # r11: expands over star-schema graphs join on the precomputed
    # long-encoded keys — the per-row string concat that used to build
    # every join key must be gone from the whole plan, and the base-table
    # scans must still prune to the bare numeric keys
    plan = plan_of(spark, "graph_customer_parts_2hop", sf_dir)
    assert "concat" not in plan, "string ids leaked back into the join path"
    assert re.search(r"Left keys \[1\]: \[\w+_id_enc#\d+L\]", plan), plan[:1500]
    for s in lineitem_read_schemas(plan):
        assert s == "struct<l_orderkey:bigint,l_partkey:bigint>", s


def test_enc_columns_equal_encode_id(spark, sf_dir):
    # the arithmetic enc columns must stay value-identical to encode_id
    # over the full node and edge sets (the 1:1 re-keying every enc join
    # relies on)
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import shared_catalog

    g = shared_catalog(spark, sf_dir).graph
    assert g._nodes_full is not None and g._edges_full is not None
    bad_n = g._nodes_full.filter(
        g.encode_id(F.col("id")) != F.col("id_enc")
    ).count()
    bad_e = g._edges_full.filter(
        (g.encode_id(F.col("src")) != F.col("src_enc"))
        | (g.encode_id(F.col("dst")) != F.col("dst_enc"))
    ).count()
    assert bad_n == 0 and bad_e == 0
    # public schemas stay free of synthetic columns (RETURN n contract)
    assert "id_enc" not in g.nodes.columns
    assert "src_enc" not in g.edges.columns


def test_node_keys_within_encoding_bounds(spark, sf_dir):
    # encode_id/_enc_of pack the numeric key into the low 48 bits: a
    # negative key or one >= 2^48 would silently collide across labels.
    # Pin the latent assumption per node table (one tiny agg per table —
    # a dataset violating it must fail loudly here, not corrupt joins).
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import NODE_SPECS, shared_catalog

    cat = shared_catalog(spark, sf_dir)
    for label, table, key in NODE_SPECS:
        lo, hi = cat.table(table).agg(F.min(key), F.max(key)).collect()[0]
        assert lo is not None and lo >= 0, f"{label}: negative key {lo}"
        assert hi < (1 << 48), f"{label}: key {hi} >= 2^48"


def test_var_length_loop_runs_encoded(spark, sf_dir):
    # the frontier loop's memoized edge set is long-encoded; only the
    # final projection decodes back to string ids
    from nornicdb_spark.catalog import shared_catalog
    from nornicdb_spark.operators.paths import _loop_edges

    g = shared_catalog(spark, sf_dir).graph
    edges, encoded = _loop_edges(g, (), "out", with_edge_id=True)
    assert encoded
    assert [f.dataType.simpleString() for f in edges.schema.fields] == [
        "bigint", "bigint", "bigint"
    ]


def test_dijkstra_round_is_single_exchange_no_sort(spark, sf_dir):
    # r11: each relaxation round is one tagged-union hash aggregate —
    # the settled/candidate merge must not plan a sort-merge join
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import shared_catalog
    from nornicdb_spark.operators import algorithms

    g = shared_catalog(spark, sf_dir).graph
    starts = g.nodes_by_label("Customer").select("id").limit(50)
    out = algorithms.weighted_shortest_paths(g, starts, weight_col="l_quantity")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "SortMergeJoin" not in plan
    assert "FullOuter" not in plan


def test_lsh_signature_sql_equals_column_chain(spark, sf_dir):
    # r12: RandomHyperplaneLSH.signature_col is built as one generated
    # F.expr (quantize.rp_project_array pattern) instead of a py4j
    # Column chain. The parsed tree must stay value-identical to the
    # chain form — pin bit-level equality over the corpus for both the
    # 128/8 near-dup config and the 24/8 ann config.
    from pyspark.sql import functions as F

    from nornicdb_spark.search.vector import RandomHyperplaneLSH, dot

    def chain_signature(lsh):
        bits = []
        for row in lsh.planes:
            bits.append(
                F.when(
                    dot(
                        F.col(lsh.vec_col).cast("array<double>"),
                        F.lit([float(x) for x in row]),
                    )
                    >= 0,
                    1,
                ).otherwise(0)
            )
        per_band = len(bits) // lsh.n_bands
        bands = []
        for b in range(lsh.n_bands):
            acc = F.lit(0)
            for j in range(per_band):
                acc = acc * 2 + bits[b * per_band + j]
            bands.append(acc)
        return F.array(*bands)

    from nornicdb_spark.catalog import shared_catalog

    e = (
        shared_catalog(spark, sf_dir)
        .embeddings.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )
    dim = len(e.select("v").head()[0])
    for n_bits in (128, 24):
        lsh = RandomHyperplaneLSH.build(
            dim, n_bits=n_bits, n_bands=8, seed=42, id_col="id", vec_col="v"
        )
        mism = (
            e.select(
                lsh.signature_col().alias("sql_sig"),
                chain_signature(lsh).alias("chain_sig"),
            )
            .filter(F.col("sql_sig") != F.col("chain_sig"))
            .count()
        )
        assert mism == 0, f"n_bits={n_bits}: {mism} signature mismatches"


def test_embedding_lsh_plan_cut_at_band_index(spark, sf_dir):
    # r12: embedding_near_duplicates(exact=False) localCheckpoints the
    # (vec_id, band, bucket) table before the self-join, so the final
    # plan must scan the materialized band index (ExistingRDD) and the
    # 128-plane signature expression must not be cloned into the
    # candidate join (only the verify-leg cosine keeps HOF dot
    # products: 3 per emitted pair side)
    plan = plan_of(spark, "dedup_embedding_lsh", sf_dir)
    assert "Scan ExistingRDD" in plan, "band index no longer checkpointed"
    n_hof = plan.count("zip_with")
    assert n_hof <= 8, f"signature HOFs leaked past the checkpoint: {n_hof}"
