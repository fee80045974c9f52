"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1), local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...,
 "layers": {query: [one layer record per pass]}}

    python bench.py [row ...]

Row names given on the command line replace the headline list.

Each query is materialized with the noop sink (full execution, no driver
collect). A warmup query runs first so JVM/codegen startup isn't billed to
the first measurement.

Every row of every pass runs as one traced op (``perfbench/trace.py``):
its build and its noop write are the timed window. The layer record
splits that window's wall time (``wall_s``) into ``spark.job_s``, the
engine span layers and ``driver.unattributed_s``, which add up to it, and
counts the op's Spark jobs, tasks, task seconds, shuffle and spill MB,
checkpoints, JVM GC seconds, Python-UDF plan nodes and py4j commands (GC
release commands excepted). The Catalyst phases are null, not measured:
the noop write optimizes and plans in a QueryExecution of its own that
the driver cannot reach, and the built frame's tracker holds only an
analysis phase stretched over the write's.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nornicdb_spark import get_spark
from nornicdb_spark.queries import QUERIES
from nornicdb_spark.trace import CommandCounter
from perfbench.trace import Tracer, python_udf_nodes

HEADLINE = [
    # relational core
    "q1_pricing_summary",
    "q3_top_unshipped_revenue",
    "q5_revenue_by_nation",
    "topk_orders_per_priority",
    "window_lag_running_sum",
    # graph patterns + algorithms
    "graph_orders_per_customer",
    "graph_customer_parts_2hop",
    "graph_link_prediction_suppliers",
    "graph_var_length_reach",
    "graph_pagerank",
    "graph_dijkstra_customer_parts",
    # cypher frontend end-to-end
    "cypher_orders_pipeline",
    # search
    "bm25_topk",
    "vector_knn_join",
    "hybrid_rrf",
    # LLM-pipeline ops
    "dedup_minhash_lsh",
    "text_quality_scores",
    # mutations
    "mutation_merge_order_counts",
]


CATALYST_PHASES = ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s")


def materialize(df):
    df.write.mode("overwrite").format("noop").save()


def run_row(spark, sf_dir: str, tracer: Tracer, name: str, group: str) -> dict:
    """Build and materialize one row as the traced op ``group``; returns
    its layer record, ``wall_s`` included."""
    tracer.begin_op(group)
    with CommandCounter() as sent:
        w0, t0 = time.time(), time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        materialize(df)
        dt, w1 = time.perf_counter() - t0, time.time()
    rec = tracer.finish_op(group, w0, w1)
    rec["spark.python_udf_nodes"] = python_udf_nodes(df)
    rec["py4j.commands"] = sent.n
    rec = {k: round(v, 6) for k, v in rec.items()}
    rec.update(dict.fromkeys(CATALYST_PHASES))
    rec["wall_s"] = round(dt, 6)
    return rec


def main():
    names = sys.argv[1:] or HEADLINE
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"bench.py: no such registry rows: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="nornicdb-bench")
    tracer = Tracer(spark)
    tracer.install()

    # warmup: touch the fact table + trigger codegen paths
    materialize(QUERIES["q1_pricing_summary"](spark, sf_dir))

    # three passes, min per query: host-level contention adds 2-3×
    # multiplicative noise to single shots (this box is shared — load
    # spikes land on whole passes), and the iterative operators reach
    # codegen/adjacency steady state on their second run; the min over
    # three is the honest engine-cost estimate with one noisy window
    # tolerated
    timings: dict[str, float] = {}
    layers: dict[str, list[dict]] = {name: [] for name in names}
    for pass_ in range(3):
        for name in names:
            rec = run_row(spark, sf_dir, tracer, name, f"bench-{pass_}-{name}")
            layers[name].append(rec)
            dt = round(rec["wall_s"], 3)
            timings[name] = min(timings.get(name, dt), dt)
            # drop references to this query's checkpointed RDDs promptly so
            # the shared JVM's block manager doesn't bloat into later queries
            gc.collect()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline suite wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "layers": layers,
            }
        )
    )


if __name__ == "__main__":
    main()
