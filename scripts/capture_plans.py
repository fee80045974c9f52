"""Capture normalized plans of registry rows and benchmark search calls.

Usage: python scripts/capture_plans.py <suffix> [sf_dir] [name ...]

Writes ``plans/<round>/<name>_<suffix>.txt`` (round from
``SPARK_GRAFT_PLANS_ROUND``, default r12) for each headline query, or
for the listed names. A name is a registry row, or one of the benchmark
call groups:

- ``@ingest``: the maintained IVF index's ``search`` and
  ``search_many`` calls as perfbench ``ingest`` makes them (8 lists, all
  probed, k 10; also at n_probe 3), after an append and a removal;
- ``@graph_read``: the ``db.index.fulltext.queryNodes`` and
  ``db.index.vector.queryNodes`` CALLs of perfbench ``graph_read``;
- ``@cypher_writes``: perfbench ``ingest``'s Cypher CREATE, relate, SET
  and DETACH DELETE over two cycles on one Engine: after each write,
  its read-back, the store's edge table and every node table the
  store has replaced.

Each file holds the optimized logical plan and the formatted physical
plan, normalized so that two captures of the same plans diff empty:
expression ids and ``plan_id=`` numbers are replaced, lambda variables
are named by position (:func:`rename_lambda_vars`), and the
data, checkout and temporary paths become ``<sf>``, ``<root>`` and
``<tmp>``, and RDD ids (checkpointed frames) become ``N``. Registry
rows are built but not collected, so a row that materializes state
while building (the maintained indexes) still runs that part.
"""

from __future__ import annotations

import io
import os
import pathlib
import re
import shutil
import sys
from contextlib import redirect_stdout

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from nornicdb_spark import get_spark  # noqa: E402
from nornicdb_spark.queries import QUERIES  # noqa: E402

from bench import HEADLINE  # noqa: E402


def normalize(text: str, sf_dir: str) -> str:
    text = text.replace(os.path.abspath(sf_dir), "<sf>")
    text = text.replace(str(ROOT), "<root>")
    text = re.sub(r"[^\s\[,]*/\.tmp/", "<root>/.tmp/", text)
    text = re.sub(r"/tmp/[^\s,\]\)]+", "<tmp>", text)
    text = re.sub(r"#\d+L?", "#N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[N]", text)
    return rename_lambda_vars(text)


def rename_lambda_vars(text: str) -> str:
    """Name the variables of the k-th lambda function from the end by
    position (``@k_0``, ``@k_1`` …). A bound variable's name means
    nothing: Column-API lambdas get generated names (``x_12``), SQL-text
    lambdas the written ones (``acc``), for the same expression."""
    head = "lambdafunction("
    k = 0
    while (i := text.rfind(head)) >= 0:
        depth, j = 0, i + len(head) - 1
        for j in range(j, len(text)):
            depth += {"(": 1, ")": -1}.get(text[j], 0)
            if depth == 0:
                break
        span = text[i:j + 1]
        names = re.findall(r"lambda (\w+)#N", re.search(
            r"((?:, lambda \w+#N)+), (?:true|false)\)$", span).group(1))
        for n, name in enumerate(names):
            span = re.sub(rf"lambda {name}#N", f"lambda @{k}_{n}#N", span)
        k += 1
        text = text[:i] + "LAMBDAFUNCTION(" + span[len(head):] + text[j + 1:]
    return text.replace("LAMBDAFUNCTION(", head)


def plan_text(df, sf_dir: str) -> str:
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return normalize(
        "== Optimized Logical Plan ==\n" + optimized + "\n" + buf.getvalue(), sf_dir
    )


def ingest_frames(spark, sf_dir: str) -> dict:
    """The IVF search calls of perfbench ``ingest`` over a small index."""
    from pyspark.sql import functions as F

    from nornicdb_spark.catalog import Catalog
    from nornicdb_spark.operators.localframe import literal_df
    from nornicdb_spark.streaming.ivf import MaintainedIVFIndex

    emb = Catalog(spark, sf_dir).embeddings
    path = str(ROOT / ".tmp" / "capture_ivf")
    shutil.rmtree(path, ignore_errors=True)
    ivf = MaintainedIVFIndex(spark, path)
    ivf.bootstrap(emb.filter(F.col("vec_id") % 2 == 0), n_lists=8, seed=7)
    ivf.process_batch(emb.filter(F.col("vec_id") % 2 == 1), 1)
    ivf.remove_batch(literal_df(spark, [(1,), (2,)], "vec_id long"), 2)
    vs = [[float(x) for x in r.embedding]
          for r in emb.filter("vec_id IN (3, 4, 5)").orderBy("vec_id").collect()]
    q = literal_df(spark, list(enumerate(vs)), "query_id long, qvec array<double>")
    return {
        "ingest_ivf_search": ivf.search(vs[0], refine_src=emb, k=10, n_probe=8),
        "ingest_ivf_search_many": ivf.search_many(q, refine_src=emb, k=10, n_probe=8),
        "ingest_ivf_search_probe3": ivf.search(vs[0], refine_src=emb, k=10, n_probe=3),
        "ingest_ivf_search_many_probe3": ivf.search_many(
            q, refine_src=emb, k=10, n_probe=3),
    }


def graph_read_frames(spark, sf_dir: str) -> dict:
    """The fulltext and vector index CALLs of perfbench ``graph_read``."""
    from nornicdb_spark.engine import Engine
    from perfbench.graph_read import FULLTEXT, VECTOR

    eng = Engine(spark, sf_dir)
    v = [float(x) for x in eng.catalog.embeddings.orderBy("vec_id").first().embedding]
    return {
        "graph_read_fulltext": eng.cypher(FULLTEXT, {"q": "distributed query engine"}),
        "graph_read_vector": eng.cypher(VECTOR, {"v": v}),
    }


def cypher_write_frames(spark, sf_dir: str) -> dict:
    """perfbench ``ingest``'s Cypher writes, two cycles on one Engine."""
    from nornicdb_spark.engine import Engine
    from perfbench.ingest import CREATE, DELETE, READ_REL, READ_TAG, RELATE, SET

    eng = Engine(spark, sf_dir)
    base = dict(eng.store.tables)
    frames = {}
    for tag in range(2):
        for name, q, p, read, rp in (
            ("create", CREATE, {"id": tag, "name": f"tag-{tag}"}, READ_TAG, {"id": tag}),
            ("relate", RELATE, {"k": 3 + tag, "id": tag}, READ_REL, {"k": 3 + tag}),
            ("set", SET, {"id": tag, "name": f"tag-{tag}-set"}, READ_TAG, {"id": tag}),
            ("delete", DELETE, {"id": tag}, READ_TAG, {"id": tag}),
        ):
            eng.cypher(q, p).collect()
            at = f"cypher_writes_{tag}_{name}"
            frames[f"{at}_readback"] = eng.cypher(read, rp)
            frames[f"{at}_edges"] = eng.store.edges
            for table, df in eng.store.tables.items():
                if base.get(table) is not df:
                    frames[f"{at}_{table.strip('_')}"] = df
    return frames


GROUPS = {"@ingest": ingest_frames, "@graph_read": graph_read_frames,
          "@cypher_writes": cypher_write_frames}


def main():
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    names = sys.argv[3:] or HEADLINE
    out_dir = ROOT / "plans" / os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12")
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark(app_name="plan-capture")
    for name in names:
        try:
            frames = (GROUPS[name](spark, sf_dir) if name in GROUPS
                      else {name: QUERIES[name](spark, sf_dir)})
            texts = {n: plan_text(df, sf_dir) for n, df in frames.items()}
        except Exception as e:  # record the failure instead of dying
            texts = {name.lstrip("@"): f"PLAN CAPTURE FAILED: {type(e).__name__}: {e}\n"}
        for n, text in texts.items():
            (out_dir / f"{n}_{suffix}.txt").write_text(text)
            print(f"{n}: {len(text)} chars")


if __name__ == "__main__":
    main()
