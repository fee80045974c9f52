"""Seeded synthetic tables for the benchmark.

Writes the ten parquet tables the engine's catalog reads (same names,
columns and types as the star schema in FIXTURES.md §A), drawn from one
``numpy`` generator seeded with the workload seed, so the same seed
gives byte-identical inputs. Sizes are fixed by ``SCALES``; only the
random draws change with the seed, which keeps every seed's workload
statistically alike.

Documents come in near-duplicate families (a base text plus copies with
one word replaced). Embeddings are a Gaussian mixture, so IVF lists have
structure.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark shuffle partition query graph vector index batch stream window "
    "join filter order customer part supplier nation region table column "
    "row key value hash merge sort scan agg data small big fast slow line "
    "plan stage task job cache disk memory node edge path rank score text "
    "token search match write read commit log delta file page block"
).split()

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
DIM = 64


@dataclass(frozen=True)
class Scale:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lines_per_order: int
    documents: int
    doc_family: int  # documents per near-duplicate family
    embeddings: int
    clusters: int
    events: int


SCALES = {
    # the benchmark's scale: every op is bound by per-job overhead and
    # plan work rather than by bytes, which is where short graph reads
    # spend their time (see README.md)
    "bench": Scale(1000, 50, 1000, 10_000, 4, 1200, 4, 1200, 12, 1000),
    # the smoke test's scale (about sf0.001)
    "smoke": Scale(150, 10, 200, 1500, 4, 200, 4, 200, 6, 200),
}


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def _docs(rng: np.random.Generator, sc: Scale) -> pa.Table:
    ids, texts = [], []
    n_fam = sc.documents // sc.doc_family
    for f in range(n_fam):
        n_words = int(rng.integers(30, 60))
        base = list(rng.choice(VOCAB, size=n_words))
        for j in range(sc.doc_family):
            words = list(base)
            if j:
                # one word replaced: Jaccard of 3-shingle sets stays high
                pos = int(rng.integers(0, n_words))
                words[pos] = str(rng.choice(VOCAB)) + str(j)
            ids.append(f * sc.doc_family + j)
            texts.append(" ".join(words))
    # shuffle doc ids so families are not contiguous
    perm = rng.permutation(len(ids))
    ids = [ids[i] for i in perm]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(["en", "de", "es", "zh"], len(ids)).tolist()),
        "source": pa.array([f"src{i % 5}" for i in range(len(ids))]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embedding_matrix(seed: int, n: int, clusters: int) -> np.ndarray:
    """Gaussian-mixture unit vectors (float32), shared by the table and
    the ingest workload's appended vectors."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(clusters, DIM))
    assign = rng.integers(0, clusters, n)
    x = centers[assign] + 0.6 * rng.normal(size=(n, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def generate(out_dir: str, seed: int, scale: str = "bench") -> Scale:
    sc = SCALES[scale]
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731

    _write(p("region"), pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(p("nation"), pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    c = sc.customers
    _write(p("customer"), pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(SEGMENTS, c).tolist(),
    }))
    s = sc.suppliers
    _write(p("supplier"), pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2),
    }))
    npart = sc.parts
    _write(p("part"), pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{a} widget" for a in rng.choice(
            ["cold", "small", "big", "red", "blue", "steel"], npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(10, 30, npart)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], npart).tolist(),
        "p_size": pa.array(rng.integers(1, 50, npart), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, npart), 2),
    }))
    o = sc.orders
    base_ts = np.datetime64("1995-01-01", "ms")
    odate = base_ts + rng.integers(0, 2000, o).astype("timedelta64[D]")
    _write(p("orders"), pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 400000, o), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
        ).tolist(),
    }))
    n_li = o * sc.lines_per_order
    l_ok = np.repeat(np.arange(o), sc.lines_per_order)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(p("lineitem"), pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, n_li), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, sc.lines_per_order + 1), o), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(
            odate[l_ok] + rng.integers(1, 120, n_li).astype("timedelta64[D]"),
            pa.timestamp("ms"),
        ),
    }))
    e = sc.events
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 86_400_000_000, e)
    ).astype("timedelta64[us]")
    _write(p("events"), pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 50, e), pa.int64()),
        "event_type": rng.choice(["click", "view", "signup", "error"], e).tolist(),
        "value": np.round(rng.uniform(0, 500, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }))
    _write(p("documents"), _docs(rng, sc))
    emb = embedding_matrix(seed + 1, sc.embeddings, sc.clusters)
    _write(p("embeddings"), pa.table({
        "vec_id": pa.array(range(sc.embeddings), pa.int64()),
        "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, sc.embeddings), pa.int32()),
    }))
    return sc
