"""Pattern-expansion operators: Cypher MATCH joins, Spark-first.

The reference walks adjacency imperatively per start node
(pkg/cypher/traversal.go:143-479 one-hop; 575-757 chained;
match_multi.go cartesian/multi-match; clauses.go:873-936 OPTIONAL
MATCH). Here every expand is an equi-join the optimizer can reorder,
broadcast, and push filters through:

    (a)-[r:T]->(b)   ≡   a ⋈(a.id = e.src) edges[type=T] ⋈(e.dst = b.id) b

Frame convention: a pattern result is a DataFrame whose columns are
prefixed per variable (``a_id``, ``r_type``, ``b_id``, …). Chaining
expands = chaining joins on the shared variable's ``_id`` column — the
direct analogue of Cypher's shared-variable conjunctive semantics.

Scale: edge tables shuffle on src (out) / dst (in); a dimension-sized
node side is broadcast automatically (AQE) or explicitly via
``broadcast=True``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUT = "out"
IN = "in"
BOTH = "both"


def _prefixed(df: DataFrame, prefix: str) -> DataFrame:
    return df.select([F.col(c).alias(f"{prefix}_{c}") for c in df.columns])


def match_nodes(graph, var: str, label: str | None = None) -> DataFrame:
    """MATCH (var) / MATCH (var:Label) — node scan as a pattern frame.

    Star-schema graphs carry a precomputed long ``{var}_id_enc`` column;
    downstream expands join on it, so the per-row string concat that
    builds ``{var}_id`` is pruned away whenever the query never reads
    the string id itself.

    PATTERN-FRAME CONTRACT: frames returned by :func:`match_nodes` /
    :func:`expand` are internal to the pattern pipeline and may carry
    synthetic join columns (``{var}_id_enc``, ``{rel_var}_src_enc`` /
    ``_dst_enc``) alongside the public ``{var}_*`` properties. Consumers
    must project the named columns they return (as every current caller
    does) — a whole-frame projection/export would leak the synthetic
    columns. Anything surfaced to users (RETURN n, graph.nodes/edges)
    must strip ``*_enc`` first; test_plans.py pins that the public
    graph schemas stay free of them.
    """
    return _prefixed(graph.nodes_full_by_label(label), var)


# flip map for re-orienting an edge frame (undirected / incoming expand):
# the enc twins must swap together with the string endpoints
_FLIP = {"src": "dst", "dst": "src", "src_enc": "dst_enc", "dst_enc": "src_enc"}


def expand(
    graph,
    frame: DataFrame,
    src_var: str,
    rel_var: str,
    dst_var: str,
    rel_types: tuple[str, ...] = (),
    direction: str = OUT,
    dst_label: str | None = None,
) -> DataFrame:
    """One-hop expand ``(src_var)-[rel_var:T1|T2]->(dst_var)``.

    ``frame`` must already bind ``src_var`` (have ``{src_var}_id``). If it
    also binds ``dst_var``, this is an edge-existence join between two
    bound endpoints (GetEdgesBetween). Direction ``both`` unions the two
    oriented joins (undirected ``-[r]-`` semantics: each distinct edge
    contributes once per orientation that matches, same as the
    reference's undirected scan, traversal.go:61-142).

    Joins run on the precomputed ``_enc`` long keys whenever both sides
    carry them (equi-join on an 8-byte long instead of a runtime-concat'd
    string; the enc ↔ id mapping is 1:1, so the matched row set is
    identical) and fall back to the string ids otherwise.
    """
    edges = graph.edges_full_by_type(*rel_types)

    def oriented(e: DataFrame, flip: bool) -> DataFrame:
        if flip:
            e = e.select(
                *[F.col(c).alias(_FLIP.get(c, c)) for c in e.columns]
            )
        re = _prefixed(e, rel_var)
        enc = f"{src_var}_id_enc" in frame.columns and f"{rel_var}_src_enc" in re.columns
        out = frame.join(
            re,
            frame[f"{src_var}_id_enc"] == re[f"{rel_var}_src_enc"]
            if enc
            else frame[f"{src_var}_id"] == re[f"{rel_var}_src"],
            "inner",
        )
        if f"{dst_var}_id" in frame.columns:
            if enc and f"{dst_var}_id_enc" in frame.columns:
                return out.filter(
                    F.col(f"{dst_var}_id_enc") == F.col(f"{rel_var}_dst_enc")
                )
            return out.filter(F.col(f"{dst_var}_id") == F.col(f"{rel_var}_dst"))
        dn = _prefixed(graph.nodes_full_by_label(dst_label), dst_var)
        if enc and f"{dst_var}_id_enc" in dn.columns:
            return out.join(
                dn,
                out[f"{rel_var}_dst_enc"] == dn[f"{dst_var}_id_enc"],
                "inner",
            )
        return out.join(dn, out[f"{rel_var}_dst"] == dn[f"{dst_var}_id"], "inner")

    if direction == OUT:
        return oriented(edges, flip=False)
    if direction == IN:
        return oriented(edges, flip=True)
    return oriented(edges, flip=False).unionByName(oriented(edges, flip=True))


def optional_expand(
    graph,
    frame: DataFrame,
    src_var: str,
    rel_var: str,
    dst_var: str,
    rel_types: tuple[str, ...] = (),
    direction: str = OUT,
    dst_label: str | None = None,
) -> DataFrame:
    """OPTIONAL MATCH ``(src)-[r]->(dst)`` — left outer join; unmatched
    rows keep the lhs with nulls for rel/dst columns (reference
    clauses.go:873-936 null-filling).

    The pattern expands from the distinct bound ids (the source's, and
    the destination's when the frame binds it) and joins back on them
    alone, so duplicate lhs rows keep their multiplicity and NULLs in
    other lhs columns do not drop a match."""
    keys = [c for c in (f"{src_var}_id", f"{src_var}_id_enc",
                        f"{dst_var}_id", f"{dst_var}_id_enc") if c in frame.columns]
    matched = expand(
        graph, frame.select(*keys).distinct(), src_var, rel_var, dst_var,
        rel_types, direction, dst_label,
    )
    new_cols = [c for c in matched.columns if c not in keys]
    return frame.join(matched.select(*keys, *new_cols), on=keys, how="left_outer")


def exists_pattern(
    graph,
    frame: DataFrame,
    src_var: str,
    rel_types: tuple[str, ...] = (),
    direction: str = OUT,
    negate: bool = False,
) -> DataFrame:
    """WHERE EXISTS { (src)-[:T]->() } / NOT EXISTS — semi/anti join
    (reference executor_mutations.go:1256-1313). Probes on the long enc
    key when both sides carry it (1:1 with the string id — identical
    membership)."""
    edges = graph.edges_full_by_type(*rel_types)
    enc = f"{src_var}_id_enc" in frame.columns and "src_enc" in edges.columns
    key = ("src_enc" if enc else "src") if direction == OUT else (
        "dst_enc" if enc else "dst"
    )
    probe_col = f"{src_var}_id_enc" if enc else f"{src_var}_id"
    probe = edges.select(F.col(key).alias(probe_col)).distinct()
    how = "left_anti" if negate else "left_semi"
    return frame.join(probe, on=probe_col, how=how)


def cartesian(frame_a: DataFrame, frame_b: DataFrame) -> DataFrame:
    """MATCH (a), (b) — disconnected patterns cross join
    (reference match_multi.go:952-1133). CartesianProduct task count is
    the PRODUCT of both sides' partition counts — two modest frames
    (e.g. store unions of small batches) can silently plan thousands of
    near-empty tasks, so the sides are coalesced until the product fits
    a small multiple of session parallelism."""
    sc = frame_a.sparkSession.sparkContext
    cap = max(sc.defaultParallelism * 2, 1)
    na = frame_a.rdd.getNumPartitions()
    nb = frame_b.rdd.getNumPartitions()
    if na * nb > cap:
        tb = max(1, cap // max(na, 1))
        if nb > tb:
            frame_b, nb = frame_b.coalesce(tb), tb
        if na * nb > cap:
            frame_a = frame_a.coalesce(max(1, cap // nb))
    return frame_a.crossJoin(frame_b)
