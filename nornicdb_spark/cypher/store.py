"""Mutable graph store backing Cypher write clauses.

The batch engine's tables are immutable parquet; a write session works on
*versions*: every CREATE/SET/DELETE produces new DataFrames (pure
rewrites, operators/mutations.py style) and the store swaps the pointer —
the batch analogue of the reference's implicit write transaction
(executor.go:707-801). Reads inside the same Engine see the latest
version; nothing touches disk until the caller persists.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nornicdb_spark.catalog import (
    NODE_SPECS, Catalog, PropertyGraph, label_nodes, node_id,
)
from nornicdb_spark.operators.scope import unpersist_frame

LABEL_TABLES = {label: (table, key) for label, table, key in NODE_SPECS}


def lit1_df(spark, data, schema=None, **kw) -> DataFrame:
    """Literal frame on the JVM-native path (operators/localframe.py):
    a ``VALUES`` LocalRelation executes with ZERO Python tasks, where a
    ``createDataFrame`` literal is a Python-RDD scan whose every action
    pays a Python-worker handshake (measured 5.1 s vs 0.22 s per count
    of a 1-row frame — a 3-node MERGE chain stacked those handshakes
    into 553 s of wall).

    The fallback keeps ``createDataFrame`` for rows outside the
    literal-SQL subset (datetimes, maps, mixed columns), single-
    partitioned: its defaultParallelism near-empty slices otherwise
    multiply through the write path — every dynamic table union adds
    +cores partitions per created node, and a bound 1-row × 1-row MERGE
    endpoint crossJoin becomes a left×right-task CartesianProduct
    (measured: 2048 tasks inside one MERGE statement). coalesce(1)
    concatenates slices in order, so row order (and any downstream
    monotonically_increasing_id ordering) is preserved."""
    from nornicdb_spark.operators.localframe import literal_df

    return literal_df(spark, data, schema, **kw)


@dataclass
class WriteStats:
    nodes_created: int = 0
    relationships_created: int = 0
    properties_set: int = 0
    nodes_deleted: int = 0
    relationships_deleted: int = 0

    def add(self, **kw) -> None:
        for k, v in kw.items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class GraphStore:
    catalog: Catalog
    tables: dict[str, DataFrame] = field(default_factory=dict)
    edges: DataFrame | None = None

    _dyn_counter: int = 0
    _edge_batch: int = 0
    _bulk_batch: int = 0

    def __post_init__(self):
        for _label, table, _key in NODE_SPECS:
            self.tables.setdefault(table, self.catalog.table(table))
        if self.edges is None:
            self.edges = self.catalog.graph.edges
        # every version checkpoint this store creates, in creation order —
        # released on close(); intermediate versions cannot be freed
        # eagerly because a superseding version may be a LAZY rewrite over
        # them (set_props/delete_nodes swap in un-materialized plans)
        self._ckpts: list[DataFrame] = []
        # the version whose rows are the catalog graph's (its tables and
        # edge set are the objects this store starts from), and the graph
        # of every later version read so far
        self._base = self.version()
        self._graphs: dict[tuple, PropertyGraph] = {}

    def _ckpt(self, df: DataFrame) -> DataFrame:
        """Eager version checkpoint, tracked for close()."""
        out = df.localCheckpoint(eager=True)
        self._ckpts.append(out)
        return out

    def close(self) -> None:
        """Release every version checkpoint and every per-version graph's
        resident artifacts directly — the owning Engine's ``close()`` is
        the only caller and is the "done" signal for everything this
        store pinned; routing a potentially large version history through
        the bounded escape FIFO would evict other owners' deferred frames
        (ADVICE r8). The shared catalog graph stays resident."""
        for df in self._ckpts:
            unpersist_frame(df)
        self._ckpts.clear()
        for graph in self._graphs.values():
            graph.release()
        self._graphs.clear()

    # ---- versions and their graphs --------------------------------------

    def version(self) -> tuple:
        """Identity of the store's current version. Every write swaps in
        new DataFrames, so object identities change with any mutation;
        the tuple holds the DataFrames themselves (they compare by
        identity), so a key built from it keeps its version alive and a
        freed version's id can never make a later one look unchanged."""
        return (
            tuple(sorted(self.tables.items(), key=lambda kv: kv[0])),
            self.edges, self._dyn_counter, self._edge_batch,
        )

    @property
    def graph(self) -> PropertyGraph:
        """The graph a query at this version reads: the shared catalog
        graph (and its long-encoded fast paths and resident adjacency)
        until the first write, then one graph per version, built on first
        use and reused — with every artifact it derives — until the next
        write."""
        v = self.version()
        if v == self._base:
            return self.catalog.graph
        if v not in self._graphs:
            self._graphs[v] = PropertyGraph(nodes=self.nodes, edges=self.edges)
        return self._graphs[v]

    @property
    def nodes(self) -> DataFrame:
        """Union node view (id, label, key) over this store's *current*
        table versions, dynamic labels included — what
        ``Catalog.graph.nodes`` is for the star schema."""
        specs = [(label, self.tables[table], key) for label, table, key in NODE_SPECS]
        specs += [
            (table[len("_dyn_"):], df, "_key")
            for table, df in self.tables.items() if table.startswith("_dyn_")
        ]
        return reduce(
            lambda a, b: a.unionByName(b),
            [df.select(*label_nodes(label, key)) for label, df, key in specs],
        )

    # ---- dynamic labels (schema-free reference semantics) ---------------

    def has_dynamic(self, label: str) -> bool:
        return f"_dyn_{label}" in self.tables

    def table_for(self, label: str) -> tuple[str, str, DataFrame]:
        if label in LABEL_TABLES:
            table, key = LABEL_TABLES[label]
            return table, key, self.tables[table]
        table = f"_dyn_{label}"
        if table not in self.tables:
            # empty dynamic table: surrogate key only; property columns
            # appear as nodes are created (schema-free, like the
            # reference's map-per-entity storage types.go:185-211)
            self.tables[table] = lit1_df(self.catalog.spark, 
                [], "_key long"
            )
        return table, "_key", self.tables[table]

    # ---- mutations (pure rewrites + pointer swap) ----------------------

    def create_node(self, label: str, props: dict) -> str:
        table, key, df = self.table_for(label)
        if label not in LABEL_TABLES:
            props = dict(props)
            props[key] = self._dyn_counter
            self._dyn_counter += 1
            new = lit1_df(self.catalog.spark, [props])
            self.tables[table] = df.unionByName(new, allowMissingColumns=True)
            return f"{label}:{props[key]}"
        if key not in props:
            raise ValueError(f"CREATE (:{label}) needs the key property {key}")
        row = {c: props.get(c) for c in df.columns}
        new = lit1_df(self.catalog.spark, 
            [tuple(row[c] for c in df.columns)], df.schema
        )
        self.tables[table] = df.unionByName(new)
        return f"{label}:{props[key]}"

    BULK_KEY_STRIDE = 1 << 50  # fits 2^17 partitions x 2^33 rows per batch

    def bulk_key_base(self) -> int:
        """Reserve a key range for a distributed bulk CREATE of a
        dynamic-label batch: ``base + monotonically_increasing_id()`` is
        unique across batches (mono ids are partitionId·2^33 + row, so
        they stay below the stride up to 131k partitions — and
        :meth:`create_nodes_bulk` verifies the reservation held) and
        never collides with the small scalar ``_dyn_counter`` keys."""
        self._bulk_batch += 1
        return self._bulk_batch * self.BULK_KEY_STRIDE

    def create_nodes_bulk(self, label: str, rows: DataFrame) -> int:
        """Per-row CREATE — one node per row of ``rows`` (one column per
        property, expressions already evaluated): the distributed twin of
        :meth:`create_node` behind ``MATCH/UNWIND … CREATE`` with
        non-literal properties. ``rows`` must carry the key column (the
        compiler generates dynamic keys itself so the ids are also
        available for downstream variable binding). The union is
        checkpointed so generated keys are frozen. Returns row count."""
        table, key, df = self.table_for(label)
        if key not in rows.columns:
            raise ValueError(f"CREATE (:{label}) needs the key property {key}")
        if label in LABEL_TABLES:
            n = rows.count()
        else:
            # one pass: row count + check the generated keys stayed inside
            # their reserved stride (guards the >131k-partition edge)
            n, mx = rows.agg(
                F.count(F.lit(1)), F.max(F.col(key).cast("long"))
            ).collect()[0]
            if n and mx >= (self._bulk_batch + 1) * self.BULK_KEY_STRIDE:
                raise ValueError(
                    "bulk CREATE key range overflow: repartition the "
                    "input below 2^17 partitions"
                )
        if label in LABEL_TABLES:
            aligned = rows.select(*[
                (F.col(c) if c in rows.columns else F.lit(None))
                .cast(df.schema[c].dataType).alias(c)
                for c in df.columns
            ])
            merged = df.unionByName(aligned)
        else:
            merged = df.unionByName(rows, allowMissingColumns=True)
        self.tables[table] = self._ckpt(merged)
        return n

    def create_edge(self, pairs: DataFrame, etype: str, props: dict | None = None) -> int:
        """One edge per row of ``pairs`` (columns src, dst), optionally with
        literal relationship properties (MERGE/CREATE ``[:T {k: v}]``).

        edge_id is salted with a per-store batch counter plus a per-row id so
        parallel same-type edges (or re-running the same CREATE) never share
        an id — relationship-uniqueness in var_length_paths depends on
        distinct edge_ids. The union is checkpointed, so the generated ids
        are materialized once and stable thereafter.
        """
        props = props or {}
        salt = self._edge_batch
        self._edge_batch += 1
        cols = [
            F.col("src"), F.col("dst"), F.lit(etype).alias("type"),
            F.xxhash64(
                "src", "dst", F.lit(etype), F.lit(salt),
                F.monotonically_increasing_id(),
            ).alias("edge_id"),
        ]
        prop_cols = [c for c in self.edges.columns if c not in ("src", "dst", "type", "edge_id")]
        for c in prop_cols:
            if c in props:
                cols.append(F.lit(props[c]).alias(c))
            else:
                cols.append(F.lit(None).cast(self.edges.schema[c].dataType).alias(c))
        for c, v in props.items():
            if c not in self.edges.columns:
                # schema-free edge property — appears as a new column
                cols.append(F.lit(v).alias(c))
        new = pairs.select(*cols)
        n = new.count()
        self.edges = self._ckpt(
            self.edges.unionByName(new, allowMissingColumns=True)
        )
        return n

    def set_edge_props(
        self, edge_ids: DataFrame, assignments: dict[str, F.Column]
    ) -> int:
        """SET over the edges whose edge_id is in ``edge_ids`` (column
        ``_edge_id``) — relationship twin of :meth:`set_props`. Expressions
        see the edge table's own columns; new property columns are allowed."""
        targets = edge_ids.select("_edge_id").distinct()
        n = targets.count() * len(assignments)
        tagged = self.edges.join(
            targets, self.edges.edge_id == F.col("_edge_id"), "left_outer"
        )
        hit = F.col("_edge_id").isNotNull()
        out = tagged
        for c, expr in assignments.items():
            prev = F.col(c) if c in self.edges.columns else F.lit(None)
            out = out.withColumn(c, F.when(hit, expr).otherwise(prev))
        keep = list(self.edges.columns) + [
            c for c in assignments if c not in self.edges.columns
        ]
        self.edges = self._ckpt(out.select(*keep))
        return n

    def set_props(
        self, label: str, target_ids: DataFrame, assignments: dict[str, F.Column]
    ) -> int:
        """SET over the rows of `label`'s table whose graph id is in
        target_ids (column `_target_id`). Expressions see the table's own
        columns. New property columns are allowed."""
        table, key, df = self.table_for(label)
        tagged = df.join(
            target_ids.select(F.col("_target_id")),
            node_id(label, key) == F.col("_target_id"),
            "left_outer",
        )
        hit = F.col("_target_id").isNotNull()
        out = tagged
        for c, expr in assignments.items():
            prev = F.col(c) if c in df.columns else F.lit(None)
            out = out.withColumn(c, F.when(hit, expr).otherwise(prev))
        keep = list(df.columns) + [c for c in assignments if c not in df.columns]
        self.tables[table] = out.select(*keep)
        return target_ids.count() * len(assignments)

    def delete_nodes(self, label: str, target_ids: DataFrame, detach: bool) -> tuple[int, int]:
        table, key, df = self.table_for(label)
        ids = self._ckpt(target_ids.select(F.col("_target_id")).distinct())
        touching = self.edges.join(
            ids, (self.edges.src == F.col("_target_id")) | (self.edges.dst == F.col("_target_id")),
            "left_semi",
        )
        n_edges = 0
        if not detach:
            if touching.limit(1).count():
                raise ValueError(
                    "Cannot delete nodes that still have relationships; use DETACH DELETE"
                )
        else:
            n_edges = touching.count()
            self.edges = self._ckpt(
                self.edges.join(ids, self.edges.src == F.col("_target_id"), "left_anti")
                .join(ids, F.col("dst") == F.col("_target_id"), "left_anti")
            )
        n_nodes = ids.count()
        self.tables[table] = df.join(
            ids, node_id(label, key) == F.col("_target_id"), "left_anti"
        )
        return n_nodes, n_edges
