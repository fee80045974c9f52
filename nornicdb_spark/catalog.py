"""Table catalog + property-graph projection.

The reference models data as a labeled property graph: ``Node{ID, Labels,
Properties}`` / ``Edge{ID, StartNode, EndNode, Type, Properties}``
(reference pkg/storage/types.go:185-211, 298-310). Our engine keeps the
relational star schema as the source of truth and *projects* a graph view
from it (FIXTURES.md §A), because at 100 TB the adjacency representation
you want IS a pair of columnar tables:

- ``nodes(id, label, key)``  — id = "<Label>:<key>"; property access goes
  back to the typed base table via ``key`` (no stringly-typed map blobs in
  the hot path — schema-on-read beats map<string,string> for pushdown).
- ``edges(src, dst, type, …props)`` — adjacency = equi-join on src/dst.
  Edge property columns are typed (l_quantity etc. from lineitem).

Scale notes: edges are hash-partitioned by ``src`` at build time so
repeated out-expansions co-locate; reverse expansion repartitions by
``dst`` once per plan (Catalyst reuses the exchange). Node tables per
label stay separate → label scans are table scans, not filters.
"""

from __future__ import annotations

from functools import cached_property, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# (label, base table, key column) — graph projection per FIXTURES.md §A.
NODE_SPECS = (
    ("Customer", "customer", "c_custkey"),
    ("Order", "orders", "o_orderkey"),
    ("Part", "part", "p_partkey"),
    ("Supplier", "supplier", "s_suppkey"),
    ("Nation", "nation", "n_nationkey"),
    ("Region", "region", "r_regionkey"),
)


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """Read the events table with a timestamp-typed ``ts`` regardless of
    the fixture's physical encoding.

    Older driver fixtures wrote ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark's reader rejects unless read as long nanos (legacy conf) and
    truncated to microseconds with exact integer division (double division
    would lose precision at 1e18 magnitudes; truncation matches DuckDB's
    ns→µs behavior). Newer fixtures write TIMESTAMP(MICROS), which Spark
    reads natively. Detect which one we got and normalize.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type in ("long", "bigint"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type != "timestamp":
        # TIMESTAMP_NTZ → TIMESTAMP: value-preserving under the session's
        # UTC timezone, and required by unix_micros / watermarks.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def node_id(label: str, key_col) -> F.Column:
    """Graph node id: '<Label>:<key>' (FIXTURES.md §A)."""
    return F.concat(F.lit(label + ":"), F.col(key_col).cast("string"))


def label_nodes(label: str, key_col: str) -> list[F.Column]:
    """``(id, label, key)`` columns of one label's node table — the
    per-label part of a graph's ``nodes`` union."""
    return [
        node_id(label, key_col).alias("id"),
        F.lit(label).alias("label"),
        F.col(key_col).cast("long").alias("key"),
    ]


_SHARED_CATALOGS: dict = {}


def shared_catalog(spark: SparkSession, sf_dir: str) -> "Catalog":
    """Process-wide Catalog memo keyed by (session, dir) — lets every
    query in one process share the same PropertyGraph instance and hence
    its one-time materialized adjacency (:meth:`PropertyGraph.adj`). The
    Catalog is read-only (mutations live in per-Engine GraphStores), so
    sharing is safe."""
    key = (id(spark), sf_dir)
    if key not in _SHARED_CATALOGS:
        _SHARED_CATALOGS[key] = Catalog(spark, sf_dir)
    return _SHARED_CATALOGS[key]


class Catalog:
    """Loads the driver's parquet tables and exposes DataFrames + views."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        self._tables: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._tables:
            if name not in TABLES:
                raise KeyError(f"unknown table {name!r}; have {TABLES}")
            path = f"{self.sf_dir}/{name}.parquet"
            if name == "events":
                self._tables[name] = _read_events(self.spark, path)
            else:
                self._tables[name] = self.spark.read.parquet(path)
        return self._tables[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every table as a temp view for spark.sql queries."""
        for name in TABLES:
            self.table(name).createOrReplaceTempView(name)

    @cached_property
    def graph(self) -> "PropertyGraph":
        return PropertyGraph.from_star_schema(self)


class PropertyGraph:
    """Graph view: ``nodes(id, label, key)`` + ``edges(src, dst, type, …)``.

    Equivalent of the reference storage Engine's adjacency surface
    (GetOutgoingEdges/GetIncomingEdges/GetEdgesBetween/GetNodesByLabel —
    reference pkg/storage/types.go:355-414) re-expressed as two
    DataFrames. All traversal operators live in
    :mod:`nornicdb_spark.operators`.
    """

    def __init__(self, nodes: DataFrame, edges: DataFrame, catalog: Catalog | None = None,
                 type_endpoints: dict | None = None,
                 nodes_full: DataFrame | None = None,
                 edges_full: DataFrame | None = None):
        self.nodes = nodes
        self.edges = edges
        # Full-width twins carrying precomputed long-encoded join keys
        # (``id_enc`` / ``src_enc`` / ``dst_enc`` = encode_id of the string
        # id, built as pure ARITHMETIC from the numeric base-table keys at
        # projection time). The public ``nodes``/``edges`` schemas stay
        # unchanged (whole-row consumers — RETURN n structs, exports —
        # must not see synthetic columns); pattern operators join on the
        # enc columns so the per-row string concat of the id is pruned
        # away whenever a query never reads the string form.
        self._nodes_full = nodes_full
        self._edges_full = edges_full
        self.catalog = catalog
        # type → list of (src_label, dst_label) pairs the type connects.
        # Node ids are always '<Label>:<numeric key>' (node_id()), so when
        # a type has exactly ONE endpoint pair, operators may strip the
        # constant label prefixes and work on numeric keys — pair-heavy
        # aggregations (link prediction) shuffle longs instead of strings.
        self.type_endpoints: dict = type_endpoints or {}
        # True only for star-schema graphs whose node ids are
        # '<Label>:<numeric key>' — gates the long-encoded fast paths
        self.numeric_keys: bool = bool(type_endpoints)
        self._adj: DataFrame | None = None
        # generic per-graph memo for static derived frames (weighted
        # oriented edge sets, pagerank degree bases, node counts …) —
        # the same reuse story as adj()/adj_pairs(): iterative operators
        # re-invoked over one graph instance must not rebuild their
        # static inputs
        self._memo: dict = {}

    def memo(self, key, builder):
        """Build-once cache for static per-graph artifacts. ``key`` must
        capture every parameter the artifact depends on."""
        if key not in self._memo:
            self._memo[key] = builder()
        return self._memo[key]

    def release(self) -> None:
        """Unpersist every resident artifact of this graph instance — the
        shared adjacency, the lean/encoded pair sets, typed pair memos,
        and every :meth:`memo` value. For engine shutdown (a user of the
        reference closes the DB and its adjacency maps go away too); live
        operators must not be mid-flight."""
        from nornicdb_spark.operators.scope import _plan_rdd, _unpersist

        def _free(obj):
            if isinstance(obj, DataFrame):
                jrdd = _plan_rdd(obj)
                if jrdd is not None:
                    _unpersist(jrdd)
            elif isinstance(obj, tuple):
                for x in obj:
                    _free(x)

        for frame in (
            self._adj,
            getattr(self, "_adj_pairs", None),
            getattr(self, "_adj_pairs_enc", None),
        ):
            if frame is not None:
                _free(frame)
        for frame in getattr(self, "_typed_pairs", {}).values():
            _free(frame)
        for value in self._memo.values():
            _free(value)
        self._adj = None
        self._adj_pairs = None
        self._adj_pairs_enc = None
        self._typed_pairs = {}
        self._memo.clear()

    def adj(self) -> DataFrame:
        """Materialized adjacency: the full edge set hash-partitioned by
        ``src`` and checkpointed, built lazily ONCE per graph instance and
        shared by every iterative operator (pagerank, wcc, dijkstra,
        var-length, betweenness, …) — the batch analogue of the reference
        storage engine's always-resident adjacency maps
        (pkg/storage/types.go:355-414). One-shot pattern matches keep
        using the lazy ``edges`` plan so predicate pushdown still reaches
        the parquet scans. At 100 TB this materialization is a bucketed
        table co-partitioned with the node table, not a localCheckpoint
        (see SCALING.md)."""
        if self._adj is None:
            self._adj = self.edges.repartition("src").localCheckpoint(eager=True)
        return self._adj

    # label order is fixed by NODE_SPECS; encoded id = label_idx·2^48 + key
    _ENC_SHIFT = 48

    def encode_id(self, col) -> F.Column:
        """String node id '<Label>:<key>' → long (label index in the high
        bits, numeric key in the low 48). Only valid when the graph was
        built from the star schema (``numeric_keys``); iterative
        operators use it to shuffle 8-byte longs instead of ~25-byte
        strings."""
        labels = [l for l, _, _ in NODE_SPECS]
        prefix = F.split(col, ":").getItem(0)
        key = F.split(col, ":").getItem(1).cast("long")
        idx = F.lit(None).cast("long")
        for i, lab in reversed(list(enumerate(labels))):
            idx = F.when(prefix == lab, F.lit(i)).otherwise(idx)
        return (idx * (1 << self._ENC_SHIFT) + key).cast("long")

    def decode_id(self, col) -> F.Column:
        """Inverse of :meth:`encode_id`."""
        labels = [l for l, _, _ in NODE_SPECS]
        idx = (col / (1 << self._ENC_SHIFT)).cast("long")
        key = col % (1 << self._ENC_SHIFT)
        lab = F.lit(None).cast("string")
        for i, l in reversed(list(enumerate(labels))):
            lab = F.when(idx == i, F.lit(l)).otherwise(lab)
        return F.concat(lab, F.lit(":"), key.cast("string"))

    def nodes_encoded(self) -> DataFrame:
        """``(id long)`` node set in encoded form — the precomputed
        ``id_enc`` column when the graph carries it (no string splits),
        else :meth:`encode_id` over the public frame."""
        if self._nodes_full is not None:
            return self._nodes_full.select(F.col("id_enc").alias("id"))
        return self.nodes.select(self.encode_id(F.col("id")).alias("id"))

    def adj_pairs_encoded(self) -> DataFrame:
        """Long-encoded twin of :meth:`adj_pairs` — the edge set iterative
        algorithms actually shuffle. Memoized per graph instance. Built
        from the precomputed enc columns when the graph carries them (a
        pruned scan of two long columns — no string splits), else by
        encoding the string ids."""
        if getattr(self, "_adj_pairs_enc", None) is None:
            if self._edges_full is not None:
                pairs = self._edges_full.select(
                    F.col("src_enc").alias("src"), F.col("dst_enc").alias("dst")
                )
            else:
                base = self._adj if self._adj is not None else self.edges
                pairs = base.select(
                    self.encode_id(F.col("src")).alias("src"),
                    self.encode_id(F.col("dst")).alias("dst"),
                )
            self._adj_pairs_enc = (
                pairs.repartition("src").localCheckpoint(eager=True)
            )
        return self._adj_pairs_enc

    def adj_pairs(self) -> DataFrame:
        """Lean (src, dst) projection of the edge set, checkpointed —
        iterative pair-consumers (pagerank, wcc, lpa, fastRP) re-scan
        their edge set every round, and a 2-column scan is ~2× cheaper
        than projecting the full-width adjacency each time. Built from
        the LAZY edges plan, not from adj(): column pruning then reaches
        the parquet scans, so a pairs-only algorithm never pays for
        materializing the full-width adjacency (at sf0.1 that
        materialization alone costs more than two pagerank iterations).
        If adj() already exists it is reused — one cheap cached scan."""
        if getattr(self, "_adj_pairs", None) is None:
            base = self._adj if self._adj is not None else self.edges
            self._adj_pairs = (
                base.select("src", "dst")
                .repartition("src")
                .localCheckpoint(eager=True)
            )
        return self._adj_pairs

    def adj_by_type(self, *types: str) -> DataFrame:
        """Type-filtered view of the materialized adjacency — a cheap
        filter over the checkpoint, not a new parquet scan."""
        e = self.adj()
        if not types:
            return e
        if len(types) == 1:
            return e.filter(F.col("type") == types[0])
        return e.filter(F.col("type").isin(list(types)))

    def pairs_by_type(self, *types: str) -> DataFrame:
        """Distinct (src, dst) pairs for the given relationship types,
        checkpointed and memoized per graph instance — the per-type twin
        of :meth:`adj_pairs` for operators that consume a typed
        neighborhood repeatedly (link prediction, typed traversals).
        Built from the LAZY edge plan so the type filter folds the
        union's other branches away and pruning reaches the parquet
        scans."""
        key = tuple(sorted(types))
        cache = getattr(self, "_typed_pairs", None)
        if cache is None:
            cache = self._typed_pairs = {}
        if key not in cache:
            base = self.edges_by_type(*types) if types else self.edges
            cache[key] = (
                base.select("src", "dst").distinct().localCheckpoint(eager=True)
            )
        return cache[key]

    @classmethod
    def _enc_of(cls, label: str, key_col) -> F.Column:
        """encode_id of '<label>:<key>' as pure arithmetic on the numeric
        key — value-identical to :meth:`encode_id` (tested), without the
        split/concat round trip."""
        idx = [l for l, _, _ in NODE_SPECS].index(label)
        return (
            F.lit(idx * (1 << cls._ENC_SHIFT)) + F.col(key_col).cast("long")
        ).cast("long")

    @classmethod
    def from_star_schema(cls, cat: Catalog) -> "PropertyGraph":
        nodes_full = reduce(lambda a, b: a.unionByName(b), [
            cat.table(table).select(
                *label_nodes(label, key), cls._enc_of(label, key).alias("id_enc")
            )
            for label, table, key in NODE_SPECS
        ])
        nodes = nodes_full.drop("id_enc")

        orders, lineitem = cat.table("orders"), cat.table("lineitem")
        customer, supplier, nation = (
            cat.table("customer"),
            cat.table("supplier"),
            cat.table("nation"),
        )

        def edge(df, src_label, src_key, dst_label, dst_key, etype, props=(), disc=None):
            # edge_id: deterministic hash (stable across runs — required by
            # the path enumerator's relationship-uniqueness tracking).
            # ``disc`` discriminates parallel edges (e.g. CONTAINS is one
            # edge per lineitem row, keyed by l_linenumber).
            cols = [
                node_id(src_label, src_key).alias("src"),
                node_id(dst_label, dst_key).alias("dst"),
                F.lit(etype).alias("type"),
                F.xxhash64(
                    node_id(src_label, src_key),
                    node_id(dst_label, dst_key),
                    F.lit(etype),
                    (F.col(disc) if disc else F.lit(0)).cast("long"),
                ).alias("edge_id"),
                cls._enc_of(src_label, src_key).alias("src_enc"),
                cls._enc_of(dst_label, dst_key).alias("dst_enc"),
            ]
            cols += [F.col(c).alias(c) for c in props]
            return df.select(*cols)

        placed = edge(orders, "Customer", "o_custkey", "Order", "o_orderkey", "PLACED")
        contains = edge(
            lineitem,
            "Order",
            "l_orderkey",
            "Part",
            "l_partkey",
            "CONTAINS",
            props=("l_quantity", "l_extendedprice", "l_discount"),
            disc="l_linenumber",
        )
        supplies = edge(
            lineitem.select("l_suppkey", "l_partkey").distinct(),
            "Supplier",
            "l_suppkey",
            "Part",
            "l_partkey",
            "SUPPLIES",
        )
        cust_from = edge(customer, "Customer", "c_custkey", "Nation", "c_nationkey", "FROM")
        supp_from = edge(supplier, "Supplier", "s_suppkey", "Nation", "s_nationkey", "FROM")
        nat_in = edge(nation, "Nation", "n_nationkey", "Region", "n_regionkey", "IN")

        prop_cols = ("l_quantity", "l_extendedprice", "l_discount")
        frames = [placed, contains, supplies, cust_from, supp_from, nat_in]
        padded = []
        for f in frames:
            missing = [c for c in prop_cols if c not in f.columns]
            for c in missing:
                f = f.withColumn(c, F.lit(None).cast("double"))
            padded.append(
                f.select(
                    "src", "dst", "type", "edge_id", "src_enc", "dst_enc",
                    *prop_cols,
                )
            )
        edges_full = reduce(lambda a, b: a.unionByName(b), padded)
        edges = edges_full.drop("src_enc", "dst_enc")

        endpoints = {
            "PLACED": [("Customer", "Order")],
            "CONTAINS": [("Order", "Part")],
            "SUPPLIES": [("Supplier", "Part")],
            "FROM": [("Customer", "Nation"), ("Supplier", "Nation")],
            "IN": [("Nation", "Region")],
        }
        return cls(
            nodes=nodes, edges=edges, catalog=cat, type_endpoints=endpoints,
            nodes_full=nodes_full, edges_full=edges_full,
        )

    # ---- reference Engine surface (types.go:369-376), DataFrame-style ----

    def nodes_by_label(self, label: str) -> DataFrame:
        """NodeByLabelScan — MATCH (n:Label)."""
        return self.nodes.filter(F.col("label") == label)

    def edges_by_type(self, *types: str) -> DataFrame:
        """RelationshipTypeScan, incl. multi-type [:A|B] disjunction."""
        if len(types) == 1:
            return self.edges.filter(F.col("type") == types[0])
        return self.edges.filter(F.col("type").isin(list(types)))

    # ---- enc-carrying twins for the pattern operators -------------------

    def nodes_full_by_label(self, label: str | None) -> DataFrame:
        """Node scan carrying ``id_enc`` when the graph has it (falls back
        to the public frame otherwise) — pattern frames built from this
        join on 8-byte longs instead of concat'd strings."""
        base = self._nodes_full if self._nodes_full is not None else self.nodes
        return base.filter(F.col("label") == label) if label else base

    def edges_full_by_type(self, *types: str) -> DataFrame:
        """Edge scan carrying ``src_enc``/``dst_enc`` when available."""
        base = self._edges_full if self._edges_full is not None else self.edges
        if len(types) == 1:
            return base.filter(F.col("type") == types[0])
        if types:
            return base.filter(F.col("type").isin(list(types)))
        return base

    def out_edges(self, node_ids: DataFrame) -> DataFrame:
        """GetOutgoingEdges for a set of ids (column named ``id``)."""
        return self.edges.join(node_ids.select(F.col("id").alias("src")), "src")

    def in_edges(self, node_ids: DataFrame) -> DataFrame:
        """GetIncomingEdges for a set of ids (column named ``id``)."""
        return self.edges.join(node_ids.select(F.col("id").alias("dst")), "dst")
